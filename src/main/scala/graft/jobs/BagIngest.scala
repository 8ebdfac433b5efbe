package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel

import graft.GraftSession
import graft.multimodal.ImageOps
import graft.operators.TextAnalysisOps.DriftRef
import graft.sources.rosbag.RosbagReader

/** The reference pipeline's end-to-end job as one Spark application: ROS
  * bags in, a queryable parquet lake (+ optional PNG frames) out — the
  * Fargate-task-per-bag architecture collapsed into a cluster job where
  * each executor task demuxes whole bags in parallel.
  *
  * Usage: BagIngest <bag-path-or-glob> <out-dir> [--png]
  *          [--blur-regions <parquet>] [--image-dedup[=HAMMING]]
  *          [--audio-dedup[=HAMMING]] [--voxel=EDGE_METERS]
  *
  * Output layout:
  *   <out>/images/      frame metadata + pixel payloads (parquet)
  *   <out>/clips/       audio buffers + stream properties (audio_common topics)
  *   <out>/laser/ odometry/ wrench/ std_msgs/   typed topic tables
  *   <out>/generic/     (slot-path -> value) rows of every defined topic
  *   <out>/manifest/    per-recording mp4/frame manifest
  *   <out>/trajectory/  per-recording ego-motion rollup of odometry
  *   <out>/frame_dedup/ canonical-frame manifest (with --image-dedup)
  *   <out>/clip_dedup/  canonical-clip manifest (with --audio-dedup)
  *   <out>/lidar_voxel/ voxel-downsampled PointCloud2 points (with --voxel)
  *   <out>/png/         one real PNG file per frame (with --png)
  */
object BagIngest {

  /** The optional stages both CLIs take: the near-duplicate frame and clip
    * manifests (`frame_dedup/`, `clip_dedup/`, each at a max Hamming
    * distance) and the voxel-downsampled lidar table (`lidar_voxel/`, at an
    * edge length in meters). */
  final case class Stages(imageDedup: Option[Int] = None, audioDedup: Option[Int] = None,
      voxel: Option[Double] = None)

  /** The inputs only a streaming ingest has, since each needs a batch id:
    *   - `frameIndex`, the lake where the dedup fingerprints persist, which
    *     makes `frame_dedup/` and `clip_dedup/` cross-batch;
    *   - the PSI drift gauges (monitors, not gates) against a frozen healthy
    *     reference, per modality: frame brightness
    *     (ImageOps.brightnessDriftReference, `frame_drift/`), clip RMS
    *     (AudioOps.rmsDriftReference, `clip_drift/`) and per-sweep point
    *     population (PointCloudOps.cloudDriftReference, `cloud_drift/`);
    *   - the sensor-sync audit's window in ns (`sensor_sync/`). */
  final case class StreamInputs(frameIndex: Option[String] = None,
      frameDrift: Option[DriftRef] = None, clipDrift: Option[DriftRef] = None,
      cloudDrift: Option[DriftRef] = None, syncAuditBucketNs: Option[Long] = None)

  /** One streaming micro-batch. Its id names the `batch=<id>` directory
    * every table lands in and versions every monitor commit. */
  final case class StreamBatch(id: Long, inputs: StreamInputs = StreamInputs())

  def run(spark: SparkSession, bags: String, out: String, writePng: Boolean,
      piiRegions: Option[DataFrame] = None, stages: Stages = Stages()): Unit =
    writeTablesOf(spark, RosbagReader.messages(spark, bags), out, writePng, piiRegions, stages)

  /** One demux pass over `rawMsgs` -> all the lake tables, each overwritten.
    * The batch job (`batch` empty) lands them at `<out>/<table>`; a stream
    * batch lands them at `<out>/<table>/batch=<id>`, so a retried batch
    * rewrites its own directory (idempotent).
    *
    * The demux is cached once as objects: an RDD of [[RosbagReader.RawMessage]]
    * persisted MEMORY_AND_DISK, which every sink reads through
    * `createDataset`, so no columnar cache is built and no sink copies the
    * bag out of one. The one action that fills the cache is also the type
    * census: it returns the (bag, datatype, has-definition) kinds it read.
    * A typed table none of whose kinds is present (images, clips, laser,
    * odometry, wrench, std_msgs, generic) lands empty with the schema its
    * pipeline would produce, and that pipeline never runs. A present kind
    * always runs its sink, so integrity failures (e.g. AudioData without
    * AudioInfo) still fire. The tables derived from a landed one (the
    * manifest and the PNG frames from images, the trajectory from odometry)
    * always run over their landed parent, empty or not. The optional stages
    * run whatever the census says.
    *
    * The PII regions are bounded to the census's bags before the blur,
    * since its box list is built from the regions alone; so a regions table
    * may cover a whole stream.
    *
    * Then the sinks that do not read each other's output land concurrently
    * ([[graft.Branches]]), one Spark job stream per branch, since most of
    * them are small single-task jobs that would otherwise leave the cores
    * idle one after another: images (then the manifest and the PNG sink,
    * both over the landed frames), odometry (then the trajectory rollup),
    * clips (then the optional stages), and laser, wrench, std_msgs and
    * generic on their own. Every branch has ended, and the cache is
    * released, before the call returns or rethrows the first failure.
    *
    * The PNG sink writes into a staging directory that replaces `<out>/png`
    * only once every branch has succeeded, so a re-ingest leaves none of
    * the previous bag's frames behind, and a failed one leaves the old
    * frames and no staging directory.
    *
    * An ingest needs about 70 generated classes, within Spark's default
    * codegen cache of 100, so later bags reuse the first bag's classes
    * instead of compiling them again.
    *
    * The batch job also lands the per-recording ego-motion rollup over the
    * odometry table (TrajectoryOps — path/speeds/tortuosity/dwell + the
    * pose-jump and frozen-localizer tripwires). A stream batch does not, by
    * design: the statistics are per whole recording, and a micro-batch
    * holds partial recordings — the streaming job's consumers run the
    * rollup over the compacted odometry table instead.
    */
  def writeTablesOf(spark: SparkSession, rawMsgs: Dataset[RosbagReader.RawMessage],
      out: String, writePng: Boolean, piiRegions: Option[DataFrame],
      stages: Stages = Stages(), batch: Option[StreamBatch] = None): Unit = {
    val suffix = batch.fold("")(b => s"/batch=${b.id}")
    def save(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name$suffix")
    def landed(name: String): DataFrame = spark.read.parquet(s"$out/$name$suffix")
    // a monitor's rows, tagged with the batch id, as that batch's version
    // of its SnapshotLake table (a redelivered batch re-reads as the same
    // version)
    def commit(b: StreamBatch, table: String, rows: DataFrame): Unit =
      SnapshotLake.commitStreamBatch(spark, s"$out/$table",
        rows.withColumn("ingest_batch", lit(b.id)), b.id)
    val frameIndex = for (b <- batch; lake <- b.inputs.frameIndex) yield (lake, b.id)

    val (png, pngStaging) = (new Path(s"$out/png"), new Path(s"$out/png.staging"))
    val fs = png.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the PNG sink writes files from the executors, so the lake must be on
    // the local file system; the directory comes from the qualified URI, as
    // a `file:` string taken for a path is a relative one
    val pngDir = Option.when(writePng) {
      require(fs.getScheme == "file", s"--png writes local files, but $out is not local")
      fs.delete(pngStaging, true); fs.mkdirs(pngStaging)
      new java.io.File(fs.makeQualified(pngStaging).toUri)
    }

    // parse every bag exactly once: the demuxed message set feeds every
    // output table (the reference also demuxes in a single streaming pass)
    val demux = rawMsgs.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // materialized before the branches start, so they read the cache
      // instead of each waiting on the same demux task
      val census = demux
        .mapPartitions(_.map(m => (m.path, m.datatype, m.msg_def.nonEmpty)).toSet.iterator)
        .collect().toSet
      def holds(reads: RosbagReader.Reads): Boolean =
        census.exists { case (_, datatype, hasDef) => reads(datatype, hasDef) }
      val msgs = {
        import spark.implicits._
        spark.createDataset(demux)
      }
      // a view none of whose kinds the census found lands empty, unrun
      def land(name: String, reads: RosbagReader.Reads)(view: => DataFrame): Unit = save(
        if (holds(reads)) view else spark.createDataFrame(java.util.List.of[Row](), view.schema), name)
      val rawImages = RosbagReader.imagesOf(spark, msgs)

      def imagesBranch(): Unit = {
        // PII anonymization (reference: select-labelling-imgs anonymize_PII):
        // with a region table, pixels land in the lake already blurred. The
        // box list is built from the regions alone, so they are bounded to
        // the bags the census saw
        land("images", RosbagReader.readsImages)(piiRegions match {
          case Some(regions) => ImageOps.blurFrames(spark, rawImages,
            regions.where(col("bag").isin(census.map(_._1).toSeq: _*))).drop("n_blurred")
          case None          => rawImages
        })
        // the manifest's columns are untouched by blur, so it is built from
        // a column-pruned scan of the landed frames instead of decoding and
        // numbering them again
        graft.Branches.awaitAll(Seq[() => Unit](
          () => save(RosbagReader.mp4ManifestOf(landed("images")), "manifest"),
          () => pngDir.foreach { dir =>
            ImageOps.toPng(spark, landed("images"))
              .foreachPartition { it: Iterator[ImageOps.PngFrame] =>
                // executor-side sink: in production this is the S3 upload the
                // reference does from its uploader process (main.py Uploader)
                it.foreach { p =>
                  val f = new java.io.File(dir, p.file_name)
                  f.getParentFile.mkdirs()
                  java.nio.file.Files.write(f.toPath, p.png)
                }
              }
          }))
      }

      def odometryBranch(): Unit = {
        land("odometry", RosbagReader.readsOdometry)(RosbagReader.odometryOf(spark, msgs))
        if (batch.isEmpty)
          save(graft.operators.TrajectoryOps.trajectoryStats(landed("odometry")), "trajectory")
      }

      // the optional stages run one after another in this order, after the
      // clips table has landed: clipDrift and audioDedup read it, and the
      // two dedups must not overlap (ImageOps keeps one outstanding dedup
      // id snapshot per session)
      def clipsBranch(): Unit = {
        // microphone topics (audio_common_msgs) land as the clips table —
        // the audio twin of `images`, consumed unchanged by the
        // AudioOps spectral/near-dup/segmentation family
        land("clips", RosbagReader.readsAudioData)(RosbagReader.audioClipsOf(spark, msgs))
        // lidar densification control (--voxel=EDGE): PointCloud2 topics land
        // voxel-downsampled (PointCloudOps.voxelDownsample — one groupBy on
        // cloud+voxel, DECIMAL-carrier centroids) instead of point-exact —
        // THE pass a 100 TB lidar lake runs at ingest, since nothing
        // downstream wants raw beam density. The full-fidelity payload stays
        // available in the bags; the lake holds the normalized working set.
        stages.voxel.foreach { edge =>
          save(graft.operators.PointCloudOps.voxelDownsample(
            RosbagReader.pointCloudPointsOf(spark, msgs), edge), "lidar_voxel")
        }
        // image drift gauge (streaming ingest with a frozen brightness
        // reference): every batch's per-frame brightness distribution is
        // PSI-scored against the healthy-recording reference and the bucket
        // table + rollup land in the versioned <out>/frame_drift SnapshotLake
        // table (batch-id idempotent — a redelivered batch re-reads as the
        // same version). A monitor, not a gate: no frame is dropped. Scored
        // over the RAW frames (a blur region must not read as drift), the
        // same convention the dedup fingerprints use; capture the reference
        // from raw frames too (brightnessDriftReference on an un-blurred
        // recording).
        for (b <- batch; ref <- b.inputs.frameDrift)
          commit(b, "frame_drift", ImageOps.brightnessDrift(spark, rawImages, ref))
        // audio drift gauge: the frame gauge's contract on the microphone
        // column — per-batch PSI of clip RMS against a frozen healthy
        // reference, landing in the versioned <out>/clip_drift table
        // (batch-id idempotent); a monitor, not a gate
        for (b <- batch; ref <- b.inputs.clipDrift)
          commit(b, "clip_drift", graft.multimodal.AudioOps.rmsDrift(spark, landed("clips"), ref))
        // lidar drift gauge: the same contract on the PointCloud2 column —
        // per-batch PSI of per-sweep point population against a frozen
        // healthy reference (PointCloudOps.cloudDriftReference), landing in
        // the versioned <out>/cloud_drift table (batch-id idempotent); a
        // monitor, not a gate. Scored over the RAW point stream, before any
        // --voxel densification (a voxel dial change must not read as a
        // failing sensor).
        for (b <- batch; ref <- b.inputs.cloudDrift)
          commit(b, "cloud_drift", graft.operators.PointCloudOps.cloudDrift(
            RosbagReader.pointCloudPointsOf(spark, msgs), ref))
        // cross-modal SENSOR-SYNC audit (q111's lake form at ingest): per
        // (bag, window), the camera frames' alignment against each other
        // modality — the landed clips' timestamps and per-sweep cloud ones —
        // as one versioned <out>/sensor_sync table with a `sensor` column
        // naming the probed arm (batch-id idempotent). A rig with a clock
        // offset or a dropping sensor shows up here in ITS OWN arriving
        // batch, before any fusion consumer mis-joins. Camera-only bags
        // report all-unmatched rows (the audit's loud form of "the second
        // modality never arrived"), never silence.
        for (b <- batch; bucketNs <- b.inputs.syncAuditBucketNs) {
          val frames = rawImages.select("bag", "time_ns")
          def arm(name: String, sensor: DataFrame) =
            graft.operators.TemporalOps.sensorSyncLakeOf(frames, sensor, bucketNs)
              .withColumn("sensor", lit(name))
          commit(b, "sensor_sync",
            arm("clips", landed("clips").select("bag", "time_ns"))
              .unionByName(arm("clouds",
                RosbagReader.pointCloudsOf(spark, msgs).select("bag", "time_ns"))))
        }
        // audio dedup (--audio-dedup[=HAMMING]): the clip twin of the image
        // manifest below — HK fingerprint + the SHARED banded-Hamming
        // grouping machinery, landing a canonical-clip manifest next to the
        // clips table; with a frame index lake, clip fingerprints persist to
        // <lake>/clip_hashes and identity is CROSS-BATCH (the same
        // FrameDedupIndex engine, audio key space). Runs off the just-landed
        // clips parquet so the demux is paid once.
        stages.audioDedup.foreach { maxHamming =>
          val clips = landed("clips")
          frameIndex match {
            case Some((lake, batchId)) =>
              FrameDedupIndex.probeAndCommitClips(spark, clips, lake, batchId,
                maxHamming, sink = m => save(m, "clip_dedup"))
            case None =>
              save(ImageOps.totalFrameManifest(
                clips.select("bag", "topic", "time_ns"),
                graft.multimodal.AudioOps.dedupGroupsClipsByKey(spark, clips, maxHamming)),
                "clip_dedup")
          }
        }
        // image dedup (--image-dedup[=HAMMING]): the multimodal analogue of
        // CorpusPrep's text-dedup stages — dHash + banded Hamming join +
        // connected components (ImageOps.dedupGroupsFrames) over the RAW
        // frames (blur must not perturb fingerprints), landing a
        // canonical-frame manifest NEXT TO the images table: one row per
        // frame with its canonical key + is_canonical, so downstream
        // consumers (blur, resize, mp4, shard export) join against it and
        // process each burst of near-identical frames ONCE. A left join back
        // to the frame index makes the manifest TOTAL (frames with no
        // near-dup are trivially their own canonical) — consumers filter
        // is_canonical without a second anti-join against the pair table.
        stages.imageDedup.foreach { maxHamming =>
          frameIndex match {
            case Some((lake, batchId)) =>
              // streaming ingest with a persisted fingerprint index: the
              // manifest gains CROSS-BATCH canonical identity — a burst
              // re-arriving in a later micro-batch collapses onto the landed
              // canonical (first-claim), exactly as the text side's band
              // guard. Runs over the RAW frames (blur must not perturb
              // fingerprints), same as the batch path below.
              FrameDedupIndex.probeAndCommit(spark, rawImages, lake, batchId,
                maxHamming, sink = m => save(m, "frame_dedup"))
            case None =>
              val groups = ImageOps.dedupGroupsFrames(spark, rawImages, maxHamming)
              save(ImageOps.totalFrameManifest(
                rawImages.select("bag", "topic", "time_ns"), groups), "frame_dedup")
          }
        }
      }

      graft.Branches.awaitAll(Seq[() => Unit](
        () => imagesBranch(),
        () => odometryBranch(),
        () => clipsBranch(),
        () => land("laser", RosbagReader.readsLaser)(RosbagReader.laserScansOf(spark, msgs)),
        () => land("wrench", RosbagReader.readsWrench)(RosbagReader.wrenchOf(spark, msgs)),
        () => land("std_msgs", RosbagReader.readsStdMsgs)(RosbagReader.stdMsgsOf(spark, msgs)),
        // dynamic-schema fallback: every topic with a message_definition lands
        // as (slot-path -> value) rows even when no hand-coded decoder exists
        () => land("generic", RosbagReader.readsGeneric)(RosbagReader.genericMessagesOf(spark, msgs))))
      if (writePng) {
        fs.delete(png, true)
        require(fs.rename(pngStaging, png), s"could not move $pngStaging to $png")
      }
    } finally {
      demux.unpersist()
      if (writePng) fs.delete(pngStaging, true)
    }
  }

  /** A command line of either CLI: its positional paths, the stages, the
    * PII regions, and the flags only one CLI takes (`--png` the batch job's,
    * `--frame-index` the streaming job's). */
  private[jobs] final case class Args(paths: Seq[String], stages: Stages, png: Boolean,
      blurRegions: Option[String], frameIndex: Option[String])

  private val BatchUsage = "usage: BagIngest <bags> <out-dir> [--png] [--blur-regions <parquet>] " +
    "[--image-dedup[=HAMMING]] [--audio-dedup[=HAMMING]] [--voxel=EDGE_METERS]"
  private val StreamUsage = "usage: BagIngestStream <watch-dir> <out-dir> <checkpoint-dir> " +
    "[--blur-regions <parquet>] [--image-dedup[=HAMMING]] [--audio-dedup[=HAMMING]] " +
    "[--voxel=EDGE_METERS] [--frame-index=LAKE_DIR]"

  /** The one flag grammar of both CLIs, so the stages they share cannot
    * drift between them. The positional paths come first (two, or three
    * for the streaming job), and every later argument must be a flag that
    * CLI takes. Anything else fails before Spark starts: an unknown or
    * misspelt flag, the other CLI's flag, or a bare `--voxel` (there is no
    * sensible default edge length) would otherwise run the whole ingest
    * without the stage, index or blur the operator asked for. */
  private[jobs] def parseArgs(args: Seq[String], stream: Boolean): Args = {
    val (usage, nPaths) = if (stream) (StreamUsage, 3) else (BatchUsage, 2)
    def fail(why: String): Nothing = throw new IllegalArgumentException(s"$why; $usage")
    val (paths, flags) = args.splitAt(nPaths)
    if (paths.length < nPaths || paths.exists(_.startsWith("--")))
      fail(s"expected $nPaths paths before the flags")
    def num[A](arg: String, n: Option[A]): A = n.getOrElse(fail(s"'$arg' is not a number"))
    var stages = Stages()
    var png = false
    var blurRegions, frameIndex = Option.empty[String]
    @scala.annotation.tailrec def go(rest: List[String]): Unit = rest match {
      case Nil =>
      case "--blur-regions" :: t =>
        if (t.headOption.forall(_.startsWith("--")))
          fail("--blur-regions requires a parquet path argument")
        blurRegions = t.headOption
        go(t.tail)
      case arg :: t =>
        val (flag, eqValue) = arg.span(_ != '=')
        val value = Option.when(eqValue.nonEmpty)(eqValue.tail)
        def hamming = Some(value.fold(3)(v => num(arg, v.toIntOption)))
        (flag, value) match {
          case ("--png", None) if !stream => png = true
          case ("--image-dedup", _) => stages = stages.copy(imageDedup = hamming)
          case ("--audio-dedup", _) => stages = stages.copy(audioDedup = hamming)
          case ("--voxel", Some(v)) => stages = stages.copy(voxel = Some(num(arg, v.toDoubleOption)))
          case ("--voxel", None) => fail("--voxel requires an edge length: --voxel=EDGE_METERS")
          case ("--frame-index", Some(lake)) if stream => frameIndex = Some(lake)
          case _ => fail(s"unknown argument '$arg'")
        }
        go(t)
    }
    go(flags.toList)
    if (frameIndex.isDefined && stages.imageDedup.isEmpty && stages.audioDedup.isEmpty)
      fail("--frame-index requires --image-dedup or --audio-dedup " +
        "(the index persists the dedup fingerprints)")
    Args(paths, stages, png, blurRegions, frameIndex)
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args.toSeq, stream = false)
    val spark = GraftSession.get()
    run(spark, a.paths(0), a.paths(1), a.png, a.blurRegions.map(p => spark.read.parquet(p)),
      a.stages)
    spark.stop()
  }
}
