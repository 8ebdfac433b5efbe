package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.jobs.{BagIngest, FrameDedupIndex, SnapshotLake}
import graft.multimodal.{ImageOps, PngDecoder}
import graft.sources.rosbag.{RosbagFormat, RosbagReader}

/** What one closed-loop operation reports back to the client. */
final case class OpResult(latencyS: Double, cpuS: Double, ok: Boolean, bagBytes: Long = 0L,
    lakeBytes: Long = 0L)

/** Per-layer figures a workload measures itself during the traced run
  * (counts and ratios that are not span durations). */
final class Gauges {
  private val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(name: String, v: Double): Unit = m.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def medians: Map[String, Double] = m.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
}

/** One benchmark workload: inputs, the untimed first pass that set-up
  * includes, the closed-loop operation, and the traced per-layer replay. */
trait Workload {
  /** Generate inputs (not part of set-up time). */
  def prepare(): Unit
  /** The untimed pass that fills file-listing, codegen and model caches. */
  def firstPass(spark: SparkSession): Unit
  /** Untimed work once set-up is measured, before the loop starts. */
  def afterSetup(spark: SparkSession): Unit = ()
  /** Operation `i` of the closed loop. */
  def op(spark: SparkSession, i: Int, t: Tracer): OpResult
  /** What operation `i` runs, for the per-operation latency record. */
  def label(i: Int): String = i.toString
  /** Operations the traced run repeats: replays make each one slow. */
  def tracedOps: Int = 3
  /** Whether the loop may stop after operation `i` (whole rounds only). */
  def canStopAfter(i: Int): Boolean = true
  /** Replay the public calls behind operation `i` one layer at a time. */
  def replay(spark: SparkSession, i: Int, t: Tracer, g: Gauges): Unit = ()
  /** Workload-specific end-to-end figures: (name, value, unit). */
  def workloadMetrics(results: Seq[OpResult]): Seq[(String, Double, String)] = Nil
  /** Checks that run after the JVM exits (the DuckDB oracle). */
  def deferredChecks: Map[String, Any] = Map.empty
}

object Workloads {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Run `body`; return its value, wall seconds and process CPU seconds
    * (all JVM threads: the client, executor tasks, GC and JIT). CPU time
    * is not inflated by time the host takes the processors away. */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9)
  }

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  /** Lake bytes under `dir`: parquet data files and PNG frames. */
  def lakeBytes(dir: File): (Long, Int) = {
    val files = walk(dir).filter(f => f.getName.endsWith(".parquet") || f.getName.endsWith(".png"))
    (files.map(_.length).sum, files.size)
  }

  /** Row count of a landed parquet table from its footers (no Spark job). */
  def parquetRows(dir: File): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    walk(dir).filter(_.getName.endsWith(".parquet")).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.toURI), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Replay the cross-batch dedup calls of the streaming ingest path on
    * one bag's frames against a shadow lake that ages with the run: FrameDedupIndex probe + commit
    * (with the share of index files the stats-pruned probe read),
    * within-batch dedup groups, a SnapshotLake commit of the batch's index
    * rows, a read of the latest snapshot, and the version count. */
  def dedupIndexReplay(spark: SparkSession, frames0: DataFrame, shadow: String,
      batchId: Long, t: Tracer, g: Gauges): Unit = {
    val frames = frames0.persist()
    try {
      val nFrames = frames.count()
      val index = s"$shadow/${FrameDedupIndex.IndexTable}"
      val tableFiles = SnapshotLake.latestVersionOf(spark, index)
        .map(_ => SnapshotLake.read(spark, index).inputFiles.length).getOrElse(0)
      var probeFiles = 0
      t.span("jobs", "jobs.FrameDedupIndex.probe_commit_s") {
        FrameDedupIndex.probeAndCommit(spark, frames, shadow, batchId, 3,
          probeObserver = df => probeFiles = df.inputFiles.length)
      }
      if (tableFiles > 0) g.add("jobs.SnapshotLake.files_read_ratio", probeFiles.toDouble / tableFiles)
      val canon = t.span("multimodal", "multimodal.dedup_groups_s") {
        ImageOps.totalFrameManifest(frames.select("bag", "topic", "time_ns"),
          ImageOps.dedupGroupsFrames(spark, frames, 3)).filter(col("is_canonical")).count()
      }
      g.add("multimodal.canonical_ratio", canon.toDouble / nFrames)
      t.span("jobs", "jobs.SnapshotLake.commit_s") {
        SnapshotLake.commitStreamBatch(spark, s"$shadow/index_copy",
          SnapshotLake.read(spark, index).filter(col("ingest_batch") === batchId), batchId,
          statsCol = Some("fkey"))
      }
      t.span("jobs", "jobs.SnapshotLake.read_latest_s")(noop(SnapshotLake.read(spark, index)))
      g.add("jobs.SnapshotLake.versions", SnapshotLake.versions(spark, index).size.toDouble)
    } finally frames.unpersist()
  }

  /** The interactive mix: relational dashboard reads, then the domain
    * reads (frame index, max-confidence pivot, VRU and label search, box
    * IoU and detection evaluation), the RangeJoinRule join and a sensor
    * sync. Twelve queries keep one gated run inside the time budget. */
  val LakeMix: Seq[String] = Seq(
    "q01_pricing_summary", "q03_join_agg", "q07_window_rank", "q11b_topk_agg",
    "q20_frame_index", "q23_detect_maxconf", "q24_vru_filter", "q25_label_search",
    "q29_bbox_iou", "q29b_det_eval", "q72b_range_join_rule", "q111_sensor_sync")

  val LakeTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Registry queries over the seeded lake, issued back to back, one
    * seeded shuffle of the mix per round. Each result is collected in full
    * and must equal the first-pass result, which the DuckDB oracle checks
    * after the run. */
  final class LakeQueries(work: File, seed: Long) extends Workload {
    private val mix = LakeMix
    private val lake = new File(work, s"lake-$seed").getAbsolutePath
    private val refDir = new File(work, s"reference-$seed")
    private val reference = mutable.Map[String, Seq[String]]()
    private val opsPerQuery = mutable.Map[String, Int]().withDefaultValue(0)
    private val failedPerQuery = mutable.Map[String, Int]().withDefaultValue(0)
    private def order(round: Int): Seq[String] =
      new scala.util.Random(BagCorpus.mix(seed * 7919 + round)).shuffle(mix)
    def queryOf(i: Int): String = order(i / mix.size)(i % mix.size)
    override def label(i: Int): String = queryOf(i)

    def prepare(): Unit =
      require(new File(lake, "_SUCCESS").exists(), s"lake not generated: $lake")

    private def run(spark: SparkSession, q: String, t: Tracer): (Array[Row], DataFrame) =
      t.span("operators", s"operators.query_s.$q") {
        val df = SparkEntry.queries(q)(spark, lake)
        t.span("plans", "plans.plan_s")(df.queryExecution.executedPlan)
        (df.collect(), df)
      }

    private val firstResults = mutable.LinkedHashMap[String, (Array[Row], StructType)]()

    def firstPass(spark: SparkSession): Unit = mix.foreach { q =>
      val (rows, df) = run(spark, q, Tracer.off)
      spark.catalog.clearCache()
      if (!reference.contains(q)) {
        reference(q) = rows.map(_.toString).sorted.toSeq
        firstResults(q) = (rows, df.schema)
      }
    }

    /** Land the first-pass results for the oracle check (after set-up is
      * timed: this is checking work, not set-up), then run one untimed
      * round: after the first pass the JIT is still compiling the query
      * path, and the first rounds would weigh on a run's medians. */
    override def afterSetup(spark: SparkSession): Unit = {
      firstResults.foreach { case (q, (rows, schema)) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(new File(refDir, q).getAbsolutePath)
      }
      firstResults.clear()
      val sql = SparkEntry.oracleSql.filter { case (k, _) => mix.contains(k) }
      Files.write(new File(refDir, "oracle_sql.json").toPath, Stats.json(sql).getBytes("UTF-8"))
      mix.foreach { q =>
        val (rows, _) = run(spark, q, Tracer.off)
        spark.catalog.clearCache()
        require(rows.map(_.toString).sorted.toSeq == reference(q), s"warm-up $q differs from the first pass")
      }
    }

    override def canStopAfter(i: Int): Boolean = (i + 1) % mix.size == 0
    override def tracedOps: Int = mix.size

    def op(spark: SparkSession, i: Int, t: Tracer): OpResult = {
      val q = queryOf(i)
      val ((rows, _), lat, cpu) = timed(run(spark, q, t))
      spark.catalog.clearCache()
      val ok = rows.map(_.toString).sorted.toSeq == reference(q)
      opsPerQuery(q) += 1
      if (!ok) failedPerQuery(q) += 1
      OpResult(lat, cpu, ok)
    }

    override def replay(spark: SparkSession, i: Int, t: Tracer, g: Gauges): Unit =
      if (i % mix.size == 0) LakeTables.foreach { n =>
        t.span("Tables", "Tables.scan_s")(noop(Tables.byName(spark, lake, n)))
      }

    override def deferredChecks: Map[String, Any] = Map(
      "oracle" -> Map("lake" -> lake, "results" -> refDir.getAbsolutePath,
        "ops_per_query" -> opsPerQuery.toMap, "failed_per_query" -> failedPerQuery.toMap))
  }

  /** The reference pipeline's job: each operation lands one bag as lake
    * tables plus PII-blurred PNG frames, like the per-bag task. */
  final class BagIngestLoad(work: File, seed: Long) extends Workload {
    val nBags = 4
    private val corpusDir = new File(work, s"corpus-ingest-$seed")
    private val outRoot = new File(work, "ingest-out")
    private var bags: Seq[(File, BagCorpus.Truth)] = Nil
    /** (bag index, camera, frame) triples that carry a PII region. */
    private var regionFrames: Set[(Int, Int, Int)] = Set.empty

    def prepare(): Unit = {
      Seq(outRoot, new File(work, "ingest-shadow")).foreach(rmrf)
      // keep only this seed's corpus: each one is about 110 MB
      Option(work.listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("corpus-ingest-") && f != corpusDir).foreach(rmrf)
      bags = BagCorpus.materialize(corpusDir, seed, nBags, repeatShare = 0.0)
      regionFrames = (for {
        b <- 0 until nBags; cam <- Seq(0, 2); f <- 0 until BagCorpus.FramesPerCamera
        if BagCorpus.mix(seed * 31 + b * 1000 + cam * 100 + f) % 5 == 0
      } yield (b, cam, f)).toSet
    }

    private def bagUri(f: File): String = "file:" + f.getAbsolutePath

    private def regions(spark: SparkSession): DataFrame = {
      import spark.implicits._
      regionFrames.toSeq.sorted.map { case (b, cam, f) =>
        val h = BagCorpus.mix(seed + b * 7 + cam * 11 + f * 13)
        val stamp = 1700000000L * 1000000000L + b * 60L * 1000000000L + f * 100000000L
        // a region of 1/8..1/4 of the frame's width and height
        val (sx, sy) = (BagCorpus.Width / 64, BagCorpus.Height / 48)
        (bagUri(bags(b)._1), BagCorpus.Cameras(cam)._1, stamp + cam * 1000000L,
          (h & 31).toInt * sx, ((h >>> 8) & 15).toInt * sy,
          (8 + ((h >>> 16) & 7).toInt) * sx, (6 + ((h >>> 24) & 7).toInt) * sy)
      }.toDF("bag", "topic", "time_ns", "region_x", "region_y", "region_w", "region_h")
    }

    private def ingest(spark: SparkSession, b: Int, out: File): (Double, Double) = {
      rmrf(out)
      val (_, wall, cpu) = timed(BagIngest.run(spark, bagUri(bags(b)._1), out.getAbsolutePath,
        writePng = true, piiRegions = Some(regions(spark))))
      (wall, cpu)
    }

    /** Landed row counts and frame files match the generator's truth, and
      * two sampled unblurred PNGs decode to the source pixels. */
    private def check(b: Int, out: File, pick: Long): Boolean = {
      val truth = bags(b)._2
      val rowsOk = truth.rows.forall { case (table, n) => parquetRows(new File(out, table)) == n }
      val pngs = walk(new File(out, "png")).filter(_.getName.endsWith(".png")).sortBy(_.getPath)
      val sampleable = pngs.flatMap { p =>
        val cam = BagCorpus.Cameras.indexWhere(c => p.getPath.contains(c._1 + "-"))
        val frame = p.getName.takeRight(8).take(4).toInt
        if (cam >= 0 && !regionFrames((b, cam, frame))) Some((p, cam, frame)) else None
      }
      val pngOk = pngs.size == truth.frames && sampleable.nonEmpty && (0 until 2).forall { k =>
        val (p, cam, frame) = sampleable(((BagCorpus.mix(pick + k) >>> 1) % sampleable.size).toInt)
        val d = PngDecoder.decode(Files.readAllBytes(p.toPath))
        val key = truth.frameKeys(BagCorpus.Cameras(cam)._1)(frame)
        d.encoding == "rgb8" &&
          java.util.Arrays.equals(d.pixels, BagCorpus.renderFrame(seed, cam, key, bgr = false))
      }
      rowsOk && pngOk
    }

    def firstPass(spark: SparkSession): Unit = {
      val out = new File(outRoot, "first")
      ingest(spark, 0, out)
      require(check(0, out, seed), "first-pass bag ingest does not match the generator's truth")
    }

    /** Untimed ingests once set-up is timed: after the first pass the JIT
      * is still compiling the ingest path, and a run measures only a few
      * operations, so the slow early ones would weigh on its median. */
    override def afterSetup(spark: SparkSession): Unit = (1 to 3).foreach { b =>
      val out = new File(outRoot, "warmup")
      ingest(spark, b, out)
      require(check(b, out, seed + b), s"warm-up ingest of bag $b does not match the generator's truth")
    }

    def op(spark: SparkSession, i: Int, t: Tracer): OpResult = {
      val b = i % nBags
      val out = new File(outRoot, s"op-${i % 2}")
      val (lat, cpu) = t.span("jobs", "jobs.BagIngest.write_s")(ingest(spark, b, out))
      val ok = check(b, out, seed * 131 + i)
      OpResult(lat, cpu, ok, bagBytes = bags(b)._2.bytes, lakeBytes = lakeBytes(out)._1)
    }

    override def replay(spark: SparkSession, i: Int, t: Tracer, g: Gauges): Unit = {
      val (file, truth) = bags(i % nBags)
      val out = new File(outRoot, s"op-${i % 2}")
      val (lb, nf) = lakeBytes(out)
      g.add("jobs.lake_bytes_written", lb.toDouble)
      g.add("jobs.files_written", nf.toDouble)
      val bytes = Files.readAllBytes(file.toPath)
      val t0 = System.nanoTime()
      val n = t.span("sources.rosbag", "sources.rosbag.parse_s")(
        RosbagFormat.iterator(new java.io.ByteArrayInputStream(bytes)).size)
      g.add("sources.rosbag.parse_mb_per_s", bytes.length / 1048576.0 / ((System.nanoTime() - t0) / 1e9))
      val msgs = RosbagReader.messages(spark, bagUri(file)).persist()
      try {
        t.span("sources.rosbag", "sources.rosbag.demux_s")(noop(msgs.toDF()))
        g.add("sources.rosbag.messages", msgs.count().toDouble)
        g.add("sources.rosbag.bytes", truth.bytes.toDouble)
        require(n == msgs.count(), "in-memory parse and Spark demux disagree")
        val views: Seq[(String, DataFrame)] = Seq(
          "images" -> RosbagReader.imagesOf(spark, msgs),
          "laser" -> RosbagReader.laserScansOf(spark, msgs),
          "odometry" -> RosbagReader.odometryOf(spark, msgs),
          "wrench" -> RosbagReader.wrenchOf(spark, msgs),
          "std_msgs" -> RosbagReader.stdMsgsOf(spark, msgs),
          "generic" -> RosbagReader.genericMessagesOf(spark, msgs))
        views.foreach { case (v, df) =>
          t.span("sources.rosbag", s"sources.rosbag.decode_s.$v")(noop(df))
        }
        val images = views.head._2
        t.span("multimodal", "multimodal.blur_s")(noop(ImageOps.blurFrames(spark, images, regions(spark))))
        val (frames, pngBytes) = t.span("multimodal", "multimodal.png_encode_s") {
          ImageOps.toPng(spark, images).rdd.map(p => (1L, p.png.length.toLong))
            .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
        }
        g.add("multimodal.png_frames", frames.toDouble)
        g.add("multimodal.png_bytes_per_pixel_byte",
          pngBytes.toDouble / (frames * BagCorpus.Width * BagCorpus.Height * 3))
        dedupIndexReplay(spark, images, new File(work, "ingest-shadow").getAbsolutePath, i, t, g)
      } finally msgs.unpersist()
    }

    override def workloadMetrics(results: Seq[OpResult]): Seq[(String, Double, String)] = {
      val bagBytes = results.map(_.bagBytes).sum.toDouble
      Seq("ingest_mb_per_s" -> (bagBytes / 1048576.0 / results.map(_.latencyS).sum, "MB/s"),
        "lake_bytes_per_bag_byte" -> (results.map(_.lakeBytes).sum / bagBytes, "ratio"))
        .map { case (k, (v, u)) => (k, v, u) }
    }
  }
}
