package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, StructField, StructType}

/** Multimodal column operators (SURVEY.md §2 `multimodal`).
  *
  * Images travel as opaque `binary` pixel columns with typed metadata
  * (width/height/encoding), exactly how the rosbag source emits them —
  * raw channels-last uint8 buffers, so feature extraction, PII blur
  * ([[blurFrames]]), bilinear resample ([[resize]]), PNG encode
  * ([[toPng]]) and PNG decode ([[decodePng]] via the JDK's javax.imageio —
  * no native codec needed) are all real pixel math running
  * partition-parallel. [[reingestPngs]] closes the loop the reference runs
  * with PIL (select-labelling-imgs.py:58-124): read an already-landed PNG
  * lake back, decode, blur/resize/crop, re-encode.
  */
object ImageOps {

  // dedupGroupsFrames' live id snapshot per session (RDD persists are
  // invisible to spark.catalog.clearCache). Cache contract, mirroring
  // propagateMin's discipline: ONE outstanding dedupGroupsFrames result
  // per session — the next call unpersists the previous call's id RDD,
  // so a still-held earlier result silently recomputes its zipWithIndex
  // lineage (correct, just slower; ids are deterministic under the
  // range-sort). Lifecycle is the shared SessionResourceCache contract:
  // context-stop sweep + explicit [[releaseFrameDedupCache]] for a
  // session-cycling JVM.
  private val idRddCache = new graft.operators.SessionResourceCache[
    SparkSession, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]](
    identity, _.unpersist(blocking = false))

  /** Release the session's cached frame-dedup id snapshot (safe to call
    * any time; the next dedupGroupsFrames call rebuilds it). */
  def releaseFrameDedupCache(spark: SparkSession): Unit =
    idRddCache.releaseSession(spark)

  private def cacheIdRdd(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]): Unit =
    idRddCache.put(spark, rdd)

  /** Channel count for the uint8 channels-last encodings the pixel
    * REWRITING paths (blur/resize/png) understand. Anything else (mono16,
    * bgra8, 16UC1, ...) fails loudly — rewriting a buffer under a wrong
    * channel/byte-width assumption would silently corrupt lake pixels,
    * which is strictly worse than stopping (same policy as the loud lz4
    * rejection in the bag source).
    */
  private[multimodal] def channelsOf(encoding: String): Int = encoding match {
    case "mono8"                   => 1
    case "rgb8" | "bgr8" | "8UC3"  => 3
    case "rgba8"                   => 4
    case other => throw new IllegalArgumentException(
      s"unsupported pixel encoding '$other' (supported: mono8, rgb8, bgr8, 8UC3, rgba8)")
  }

  /** Lenient channel inference for read-only statistics (features): unknown
    * encodings fall back to 3 channels — stats may be off for exotic
    * layouts, but nothing is rewritten.
    */
  private def channelsForStats(encoding: String): Int = encoding match {
    case "mono8" => 1
    case "rgba8" => 4
    case _       => 3
  }

  final case class Frame(bag: String, topic: String, time_ns: Long,
      width: Long, height: Long, encoding: String, step: Long, pixels: Array[Byte])

  final case class FrameFeatures(bag: String, topic: String, time_ns: Long,
      width: Long, height: Long, encoding: String,
      mean_r: Double, mean_g: Double, mean_b: Double, brightness: Double)

  /** DECODE STUB: interpret the raw buffer as channels-last uint8 with a
    * row stride (ROS Image `step`) — alignment padding beyond
    * width*channels is skipped. Deterministic stand-in for a real image
    * decode (no codec in this container); the per-partition batch shape is
    * the production path.
    */
  private def channelMeans(pixels: Array[Byte], channels: Int,
      width: Int, height: Int, step: Int): Array[Double] = {
    val rowBytes = width * channels
    val stride = if (step >= rowBytes) step else rowBytes
    val sums = new Array[Double](channels)
    var y = 0
    while (y < height && (y * stride + rowBytes) <= pixels.length) {
      var x = 0
      while (x < rowBytes) {
        sums(x % channels) += (pixels(y * stride + x) & 0xff)
        x += 1
      }
      y += 1
    }
    val n = math.max(1, width * height)
    sums.map(_ / n)
  }

  /** Per-frame channel statistics (feature-extraction shape): processed
    * partition-parallel, one batch of frames per task — the Scala
    * equivalent of a `mapInPandas` batch UDF.
    */
  def features(spark: SparkSession, frames: DataFrame): Dataset[FrameFeatures] = {
    import spark.implicits._
    frames
      .select("bag", "topic", "time_ns", "width", "height", "encoding", "step", "pixels")
      .as[Frame]
      .mapPartitions(_.map { f =>
        val ch = channelsForStats(f.encoding)
        val m = channelMeans(f.pixels, ch, f.width.toInt, f.height.toInt, f.step.toInt)
        val (r, g, b) = f.encoding match {
          // the reference swaps BGR->RGB for 8UC3 (bagstream.py:257)
          case "8UC3" | "bgr8" => (m(2), m(1), m(0))
          case "mono8"          => (m(0), m(0), m(0))
          case _                => (m(0), m(1), if (ch > 2) m(2) else m(0))
        }
        FrameFeatures(f.bag, f.topic, f.time_ns, f.width, f.height, f.encoding,
          r, g, b, (r + g + b) / 3.0)
      })
  }

  /** Per-frame 64-bit dHash ([[PixelKernels.dhash]]) — the perceptual
    * near-dup fingerprint for image corpora (grayscale → 9×8 → gradient
    * signs). One map over the frame scan, no shuffle; 8 bytes per frame
    * of state downstream instead of the pixel buffer.
    */
  def dhashFrames(spark: SparkSession, frames: DataFrame): DataFrame = {
    import spark.implicits._
    frames
      .select("bag", "topic", "time_ns", "width", "height", "encoding", "step", "pixels")
      .as[Frame]
      .mapPartitions(_.map { f =>
        (f.bag, f.topic, f.time_ns,
          PixelKernels.dhash(f.pixels, f.width.toInt, f.height.toInt,
            channelsForStats(f.encoding), f.step.toInt))
      })
      .toDF("bag", "topic", "time_ns", "dhash")
  }

  /** Image near-duplicate pairs within a Hamming radius of the dHash —
    * image dedup for a multimodal training corpus (re-encoded, mildly
    * noised, or brightness-shifted copies of a frame land a few bits
    * apart; exact copies at distance 0).
    *
    * Scale shape — the q43 SimHash recipe, never frame×frame: the 64-bit
    * hash splits into maxHamming+1 bit blocks (pigeonhole: ≤ maxHamming
    * differing bits ⟹ at least one block identical — Manku et al. WWW
    * 2007), candidate pairs form per (block index, block value) bucket
    * via a self-equi-join on the banded table, then one exact
    * `bit_count(xor)` verify. Shuffle volume is rows×blocks; candidate
    * volume is within-bucket only.
    */
  def nearDupFrames(spark: SparkSession, frames: DataFrame, maxHamming: Int = 3): DataFrame =
    nearDupFromHashes(dhashFrames(spark, frames), maxHamming)

  /** The pigeonhole bit blocks of a 64-bit `dhash` column: maxHamming+1
    * (index, value) structs partitioning all 64 bits — ≤ maxHamming
    * differing bits ⟹ at least one block identical. ONE definition,
    * shared by the batch pair join and the streaming lake probe
    * (FrameDedupIndex), so the banding can never drift between the
    * within-batch and cross-batch paths. */
  private[graft] def hammingBlocks(maxHamming: Int): Seq[org.apache.spark.sql.Column] = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15]; got $maxHamming")
    val nBlocks = maxHamming + 1
    (0 until nBlocks).map { i =>
      val lo = i * 64 / nBlocks
      val hi = (i + 1) * 64 / nBlocks // blocks partition all 64 bits
      val width = hi - lo
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      struct(lit(i).as("b"),
        (shiftrightunsigned(col("dhash"), lo) bitwiseAND lit(mask)).as("v"))
    }
  }

  /** [[nearDupFrames]] over a precomputed (bag, topic, time_ns, dhash)
    * table — the streaming guard hashes once and feeds both the
    * within-batch pair join and the lake probe. */
  private[graft] def nearDupFromHashes(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val banded = hashes.select(col("bag"), col("topic"), col("time_ns"),
      col("dhash"), explode(array(hammingBlocks(maxHamming): _*)).as("bk"))
    def side(p: String) = banded.select(
      struct(col("bag"), col("topic"), col("time_ns")).as(s"${p}_key"),
      col("dhash").as(s"${p}_dhash"), col("bk").as(s"${p}_bk"))
    side("a").join(side("b"),
        col("a_bk") === col("b_bk") && col("a_key") < col("b_key"))
      .select("a_key", "b_key", "a_dhash", "b_dhash")
      .dropDuplicates("a_key", "b_key") // pairs colliding in >1 block rank once
      .withColumn("hamming",
        bit_count(col("a_dhash").bitwiseXOR(col("b_dhash"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(
        col("a_key.bag").as("a_bag"), col("a_key.topic").as("a_topic"),
        col("a_key.time_ns").as("a_time_ns"),
        col("b_key.bag").as("b_bag"), col("b_key.topic").as("b_topic"),
        col("b_key.time_ns").as("b_time_ns"), col("hamming"))
  }

  /** Image DEDUP GROUPS: connected components over the [[nearDupFrames]]
    * dHash pair index — the q55 device for images. A burst of
    * near-identical frames (a stopped vehicle, a parked recording rig)
    * chains a>b>c even when a and c drift past the Hamming radius; the
    * component view dedups the whole burst to ONE canonical frame where
    * the pair view would keep dropping b twice. Canonical = the
    * lexicographically smallest (bag, topic, time_ns) key in the
    * component (a deterministic, meaningful representative: the earliest
    * frame of the earliest topic).
    *
    * Shape: frame keys incident to an edge get dense surrogate ids via
    * range-partitioned sort + zipWithIndex (the q98 Terasort shape,
    * bounded by 2·|pairs| — never corpus-sized); labels ride THE shared
    * min-label propagation engine (DedupOps.propagateMin — O(log n)
    * rounds, its own cache key so q55/q32 snapshots are untouched); ids
    * map back by two joins. Output: one row per incident frame with its
    * canonical key — frames with no near-dup at all are absent (they are
    * their own canonical trivially).
    */
  def dedupGroupsFrames(spark: SparkSession, frames: DataFrame,
      maxHamming: Int = 3, maxRounds: Int = 50): DataFrame =
    dedupGroupsFromHashes(spark, dhashFrames(spark, frames), maxHamming, maxRounds)

  /** [[dedupGroupsFrames]] over a precomputed (bag, topic, time_ns, dhash)
    * table (the streaming guard's single-hash-pass path). */
  private[graft] def dedupGroupsFromHashes(spark: SparkSession, hashes: DataFrame,
      maxHamming: Int = 3, maxRounds: Int = 50): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // persisted: the banded dHash self-join is the dominant cost and
    // feeds the node set, the id assignment, and both edge-join sides —
    // uncached, each consumer (plus zipWithIndex's eager count job)
    // would re-run it; released below once propagation has consumed it
    val pairs = nearDupFromHashes(hashes, maxHamming)
      .select(
        struct(col("a_bag").as("bag"), col("a_topic").as("topic"),
          col("a_time_ns").as("time_ns")).as("ka"),
        struct(col("b_bag").as("bag"), col("b_topic").as("topic"),
          col("b_time_ns").as("time_ns")).as("kb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = pairs.select(col("ka").as("k"))
      .unionByName(pairs.select(col("kb").as("k"))).distinct()
    // the id RDD persists too (withId is read by the edge build AND the
    // two decode joins of the lazily-consumed result, so it outlives
    // this call). RDD-level persists are NOT released by
    // spark.catalog.clearCache() (that clears only the SQL CacheManager),
    // so this follows propagateMin's discipline instead: one live id
    // snapshot per session — each invocation releases the previous one.
    val idRdd = nodes.repartitionByRange(col("k")).sortWithinPartitions("k").rdd
      .zipWithIndex.map { case (r, i) => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cacheIdRdd(spark, idRdd)
    val withId = spark.createDataFrame(idRdd,
      StructType(nodes.schema.fields :+ StructField("nid", LongType, nullable = false)))
    val edges = pairs
      .join(withId.select(col("k").as("ka"), col("nid").as("na")), Seq("ka"))
      .join(withId.select(col("k").as("kb"), col("nid").as("nb")), Seq("kb"))
      .select("na", "nb")
    // propagateMin is eager (it runs its convergence loop and caches the
    // labeling snapshot), so by the time it returns every pairs consumer
    // has run — the dominant intermediate can be released here
    val labels = graft.operators.DedupOps.propagateMin(
      spark, edges, maxRounds, cacheKey = "image-groups")
    pairs.unpersist()
    // UNORDERED by design (the cloudStats/scoreOf convention): output is
    // one row per incident frame — corpus-scale — and every consumer
    // (BagIngest's frame_dedup join, the spec's map lookup) is
    // order-insensitive; a global sort here is an unbounded range
    // exchange for nothing
    labels
      .join(withId.select(col("nid").as("doc_id"), col("k")), Seq("doc_id"))
      .join(withId.select(col("nid").as("canonical"), col("k").as("ck")), Seq("canonical"))
      .select(
        col("k.bag").as("bag"), col("k.topic").as("topic"),
        col("k.time_ns").as("time_ns"),
        col("ck.bag").as("canon_bag"), col("ck.topic").as("canon_topic"),
        col("ck.time_ns").as("canon_time_ns"),
        (col("doc_id") === col("canonical")).as("is_canonical"))
  }

  /** TOTALIZE a [[dedupGroupsFrames]] result over a frame index: frames
    * with no near-dup at all are absent from the pair-derived groups, so a
    * left join back fills them in as trivially their own canonical —
    * consumers filter `is_canonical` without a second anti-join against
    * the pair table. ONE definition, shared by BagIngest's frame_dedup
    * manifest and the streaming guard. `frameKeys` needs columns
    * (bag, topic, time_ns). */
  def totalFrameManifest(frameKeys: DataFrame, groups: DataFrame): DataFrame =
    frameKeys.select("bag", "topic", "time_ns")
      .join(groups, Seq("bag", "topic", "time_ns"), "left")
      .select(col("bag"), col("topic"), col("time_ns"),
        coalesce(col("canon_bag"), col("bag")).as("canon_bag"),
        coalesce(col("canon_topic"), col("topic")).as("canon_topic"),
        coalesce(col("canon_time_ns"), col("time_ns")).as("canon_time_ns"),
        coalesce(col("is_canonical"), lit(true)).as("is_canonical"))

  /** Per-frame brightness as a drift SCORE frame `(score)` — the cheap
    * pixel statistic the image drift gauge distributes (one map over the
    * frame scan, the [[features]] kernel). */
  private[graft] def brightnessScoredOf(spark: SparkSession, frames: DataFrame): DataFrame =
    features(spark, frames).toDF().select(col("brightness").as("score"))

  /** Frozen brightness drift REFERENCE — the pixel twin of the text
    * gauge's TextAnalysisOps.driftReferenceOf: decile edges + per-bucket
    * counts of the per-frame brightness over a healthy reference
    * recording, captured ONCE offline. */
  def brightnessDriftReference(spark: SparkSession, frames: DataFrame,
      buckets: Int = 10): graft.operators.TextAnalysisOps.DriftRef =
    graft.operators.TextAnalysisOps.driftReferenceOf(
      brightnessScoredOf(spark, frames), buckets)

  /** PSI of a frame batch's brightness distribution against a frozen
    * [[brightnessDriftReference]] — the IMAGE drift gauge (q110's PSI
    * arithmetic through THE shared psiFrame core): a camera going bad
    * (exposure fault, lens obstruction, a stuck shutter) shifts the
    * brightness distribution long before any downstream consumer errors,
    * exactly the way a crawl source going bad shifts the text quality
    * score. Output: the streaming gauge shape — one row per bucket
    * (n_old, n_new, p_old, p_new, term) + the bucket = −1 rollup whose
    * term IS the PSI; an EMPTY batch reads NULL (no reading), never a
    * fake alarm. One bounded-output pass over the batch's frames.
    */
  def brightnessDrift(spark: SparkSession, frames: DataFrame,
      ref: graft.operators.TextAnalysisOps.DriftRef): DataFrame =
    graft.operators.TextAnalysisOps.psiAgainst(
      brightnessScoredOf(spark, frames), ref)

  final case class PngFrame(bag: String, topic: String, time_ns: Long, file_name: String, png: Array[Byte])

  /** Encode frames to real PNG bytes (PngEncoder) partition-parallel — the
    * reference's per-frame `img.save(...png)` as a distributed column op.
    * Pair with a binary-file sink (or foreachPartition upload) to land the
    * same S3 layout the reference produces.
    */
  def toPng(spark: SparkSession, frames: DataFrame): Dataset[PngFrame] = {
    import spark.implicits._
    frames
      .select("bag", "topic", "time_ns", "width", "height", "encoding", "step", "pixels", "file_name")
      .map { r =>
        PngFrame(r.getAs[String]("bag"), r.getAs[String]("topic"), r.getAs[Long]("time_ns"),
          r.getAs[String]("file_name"),
          PngEncoder.encode(r.getAs[Array[Byte]]("pixels"),
            r.getAs[Long]("width").toInt, r.getAs[Long]("height").toInt,
            r.getAs[String]("encoding"), r.getAs[Long]("step").toInt))
      }
  }

  /** Decode a `png` binary column back to raw frame columns — the inverse
    * of [[toPng]], partition-parallel via [[PngDecoder]] (JDK imageio, no
    * codec dependency). Every input column except `png` passes through;
    * `width`/`height`/`encoding`/`step`/`pixels` are appended. Decoded
    * frames feed [[blurFrames]]/[[resize]]/[[cropBoxes]] directly, so an
    * already-landed PNG lake can be re-processed without the original bags
    * — the reference's select-labelling-imgs.py:58-124 re-ingest flow.
    */
  def decodePng(spark: SparkSession, pngs: DataFrame): DataFrame = {
    val iPng = pngs.columns.indexOf("png")
    require(iPng >= 0, "decodePng: input needs a binary 'png' column")
    val passIdx = pngs.columns.indices.filter(_ != iPng)
    val schema = StructType(
      passIdx.map(pngs.schema.fields(_)) ++ Seq(
        StructField("width", LongType), StructField("height", LongType),
        StructField("encoding", StringType), StructField("step", LongType),
        StructField("pixels", BinaryType)))
    val nPass = passIdx.length
    pngs.mapPartitions { it =>
      it.map { row =>
        val d = PngDecoder.decode(row.getAs[Array[Byte]](iPng))
        val vals = new Array[Any](nPass + 5)
        var j = 0
        while (j < nPass) { vals(j) = row.get(passIdx(j)); j += 1 }
        vals(nPass) = d.width.toLong
        vals(nPass + 1) = d.height.toLong
        vals(nPass + 2) = d.encoding
        vals(nPass + 3) = d.step.toLong
        vals(nPass + 4) = d.pixels
        Row.fromSeq(vals.toIndexedSeq)
      }
    }(Encoders.row(schema))
  }

  /** Re-ingest an exported PNG directory as a frames table: list the lake
    * (metadata-only binaryFile scan, partition-parallel decode), key each
    * file by its path RELATIVE to `pngDir` (the same convention PngAudit
    * compares on — per-camera subdirectories stay distinct), and join the
    * frame manifest — EVERY manifest column passes through, so the frame
    * identity (bag, topic, frame_no, ...) rides along into the decoded
    * frames. Inner join: an orphan PNG has no identity to re-ingest under
    * (PngAudit reports it); a manifest row with no PNG is likewise
    * PngAudit's 'missing' finding.
    */
  def reingestPngs(spark: SparkSession, pngDir: String, manifest: DataFrame): DataFrame = {
    val listed = PngLake.list(spark, pngDir).withColumnRenamed("content", "png")
    decodePng(spark, manifest.join(listed, Seq("file_name"), "inner"))
  }

  /** Deterministic temporal frame sampling: keep every nth frame per
    * (bag, topic) — the "select frames for labeling" stage. Pure filter on
    * the frame index, no shuffle.
    */
  def sampleFrames(frames: DataFrame, every: Int): DataFrame =
    frames.filter(col("frame_no") % every === 0)

  /** Resize planning: target dims preserving aspect ratio (longest side ->
    * `maxSide`), emitted as metadata. [[resize]] executes the plan on the
    * raw buffers.
    */
  def resizePlan(frames: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(lit(1.0), lit(maxSide) / greatest(col("width"), col("height")))
    frames
      .withColumn("target_width", ceil(col("width") * scale).cast("long"))
      .withColumn("target_height", ceil(col("height") * scale).cast("long"))
      .withColumn("scale", scale)
  }

  /** Bilinear resample on the raw uint8 buffers (PixelKernels.resizeBilinear)
    * — the reference's Pillow resize as a schema-preserving, partition-
    * parallel column op: pixels/width/height/step are rewritten, every other
    * column (frame_no, file_name, ...) passes through untouched, so resized
    * frames flow straight into [[toPng]]. Frames already within `maxSide`
    * are passed through byte-identical (no-upscale policy, and alignment
    * padding is preserved).
    */
  def resize(spark: SparkSession, frames: DataFrame, maxSide: Int): DataFrame = {
    val planned = resizePlan(frames, maxSide)
    val cols = planned.columns
    val iW = cols.indexOf("width"); val iH = cols.indexOf("height")
    val iStep = cols.indexOf("step"); val iPx = cols.indexOf("pixels")
    val iEnc = cols.indexOf("encoding")
    val iTw = cols.indexOf("target_width"); val iTh = cols.indexOf("target_height")
    val n = frames.columns.length
    val outIdx = frames.columns.map(c => cols.indexOf(c))
    val iWOut = frames.columns.indexOf("width")
    val iHOut = frames.columns.indexOf("height")
    val iStepOut = frames.columns.indexOf("step")
    val iPxOut = frames.columns.indexOf("pixels")
    val enc = Encoders.row(frames.schema)
    planned.mapPartitions { it =>
      it.map { row =>
        val w = row.getLong(iW).toInt; val h = row.getLong(iH).toInt
        val tw = row.getLong(iTw).toInt; val th = row.getLong(iTh).toInt
        val vals = new Array[Any](n)
        var j = 0
        while (j < n) { vals(j) = row.get(outIdx(j)); j += 1 }
        if (tw != w || th != h) {
          // encoding validated only when pixels are actually rewritten;
          // within-bounds frames of any encoding pass through untouched
          val ch = channelsOf(row.getString(iEnc))
          val px = PixelKernels.resizeBilinear(row.getAs[Array[Byte]](iPx),
            w, h, ch, row.getLong(iStep).toInt, tw, th)
          vals(iWOut) = tw.toLong
          vals(iHOut) = th.toLong
          vals(iStepOut) = (tw * ch).toLong
          vals(iPxOut) = px
        }
        Row.fromSeq(vals.toIndexedSeq)
      }
    }(enc)
  }

  /** Training-patch extraction: one cropped frame per detected region —
    * the box-to-classifier-patch step between Ground Truth boxes (q28) and
    * the packed exports (RecordIO / TarShards). Inner-join frames ×
    * regions, pad by `margin`, clamp to the frame, crop the raw uint8
    * window (tight stride, ready for [[toPng]]); degenerate boxes (empty
    * after clamping) are dropped. One row per (frame, region) — a frame
    * with k detections yields k patches, partition-parallel, no
    * aggregation state at all.
    */
  def cropBoxes(spark: SparkSession, frames: DataFrame, regions: DataFrame,
      margin: Int = 0): DataFrame = {
    // one join only: the clamped bounds are appended to the joined frame
    // (shared clampBounds helper) so the heavy binary frames table is
    // scanned once — going through blurPlan would read frames for
    // width/height, drop the pixels, and force a second frames join
    val planned = clampBounds(
      frames.join(regions, Seq("bag", "topic", "time_ns"), "inner"), margin)
    val cols = planned.columns
    val iW = cols.indexOf("width"); val iH = cols.indexOf("height")
    val iStep = cols.indexOf("step"); val iPx = cols.indexOf("pixels")
    val iEnc = cols.indexOf("encoding")
    val iX1 = cols.indexOf("x1"); val iY1 = cols.indexOf("y1")
    val iX2 = cols.indexOf("x2"); val iY2 = cols.indexOf("y2")
    val iBag = cols.indexOf("bag"); val iTopic = cols.indexOf("topic")
    val iT = cols.indexOf("time_ns")
    val schema = StructType(Seq(
      StructField("bag", StringType), StructField("topic", StringType),
      StructField("time_ns", LongType),
      StructField("x1", LongType), StructField("y1", LongType),
      StructField("x2", LongType), StructField("y2", LongType),
      StructField("width", LongType), StructField("height", LongType),
      StructField("step", LongType), StructField("encoding", StringType),
      StructField("pixels", BinaryType)))
    planned.mapPartitions { it =>
      it.flatMap { row =>
        val x1 = row.getLong(iX1).toInt; val y1 = row.getLong(iY1).toInt
        val x2 = row.getLong(iX2).toInt; val y2 = row.getLong(iY2).toInt
        if (x1 >= x2 || y1 >= y2) None
        else {
          val ch = channelsOf(row.getString(iEnc))
          val patch = PixelKernels.crop(
            row.getAs[Array[Byte]](iPx),
            row.getLong(iW).toInt, row.getLong(iH).toInt, ch,
            row.getLong(iStep).toInt, x1, y1, x2, y2)
          Some(Row(
            row.getString(iBag), row.getString(iTopic), row.getLong(iT),
            x1.toLong, y1.toLong, x2.toLong, y2.toLong,
            (x2 - x1).toLong, (y2 - y1).toLong,
            ((x2 - x1) * ch).toLong, row.getString(iEnc), patch))
        }
      }
    }(Encoders.row(schema))
  }

  /** PII-region blur ledger (select-labelling-imgs anonymize_PII shape):
    * join detected regions to frames and emit the blur work-list — boxes
    * padded by `margin` (the reference pads text boxes +-10 px, face boxes
    * +-5 px) and clamped to the frame.
    */
  def blurPlan(frames: DataFrame, regions: DataFrame, margin: Int = 10): DataFrame =
    clampBounds(frames.join(regions, Seq("bag", "topic", "time_ns"), "inner"), margin)
      .select("bag", "topic", "time_ns", "x1", "y1", "x2", "y2")

  /** Append margin-padded, frame-clamped box bounds to a frames×regions
    * join — the ONE definition of the clamping rule, shared by the blur
    * work-list and the patch cropper so they can never diverge. */
  private def clampBounds(joined: DataFrame, margin: Int): DataFrame = {
    // padded in long, so an Int-typed region near the Int range saturates
    // at the frame edge instead of overflowing
    val Seq(x, y, w, h) = Seq("region_x", "region_y", "region_w", "region_h").map(col(_).cast("long"))
    joined
      .withColumn("x1", greatest(lit(0L), x - margin))
      .withColumn("y1", greatest(lit(0L), y - margin))
      .withColumn("x2", least(col("width").cast("long"), x + w + margin))
      .withColumn("y2", least(col("height").cast("long"), y + h + margin))
  }

  /** Execute the blur on the raw uint8 buffers: Gaussian-blur each frame
    * that has detected PII regions and composite the blurred pixels inside
    * the boxes padded by `margin`, leaving every byte outside them
    * bit-identical — the reference's anonymize_PII
    * (select-labelling-imgs.py:58-124) as a distributed column op.
    * Schema-preserving plus an `n_blurred` region count; frames with no
    * regions pass through byte-identical.
    *
    * The box list is built from the regions alone, grouped per frame key,
    * so the frames are read once; the kernel clamps each box to its frame.
    * A null coordinate or a padded bound past `Int` range reaches the frame
    * edge. Every region ends up in the broadcast box list, matched or not,
    * so the caller bounds the regions to its frames' bags, as the ingest
    * does. The list per frame is a bounded collect_list (detections per
    * frame, tens at most), so the aggregation buffer stays small.
    */
  def blurFrames(spark: SparkSession, frames: DataFrame, regions: DataFrame,
      sigma: Double = 15.0, margin: Int = 10): DataFrame = {
    // padded in long, then saturated to [0, Int.MaxValue]: a null lower
    // bound reads 0 and a null upper bound the maximum, and no bound wraps
    // when taken as an Int
    val Seq(x, y, w, h) = Seq("region_x", "region_y", "region_w", "region_h").map(col(_).cast("long"))
    def lo(c: Column) = least(lit(Int.MaxValue.toLong), greatest(lit(0L), c))
    def hi(c: Column) = greatest(lit(0L), least(lit(Int.MaxValue.toLong), c))
    val boxes = regions
      .groupBy("bag", "topic", "time_ns")
      .agg(collect_list(array(lo(x - margin), lo(y - margin), hi(x + w + margin), hi(y + h + margin)))
        .as("__boxes"))
    // broadcast: the box list holds one small row per frame with regions,
    // far smaller than the pixel side; left to AQE, the join shuffled the
    // pixels too whenever that side's exchange finished first
    val joined = frames.join(broadcast(boxes), Seq("bag", "topic", "time_ns"), "left")
    val cols = joined.columns
    val iW = cols.indexOf("width"); val iH = cols.indexOf("height")
    val iStep = cols.indexOf("step"); val iPx = cols.indexOf("pixels")
    val iEnc = cols.indexOf("encoding"); val iBoxes = cols.indexOf("__boxes")
    val n = frames.columns.length
    val outIdx = frames.columns.map(c => cols.indexOf(c))
    val iPxOut = frames.columns.indexOf("pixels")
    val schema = StructType(frames.schema.fields :+
      StructField("n_blurred", IntegerType, nullable = false))
    joined.mapPartitions { it =>
      it.map { row =>
        val vals = new Array[Any](n + 1)
        var j = 0
        while (j < n) { vals(j) = row.get(outIdx(j)); j += 1 }
        val bs = if (row.isNullAt(iBoxes)) Seq.empty[scala.collection.Seq[Long]]
                 else row.getSeq[scala.collection.Seq[Long]](iBoxes)
        if (bs.nonEmpty) {
          vals(iPxOut) = PixelKernels.blurRegions(
            row.getAs[Array[Byte]](iPx),
            row.getLong(iW).toInt, row.getLong(iH).toInt,
            channelsOf(row.getString(iEnc)), row.getLong(iStep).toInt,
            bs.map(b => (b(0).toInt, b(1).toInt, b(2).toInt, b(3).toInt)),
            sigma)
        }
        vals(n) = bs.length
        Row.fromSeq(vals.toIndexedSeq)
      }
    }(Encoders.row(schema))
  }
}
