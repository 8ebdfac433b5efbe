package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.{FrameDedupIndex, SnapshotLake}
import graft.multimodal.ImageOps

/** The streaming image near-dup guard: cross-batch canonical identity via
  * the persisted dHash fingerprint index — the multimodal twin of
  * CorpusPrepStreamSpec's band-guard coverage (burst collapse across
  * batches, crash redelivery, probe scale shape).
  */
class FrameDedupStreamSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // 9x8 mono8 gradients (the MultimodalSpec fixtures): a = all dhash bits
  // set; b flips ONE bit (hamming 1 from a); b3 flips three (hamming 2
  // from b, 3 from a — beyond the radius-2 gate vs a, the chain shape);
  // c is the inverted plane (hamming ~61+ from everything).
  private def grad(mod: Map[(Int, Int), Int]): Array[Byte] =
    Array.tabulate[Byte](9 * 8) { i =>
      mod.getOrElse((i / 9, i % 9), (i % 9) * 28).toByte
    }
  private val pxA = grad(Map.empty)
  private val pxB = grad(Map((0, 1) -> 0))
  private val pxB3 = grad(Map((0, 1) -> 0, (1, 1) -> 0, (2, 1) -> 0))
  private val pxC = Array.tabulate[Byte](9 * 8)(i => (224 - (i % 9) * 28).toByte)

  private def framesOf(rows: (Long, Array[Byte])*): DataFrame = {
    import spark.implicits._
    rows.map { case (t, px) =>
      ("bags/w.bag", "/cam0/image_raw", t, 9L, 8L, "mono8", 9L, px)
    }.toDF("bag", "topic", "time_ns", "width", "height", "encoding", "step", "pixels")
  }

  private def manifestMap(df: DataFrame): Map[Long, (Long, Boolean)] =
    df.collect().map(r => r.getAs[Long]("time_ns") ->
      ((r.getAs[Long]("canon_time_ns"), r.getAs[Boolean]("is_canonical")))).toMap

  private def runBatch(lake: String, batchId: Long, frames: DataFrame,
      maxHamming: Int = 2): Map[Long, (Long, Boolean)] = {
    var out = Map.empty[Long, (Long, Boolean)]
    FrameDedupIndex.probeAndCommit(spark, frames, lake, batchId, maxHamming,
      sink = m => out = manifestMap(m))
    out
  }

  test("a burst re-arriving in LATER batches collapses onto the landed canonical; " +
    "index rows inherit the ultimate canonical in one hop") {
    val lake = tmp("fdi-lake")

    // batch 0: the original burst lands; frame 1 claims the canonical
    val m0 = runBatch(lake, 0L, framesOf(1L -> pxA, 2L -> pxB))
    assert(m0 === Map(1L -> ((1L, true)), 2L -> ((1L, false))))

    // batch 1: the burst RE-ARRIVES (exact copy of b + a drifted member)
    // plus one genuinely fresh frame. Within-batch alone would mint a new
    // canonical (frame 10); the guard must adopt the LANDED one.
    val m1 = runBatch(lake, 1L, framesOf(10L -> pxB, 11L -> pxB3, 12L -> pxC))
    // 10 hits landed 1 (ham 1) and 2 (ham 0) -> canon 1; 11 is ham 3 from
    // the landed a — past the radius — but rides its within-batch
    // component with 10 (ham 2): component adoption collapses BOTH
    assert(m1 === Map(
      10L -> ((1L, false)), 11L -> ((1L, false)), 12L -> ((12L, true))),
      m1.toString)

    // batch 2: an exact copy of the DRIFTED member. Its only radius hit is
    // batch 1's landed fingerprint (ham 0) — whose index row must carry
    // the ULTIMATE canonical (frame 1), not batch 1's local one, so the
    // new arrival resolves in one hop with no transitive chase
    val m2 = runBatch(lake, 2L, framesOf(20L -> pxB3))
    assert(m2 === Map(20L -> ((1L, false))), m2.toString)

    // the index holds every landed frame's fingerprint with its resolved
    // canonical pointer
    val idx = SnapshotLake.read(spark, s"$lake/${FrameDedupIndex.IndexTable}")
      .select("time_ns", "canon_time_ns").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idx === Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 12L -> 12L,
      20L -> 1L), idx.toString)
  }

  test("crash redelivery is exactly-once: same manifest, one index commit, " +
    "and a full re-run never flips is_canonical") {
    val lake = tmp("fdi-lake2")
    runBatch(lake, 0L, framesOf(1L -> pxA))

    // delivery of batch 1 crashes in the manifest sink, BEFORE the index
    // commit — the lake must be untouched by the failed delivery
    val b1 = framesOf(10L -> pxB, 12L -> pxC)
    intercept[RuntimeException] {
      FrameDedupIndex.probeAndCommit(spark, b1, lake, 1L, maxHamming = 2,
        sink = _ => throw new RuntimeException("crash in manifest sink"))
    }
    assert(SnapshotLake.versions(spark, s"$lake/${FrameDedupIndex.IndexTable}").size === 1)

    // redelivery lands manifest + index exactly once
    val m1 = runBatch(lake, 1L, b1)
    assert(m1 === Map(10L -> ((1L, false)), 12L -> ((12L, true))), m1.toString)
    assert(SnapshotLake.versions(spark, s"$lake/${FrameDedupIndex.IndexTable}").size === 2)

    // a FULL re-run of the same batch id (Spark retried after everything
    // landed): the probe excludes the batch's own landed rows, so the
    // fresh frame does not "hit" its own fingerprint and flip to
    // non-canonical — the manifest recomputes IDENTICALLY — and the index
    // commit is a no-op
    val m1again = runBatch(lake, 1L, b1)
    assert(m1again === m1, s"redelivered manifest drifted: $m1again vs $m1")
    assert(SnapshotLake.versions(spark, s"$lake/${FrameDedupIndex.IndexTable}").size === 2)

    // the next batch probes the recovered lake correctly
    val m2 = runBatch(lake, 2L, framesOf(20L -> pxB))
    assert(m2 === Map(20L -> ((1L, false))), m2.toString)
  }

  test("probe scale shape: at 100x corpus / 1x batch, the compacted index " +
    "prunes the probe to O(batch-keys) files") {
    val lake = tmp("fdi-lake3")
    val table = s"$lake/${FrameDedupIndex.IndexTable}"

    // the frame the probe batch will near-dup against
    runBatch(lake, 50L, framesOf(1L -> pxA))

    // age the index 100x with synthetic fingerprints committed directly
    // (the CorpusPrepStreamSpec device: the lake's age is just its table
    // contents). dhash_i = i | i<<21 | i<<42 gives three DISTINCT block
    // values per filler at maxHamming=2, far from the probe frames' keys.
    import spark.implicits._
    (0 until 4).foreach { ci =>
      val ds = (1 to 50).map(j => 1000L + ci * 50 + j)
        .map(i => (s"f$ci.bag", "/f", i, i | (i << 21) | (i << 42)))
        .toDF("bag", "topic", "time_ns", "dhash")
      val rows = ds.select(col("bag"), col("topic"), col("time_ns"), col("dhash"),
          explode(array(ImageOps.hammingBlocks(2): _*)).as("bk"))
        .select(col("bag"), col("topic"), col("time_ns"), col("dhash"),
          col("bk.b").as("b"), col("bk.v").as("v"))
        .withColumn("fkey", xxhash64(col("b"), col("v")))
        .withColumn("canon_bag", col("bag"))
        .withColumn("canon_topic", col("topic"))
        .withColumn("canon_time_ns", col("time_ns"))
        .withColumn("ingest_batch", lit(100L + ci))
      SnapshotLake.commitStreamBatch(spark, table,
        rows.select("bag", "topic", "time_ns", "dhash", "b", "v", "fkey",
          "canon_bag", "canon_topic", "canon_time_ns", "ingest_batch"),
        100L + ci, statsCol = Some("fkey"))
    }
    assert(FrameDedupIndex.compactIndex(spark, lake, targetFileRows = 16).isDefined)
    val totalFiles = SnapshotLake.read(spark, table).inputFiles.length
    assert(totalFiles >= 20, s"index must be many-filed, got $totalFiles")

    // one 2-frame batch (1% of index age): a near-dup of the landed frame
    // + a fresh frame — at maxHamming=2 that is <= 6 distinct block keys,
    // so the pruned probe reads <= 12 of the clustered files (one per key
    // + range-boundary slack), not the whole index
    var probeFiles = -1
    var m = Map.empty[Long, (Long, Boolean)]
    FrameDedupIndex.probeAndCommit(spark, framesOf(60L -> pxB, 61L -> pxC),
      lake, 0L, maxHamming = 2,
      sink = mf => m = manifestMap(mf),
      probeObserver = df => probeFiles = df.inputFiles.length)
    assert(m === Map(60L -> ((1L, false)), 61L -> ((61L, true))), m.toString)
    assert(probeFiles >= 0, "probe must have run against the aged index")
    assert(probeFiles <= 12,
      s"probe read $probeFiles of $totalFiles files — batch keys must prune to O(batch)")
  }

  test("a mid-stream banding change fails LOUDLY instead of silently mixing bandings") {
    val lake = tmp("fdi-lake6")
    runBatch(lake, 0L, framesOf(1L -> pxA), maxHamming = 2)
    // rows landed at maxHamming=2 split the 64 bits into 3 blocks; a
    // batch probing/committing at 3 (4 blocks) would silently stop
    // colliding with them — the index property makes it throw instead
    val e = intercept[IllegalStateException] {
      runBatch(lake, 1L, framesOf(10L -> pxB), maxHamming = 3)
    }
    assert(e.getMessage.contains("max_hamming"), e.getMessage)
    // the original banding keeps working
    val m = runBatch(lake, 2L, framesOf(20L -> pxB), maxHamming = 2)
    assert(m === Map(20L -> ((1L, false))), m.toString)
  }

  test("an empty batch (a bag with no camera topics) is a no-op that breaks nothing") {
    val lake = tmp("fdi-lake5")
    // batch 0 lands normally
    runBatch(lake, 0L, framesOf(1L -> pxA))
    // batch 1 carries ZERO frames — the guard must neither crash (empty
    // hash pass, empty component labeling, empty probe key set) nor
    // corrupt the index for later batches
    val m1 = runBatch(lake, 1L, framesOf())
    assert(m1.isEmpty, s"empty batch produced manifest rows: $m1")
    // batch 2 still probes the (unchanged) landed state correctly
    val m2 = runBatch(lake, 2L, framesOf(20L -> pxB))
    assert(m2 === Map(20L -> ((1L, false))), m2.toString)
  }

  test("end-to-end: BagIngestStream --image-dedup + frame index gives later " +
    "batches the landed canonical") {
    val watch = Files.createTempDirectory("fdi-watch")
    val out = Files.createTempDirectory("fdi-out").toString
    val ckpt = Files.createTempDirectory("fdi-ckpt").toString
    val lake = tmp("fdi-lake4")
    def rgb(mod: Map[Int, Int]): Array[Byte] =
      Array.tabulate[Byte](9 * 8 * 3) { i =>
        val px = i / 3
        mod.getOrElse(px, (px % 9) * 28).toByte
      }
    def bagOf(pixels: Array[Byte]*): Array[Byte] = {
      val inner = BagWriter.connection(0, "/cam0/image_raw", "sensor_msgs/Image") ++
        pixels.zipWithIndex.flatMap { case (px, i) =>
          BagWriter.message(0, 1600000000L + i, 0,
            BagWriter.imagePayload(i, 9, 8, "rgb8", px))
        }
      BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2 = false))
    }
    // bag 1: a two-frame burst; bag 2 (a later batch): the same scene
    // re-recorded — one exact copy + one single-bit drift
    Files.write(watch.resolve("a.bag"), bagOf(rgb(Map.empty), rgb(Map(10 -> 0))))
    val q = graft.jobs.BagIngestStream.start(spark, watch.toString, out, ckpt,
      stages = graft.jobs.BagIngest.Stages(imageDedup = Some(2)),
      stream = graft.jobs.BagIngest.StreamInputs(frameIndex = Some(lake)))
    try {
      q.processAllAvailable()
      val m0 = manifestMap(spark.read.parquet(s"$out/frame_dedup/batch=0"))
      val t0 = 1600000000L * 1000000000L
      assert(m0 === Map(t0 -> ((t0, true)), (t0 + 1000000000L) -> ((t0, false))))

      Files.write(watch.resolve("b.bag"), bagOf(rgb(Map.empty), rgb(Map(11 -> 0))))
      q.processAllAvailable()
      val m1 = manifestMap(spark.read.parquet(s"$out/frame_dedup/batch=1"))
      // BOTH re-arrivals collapse onto bag a's landed canonical — no new
      // canonical is minted for a burst the lake already holds
      assert(m1 === Map(t0 -> ((t0, false)), (t0 + 1000000000L) -> ((t0, false))),
        m1.toString)
      val canonBags = spark.read.parquet(s"$out/frame_dedup/batch=1")
        .select("canon_bag").distinct().collect().map(_.getString(0)).toSeq
      assert(canonBags.forall(_.endsWith("a.bag")), canonBags.toString)
    } finally q.stop()
  }
}
