package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.{FrameDedupIndex, SnapshotLake}
import graft.multimodal.{AudioOps, ImageOps}

/** The streaming AUDIO near-dup guard: cross-batch canonical clip identity
  * via the persisted HK-fingerprint index — the FrameDedupStreamSpec trio
  * (burst collapse across batches, crash redelivery, probe scale shape)
  * replayed on the clip key space, plus the audio-only contracts: the
  * short-clip gate's manifest totality and the (window, n_mels) dial
  * property.
  */
class ClipDedupStreamSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val Rate = 8000

  /** One bin-aligned tone per mel band with slow per-band amplitude
    * modulation (the AudioSpec trim-tolerance fixture): every band holds
    * deterministic smoothly-varying energy, so re-levels land a few bits
    * away and different modulations land far away. */
  private def multi(n: Int, cycles: Double, phase: Double,
      level: Double = 1.0): Array[Byte] = {
    val freqs = Seq(156.25, 375.0, 656.25, 1000.0, 1406.25, 1937.5, 2593.75, 3406.25)
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      var acc = 0.0
      freqs.zipWithIndex.foreach { case (f, b) =>
        val amp = 0.05 + 0.04 * math.sin(2 * math.Pi * cycles * i / n + phase + b * 0.7)
        acc += math.sin(2 * math.Pi * f * i / Rate) * amp * level
      }
      val c = math.max(-32768, math.min(32767, (acc * 32767).toInt)).toShort
      pcm(i * 2) = (c & 0xff).toByte
      pcm(i * 2 + 1) = ((c >> 8) & 0xff).toByte
    }
    pcm
  }

  // 64-window fixtures: a, a slightly re-leveled copy (a few bits away),
  // and unrelated content (far)
  private lazy val pcmA = multi(16384, 1.0, 0.0)
  private lazy val pcmB = multi(16384, 1.0, 0.0, level = 0.9)
  private lazy val pcmC = multi(16384, 3.0, 2.1)
  // sub-fpMinWindows clip: gated out of the index, self-canonical
  private lazy val pcmShort = multi(1024, 1.0, 0.5)

  private def clipsOf(rows: (Long, Array[Byte])*): DataFrame = {
    import spark.implicits._
    rows.map { case (t, pcm) =>
      ("bags/w.bag", "/mic/audio", t, Rate, 1, pcm)
    }.toDF("bag", "topic", "time_ns", "sample_rate", "channels", "pcm")
  }

  private def manifestMap(df: DataFrame): Map[Long, (Long, Boolean)] =
    df.collect().map(r => r.getAs[Long]("time_ns") ->
      ((r.getAs[Long]("canon_time_ns"), r.getAs[Boolean]("is_canonical")))).toMap

  private def runBatch(lake: String, batchId: Long, clips: DataFrame,
      maxHamming: Int = 3): Map[Long, (Long, Boolean)] = {
    var out = Map.empty[Long, (Long, Boolean)]
    FrameDedupIndex.probeAndCommitClips(spark, clips, lake, batchId, maxHamming,
      sink = m => out = manifestMap(m))
    out
  }

  test("a clip burst re-arriving in LATER batches collapses onto the landed " +
    "canonical; index rows inherit the ultimate canonical in one hop; " +
    "short clips stay self-canonical and unindexed") {
    val lake = tmp("cdi-lake")

    // batch 0: the original recording + its re-leveled copy; clip 1
    // claims the canonical. A short clip rides along: manifest-total,
    // never banded.
    val m0 = runBatch(lake, 0L, clipsOf(1L -> pcmA, 2L -> pcmB, 3L -> pcmShort))
    assert(m0 === Map(1L -> ((1L, true)), 2L -> ((1L, false)), 3L -> ((3L, true))),
      m0.toString)

    // batch 1: the re-leveled copy RE-ARRIVES byte-exact plus genuinely
    // fresh content. Within-batch alone would mint a new canonical
    // (clip 10); the guard must adopt the LANDED one.
    val m1 = runBatch(lake, 1L, clipsOf(10L -> pcmB, 12L -> pcmC))
    assert(m1 === Map(10L -> ((1L, false)), 12L -> ((12L, true))), m1.toString)

    // batch 2: another byte-exact copy of the re-level. Its distance-0
    // hit is batch 1's landed fingerprint — whose index row must carry
    // the ULTIMATE canonical (clip 1), not batch 1's local resolution
    val m2 = runBatch(lake, 2L, clipsOf(20L -> pcmB))
    assert(m2 === Map(20L -> ((1L, false))), m2.toString)

    val idx = SnapshotLake.read(spark, s"$lake/${FrameDedupIndex.ClipIndexTable}")
      .select("time_ns", "canon_time_ns").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idx === Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 12L -> 12L, 20L -> 1L),
      s"short clip must never land index rows: $idx")
  }

  test("crash redelivery is exactly-once on the clip index: same manifest, " +
    "one index commit, a full re-run never flips is_canonical") {
    val lake = tmp("cdi-lake2")
    val table = s"$lake/${FrameDedupIndex.ClipIndexTable}"
    runBatch(lake, 0L, clipsOf(1L -> pcmA))

    val b1 = clipsOf(10L -> pcmB, 12L -> pcmC)
    intercept[RuntimeException] {
      FrameDedupIndex.probeAndCommitClips(spark, b1, lake, 1L, maxHamming = 3,
        sink = _ => throw new RuntimeException("crash in manifest sink"))
    }
    assert(SnapshotLake.versions(spark, table).size === 1)

    val m1 = runBatch(lake, 1L, b1)
    assert(m1 === Map(10L -> ((1L, false)), 12L -> ((12L, true))), m1.toString)
    assert(SnapshotLake.versions(spark, table).size === 2)

    // full re-run of the same batch id: the probe excludes the batch's
    // own landed rows, the manifest recomputes identically, the index
    // commit is a no-op
    val m1again = runBatch(lake, 1L, b1)
    assert(m1again === m1, s"redelivered manifest drifted: $m1again vs $m1")
    assert(SnapshotLake.versions(spark, table).size === 2)

    val m2 = runBatch(lake, 2L, clipsOf(20L -> pcmB))
    assert(m2 === Map(20L -> ((1L, false))), m2.toString)
  }

  test("probe scale shape: at 100x clip-index age / 1x batch, the compacted " +
    "index prunes the probe to O(batch-keys) files") {
    val lake = tmp("cdi-lake3")
    val table = s"$lake/${FrameDedupIndex.ClipIndexTable}"

    runBatch(lake, 50L, clipsOf(1L -> pcmA))

    // age the index 100x with synthetic fingerprints committed directly
    // (the FrameDedupStreamSpec device): dhash_i = i | i<<17 | i<<34 |
    // i<<51 gives four DISTINCT block values per filler at maxHamming=3,
    // far from the probe clips' keys
    import spark.implicits._
    (0 until 4).foreach { ci =>
      val ds = (1 to 50).map(j => 1000L + ci * 50 + j)
        .map(i => (s"f$ci.bag", "/f", i, i | (i << 17) | (i << 34) | (i << 51)))
        .toDF("bag", "topic", "time_ns", "dhash")
      val rows = ds.select(col("bag"), col("topic"), col("time_ns"), col("dhash"),
          explode(array(ImageOps.hammingBlocks(3): _*)).as("bk"))
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
    assert(FrameDedupIndex.compactIndex(spark, lake, targetFileRows = 16,
      indexTable = FrameDedupIndex.ClipIndexTable).isDefined)
    val totalFiles = SnapshotLake.read(spark, table).inputFiles.length
    assert(totalFiles >= 20, s"index must be many-filed, got $totalFiles")

    // one 2-clip batch: a re-level of the landed clip + fresh content —
    // at maxHamming=3 that is <= 8 distinct block keys, so the pruned
    // probe reads a bounded file set, not the whole index
    var probeFiles = -1
    var m = Map.empty[Long, (Long, Boolean)]
    FrameDedupIndex.probeAndCommitClips(spark, clipsOf(60L -> pcmB, 61L -> pcmC),
      lake, 0L, maxHamming = 3,
      sink = mf => m = manifestMap(mf),
      probeObserver = df => probeFiles = df.inputFiles.length)
    assert(m === Map(60L -> ((1L, false)), 61L -> ((61L, true))), m.toString)
    assert(probeFiles >= 0, "probe must have run against the aged index")
    assert(probeFiles <= 16,
      s"probe read $probeFiles of $totalFiles files — batch keys must prune to O(batch)")
  }

  test("a mid-stream fingerprint dial change (radius OR window/mels) fails " +
    "LOUDLY instead of silently mixing bandings") {
    val lake = tmp("cdi-lake4")
    runBatch(lake, 0L, clipsOf(1L -> pcmA), maxHamming = 3)
    val e1 = intercept[IllegalStateException] {
      runBatch(lake, 1L, clipsOf(10L -> pcmB), maxHamming = 2)
    }
    assert(e1.getMessage.contains("max_hamming"), e1.getMessage)
    // a window change re-splits the 64 bits just as silently: the clip
    // index pins it as a property too
    val e2 = intercept[IllegalStateException] {
      FrameDedupIndex.probeAndCommitClips(spark, clipsOf(10L -> pcmB), lake, 1L,
        maxHamming = 3, window = 512)
    }
    assert(e2.getMessage.contains("window"), e2.getMessage)
    // the original dials keep working
    val m = runBatch(lake, 2L, clipsOf(20L -> pcmB), maxHamming = 3)
    assert(m === Map(20L -> ((1L, false))), m.toString)
  }

  test("end-to-end: BagIngestStream --audio-dedup + frame index gives later " +
    "batches the landed canonical clip; batch-mode BagIngest lands a " +
    "within-batch clip_dedup manifest") {
    val watch = Files.createTempDirectory("cdi-watch")
    val out = Files.createTempDirectory("cdi-out").toString
    val ckpt = Files.createTempDirectory("cdi-ckpt").toString
    val lake = tmp("cdi-lake5")
    def bagOf(pcms: Array[Byte]*): Array[Byte] = {
      val inner = BagWriter.connection(0, "/mic/audio", "audio_common_msgs/AudioData") ++
        BagWriter.connection(1, "/mic/audio_info", "audio_common_msgs/AudioInfo") ++
        BagWriter.message(1, 1600000000L, 0, BagWriter.audioInfoPayload(1, Rate)) ++
        pcms.zipWithIndex.flatMap { case (pcm, i) =>
          BagWriter.message(0, 1600000000L + i, 100,
            BagWriter.audioDataPayload(pcm))
        }
      BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2 = false))
    }
    val t0 = 1600000000L * 1000000000L + 100L
    val t1 = 1600000001L * 1000000000L + 100L

    // streaming: bag 1 lands a two-clip burst; bag 2 (a later batch)
    // re-lands the re-level — it must adopt bag 1's landed canonical
    Files.write(watch.resolve("a.bag"), bagOf(pcmA, pcmB))
    val q = graft.jobs.BagIngestStream.start(spark, watch.toString, out, ckpt,
      stages = graft.jobs.BagIngest.Stages(audioDedup = Some(3)),
      stream = graft.jobs.BagIngest.StreamInputs(frameIndex = Some(lake)))
    try {
      q.processAllAvailable()
      val m0 = manifestMap(spark.read.parquet(s"$out/clip_dedup/batch=0"))
      assert(m0 === Map(t0 -> ((t0, true)), t1 -> ((t0, false))), m0.toString)

      Files.write(watch.resolve("b.bag"), bagOf(pcmB))
      q.processAllAvailable()
      val m1 = spark.read.parquet(s"$out/clip_dedup/batch=1").collect()
      assert(m1.length === 1)
      assert(m1(0).getAs[String]("canon_bag").endsWith("a.bag"),
        "re-arrival must adopt the landed canonical, not mint a new one")
      assert(!m1(0).getAs[Boolean]("is_canonical"))
    } finally q.stop()

    // batch mode (no index): within-batch manifest only
    val bdir = Files.createTempDirectory("cdi-batch")
    Files.write(bdir.resolve("c.bag"), bagOf(pcmA, pcmB, pcmC))
    val bout = Files.createTempDirectory("cdi-bout").toString
    graft.jobs.BagIngest.run(spark, bdir.toString, bout, writePng = false,
      stages = graft.jobs.BagIngest.Stages(audioDedup = Some(3)))
    val bm = manifestMap(spark.read.parquet(s"$bout/clip_dedup"))
    val t2 = 1600000002L * 1000000000L + 100L
    assert(bm === Map(t0 -> ((t0, true)), t1 -> ((t0, false)), t2 -> ((t2, true))),
      bm.toString)
  }
}
