package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.operators._

/** Invariant specs for the temporal-alignment operators (q71–q73). */
class TemporalOpsSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private lazy val events =
    Tables.events(spark, sf).select("event_id", "user_id", "ts", "event_type", "value").collect()

  test("q71 interp align matches a naive per-row lerp on a sample") {
    val meas = events.filter(_.getAs[String]("event_type") == "error")
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts") / 1000,
        r.getAs[Long]("event_id"), r.getAs[Double]("value")))
    val views = events.filter(_.getAs[String]("event_type") == "view").take(80)

    val got = TemporalOps.interpAlign(spark, sf).collect()
      .map(r => r.getAs[Long]("view_id") ->
        Option(r.getAs[java.lang.Double]("value_interp")).map(_.toDouble))
      .toMap

    views.foreach { v =>
      val (uid, tus, vid) =
        (v.getAs[Long]("user_id"), v.getAs[Long]("ts") / 1000, v.getAs[Long]("event_id"))
      val mine = meas.filter(_._1 == uid)
      // forward pick: largest (ts, event_id) at-or-before; backward pick:
      // nearest ts at-or-after, ties by SMALLEST event_id (the operator's
      // documented rule — matches the bwd window and the DuckDB oracle)
      val prev = mine.filter(_._2 <= tus).sortBy(m => (m._2, m._3)).lastOption
      val next = mine.filter(_._2 >= tus).sortBy(m => (m._2, m._3)).headOption
      val expect = (prev, next) match {
        case (None, None)         => None
        case (None, Some(n))      => Some(n._4)
        case (Some(p), None)      => Some(p._4)
        case (Some(p), Some(n)) if n._2 == p._2 => Some(p._4)
        case (Some(p), Some(n)) =>
          Some(p._4 + (n._4 - p._4) * ((tus - p._2).toDouble / (n._2 - p._2).toDouble))
      }
      assert(got.get(vid).flatten === expect, s"view $vid")
    }
  }

  test("q71 interpolated values lie within the bracketing measurement range") {
    val df = TemporalOps.interpAlign(spark, sf)
    // when both neighbors exist, lerp is a convex combination — never
    // outside [min(prev_v, next_v), max(prev_v, next_v)]; checked via the
    // measurement table joined back by id
    val m = Tables.events(spark, sf).filter(col("event_type") === "error")
      .select(col("event_id"), col("value"))
    val joined = df
      .join(m.withColumnRenamed("event_id", "prev_id").withColumnRenamed("value", "pv"), Seq("prev_id"))
      .join(m.withColumnRenamed("event_id", "next_id").withColumnRenamed("value", "nv"), Seq("next_id"))
    val out = joined.filter(
      col("value_interp") < least(col("pv"), col("nv")) - 1e-12 ||
      col("value_interp") > greatest(col("pv"), col("nv")) + 1e-12)
    assert(out.count() === 0)
  }

  test("q72 overlap join matches a naive theta join") {
    val gapNs = 3600L * 1000000000L
    val halfNs = 600L * 1000000000L
    // naive sessions per user
    val byUser = events.filter(_.getAs[String]("event_type") != "error")
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts"), r.getAs[Long]("event_id")))
      .groupBy(_._1)
    val sessions = byUser.toSeq.flatMap { case (uid, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      var seq = 0L
      var prev = Long.MinValue
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      sorted.foreach { r =>
        if (prev == Long.MinValue || r._2 - prev > gapNs) {
          seq += 1; out += ((uid, seq, r._2, r._2))
        } else {
          val last = out.remove(out.length - 1)
          out += ((last._1, last._2, last._3, r._2))
        }
        prev = r._2
      }
      out
    }
    val wins = events.filter(_.getAs[String]("event_type") == "error")
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("ts") - halfNs, r.getAs[Long]("ts") + halfNs))
    val naive = sessions.flatMap { case (uid, seq, s0, s1) =>
      val hits = wins.filter(w => w._1 == uid && s0 <= w._4 && w._3 <= s1)
      if (hits.isEmpty) None
      else Some((uid, seq) -> (hits.map(_._2).distinct.length.toLong, hits.map(_._2).min))
    }.toMap

    val got = TemporalOps.overlapJoin(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_seq")) ->
        (r.getAs[Long]("n_windows"), r.getAs[Long]("first_wid")))
      .toMap
    assert(got === naive)
  }

  test("q72 plans an equi-join on the bin grid, never a nested loop") {
    val p = plan(TemporalOps.overlapJoin(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q71 plans window passes only — no join") {
    val p = plan(TemporalOps.interpAlign(spark, sf))
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("q75 scd2: intervals tile the timeline, one current row per camera") {
    val df = TemporalOps.scd2(spark, sf).collect()
    df.groupBy(_.getAs[Long]("user_id")).foreach { case (uid, rows) =>
      val ordered = rows.sortBy(_.getAs[Long]("version"))
      // versions dense from 1
      assert(ordered.map(_.getAs[Long]("version")).toSeq === (1L to ordered.length.toLong))
      // exactly one open (current) interval, and it is the last version
      val current = ordered.filter(_.getAs[Boolean]("is_current"))
      assert(current.length === 1 && current.head.getAs[Long]("version") === ordered.length.toLong)
      // each interval closes exactly where the next opens; no zero-width gaps
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to_us") === b.getAs[Long]("valid_from_us"), s"user $uid")
          // consecutive states actually differ (runs were collapsed)
          assert(a.getAs[String]("state") !== b.getAs[String]("state"), s"user $uid")
        case _ =>
      }
    }
  }

  test("q76 rolling features: one shuffle feeds every window; values bracketed") {
    val df = TemporalOps.rollingFeatures(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // same partitioning + ordering for all frames -> a single hash exchange
    // (the trailing rangepartitioning exchange is the presentation orderBy)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1, p)
    val rows = df.collect()
    rows.foreach { r =>
      val (mn, mx) = (r.getAs[Double]("min_3"), r.getAs[Double]("max_3"))
      assert(mn <= mx)
      assert(r.getAs[Double]("mean_10") >= -1000 && r.getAs[Double]("mean_10") <= 1000)
    }
  }

  test("q73 bm25 matches a naive in-memory scorer") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1).toSeq)
    val terms = Seq("spark", "window", "merge")
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / docs.length
    val dfs = terms.map(t => t -> docs.count(_._2.contains(t)).toDouble).toMap
    val (k1, b) = (1.2, 0.75)
    val naive = docs.map { case (id, toks) =>
      val dl = toks.length.toDouble
      val score = terms.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else math.log((n - dfs(t) + 0.5) / (dfs(t) + 0.5) + 1.0) *
          (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
      }.sum
      id -> score
    }.filter(_._2 > 0).sortBy { case (id, sc) => (-sc, id) }.take(20)

    val got = TemporalOpsSpecHelper.bm25Rows(spark, sf)
    assert(got.map(_._1) === naive.map(_._1).toList)
    got.zip(naive).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-9, s"score drift: $g vs $e")
    }
  }

  test("q111 sensor sync matches a naive nearest-neighbor rollup on a sample") {
    val byUser = events.groupBy(_.getAs[Long]("user_id"))
    val sample = byUser.keys.toSeq.sorted.take(12)
    val got = TemporalOps.sensorSync(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("hour_bucket")) -> r).toMap
    sample.foreach { uid =>
      val rows = byUser(uid)
      val clicks = rows.filter(_.getAs[String]("event_type") == "click")
        .map(_.getAs[Long]("ts") / 1000).sorted
      val frames = rows.filter(_.getAs[String]("event_type") == "view")
        .map(_.getAs[Long]("ts") / 1000)
      val gaps = frames.map { t =>
        val prev = clicks.filter(_ <= t).lastOption
        val next = clicks.find(_ >= t)
        t -> ((prev, next) match {
          case (None, None)       => None
          case (Some(p), None)    => Some(t - p)
          case (None, Some(n))    => Some(-(n - t))
          case (Some(p), Some(n)) => Some(if (t - p <= n - t) t - p else -(n - t))
        })
      }
      gaps.groupBy(_._1 / 3600000000L).foreach { case (bucket, g) =>
        val r = got((uid, bucket))
        val defined = g.flatMap(_._2)
        assert(r.getAs[Long]("n_frames") === g.length.toLong, s"u$uid b$bucket frames")
        assert(r.getAs[Long]("n_unmatched") === (g.length - defined.length).toLong)
        if (defined.nonEmpty) {
          assert(r.getAs[Long]("max_abs_gap_us") === defined.map(math.abs).max)
          assert(math.abs(r.getAs[Double]("mean_gap_us") -
            defined.sum.toDouble / defined.length) < 1e-6, s"u$uid b$bucket mean")
        } else assert(r.isNullAt(r.fieldIndex("mean_gap_us")))
      }
    }
  }

  /** Interleaved multi-modality fixture: camera at 0/100/200 ms, mic
    * clips at 1/99/201 ms (±1 ms skew), one lidar sweep at 50 ms. */
  private def multiModalBag: Array[Byte] = {
    val px = Array.fill[Byte](2 * 2 * 3)(7)
    def pcm(n: Int) = Array.fill[Byte](n * 2)(1)
    val inner =
      BagWriter.connection(0, "/cam0/image_raw", "sensor_msgs/Image") ++
        BagWriter.connection(1, "/mic/audio", "audio_common_msgs/AudioData") ++
        BagWriter.connection(2, "/mic/audio_info", "audio_common_msgs/AudioInfo") ++
        BagWriter.connection(3, "/lidar/points", "sensor_msgs/PointCloud2") ++
        BagWriter.message(2, 1600000000L, 500, BagWriter.audioInfoPayload(1, 8000)) ++
        BagWriter.message(0, 1600000000L, 0, BagWriter.imagePayload(0, 2, 2, "rgb8", px)) ++
        BagWriter.message(1, 1600000000L, 1000000, BagWriter.audioDataPayload(pcm(64))) ++
        BagWriter.message(3, 1600000000L, 50000000, BagWriter.pointCloud2Payload(
          Seq((1.0f, 2.0f, 3.0f, 9.0f)))) ++
        BagWriter.message(1, 1600000000L, 99000000, BagWriter.audioDataPayload(pcm(64))) ++
        BagWriter.message(0, 1600000000L, 100000000, BagWriter.imagePayload(1, 2, 2, "rgb8", px)) ++
        BagWriter.message(0, 1600000000L, 200000000, BagWriter.imagePayload(2, 2, 2, "rgb8", px)) ++
        BagWriter.message(1, 1600000000L, 201000000, BagWriter.audioDataPayload(pcm(64)))
    BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2 = false))
  }

  /** Camera-only fixture: every cross-modal probe must read unmatched. */
  private def cameraOnlyBag: Array[Byte] = {
    val px = Array.fill[Byte](2 * 2 * 3)(7)
    val inner =
      BagWriter.connection(0, "/cam0/image_raw", "sensor_msgs/Image") ++
        BagWriter.message(0, 1600000001L, 0, BagWriter.imagePayload(0, 2, 2, "rgb8", px))
    BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2 = false))
  }

  test("lake sensor-sync audit on an interleaved multi-modality bag: signed " +
    "gaps per modality, rigs with a missing modality report unmatched") {
    import graft.sources.rosbag.RosbagReader
    val dir = java.nio.file.Files.createTempDirectory("graftsync")
    java.nio.file.Files.write(dir.resolve("a.bag"), multiModalBag)
    java.nio.file.Files.write(dir.resolve("b.bag"), cameraOnlyBag)

    val images = RosbagReader.images(spark, dir.toString)
      .select(col("bag"), col("time_ns"))
    val clips = RosbagReader.audioClips(spark, dir.toString)
      .select(col("bag"), col("time_ns"))
    val clouds = RosbagReader.pointClouds(spark, dir.toString)
      .select(col("bag"), col("time_ns"))

    def rowsOf(sensor: DataFrame) =
      TemporalOps.sensorSyncLakeOf(images, sensor).collect()
        .map(r => r.getAs[String]("bag").split('/').last -> r).toMap

    val vsClips = rowsOf(clips)
    val a = vsClips("a.bag")
    assert(a.getAs[Long]("n_frames") === 3L && a.getAs[Long]("n_unmatched") === 0L)
    // frame−nearest: 0 vs 1 ms → −1 ms; 100 vs 99 → +1 ms; 200 vs 201 → −1 ms
    assert(a.getAs[Long]("max_abs_gap_ns") === 1000000L)
    assert(math.abs(a.getAs[Double]("mean_gap_ns") - (-1000000.0 / 3)) < 1e-6)
    val b = vsClips("b.bag")
    assert(b.getAs[Long]("n_frames") === 1L && b.getAs[Long]("n_unmatched") === 1L)
    assert(b.isNullAt(b.fieldIndex("mean_gap_ns")), "no mic on rig B: NULL skew")

    val vsClouds = rowsOf(clouds)("a.bag")
    // one sweep at 50 ms: gaps −50/+50/+150 ms → max 150 ms, mean +50 ms
    assert(vsClouds.getAs[Long]("max_abs_gap_ns") === 150000000L)
    assert(math.abs(vsClouds.getAs[Double]("mean_gap_ns") - 50000000.0) < 1e-6)
  }

  test("streaming ingest lands the sensor-sync audit per batch in " +
    "<out>/sensor_sync, both arms, batch-id idempotent") {
    import graft.jobs.SnapshotLake
    val watch = java.nio.file.Files.createTempDirectory("sync-watch")
    val out = java.nio.file.Files.createTempDirectory("sync-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sync-ckpt").toString
    val table = s"$out/sensor_sync"
    java.nio.file.Files.write(watch.resolve("a.bag"), multiModalBag)
    val q = graft.jobs.BagIngestStream.start(spark, watch.toString, out, ckpt,
      stream = graft.jobs.BagIngest.StreamInputs(syncAuditBucketNs = Some(60L * 1000000000L)))
    try {
      q.processAllAvailable()
      val b0 = SnapshotLake.read(spark, table)
        .filter(col("ingest_batch") === 0L).collect()
        .map(r => r.getAs[String]("sensor") -> r).toMap
      assert(b0.keySet === Set("clips", "clouds"), "both arms must land")
      assert(b0("clips").getAs[Long]("max_abs_gap_ns") === 1000000L)
      assert(math.abs(b0("clips").getAs[Double]("mean_gap_ns") - (-1000000.0 / 3)) < 1e-6)
      assert(b0("clouds").getAs[Long]("max_abs_gap_ns") === 150000000L)

      // batch 1: a camera-only bag — both arms report ALL frames unmatched
      java.nio.file.Files.write(watch.resolve("b.bag"), cameraOnlyBag)
      q.processAllAvailable()
      val b1 = SnapshotLake.read(spark, table)
        .filter(col("ingest_batch") === 1L).collect()
        .map(r => r.getAs[String]("sensor") -> r).toMap
      assert(b1.keySet === Set("clips", "clouds"))
      b1.values.foreach { r =>
        assert(r.getAs[Long]("n_frames") === 1L && r.getAs[Long]("n_unmatched") === 1L)
        assert(r.isNullAt(r.fieldIndex("mean_gap_ns")))
      }
    } finally q.stop()
    assert(SnapshotLake.versions(spark, table).size === 2)

    // idempotence: a redelivered batch id is a no-op commit
    graft.jobs.BagIngest.writeTablesOf(spark,
      graft.sources.rosbag.RosbagReader.messages(spark, watch.resolve("b.bag").toString),
      out, writePng = false, None, batch = Some(graft.jobs.BagIngest.StreamBatch(1L,
        graft.jobs.BagIngest.StreamInputs(syncAuditBucketNs = Some(60L * 1000000000L)))))
    assert(SnapshotLake.versions(spark, table).size === 2,
      "a redelivered batch must not land a new audit version")
  }

  test("lake audit: a DEAD-camera rig (sensor samples, zero frames) lands n_frames=0 rows, never silence") {
    import spark.implicits._
    // rigA is healthy (one frame, one coincident sensor sample); rigB's
    // camera is dead — sensor samples in two buckets, zero frames. The
    // review finding: the frame-centric rollup previously emitted NOTHING
    // for rigB, so the most severe sensor drop was invisible.
    val frames = Seq(("rigA", 1000000000L)).toDF("bag", "time_ns")
    val sensor = Seq(("rigA", 1000000000L), ("rigB", 500000000L),
      ("rigB", 70L * 1000000000L)).toDF("bag", "time_ns")
    val rows = TemporalOps.sensorSyncLakeOf(frames, sensor,
      bucketNs = 60L * 1000000000L).collect()
    val rigB = rows.filter(_.getAs[String]("bag") == "rigB")
    assert(rigB.length === 2) // both sensor-activity buckets land
    rigB.foreach { r =>
      assert(r.getAs[Long]("n_frames") === 0L)
      assert(r.getAs[Long]("n_unmatched") === 0L)
      assert(r.isNullAt(r.fieldIndex("max_abs_gap_ns")))
      assert(r.isNullAt(r.fieldIndex("mean_gap_ns")))
    }
    val rigA = rows.filter(_.getAs[String]("bag") == "rigA")
    assert(rigA.length === 1 && rigA.head.getAs[Long]("n_frames") === 1L)
  }
}

private object TemporalOpsSpecHelper {
  def bm25Rows(spark: org.apache.spark.sql.SparkSession, sf: String): List[(Long, Double)] =
    operators.TextAnalysisOps.bm25(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toList


}
