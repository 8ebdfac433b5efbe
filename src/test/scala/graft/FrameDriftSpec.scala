package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.SnapshotLake
import graft.multimodal.ImageOps

/** The IMAGE drift gauge: q110's PSI arithmetic over per-frame brightness
  * against a frozen healthy-recording reference — identical batches read
  * EXACTLY 0, a dark-frame batch (exposure fault / lens obstruction)
  * alarms, an empty batch reads NULL, and the per-batch commit is
  * idempotent (the CorpusPrepStream drift-gauge contract, camera column).
  */
class FrameDriftSpec extends SparkSpec {

  /** Constant-value 9x8 mono8 frame: brightness == the pixel value. */
  private def flat(v: Int): Array[Byte] = Array.fill[Byte](9 * 8)(v.toByte)

  private def framesOf(rows: (Long, Array[Byte])*): DataFrame = {
    import spark.implicits._
    rows.map { case (t, px) =>
      ("bags/w.bag", "/cam0/image_raw", t, 9L, 8L, "mono8", 9L, px)
    }.toDF("bag", "topic", "time_ns", "width", "height", "encoding", "step", "pixels")
  }

  // a healthy recording with SPREAD brightness (40 frames, 0..195):
  // deciles are meaningful, identical re-lands cancel exactly
  private def healthy: DataFrame =
    framesOf((0 until 40).map(i => (i.toLong, flat(i * 5))): _*)

  test("brightness PSI: identical batch reads exactly 0; a dark-frame batch " +
    "alarms past 0.25; an empty batch reads NULL") {
    val ref = ImageOps.brightnessDriftReference(spark, healthy)
    assert(ref.counts.sum === 40L)

    val same = ImageOps.brightnessDrift(spark, healthy, ref).collect()
    same.foreach { r =>
      assert(r.getAs[Double]("term") === 0.0,
        s"bucket ${r.getLong(0)}: identical batch must read 0")
    }

    // a camera going dark: every frame's brightness collapses into the
    // bottom bucket — the strongest redistribution, far past the alarm
    val dark = ImageOps.brightnessDrift(spark,
      framesOf((100 until 140).map(i => (i.toLong, flat(0))): _*), ref)
      .collect().map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(dark(-1L).getAs[Double]("term") > 0.25,
      s"dark-batch PSI ${dark(-1L).getAs[Double]("term")} under the alarm threshold")
    assert(dark(1L).getAs[Long]("n_new") === 40L, "dark frames must land in bucket 1")

    // a batch with no camera frames: NO READING, never a spurious alarm
    val empty = ImageOps.brightnessDrift(spark, framesOf(), ref)
      .collect().map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(empty(-1L).isNullAt(empty(-1L).fieldIndex("term")),
      "empty batch must read NULL")
  }

  test("streaming ingest lands the gauge per batch in <out>/frame_drift, " +
    "batch-id idempotent; a dark bag alarms in its own batch row set") {
    val watch = Files.createTempDirectory("fdr-watch")
    val out = Files.createTempDirectory("fdr-out").toString
    val ckpt = Files.createTempDirectory("fdr-ckpt").toString
    def bagOf(values: Seq[Int]): Array[Byte] = {
      val inner = BagWriter.connection(0, "/cam0/image_raw", "sensor_msgs/Image") ++
        values.zipWithIndex.flatMap { case (v, i) =>
          // mono8: the test writer's imagePayload writes rgb8 shapes; build
          // a mono payload directly (w=9, h=8, step=9)
          BagWriter.message(0, 1600000000L + i, 0,
            BagWriter.rosHeader(i, 100, 0, "cam") ++
              java.nio.ByteBuffer.allocate(8)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(8).putInt(9).array() ++
              BagWriter.rosString("mono8") ++ Array(0.toByte) ++
              java.nio.ByteBuffer.allocate(4)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(9).array() ++
              java.nio.ByteBuffer.allocate(4)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(9 * 8).array() ++
              flat(v))
        }
      BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2 = false))
    }
    val ref = ImageOps.brightnessDriftReference(spark, healthy)
    val table = s"$out/frame_drift"

    // batch 0: the healthy distribution re-landed — gauge reads 0
    Files.write(watch.resolve("a.bag"), bagOf((0 until 40).map(_ * 5)))
    val q = graft.jobs.BagIngestStream.start(spark, watch.toString, out, ckpt,
      stream = graft.jobs.BagIngest.StreamInputs(frameDrift = Some(ref)))
    try {
      q.processAllAvailable()
      val b0 = SnapshotLake.read(spark, table)
        .filter(col("ingest_batch") === 0L).collect()
        .map(r => r.getAs[Long]("bucket") -> r).toMap
      assert(b0(-1L).getAs[Double]("term") === 0.0, "healthy batch must read 0")

      // batch 1: the camera goes dark — the gauge alarms, batch 0's rows
      // stay untouched beside it
      Files.write(watch.resolve("b.bag"), bagOf(Seq.fill(40)(0)))
      q.processAllAvailable()
      val b1 = SnapshotLake.read(spark, table)
        .filter(col("ingest_batch") === 1L).collect()
        .map(r => r.getAs[Long]("bucket") -> r).toMap
      assert(b1(-1L).getAs[Double]("term") > 0.25,
        s"dark bag must alarm; read ${b1(-1L).getAs[Double]("term")}")
      assert(SnapshotLake.read(spark, table)
        .filter(col("ingest_batch") === 0L).count() === 11L,
        "batch 0 rows must survive batch 1's commit")
    } finally q.stop()
    assert(SnapshotLake.versions(spark, table).size === 2)

    // idempotence: a redelivered batch id is a no-op commit
    graft.jobs.BagIngest.writeTablesOf(spark,
      graft.sources.rosbag.RosbagReader.messages(spark, watch.resolve("b.bag").toString),
      out, writePng = false, None, batch = Some(graft.jobs.BagIngest.StreamBatch(1L,
        graft.jobs.BagIngest.StreamInputs(frameDrift = Some(ref)))))
    assert(SnapshotLake.versions(spark, table).size === 2,
      "a redelivered batch must not land a new gauge version")
  }

  test("audio gauge: clip-RMS PSI — identical batch 0, a dead-microphone " +
    "batch alarms, end-to-end in <out>/clip_drift") {
    import graft.multimodal.AudioOps
    import spark.implicits._
    // healthy recording: 40 clips of spread amplitude (sine at amp i/45)
    def tone(amp: Double): Array[Byte] = {
      val pcm = new Array[Byte](2048 * 2)
      for (i <- 0 until 2048) {
        val s = (math.sin(2 * math.Pi * 440.0 * i / 8000) * amp * 32767).toInt.toShort
        pcm(i * 2) = (s & 0xff).toByte
        pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      }
      pcm
    }
    def clipsOf(amps: Seq[Double]): org.apache.spark.sql.DataFrame =
      amps.zipWithIndex.map { case (a, i) => (i.toLong, 8000, 1, tone(a)) }
        .toDF("clip_id", "sample_rate", "channels", "pcm")
    val healthyAmps = (1 to 40).map(_ / 45.0)
    val ref = AudioOps.rmsDriftReference(spark, clipsOf(healthyAmps))
    val same = AudioOps.rmsDrift(spark, clipsOf(healthyAmps), ref).collect()
    same.foreach(r => assert(r.getAs[Double]("term") === 0.0, s"bucket ${r.getLong(0)}"))
    val dead = AudioOps.rmsDrift(spark, clipsOf(Seq.fill(40)(0.0)), ref)
      .collect().map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(dead(-1L).getAs[Double]("term") > 0.25,
      s"dead-mic PSI ${dead(-1L).getAs[Double]("term")} under the alarm")
    assert(dead(1L).getAs[Long]("n_new") === 40L)

    // end-to-end: the gauge lands per batch beside the clips table
    val watch = Files.createTempDirectory("cdr-watch")
    val out = Files.createTempDirectory("cdr-out").toString
    val ckpt = Files.createTempDirectory("cdr-ckpt").toString
    def bagOf(amps: Seq[Double]): Array[Byte] = {
      val inner = BagWriter.connection(0, "/mic/audio", "audio_common_msgs/AudioData") ++
        BagWriter.connection(1, "/mic/audio_info", "audio_common_msgs/AudioInfo") ++
        BagWriter.message(1, 1600000000L, 0, BagWriter.audioInfoPayload(1, 8000)) ++
        amps.zipWithIndex.flatMap { case (a, i) =>
          BagWriter.message(0, 1600000000L + i, 100, BagWriter.audioDataPayload(tone(a)))
        }
      BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2 = false))
    }
    Files.write(watch.resolve("a.bag"), bagOf(healthyAmps))
    val q = graft.jobs.BagIngestStream.start(spark, watch.toString, out, ckpt,
      stream = graft.jobs.BagIngest.StreamInputs(clipDrift = Some(ref)))
    try {
      q.processAllAvailable()
      val b0 = SnapshotLake.read(spark, s"$out/clip_drift")
        .filter(col("ingest_batch") === 0L).collect()
        .map(r => r.getAs[Long]("bucket") -> r).toMap
      assert(b0(-1L).getAs[Double]("term") === 0.0)
      Files.write(watch.resolve("b.bag"), bagOf(Seq.fill(40)(0.0)))
      q.processAllAvailable()
      val b1 = SnapshotLake.read(spark, s"$out/clip_drift")
        .filter(col("ingest_batch") === 1L).collect()
        .map(r => r.getAs[Long]("bucket") -> r).toMap
      assert(b1(-1L).getAs[Double]("term") > 0.25,
        s"dead-mic bag must alarm; read ${b1(-1L).getAs[Double]("term")}")
    } finally q.stop()
    assert(SnapshotLake.versions(spark, s"$out/clip_drift").size === 2)
  }
}
