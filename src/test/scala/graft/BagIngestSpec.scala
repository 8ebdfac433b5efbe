package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import org.apache.spark.GraftTestAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.jobs.BagIngest
import graft.sources.rosbag.RosbagReader

class BagIngestSpec extends SparkSpec {

  private val T0 = 1600000000L

  /** Bag records for the message kinds of the benchmark corpus: an rgb8 and
    * a bgr8 camera (three 4x3 frames each), odometry, a LaserScan, a wrench,
    * std_msgs/String and one custom type with its message_definition;
    * `audio` adds a microphone namespace (AudioInfo beside AudioData). */
  private def records(cameras: Boolean, rest: Boolean, audio: Boolean): Array[Byte] = {
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    val cams = if (!cameras) Array.emptyByteArray else
      BagWriter.connection(0, "/cam_front/image_raw", "sensor_msgs/Image") ++
        BagWriter.connection(1, "/cam_rear/image_raw", "sensor_msgs/Image") ++
        (0 until 3).flatMap { f =>
          Seq(0 -> "rgb8", 1 -> "bgr8").flatMap { case (c, enc) =>
            val px = Array.tabulate[Byte](4 * 3 * 3)(i => (i * 7 + f * 31 + c * 13).toByte)
            BagWriter.message(c, T0 + f, c * 1000, BagWriter.imagePayload(f, 4, 3, enc, px))
          }
        }.toArray
    val others = if (!rest) Array.emptyByteArray else
      BagWriter.connection(2, "/odom", "nav_msgs/Odometry") ++
        BagWriter.connection(3, "/scan", "sensor_msgs/LaserScan") ++
        BagWriter.connection(4, "/wrist/wrench", "geometry_msgs/Wrench") ++
        BagWriter.connection(5, "/operator/notes", "std_msgs/String") ++
        BagWriter.connectionWithDef(6, "/vehicle/status", "test_msgs/Status",
          "int32 gear\nfloat64 speed_mps\n") ++
        (0 until 3).flatMap { i =>
          BagWriter.message(2, T0 + i, 500, BagWriter.odometryPayload(i * 2.0, 1.0)) ++
            BagWriter.message(3, T0 + i, 600, BagWriter.laserPayload()) ++
            BagWriter.message(4, T0 + i, 700, BagWriter.wrenchPayload()) ++
            BagWriter.message(5, T0 + i, 800, BagWriter.stdStringPayload(s"note $i")) ++
            BagWriter.message(6, T0 + i, 900, le(12).putInt(i + 1).putDouble(i * 1.5).array())
        }.toArray
    val mic = if (!audio) Array.emptyByteArray else
      BagWriter.connection(7, "/mic/audio_info", "audio_common_msgs/AudioInfo") ++
        BagWriter.connection(8, "/mic/audio", "audio_common_msgs/AudioData") ++
        BagWriter.message(7, T0, 0, BagWriter.audioInfoPayload(1, 16000)) ++
        BagWriter.message(8, T0, 100, BagWriter.audioDataPayload(new Array[Byte](64)))
    cams ++ others ++ mic
  }

  private def writeBag(dir: Path, name: String, cameras: Boolean = true, rest: Boolean = true,
      audio: Boolean = false): String = {
    val f = dir.resolve(name)
    Files.write(f, BagWriter.bag(BagWriter.bagHeader,
      BagWriter.chunk(records(cameras, rest, audio), bz2 = false)))
    f.toString
  }

  /** One blur region on the first frame of each camera, keyed by the bag
    * path as the demux reports it. */
  private def regionsOf(bag: String): DataFrame = {
    import spark.implicits._
    val key = RosbagReader.messages(spark, bag).first().path
    Seq((key, "/cam_front/image_raw", T0 * 1000000000L, 0L, 0L, 2L, 2L),
      (key, "/cam_rear/image_raw", T0 * 1000000000L + 1000L, 1L, 1L, 2L, 1L))
      .toDF("bag", "topic", "time_ns", "region_x", "region_y", "region_w", "region_h")
  }

  test("a table whose message kinds a bag lacks lands empty, with the schema " +
    "its decoder gives a bag that holds them") {
    val dir = Files.createTempDirectory("graftcensus")
    def ingest(name: String, bag: String): String = {
      val out = dir.resolve(name).toString
      BagIngest.run(spark, bag, out, writePng = false)
      out
    }
    val full = ingest("full", writeBag(dir, "full.bag", audio = true))
    val camsOnly = ingest("cams", writeBag(dir, "cams.bag", rest = false))
    val noCams = ingest("nocams", writeBag(dir, "nocams.bag", cameras = false))
    val absent = Seq(
      camsOnly -> Seq("clips", "laser", "odometry", "wrench", "std_msgs", "generic", "trajectory"),
      noCams -> Seq("images", "manifest", "clips"))
    absent.foreach { case (out, tables) =>
      tables.foreach { t =>
        val skipped = spark.read.parquet(s"$out/$t")
        val held = spark.read.parquet(s"$full/$t")
        assert(skipped.count() === 0, s"$out/$t")
        assert(held.count() > 0, s"$full/$t")
        assert(skipped.schema === held.schema, s"$out/$t")
      }
    }
    // the kinds each bag does hold land in full
    assert(spark.read.parquet(s"$camsOnly/images").count() === 6)
    assert(spark.read.parquet(s"$camsOnly/manifest").count() === 6)
    assert(spark.read.parquet(s"$noCams/odometry").count() === 3)
    assert(spark.read.parquet(s"$noCams/generic").count() === 3)
  }

  test("the manifest built from the landed, blurred frames equals the manifest " +
    "of the raw frames row for row") {
    val dir = Files.createTempDirectory("graftmanifest")
    val bag = writeBag(dir, "a.bag")
    val out = dir.resolve("lake").toString
    val regions = regionsOf(bag)
    BagIngest.run(spark, bag, out, writePng = false, piiRegions = Some(regions))
    val raw = RosbagReader.imagesOf(spark, RosbagReader.messages(spark, bag))
    val expected = RosbagReader.mp4ManifestOf(raw)
    val landed = spark.read.parquet(s"$out/manifest")
    assert(landed.columns.toSeq === expected.columns.toSeq)
    def rows(df: DataFrame) = df.collect().map(_.toSeq)
      .sortBy(r => (r(0).toString, r(1).toString, r(2).asInstanceOf[Int])).toSeq
    assert(rows(landed) === rows(expected))
    // the regions did blur the landed frames the manifest was built from
    def pixels(df: DataFrame) = df.select("topic", "time_ns", "pixels").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Array[Byte]](2).toSeq).toMap
    val (landedPx, rawPx) = (pixels(spark.read.parquet(s"$out/images")), pixels(raw))
    assert(landedPx.keySet === rawPx.keySet)
    assert(landedPx.count { case (k, v) => v != rawPx(k) } === 2)
  }

  test("a regions table that also names bags outside the ingest lands the same images " +
    "as one limited to the ingest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graftregions")
    val bag = writeBag(dir, "a.bag")
    val own = regionsOf(bag)
    // whole-frame regions at the same topics and times, keyed by other bags
    val others = own.select("topic", "time_ns").distinct()
      .crossJoin(Seq("file:/elsewhere/b.bag", "file:/elsewhere/c.bag").toDF("bag"))
      .select($"bag", $"topic", $"time_ns", lit(0L).as("region_x"), lit(0L).as("region_y"),
        lit(4L).as("region_w"), lit(3L).as("region_h"))
    def images(name: String, regions: DataFrame): Seq[(String, Long, Seq[Byte])] = {
      val out = dir.resolve(name).toString
      BagIngest.run(spark, bag, out, writePng = false, piiRegions = Some(regions))
      spark.read.parquet(s"$out/images").select("topic", "time_ns", "pixels").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
        .sortBy(r => (r._1, r._2)).toSeq
    }
    assert(images("wide", own.unionByName(others)) === images("own", own))
  }

  test("a lake named by a file: URI gets every PNG frame") {
    val dir = Files.createTempDirectory("graftpnguri")
    val out = "file:" + dir.resolve("lake")
    BagIngest.run(spark, writeBag(dir, "a.bag"), out, writePng = true)
    val findings = graft.jobs.PngAudit.audit(spark, spark.read.parquet(s"$out/manifest"), s"$out/png")
      .collect()
    assert(findings.isEmpty, findings.mkString("; "))
  }

  test("a second ingest of a benchmark-shaped bag compiles no generated class") {
    val dir = Files.createTempDirectory("graftcodegen")
    val bag = writeBag(dir, "a.bag")
    val regions = regionsOf(bag)
    def ingest(name: String): Unit = BagIngest.run(spark, bag, dir.resolve(name).toString,
      writePng = true, piiRegions = Some(regions))
    ingest("first")
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    ingest("second")
    // every class the first ingest generated is still in Spark's codegen
    // cache: one ingest's classes fit it, so a stream of bags stops
    // compiling after the first
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0)
  }

  test("a failed ingest rethrows the branch's failure, with no job left running " +
    "and the demux cache released") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val pixels = Array.tabulate[Byte](2 * 2 * 3)(_.toByte)
    val dir = Files.createTempDirectory("graftingestfail")
    val bag = dir.resolve("a.bag")
    // AudioData with no AudioInfo in its namespace fails the clips sink;
    // the frames and odometry keep the other branches busy meanwhile
    Files.write(bag, BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(
      BagWriter.connection(0, "/cam0/image_raw", "sensor_msgs/Image") ++
        BagWriter.connection(1, "/odom", "nav_msgs/Odometry") ++
        BagWriter.connection(2, "/mic/audio", "audio_common_msgs/AudioData") ++
        BagWriter.message(0, 1600000000L, 0, BagWriter.imagePayload(0, 2, 2, "rgb8", pixels)) ++
        BagWriter.message(0, 1600000001L, 0, BagWriter.imagePayload(1, 2, 2, "rgb8", pixels)) ++
        BagWriter.message(1, 1600000000L, 500, BagWriter.odometryPayload(1.0, 0.5)) ++
        BagWriter.message(2, 1600000000L, 700, BagWriter.audioDataPayload(new Array[Byte](64))),
      bz2 = false)))

    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    val lake = dir.resolve("lake")
    val e = intercept[Exception] {
      graft.jobs.BagIngest.run(spark, bag.toString, lake.toString, writePng = true)
    }
    assert(msgs(e).exists(_.contains("no AudioInfo")), e)
    GraftTestAccess.drainListenerBus(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    assert(sc.getPersistentRDDs.keySet === cachedBefore, "the demux cache outlived the failed ingest")
    assert(!Files.exists(lake.resolve("png.staging")), "the PNG staging directory outlived the failed ingest")
  }

  test("a re-ingest into the same lake replaces the PNG frames: none of the " +
    "first bag's frames is left for the audit to report") {
    val dir = Files.createTempDirectory("graftreingest")
    val lake = dir.resolve("lake")
    val out = lake.toString
    BagIngest.run(spark, writeBag(dir, "a.bag"), out, writePng = true)
    // bag b: one frame, at a time none of bag a's frames has
    val b = dir.resolve("b.bag")
    Files.write(b, BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(
      BagWriter.connection(0, "/cam_front/image_raw", "sensor_msgs/Image") ++
        BagWriter.message(0, T0 + 10, 0, BagWriter.imagePayload(0, 4, 3, "rgb8",
          new Array[Byte](4 * 3 * 3))),
      bz2 = false)))
    BagIngest.run(spark, b.toString, out, writePng = true)
    val findings = graft.jobs.PngAudit.audit(spark, spark.read.parquet(s"$out/manifest"), s"$out/png")
      .collect()
    assert(findings.isEmpty, findings.mkString("; "))
    assert(!Files.exists(lake.resolve("png.staging")))
  }
}
