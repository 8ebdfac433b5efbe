package graft

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream

import graft.sources.rosbag._

/** Builds ROS bag v2.0 bytes from the public grammar, then round-trips them
  * through the Spark source. The writer is test-only scaffolding; the
  * production parser never sees it.
  */
object BagWriter {
  private def le32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()

  private def field(name: String, value: Array[Byte]): Array[Byte] = {
    val n = name.getBytes(StandardCharsets.ISO_8859_1)
    le32(n.length + 1 + value.length) ++ n ++ Array('='.toByte) ++ value
  }

  private def record(fields: Seq[Array[Byte]], data: Array[Byte]): Array[Byte] = {
    val header = fields.flatten.toArray
    le32(header.length) ++ header ++ le32(data.length) ++ data
  }

  def time(sec: Long, nsec: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(sec.toInt).putInt(nsec.toInt).array()

  def bagHeader: Array[Byte] =
    record(Seq(field("op", Array(3.toByte)), field("index_pos", new Array[Byte](8))), new Array[Byte](64))

  def connection(id: Int, topic: String, datatype: String): Array[Byte] = {
    val connHeader =
      field("topic", topic.getBytes) ++ field("type", datatype.getBytes) ++
        field("md5sum", "x".getBytes) ++ field("message_definition", "".getBytes)
    record(Seq(field("op", Array(7.toByte)), field("conn", le32(id)), field("topic", topic.getBytes)), connHeader)
  }

  def connectionWithDef(id: Int, topic: String, datatype: String, msgDef: String): Array[Byte] = {
    val connHeader =
      field("topic", topic.getBytes) ++ field("type", datatype.getBytes) ++
        field("md5sum", "x".getBytes) ++ field("message_definition", msgDef.getBytes)
    record(Seq(field("op", Array(7.toByte)), field("conn", le32(id)), field("topic", topic.getBytes)), connHeader)
  }

  def message(conn: Int, sec: Long, nsec: Long, payload: Array[Byte]): Array[Byte] =
    record(Seq(field("op", Array(2.toByte)), field("conn", le32(conn)), field("time", time(sec, nsec))), payload)

  def chunk(inner: Array[Byte], bz2: Boolean): Array[Byte] =
    chunkCompressed(inner, if (bz2) "bz2" else "none")

  /** Chunk record under a named codec ("none"/"bz2"/"lz4") — lz4 mirrors
    * roslz4's on-disk bytes: the standard LZ4 FRAME format with 64 KiB
    * independent blocks, which is what `rosbag record --lz4` writes. */
  def chunkCompressed(inner: Array[Byte], compression: String): Array[Byte] = {
    val data = compression match {
      case "none" => inner
      case "bz2" =>
        val bos = new ByteArrayOutputStream()
        val z = new BZip2CompressorOutputStream(bos)
        z.write(inner); z.close()
        bos.toByteArray
      case "lz4" =>
        val bos = new ByteArrayOutputStream()
        val z = new net.jpountz.lz4.LZ4FrameOutputStream(bos,
          net.jpountz.lz4.LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB)
        z.write(inner); z.close()
        bos.toByteArray
      case other => throw new IllegalArgumentException(s"test writer: $other")
    }
    record(Seq(
      field("op", Array(5.toByte)),
      field("compression", compression.getBytes),
      field("size", le32(inner.length))), data)
  }

  def bag(records: Array[Byte]*): Array[Byte] =
    "#ROSBAG V2.0\n".getBytes(StandardCharsets.ISO_8859_1) ++ records.flatten

  // --- ROS message payload builders ---
  def rosString(s: String): Array[Byte] = le32(s.length) ++ s.getBytes(StandardCharsets.UTF_8)

  def rosHeader(seq: Int, sec: Long, nsec: Long, frameId: String): Array[Byte] =
    le32(seq) ++ time(sec, nsec) ++ rosString(frameId)

  def imagePayload(seq: Int, w: Int, h: Int, encoding: String, pixels: Array[Byte]): Array[Byte] =
    rosHeader(seq, 100, 0, "cam") ++ le32(h) ++ le32(w) ++ rosString(encoding) ++
      Array(0.toByte) ++ le32(w * 3) ++ le32(pixels.length) ++ pixels

  def odometryPayload(px: Double, tw: Double): Array[Byte] = {
    val b = ByteBuffer.allocate(2048).order(ByteOrder.LITTLE_ENDIAN)
    b.put(rosHeader(1, 100, 0, "odom")).put(rosString("base"))
    b.putDouble(px).putDouble(2.0).putDouble(3.0)               // position
    b.putDouble(0.0).putDouble(0.0).putDouble(0.0).putDouble(1.0) // orientation
    (0 until 36).foreach(_ => b.putDouble(0.0))                 // pose covariance
    b.putDouble(tw).putDouble(0.5).putDouble(0.0)               // twist linear
    b.putDouble(0.0).putDouble(0.0).putDouble(0.1)              // twist angular
    (0 until 36).foreach(_ => b.putDouble(0.0))                 // twist covariance
    java.util.Arrays.copyOf(b.array(), b.position())
  }

  def laserPayload(): Array[Byte] = {
    val b = ByteBuffer.allocate(256).order(ByteOrder.LITTLE_ENDIAN)
    b.put(rosHeader(7, 100, 0, "laser"))
    b.putFloat(-1.57f).putFloat(1.57f).putFloat(0.01f).putFloat(0.0f).putFloat(0.1f)
    b.putFloat(0.2f).putFloat(30.0f)
    b.putInt(3).putFloat(1.0f).putFloat(2.0f).putFloat(3.0f) // ranges
    b.putInt(0)                                              // intensities
    java.util.Arrays.copyOf(b.array(), b.position())
  }

  def wrenchPayload(): Array[Byte] = {
    val b = ByteBuffer.allocate(48).order(ByteOrder.LITTLE_ENDIAN)
    b.putDouble(1.0).putDouble(2.0).putDouble(3.0).putDouble(0.1).putDouble(0.2).putDouble(0.3)
    b.array()
  }

  def stdStringPayload(s: String): Array[Byte] = rosString(s)

  /** sensor_msgs/CompressedImage: header + format string + u32-prefixed
    * codec payload (png/jpeg bytes). */
  def compressedImagePayload(seq: Int, format: String, payload: Array[Byte]): Array[Byte] =
    rosHeader(seq, 100, 0, "cam") ++ rosString(format) ++ le32(payload.length) ++ payload

  /** audio_common_msgs/AudioInfo: `uint8 channels` (ONE byte — the public
    * AudioInfo.msg declares uint8, not uint32), uint32 sample_rate,
    * string sample_format, uint32 bitrate, string coding_format. */
  def audioInfoPayload(channels: Int, rate: Int, fmt: String = "S16LE",
      bitrate: Int = 0, coding: String = "wave"): Array[Byte] =
    Array(channels.toByte) ++ le32(rate) ++ rosString(fmt) ++ le32(bitrate) ++ rosString(coding)

  /** audio_common_msgs/AudioData: one u32-prefixed sample buffer. */
  def audioDataPayload(pcm: Array[Byte]): Array[Byte] = le32(pcm.length) ++ pcm

  /** audio_common_msgs/AudioDataStamped: Header + AudioData. */
  def audioDataStampedPayload(seq: Int, pcm: Array[Byte]): Array[Byte] =
    rosHeader(seq, 100, 0, "mic") ++ le32(pcm.length) ++ pcm

  /** sensor_msgs/PointCloud2: header + shape + PointField table + packed
    * float32 points. Metadata stays little-endian (the wire layer); only
    * the point payload honors `bigendian`. */
  def pointCloud2Payload(points: Seq[(Float, Float, Float, Float)],
      bigendian: Boolean = false, withIntensity: Boolean = true,
      fieldNames: Seq[String] = Seq("x", "y", "z"),
      rows: Int = 1, rowPad: Int = 0,
      declaredWidth: Option[Int] = None,
      declaredStep: Option[Int] = None): Array[Byte] = {
    require(points.length % rows == 0, "points must fill rows evenly")
    val fields = fieldNames.zipWithIndex.map { case (n, i) => (n, i * 4) } ++
      (if (withIntensity) Seq(("intensity", fieldNames.length * 4)) else Nil)
    val step = fields.length * 4
    val width = points.length / rows
    val rowStep = width * step + rowPad // spec-valid row padding when > 0
    val payload = ByteBuffer.allocate(rows * rowStep)
      .order(if (bigendian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    points.grouped(width).foreach { row =>
      row.foreach { case (x, y, z, in) =>
        payload.putFloat(x).putFloat(y).putFloat(z)
        if (withIntensity) payload.putFloat(in)
      }
      payload.position(payload.position() + rowPad) // padding bytes stay 0
    }
    val b = ByteBuffer.allocate(4096 + rows * rowStep).order(ByteOrder.LITTLE_ENDIAN)
    b.put(rosHeader(3, 100, 0, "lidar"))
    b.putInt(rows).putInt(declaredWidth.getOrElse(width)) // declaredWidth: corrupt-shape tests
    b.putInt(fields.length)
    fields.foreach { case (n, off) =>
      b.put(rosString(n)); b.putInt(off); b.put(7.toByte); b.putInt(1) // FLOAT32 x1
    }
    b.put((if (bigendian) 1 else 0).toByte)
    b.putInt(declaredStep.getOrElse(step)).putInt(rowStep) // declaredStep: corrupt-layout tests
    b.putInt(rows * rowStep).put(payload.array())
    b.put(1.toByte) // is_dense
    java.util.Arrays.copyOf(b.array(), b.position())
  }
}

class RosbagSpec extends SparkSpec {

  private def writeTestBag(bz2: Boolean): String = {
    val dir = Files.createTempDirectory("graftbag")
    val pixels = Array.tabulate[Byte](2 * 2 * 3)(i => i.toByte)
    val inner =
      BagWriter.connection(0, "/cam0/image_raw", "sensor_msgs/Image") ++
        BagWriter.connection(1, "/odom", "nav_msgs/Odometry") ++
        BagWriter.connection(2, "/scan", "sensor_msgs/LaserScan") ++
        BagWriter.connection(3, "/wrench", "geometry_msgs/Wrench") ++
        BagWriter.connection(4, "/chatter", "std_msgs/String") ++
        BagWriter.message(0, 1600000000L, 500, BagWriter.imagePayload(0, 2, 2, "rgb8", pixels)) ++
        BagWriter.message(0, 1600000001L, 0, BagWriter.imagePayload(1, 2, 2, "rgb8", pixels)) ++
        BagWriter.message(1, 1600000000L, 700, BagWriter.odometryPayload(10.5, 1.25)) ++
        BagWriter.message(2, 1600000002L, 0, BagWriter.laserPayload()) ++
        BagWriter.message(3, 1600000003L, 0, BagWriter.wrenchPayload()) ++
        BagWriter.message(4, 1600000004L, 0, BagWriter.stdStringPayload("hello"))
    val bytes = BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2))
    val f = dir.resolve("test.bag")
    Files.write(f, bytes)
    f.toString
  }

  test("parses all message types from an uncompressed chunked bag") {
    val path = writeTestBag(bz2 = false)
    val msgs = RosbagFormat.parse(Files.readAllBytes(Paths.get(path)))
    assert(msgs.map(_.topic).distinct.toSet ===
      Set("/cam0/image_raw", "/odom", "/scan", "/wrench", "/chatter"))
    assert(msgs.count(_.datatype == "sensor_msgs/Image") === 2)
  }

  test("iterator(): streaming parse holds one message at a time") {
    val path = writeTestBag(bz2 = false)
    val it = RosbagFormat.iterator(new java.io.FileInputStream(path))
    // lazily consumable: first element available without draining the rest
    assert(it.hasNext)
    val first = it.next()
    assert(first.topic.nonEmpty)
    assert(it.size === 5) // remaining of the 6 messages
  }

  test("a corrupt chunk is skipped; later chunks still parse") {
    val conn = BagWriter.connection(0, "/t", "std_msgs/String")
    val goodMsg = BagWriter.message(0, 1600000000L, 0, BagWriter.stdStringPayload("ok"))
    // chunk whose inner record is truncated mid-payload
    val corrupt = BagWriter.chunk((conn ++ goodMsg).dropRight(3), bz2 = false)
    val intact = BagWriter.chunk(conn ++ goodMsg ++ goodMsg, bz2 = false)
    val msgs = RosbagFormat.parse(BagWriter.bag(BagWriter.bagHeader, corrupt, intact))
    assert(msgs.length === 2) // both messages of the intact chunk survive
  }

  test("unsupported chunk compression fails loudly, not silently") {
    val inner = BagWriter.connection(0, "/t", "std_msgs/String")
    val badChunk = {
      // build a chunk record claiming zstd compression (same name length
      // as "none" so the record framing stays byte-consistent)
      val bytes = BagWriter.chunk(inner, bz2 = false)
      new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
        .replace("compression=none", "compression=zstd")
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    val bag = BagWriter.bag(BagWriter.bagHeader, badChunk)
    val e = intercept[IllegalArgumentException](RosbagFormat.parse(bag))
    assert(e.getMessage.contains("unsupported chunk compression"))
  }

  test("parses lz4-compressed chunks (rosbag record --lz4)") {
    val dir = Files.createTempDirectory("graftlz4")
    val pixels = Array.tabulate[Byte](2 * 2 * 3)(i => i.toByte)
    val inner =
      BagWriter.connection(0, "/cam0/image_raw", "sensor_msgs/Image") ++
        BagWriter.connection(1, "/chatter", "std_msgs/String") ++
        BagWriter.message(0, 1600000000L, 500, BagWriter.imagePayload(0, 2, 2, "rgb8", pixels)) ++
        BagWriter.message(1, 1600000004L, 0, BagWriter.stdStringPayload("hello lz4"))
    val bytes = BagWriter.bag(BagWriter.bagHeader,
      BagWriter.chunkCompressed(inner, "lz4"))
    val f = dir.resolve("lz4.bag")
    Files.write(f, bytes)
    val msgs = RosbagFormat.parse(Files.readAllBytes(f))
    assert(msgs.size === 2)
    assert(msgs.map(_.topic).toSet === Set("/cam0/image_raw", "/chatter"))
    // payloads survive the codec byte-exactly: the image deserializes
    val img = RosMessages.image(msgs.find(_.datatype == "sensor_msgs/Image").get.data)
    assert(img.width === 2 && img.height === 2 && img.encoding === "rgb8")
    assert(img.data.toSeq === pixels.toSeq)
  }

  test("lz4 and bz2 chunks interleave in one bag") {
    val conn = BagWriter.connection(0, "/t", "std_msgs/String")
    def m(s: String) = BagWriter.message(0, 1600000000L, 0, BagWriter.stdStringPayload(s))
    val bag = BagWriter.bag(BagWriter.bagHeader,
      BagWriter.chunkCompressed(conn ++ m("a"), "lz4"),
      BagWriter.chunkCompressed(m("b"), "bz2"),
      BagWriter.chunkCompressed(m("c"), "none"))
    val msgs = RosbagFormat.parse(bag)
    assert(msgs.map(x => RosMessages.stdString(x.data)) === Seq("a", "b", "c"))
  }

  test("parses bz2-compressed chunks") {
    val path = writeTestBag(bz2 = true)
    val msgs = RosbagFormat.parse(Files.readAllBytes(Paths.get(path)))
    assert(msgs.size === 6)
  }

  test("images(): frame numbering, iso time, png naming, pixel payload") {
    val path = writeTestBag(bz2 = false)
    val df = RosbagReader.images(spark, path).orderBy("frame_no")
    val rows = df.collect()
    assert(rows.length === 2)
    val r0 = rows(0)
    assert(r0.getAs[Long]("width") === 2 && r0.getAs[Long]("height") === 2)
    assert(r0.getAs[String]("encoding") === "rgb8")
    assert(r0.getAs[Array[Byte]]("pixels").length === 12)
    assert(r0.getAs[String]("file_name") === "cam0/image_raw-2020-09-13T12_26_40-0000.png")
    assert(rows(1).getAs[String]("file_name").endsWith("-0001.png"))
  }

  test("CompressedImage topics land as typed frames next to raw Image rows") {
    val dir = Files.createTempDirectory("graftcimg")
    val pixels = Array.tabulate[Byte](2 * 2 * 3)(i => (i * 7).toByte)
    val png = graft.multimodal.PngEncoder.encode(pixels, 2, 2, "rgb8")
    val inner =
      BagWriter.connection(0, "/cam0/image_raw", "sensor_msgs/Image") ++
        BagWriter.connection(1, "/cam1/image_raw/compressed", "sensor_msgs/CompressedImage") ++
        BagWriter.message(0, 1600000000L, 0, BagWriter.imagePayload(0, 2, 2, "rgb8", pixels)) ++
        BagWriter.message(1, 1600000001L, 0, BagWriter.compressedImagePayload(0, "png", png)) ++
        BagWriter.message(1, 1600000002L, 0, BagWriter.compressedImagePayload(1, "png", png))
    val f = dir.resolve("cimg.bag")
    Files.write(f, BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2 = false)))
    val df = RosbagReader.images(spark, f.toString).orderBy("topic", "frame_no")
    val rows = df.collect()
    assert(rows.length === 3)
    // the compressed topic decodes to the SAME raw-frame convention: PNG is
    // lossless, so its pixels are byte-identical to the raw-Image row's
    val comp = rows.filter(_.getAs[String]("topic") === "/cam1/image_raw/compressed")
    assert(comp.length === 2)
    assert(comp(0).getAs[Long]("width") === 2 && comp(0).getAs[Long]("height") === 2)
    assert(comp(0).getAs[String]("encoding") === "rgb8")
    assert(comp(0).getAs[Array[Byte]]("pixels").toSeq === pixels.toSeq)
    // per-topic frame numbering covers the compressed topic too
    assert(comp.map(_.getAs[Int]("frame_no")).toSeq === Seq(0, 1))
    assert(comp(1).getAs[String]("file_name").endsWith("-0001.png"))
  }

  test("bag_ingest lands decoded PNGs for CompressedImage topics") {
    val dir = Files.createTempDirectory("graftcimg2")
    val pixels = Array.tabulate[Byte](2 * 2 * 3)(i => (i * 11).toByte)
    val png = graft.multimodal.PngEncoder.encode(pixels, 2, 2, "rgb8")
    val inner =
      BagWriter.connection(0, "/cam/compressed", "sensor_msgs/CompressedImage") ++
        BagWriter.message(0, 1600000000L, 0, BagWriter.compressedImagePayload(0, "png", png))
    val bagDir = dir.resolve("bags"); Files.createDirectories(bagDir)
    Files.write(bagDir.resolve("a.bag"), BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2 = false)))
    val out = dir.resolve("lake").toString
    graft.jobs.BagIngest.run(spark, bagDir.toString, out, writePng = true)
    // the landed PNG decodes back to the original pixels (lossless round
    // trip: camera png -> raw frame -> lake png)
    val pngFiles = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(Paths.get(s"$out/png")).iterator().asScala
        .map(_.toFile).filter(f => f.isFile && f.getName.endsWith(".png")).toArray
    }
    assert(pngFiles.nonEmpty)
    val back = graft.multimodal.PngDecoder.decode(
      Files.readAllBytes(pngFiles.head.toPath))
    assert(back.pixels.toSeq === pixels.toSeq)
  }

  test("bag_ingest --image-dedup lands a total canonical-frame manifest; " +
    "downstream consumers read the deduped set unchanged") {
    val dir = Files.createTempDirectory("graftimgdedup")
    // 9x8 rgb8 gradients: a burst of three near-identical frames (a, b, a
    // — b differs in one cell, a stopped-rig shape) + one inverted frame
    def grad(mod: Map[Int, Int], invert: Boolean = false): Array[Byte] =
      Array.tabulate[Byte](9 * 8 * 3) { i =>
        val px = i / 3
        val g = mod.getOrElse(px, if (invert) 224 - (px % 9) * 28 else (px % 9) * 28)
        g.toByte
      }
    val a = grad(Map.empty)
    val b = grad(Map(10 -> 0))
    val c = grad(Map.empty, invert = true)
    val inner =
      BagWriter.connection(0, "/cam0/image_raw", "sensor_msgs/Image") ++
        BagWriter.message(0, 1600000000L, 100, BagWriter.imagePayload(0, 9, 8, "rgb8", a)) ++
        BagWriter.message(0, 1600000000L, 200, BagWriter.imagePayload(1, 9, 8, "rgb8", b)) ++
        BagWriter.message(0, 1600000000L, 300, BagWriter.imagePayload(2, 9, 8, "rgb8", a)) ++
        BagWriter.message(0, 1600000000L, 400, BagWriter.imagePayload(3, 9, 8, "rgb8", c))
    val bagDir = dir.resolve("bags"); Files.createDirectories(bagDir)
    Files.write(bagDir.resolve("a.bag"),
      BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2 = false)))
    val out = dir.resolve("lake").toString
    graft.jobs.BagIngest.run(spark, bagDir.toString, out,
      writePng = false, stages = graft.jobs.BagIngest.Stages(imageDedup = Some(3)))
    val manifest = spark.read.parquet(s"$out/frame_dedup").collect()
      .map(r => r.getAs[Long]("time_ns") ->
        (r.getAs[Long]("canon_time_ns"), r.getAs[Boolean]("is_canonical"))).toMap
    // TOTAL: one row per ingested frame, including the no-near-dup one
    assert(manifest.size === 4)
    val burstTs = Seq(100L, 200L, 300L).map(1600000000L * 1000000000L + _)
    val cTs = 1600000000L * 1000000000L + 400L
    // the burst collapses to ONE canonical (the earliest frame)
    assert(manifest(burstTs.head) === (burstTs.head, true))
    burstTs.tail.foreach(t => assert(manifest(t) === (burstTs.head, false)))
    // the distinct frame is trivially its own canonical
    assert(manifest(cTs) === (cTs, true))
    // downstream consumption: the png/resize/mp4 stages read images joined
    // against is_canonical and process each burst once — 2 frames survive
    val images = spark.read.parquet(s"$out/images")
    val canon = spark.read.parquet(s"$out/frame_dedup")
      .filter(org.apache.spark.sql.functions.col("is_canonical"))
      .select("bag", "topic", "time_ns")
    val deduped = images.join(canon, Seq("bag", "topic", "time_ns"))
    val pngs = graft.multimodal.ImageOps.toPng(spark, deduped).collect()
    assert(pngs.length === 2)
    pngs.foreach(p => assert(p.png.nonEmpty))
  }

  /** PCM16LE mono ramp — distinguishable, byte-exact round-trip checkable. */
  private def pcmRamp(n: Int, seed: Int): Array[Byte] =
    Array.tabulate[Byte](n * 2) { i =>
      val s = ((i / 2 * 7 + seed * 131) % 4096).toShort
      if (i % 2 == 0) (s & 0xff).toByte else ((s >> 8) & 0xff).toByte
    }

  test("audioClips(): AudioData(+Stamped) topics land with AudioInfo-resolved " +
    "stream properties; interleaved image topics keep their frame numbering") {
    val dir = Files.createTempDirectory("graftaudio")
    val pixels = Array.tabulate[Byte](2 * 2 * 3)(i => i.toByte)
    val pcm = Seq(pcmRamp(512, 0), pcmRamp(512, 1), pcmRamp(512, 2))
    val stampedPcm = pcmRamp(256, 9)
    val inner =
      BagWriter.connection(0, "/cam0/image_raw", "sensor_msgs/Image") ++
        BagWriter.connection(1, "/mic/audio", "audio_common_msgs/AudioData") ++
        BagWriter.connection(2, "/mic/audio_info", "audio_common_msgs/AudioInfo") ++
        BagWriter.connection(3, "/mic2/audio_stamped", "audio_common_msgs/AudioDataStamped") ++
        BagWriter.connection(4, "/mic2/audio_info", "audio_common_msgs/AudioInfo") ++
        // audio interleaved BETWEEN the camera frames: numbering of both
        // families must be independent and per-topic
        BagWriter.message(0, 1600000000L, 100, BagWriter.imagePayload(0, 2, 2, "rgb8", pixels)) ++
        BagWriter.message(2, 1600000000L, 150, BagWriter.audioInfoPayload(1, 16000)) ++
        BagWriter.message(1, 1600000000L, 200, BagWriter.audioDataPayload(pcm(0))) ++
        BagWriter.message(1, 1600000000L, 300, BagWriter.audioDataPayload(pcm(1))) ++
        BagWriter.message(0, 1600000001L, 0, BagWriter.imagePayload(1, 2, 2, "rgb8", pixels)) ++
        BagWriter.message(1, 1600000001L, 100, BagWriter.audioDataPayload(pcm(2))) ++
        BagWriter.message(4, 1600000000L, 50, BagWriter.audioInfoPayload(2, 44100)) ++
        BagWriter.message(3, 1600000001L, 200, BagWriter.audioDataStampedPayload(0, stampedPcm))
    val bagDir = dir.resolve("bags"); Files.createDirectories(bagDir)
    Files.write(bagDir.resolve("a.bag"),
      BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2 = false)))

    val clips = RosbagReader.audioClips(spark, bagDir.toString)
      .orderBy("topic", "clip_no").collect()
    assert(clips.length === 4)
    val mic = clips.filter(_.getAs[String]("topic") === "/mic/audio")
    assert(mic.map(_.getAs[Int]("clip_no")).toSeq === Seq(0, 1, 2))
    mic.zip(pcm).foreach { case (r, exp) =>
      assert(r.getAs[Int]("sample_rate") === 16000 && r.getAs[Int]("channels") === 1)
      assert(r.getAs[Array[Byte]]("pcm").toSeq === exp.toSeq, "payload must round-trip")
    }
    val mic2 = clips.filter(_.getAs[String]("topic") === "/mic2/audio_stamped")
    assert(mic2.length === 1)
    assert(mic2(0).getAs[Int]("sample_rate") === 44100 && mic2(0).getAs[Int]("channels") === 2)
    assert(mic2(0).getAs[Array[Byte]]("pcm").toSeq === stampedPcm.toSeq)
    assert(clips.map(_.getAs[Long]("clip_id")).distinct.length === 4)

    // BagIngest lands the clips table next to images; frame numbering of
    // the camera topic is untouched by the interleaved audio
    val out = dir.resolve("lake").toString
    graft.jobs.BagIngest.run(spark, bagDir.toString, out, writePng = false)
    val images = spark.read.parquet(s"$out/images").orderBy("frame_no").collect()
    assert(images.map(_.getAs[Int]("frame_no")).toSeq === Seq(0, 1))
    val landed = spark.read.parquet(s"$out/clips")
    assert(landed.count() === 4)
    // the q105-family kernels consume the landed table UNCHANGED
    val feats = graft.multimodal.AudioOps.features(spark, landed).collect()
      .map(f => f.clip_id -> f).toMap
    assert(feats.size === 4)
    val micIds = landed.filter(org.apache.spark.sql.functions.col("topic") === "/mic/audio")
      .orderBy("clip_no").collect().map(_.getAs[Long]("clip_id"))
    micIds.foreach(id => assert(feats(id).n_samples === 512L))
    val spec = graft.multimodal.AudioOps.spectral(spark, landed, window = 8).collect()
    assert(spec.nonEmpty && spec.forall(_.power.length === 5))
  }

  test("audio ingest integrity: missing, conflicting, or non-PCM AudioInfo fails loudly") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    def bagWith(records: Array[Byte]): String = {
      val dir = Files.createTempDirectory("graftaudiobad")
      val f = dir.resolve("bad.bag")
      Files.write(f, BagWriter.bag(BagWriter.bagHeader,
        BagWriter.chunk(records, bz2 = false)))
      f.toString
    }
    val data = BagWriter.connection(0, "/mic/audio", "audio_common_msgs/AudioData") ++
      BagWriter.message(0, 1600000000L, 0, BagWriter.audioDataPayload(pcmRamp(64, 0)))

    // no AudioInfo anywhere in the namespace: uninterpretable PCM
    val e1 = intercept[Exception] {
      RosbagReader.audioClips(spark, bagWith(data)).collect()
    }
    assert(msgs(e1).exists(_.contains("no AudioInfo")))

    // two CONFLICTING configs under one namespace: ambiguous
    val e2 = intercept[Exception] {
      RosbagReader.audioClips(spark, bagWith(data ++
        BagWriter.connection(1, "/mic/audio_info", "audio_common_msgs/AudioInfo") ++
        BagWriter.message(1, 1600000000L, 1, BagWriter.audioInfoPayload(1, 16000)) ++
        BagWriter.message(1, 1600000000L, 2, BagWriter.audioInfoPayload(2, 44100)))).collect()
    }
    assert(msgs(e2).exists(_.contains("conflicting AudioInfo")))

    // a REPEATED identical config (latched republish) is NOT a conflict
    val ok = RosbagReader.audioClips(spark, bagWith(data ++
      BagWriter.connection(1, "/mic/audio_info", "audio_common_msgs/AudioInfo") ++
      BagWriter.message(1, 1600000000L, 1, BagWriter.audioInfoPayload(1, 16000)) ++
      BagWriter.message(1, 1600000005L, 2, BagWriter.audioInfoPayload(1, 16000)))).collect()
    assert(ok.length === 1 && ok(0).getAs[Int]("sample_rate") === 16000)

    // compressed coding (mp3): refusing beats landing misinterpreted bytes
    val e3 = intercept[Exception] {
      RosbagReader.audioClips(spark, bagWith(data ++
        BagWriter.connection(1, "/mic/audio_info", "audio_common_msgs/AudioInfo") ++
        BagWriter.message(1, 1600000000L, 1,
          BagWriter.audioInfoPayload(1, 16000, coding = "mp3")))).collect()
    }
    assert(msgs(e3).exists(_.contains("unsupported audio format")))
    // the refusal must be ACTIONABLE: it names the offline transcode
    // recipe (mp3 is the audio_capture default on bandwidth-limited
    // rigs — a user hitting this gate needs the path forward, not just
    // the policy)
    assert(msgs(e3).exists(m => m.contains("ffmpeg") && m.contains("pcm_s16le")),
      "refusal must name the transcode recipe")
  }

  test("AudioInfo byte layout: channels is uint8 (ONE byte), transcribed " +
    "from the public AudioInfo.msg — independent of BagWriter") {
    // Hand-built wire bytes so a shared reader/writer bug cannot hide:
    //   uint8  channels      = 2          -> 02
    //   uint32 sample_rate   = 44100      -> 44 AC 00 00
    //   string sample_format = "S16LE"    -> 05 00 00 00 'S''1''6''L''E'
    //   uint32 bitrate       = 705600     -> 40 C4 0A 00
    //   string coding_format = "wave"     -> 04 00 00 00 'w''a''v''e'
    val wire: Array[Byte] = (Seq(0x02) ++
      Seq(0x44, 0xAC, 0x00, 0x00) ++
      Seq(0x05, 0x00, 0x00, 0x00) ++ "S16LE".getBytes("US-ASCII").map(_.toInt) ++
      Seq(0x40, 0xC4, 0x0A, 0x00) ++
      Seq(0x04, 0x00, 0x00, 0x00) ++ "wave".getBytes("US-ASCII").map(_.toInt))
      .map(_.toByte).toArray
    val m = graft.sources.rosbag.RosMessages.audioInfo(wire)
    assert(m.channels === 2L)
    assert(m.sampleRate === 44100L)
    assert(m.sampleFormat === "S16LE")
    assert(m.bitrate === 705600L)
    assert(m.codingFormat === "wave")
    // channels > 127 must not sign-extend (uint8 range)
    val wide = wire.clone(); wide(0) = 0xFE.toByte
    assert(graft.sources.rosbag.RosMessages.audioInfo(wide).channels === 254L)
    // BagWriter must emit the identical layout (writer fixed alongside the
    // reader; this pins them to the transcribed truth, not to each other)
    assert(BagWriter.audioInfoPayload(2, 44100, "S16LE", 705600, "wave").toSeq
      === wire.toSeq)
  }

  test("odometry(): pose/twist values round-trip") {
    val path = writeTestBag(bz2 = false)
    val r = RosbagReader.odometry(spark, path).collect()(0)
    assert(r.getAs[Double]("pos_x") === 10.5)
    assert(r.getAs[Double]("twist_lin_x") === 1.25)
    assert(r.getAs[Double]("ori_w") === 1.0)
    assert(r.getAs[Long]("time_ns") === 1600000000L * 1000000000L + 700L)
  }

  test("laserScans() and wrench() and stdMsgs()") {
    val path = writeTestBag(bz2 = false)
    val l = RosbagReader.laserScans(spark, path).collect()(0)
    assert(l.getAs[Float]("angle_min") === -1.57f)
    assert(l.getAs[Seq[Float]]("ranges") === Seq(1.0f, 2.0f, 3.0f))
    val w = RosbagReader.wrench(spark, path).collect()(0)
    assert(w.getAs[Double]("torque_z") === 0.3)
    val sm = RosbagReader.stdMsgs(spark, path).collect()(0)
    assert(sm.getAs[String]("value") === "hello")
  }

  test("genericTable(): dynamic schema from message_definition (process_topic semantics)") {
    import java.nio.{ByteBuffer, ByteOrder}
    val dir = Files.createTempDirectory("genbag")
    // custom type never hand-coded: Header + float64 + fixed + var arrays
    val defText =
      """# temperature reading
        |Header header
        |float64 temperature
        |int32[2] window
        |uint8[] flags
        |string sensor_id
        |================================================================================
        |MSG: std_msgs/Header
        |uint32 seq
        |time stamp
        |string frame_id
        |""".stripMargin
    val payload = {
      val b = ByteBuffer.allocate(256).order(ByteOrder.LITTLE_ENDIAN)
      b.put(BagWriter.rosHeader(42, 1600000000L, 7, "probe"))
      b.putDouble(21.5)
      b.putInt(3).putInt(4)          // fixed int32[2]
      b.putInt(2).put(1.toByte).put(0.toByte) // var uint8[] of len 2
      b.put(BagWriter.rosString("t-01"))
      java.util.Arrays.copyOf(b.array(), b.position())
    }
    val conn = BagWriter.connectionWithDef(0, "/temp", "sensors/Temperature", defText)
    val bytes = BagWriter.bag(BagWriter.bagHeader,
      conn ++ BagWriter.message(0, 1600000100L, 0, payload))
    val f = dir.resolve("gen.bag")
    Files.write(f, bytes)

    val df = RosbagReader.genericTable(spark, f.toString, "/temp")
    val row = df.collect()(0)
    assert(row.getAs[String]("temperature") === "21.5")
    assert(row.getAs[String]("window_0") === "3" && row.getAs[String]("window_1") === "4")
    assert(row.getAs[String]("flags_0") === "1" && row.getAs[String]("flags_1") === "0")
    assert(row.getAs[String]("sensor_id") === "t-01")
    assert(row.getAs[String]("header.seq") === "42")
    assert(row.getAs[String]("header.frame_id") === "probe")
  }

  test("genericMessages(): one datatype under two definitions whose hashes " +
    "collide decodes each message under its own definition") {
    // "Aa" and "BB" share a String.hashCode, and so do the two definitions
    assert("int32 Aa".hashCode === "int32 BB".hashCode)
    def int32(v: Int) = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    val f = Files.createTempDirectory("genclash").resolve("clash.bag")
    Files.write(f, BagWriter.bag(BagWriter.bagHeader,
      BagWriter.connectionWithDef(0, "/old", "custom/Val", "int32 Aa") ++
        BagWriter.connectionWithDef(1, "/new", "custom/Val", "int32 BB") ++
        BagWriter.message(0, 1600000000L, 0, int32(7)) ++
        BagWriter.message(1, 1600000001L, 0, int32(9))))
    val fields = RosbagReader.genericMessages(spark, f.toString).collect()
      .map(r => r.getAs[String]("topic") -> r.getMap[String, String](r.fieldIndex("fields")).toMap)
      .toMap
    assert(fields === Map("/old" -> Map("Aa" -> "7"), "/new" -> Map("BB" -> "9")))
  }

  test("BagIngestStream: new bags append to the lake exactly once") {
    val watch = Files.createTempDirectory("bagwatch")
    val out = Files.createTempDirectory("baglake").toString
    val ckpt = Files.createTempDirectory("bagckpt").toString
    Files.copy(java.nio.file.Paths.get(writeTestBag(bz2 = false)), watch.resolve("a.bag"))

    val q = graft.jobs.BagIngestStream.start(spark, watch.toString, out, ckpt)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$out/images").count() === 2) // 2 frames in bag 1
      // second bag arrives later -> appended, first bag not reprocessed
      Files.copy(java.nio.file.Paths.get(writeTestBag(bz2 = false)), watch.resolve("b.bag"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$out/images").count() === 4)
      assert(spark.read.parquet(s"$out/odometry").count() === 2)
      // exactly-once: both bags distinct in the lake
      assert(spark.read.parquet(s"$out/images").select("bag").distinct().count() === 2)
      // the trajectory rollup is per whole recording: the batch job lands
      // it, a stream batch (partial recordings) does not
      assert(!Files.exists(java.nio.file.Paths.get(s"$out/trajectory")))
    } finally q.stop()
  }

  test("BagIngestStream: the optional voxel stage lands per arriving batch") {
    val watch = Files.createTempDirectory("bagwatchvox")
    val out = Files.createTempDirectory("baglakevox").toString
    val ckpt = Files.createTempDirectory("bagckptvox").toString
    val pts = Seq((0.2f, 0.3f, 0.4f, 1.0f), (0.8f, 0.5f, 0.1f, 3.0f),
      (-0.5f, 0.5f, 0.5f, 5.0f))
    Files.copy(java.nio.file.Paths.get(
      writeCloudBag(Seq(BagWriter.pointCloud2Payload(pts)))), watch.resolve("a.bag"))
    val q = graft.jobs.BagIngestStream.start(spark, watch.toString, out, ckpt,
      stages = graft.jobs.BagIngest.Stages(voxel = Some(1.0)))
    try {
      q.processAllAvailable()
      val vox = spark.read.parquet(s"$out/lidar_voxel").collect()
      assert(vox.length === 2) // voxels (0,0,0) x2pts and (-1,0,0)
      assert(vox.map(_.getAs[Long]("n_points")).sum === 3L)
    } finally q.stop()
  }

  test("BagIngestStream: restart from checkpoint does not reprocess old bags") {
    val watch = Files.createTempDirectory("bagwatch2")
    val out = Files.createTempDirectory("baglake2").toString
    val ckpt = Files.createTempDirectory("bagckpt2").toString
    Files.copy(java.nio.file.Paths.get(writeTestBag(bz2 = false)), watch.resolve("a.bag"))
    val q1 = graft.jobs.BagIngestStream.start(spark, watch.toString, out, ckpt)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(s"$out/images").count() === 2)

    // new query, same checkpoint: only the NEW bag is processed
    Files.copy(java.nio.file.Paths.get(writeTestBag(bz2 = false)), watch.resolve("b.bag"))
    val q2 = graft.jobs.BagIngestStream.start(spark, watch.toString, out, ckpt)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(spark.read.parquet(s"$out/images").count() === 4)
    assert(spark.read.parquet(s"$out/images").select("bag").distinct().count() === 2)
  }

  test("writeTablesOf: re-running the same batch suffix is idempotent") {
    val bag = writeTestBag(bz2 = false)
    val out = Files.createTempDirectory("idem").toString
    // the foreachBatch retry path: same batch id -> same directory overwritten
    (1 to 2).foreach { _ =>
      graft.jobs.BagIngest.writeTablesOf(spark, RosbagReader.messages(spark, bag),
        out, writePng = false, None, batch = Some(graft.jobs.BagIngest.StreamBatch(7L)))
    }
    assert(spark.read.parquet(s"$out/images").count() === 2) // not 4
  }

  test("PngAudit: clean lake passes; missing/orphan/gap all detected") {
    val bag = writeTestBag(bz2 = false)
    val out = Files.createTempDirectory("audit").toString
    graft.jobs.BagIngest.run(spark, bag, out, writePng = true)
    val manifest = spark.read.parquet(s"$out/manifest")

    // freshly-ingested lake: nothing missing, nothing orphaned, no gaps
    assert(graft.jobs.PngAudit.audit(spark, manifest, s"$out/png").count() === 0)

    // delete one PNG (missing), drop a stray file in (orphan); PNGs live in
    // per-camera subdirectories, so walk recursively
    import scala.jdk.CollectionConverters._
    val pngs = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$out/png"))
      .iterator().asScala.filter(_.toString.endsWith(".png")).map(_.toFile).toArray
    assert(pngs.nonEmpty)
    // findings report the path RELATIVE to the png root
    val deleted = java.nio.file.Paths.get(s"$out/png")
      .relativize(pngs.head.toPath).toString
    assert(pngs.head.delete())
    Files.write(java.nio.file.Paths.get(s"$out/png/stray0099.png"), Array[Byte](1, 2, 3))
    val findings = graft.jobs.PngAudit.audit(spark, manifest, s"$out/png").collect()
    assert(findings.count(_.getString(0) == "missing") === 1)
    assert(findings.find(_.getString(0) == "missing").get.getAs[String]("file_name") === deleted)
    assert(findings.count(_.getString(0) == "orphan") === 1)

    // a manifest with a skipped frame_no reports the discontinuity
    val gappy = manifest.filter(org.apache.spark.sql.functions.col("frame_no") =!= 0)
    val gapFindings = graft.jobs.PngAudit.audit(spark, gappy, s"$out/png").collect()
    assert(gapFindings.exists(_.getString(0) == "gap"))
  }

  test("mp4Manifest(): ordered per-frame rows + fps, no array column") {
    val path = writeTestBag(bz2 = false)
    val rows = RosbagReader.mp4Manifest(spark, path).collect()
    assert(rows.length === 2) // one ROW per frame, not one array per group
    rows.foreach { m =>
      assert(m.getAs[Long]("n_frames") === 2)
      assert(m.getAs[Double]("fps") > 0.99 && m.getAs[Double]("fps") < 1.01)
    }
    // frames arrive contiguous and frame_no-ordered for the muxer
    assert(rows.map(_.getAs[Int]("frame_no")).toSeq === Seq(0, 1))
    // scalability guard: no array-typed column anywhere in the manifest
    assert(!RosbagReader.mp4Manifest(spark, path).schema.exists(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
  }

  private def writeCloudBag(payloads: Seq[Array[Byte]], topic: String = "/lidar/points"): String = {
    val dir = Files.createTempDirectory("graftpc")
    val inner = BagWriter.connection(0, topic, "sensor_msgs/PointCloud2") ++
      payloads.zipWithIndex.map { case (p, i) =>
        BagWriter.message(0, 1600000000L + i, 0, p)
      }.reduce(_ ++ _)
    val f = dir.resolve("pc.bag")
    Files.write(f, BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2 = false)))
    f.toString
  }

  test("pointClouds(): metadata + self-describing field table round-trip") {
    val pts = Seq((1.5f, -2.25f, 0.5f, 10.0f), (3.0f, 4.0f, 5.0f, 20.0f))
    val path = writeCloudBag(Seq(BagWriter.pointCloud2Payload(pts)))
    val rows = RosbagReader.pointClouds(spark, path).collect()
    assert(rows.length === 1)
    val c = rows.head
    assert(c.getAs[String]("topic") === "/lidar/points")
    assert(c.getAs[Long]("n_points") === 2L)
    assert(c.getAs[Long]("point_step") === 16L)
    assert(c.getAs[Boolean]("is_dense"))
    val fields = c.getSeq[org.apache.spark.sql.Row](c.fieldIndex("fields"))
    assert(fields.map(_.getString(0)) === Seq("x", "y", "z", "intensity"))
    assert(fields.map(_.getLong(1)) === Seq(0L, 4L, 8L, 12L)) // offsets
    assert(fields.forall(_.getInt(2) === 7)) // FLOAT32
    assert(c.getAs[Array[Byte]]("data").length === 32)
  }

  test("pointCloudPoints(): exact values, both endiannesses, null intensity") {
    val pts = Seq((1.5f, -2.25f, 0.5f, 10.0f), (3.0f, 4.0f, 5.0f, 20.0f))
    val path = writeCloudBag(Seq(
      BagWriter.pointCloud2Payload(pts),
      BagWriter.pointCloud2Payload(pts, bigendian = true),
      BagWriter.pointCloud2Payload(pts.take(1), withIntensity = false)))
    val df = RosbagReader.pointCloudPoints(spark, path).orderBy("time_ns", "point_idx")
    val rows = df.collect()
    assert(rows.length === 5)
    // little- and big-endian payloads decode to the SAME values
    Seq(0, 2).foreach { base =>
      assert(rows(base).getAs[Double]("x") === 1.5 &&
        rows(base).getAs[Double]("y") === -2.25 &&
        rows(base).getAs[Double]("z") === 0.5 &&
        rows(base).getAs[Double]("intensity") === 10.0)
      assert(rows(base + 1).getAs[Double]("x") === 3.0 &&
        rows(base + 1).getAs[Double]("intensity") === 20.0)
    }
    // a rig that records no intensity channel lands honest NULLs
    assert(rows(4).isNullAt(rows(4).fieldIndex("intensity")))
    assert(rows(4).getAs[Double]("x") === 1.5)
  }

  test("pointCloudPoints(): a cloud missing x/y/z fails loudly") {
    val pts = Seq((1.0f, 2.0f, 3.0f, 0.0f))
    val path = writeCloudBag(Seq(BagWriter.pointCloud2Payload(
      pts, fieldNames = Seq("x", "y", "w"))))
    val e = intercept[Exception] {
      RosbagReader.pointCloudPoints(spark, path).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("missing required field 'z'")))
  }

  test("pointCloudPoints(): organized cloud with row padding decodes by row_step") {
    // 2 rows x 2 cols, each row padded by 8 bytes: row_step (40) >
    // width x point_step (32). Indexing by data.length/point_step would
    // decode 10 phantom "points" and misalign row 2.
    val pts = Seq((1.0f, 2.0f, 3.0f, 4.0f), (5.0f, 6.0f, 7.0f, 8.0f),
      (9.0f, 10.0f, 11.0f, 12.0f), (13.0f, 14.0f, 15.0f, 16.0f))
    val path = writeCloudBag(Seq(
      BagWriter.pointCloud2Payload(pts, rows = 2, rowPad = 8)))
    val clouds = RosbagReader.pointClouds(spark, path).collect()
    assert(clouds.head.getAs[Long]("n_points") === 4L) // height x width, not bytes/step
    val rows = RosbagReader.pointCloudPoints(spark, path)
      .orderBy("point_idx").collect()
    assert(rows.length === 4)
    assert(rows.map(_.getAs[Double]("x")).toSeq === Seq(1.0, 5.0, 9.0, 13.0))
    assert(rows.map(_.getAs[Double]("intensity")).toSeq === Seq(4.0, 8.0, 12.0, 16.0))
    assert(rows.map(_.getAs[Long]("point_idx")).toSeq === Seq(0L, 1L, 2L, 3L))
  }

  test("corrupt PointCloud2 shape fails loudly in BOTH cloud views") {
    // corrupt shape: claim 3 points per row but ship payload for 2
    val bad = BagWriter.pointCloud2Payload(
      Seq((1.0f, 2.0f, 3.0f, 4.0f), (5.0f, 6.0f, 7.0f, 8.0f)),
      declaredWidth = Some(3))
    val path = writeCloudBag(Seq(bad))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // the layout guards fire before any byte is decoded: either the
    // row_step consistency check or the payload-capacity check, depending
    // on which invariant the corruption violates first — and the METADATA
    // view applies the same guards, so the clouds table can never report
    // phantom n_points for a bag the point view rejects
    Seq(
      intercept[Exception] { RosbagReader.pointCloudPoints(spark, path).collect() },
      intercept[Exception] { RosbagReader.pointClouds(spark, path).collect() }
    ).foreach { e =>
      assert(msgs(e).exists(m => m.contains("corrupt layout") || m.contains("exceed")))
    }
  }

  test("PointCloud2 with point_step 0 but declared points fails loudly in both views") {
    // point_step = 0 makes every payload-capacity check pass trivially
    // (0 >= 0, 0 <= data.length) — an unguarded decode would then read
    // height*width phantom points all from offset 0
    val bad = BagWriter.pointCloud2Payload(
      Seq((1.0f, 2.0f, 3.0f, 4.0f), (5.0f, 6.0f, 7.0f, 8.0f)),
      declaredStep = Some(0))
    val path = writeCloudBag(Seq(bad))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    Seq(
      intercept[Exception] { RosbagReader.pointCloudPoints(spark, path).collect() },
      intercept[Exception] { RosbagReader.pointClouds(spark, path).collect() }
    ).foreach { e =>
      assert(msgs(e).exists(_.contains("corrupt layout")))
    }
  }

  test("PointCloud2 with an unsigned dim past Int.MaxValue fails loudly, never wraps") {
    // width on the wire is uint32; 2^31 .toInt-truncates to Int.MinValue,
    // which silently skips both the payload check and decoding while
    // n_points reports a huge value — the guard must reject it instead
    val bad = BagWriter.pointCloud2Payload(
      Seq((1.0f, 2.0f, 3.0f, 4.0f)),
      declaredWidth = Some(Int.MinValue)) // wire-encodes as unsigned 2^31
    val path = writeCloudBag(Seq(bad))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    Seq(
      intercept[Exception] { RosbagReader.pointCloudPoints(spark, path).collect() },
      intercept[Exception] { RosbagReader.pointClouds(spark, path).collect() }
    ).foreach { e =>
      assert(msgs(e).exists(m =>
        m.contains("exceeds Int.MaxValue") || m.contains("corrupt layout") ||
          m.contains("exceed")))
    }
  }

  test("bag_ingest --voxel lands the downsampled lidar table") {
    val pts = Seq( // voxel (0,0,0): two points; (-1,0,0): one; (2,2,2): one
      (0.2f, 0.3f, 0.4f, 1.0f), (0.8f, 0.5f, 0.1f, 3.0f),
      (-0.5f, 0.5f, 0.5f, 5.0f), (2.5f, 2.5f, 2.5f, 7.0f))
    val bag = writeCloudBag(Seq(BagWriter.pointCloud2Payload(pts)))
    val out = Files.createTempDirectory("graftvoxlake").toString
    graft.jobs.BagIngest.run(spark, bag, out, writePng = false,
      stages = graft.jobs.BagIngest.Stages(voxel = Some(1.0)))
    val vox = spark.read.parquet(s"$out/lidar_voxel")
      .orderBy("vx", "vy", "vz").collect()
    assert(vox.length === 3)
    val v0 = vox.find(r => r.getAs[Long]("vx") === 0L).get
    assert(v0.getAs[Long]("n_points") === 2L)
    assert(math.abs(v0.getAs[Double]("cx") - 0.5) < 1e-9)
    assert(vox.head.getAs[Long]("vx") === -1L) // floor on negatives survives the job
  }

  test("voxelDownsample + cloudStats: PCL VoxelGrid semantics") {
    val pts = Seq( // voxel (0,0,0): two points; voxel (-1,0,0): one; (2,2,2): one
      (0.2f, 0.3f, 0.4f, 1.0f), (0.8f, 0.5f, 0.1f, 3.0f),
      (-0.5f, 0.5f, 0.5f, 5.0f), (2.5f, 2.5f, 2.5f, 7.0f))
    val path = writeCloudBag(Seq(BagWriter.pointCloud2Payload(pts)))
    val points = RosbagReader.pointCloudPoints(spark, path)
    val vox = graft.operators.PointCloudOps.voxelDownsample(points, 1.0)
      .orderBy("vx", "vy", "vz").collect()
    assert(vox.length === 3)
    val v0 = vox.find(r => r.getAs[Long]("vx") === 0L).get
    assert(v0.getAs[Long]("n_points") === 2L)
    assert(math.abs(v0.getAs[Double]("cx") - 0.5) < 1e-9) // (0.2 + 0.8) / 2
    assert(math.abs(v0.getAs[Double]("mean_intensity") - 2.0) < 1e-9)
    // floor semantics on negatives: -0.5 lands in voxel -1, not 0
    assert(vox.head.getAs[Long]("vx") === -1L)
    val stats = graft.operators.PointCloudOps.cloudStats(points).collect()
    assert(stats.length === 1)
    assert(stats.head.getAs[Long]("n_points") === 4L)
    assert(stats.head.getAs[Double]("min_x") === -0.5 &&
      stats.head.getAs[Double]("max_x") === 2.5)
    assert(stats.head.getAs[Double]("max_intensity") === 7.0)
    intercept[IllegalArgumentException] {
      graft.operators.PointCloudOps.voxelDownsample(points, 0.0)
    }
  }
}
