package graftbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Seeded synthetic ROS bag corpus, written from the public ROS bag v2.0
  * record grammar: `#ROSBAG V2.0\n`, a 4096-byte bag header record, chunk
  * records (op 5) holding connection (op 7) and message (op 2) records,
  * one index record (op 4) per connection after each chunk, and the
  * connection + chunk-info (op 6) records at `index_pos`.
  *
  * Topics: two rgb8 cameras and one bgr8 camera, odometry, LaserScan,
  * wrench, `std_msgs/String`, and one custom type that only the generic
  * slot-walk decoder can read (the only connection carrying a
  * `message_definition`, so the typed decoders own every other topic).
  * Chunks alternate between uncompressed and lz4.
  *
  * Camera frames are windows onto a smooth value-noise panorama that pans
  * while the vehicle moves, with two bright objects that move with it.
  * A stationary stretch repeats the previous frame byte for byte, so it is
  * a duplicate burst. A frame is a pure function of (seed, camera, pan
  * offset): with `repeatShare` > 0 some bags replay a burst of an earlier
  * bag, which is how cross-batch canonical adoption is exercised.
  *
  * Every bag comes with its ground truth: rows per topic table, frames
  * per camera, duplicate bursts, and the content key of every frame.
  */
object BagCorpus {

  /** Frame shape of the repository's earlier ingest measurement: 640x480
    * rgb8, about 28 frames and 26 MB per bag. Three cameras of ten frames
    * give 30 frames and about 28 MB per bag. */
  val Width = 640
  val Height = 480
  val FramesPerCamera = 10
  /** Panorama cell size and pan per moving frame, in pixels. */
  val Cell = 80
  val PanStep = 70
  val ObjW = 80
  val ObjH = 60
  val Cameras: Seq[(String, String)] = Seq(
    "/cam_front/image_raw" -> "rgb8", "/cam_left/image_raw" -> "rgb8",
    "/cam_rear/image_raw" -> "bgr8")
  val OdometryPerBag = 40
  val LaserPerBag = 12
  val WrenchPerBag = 24
  val StringsPerBag = 6
  val StatusPerBag = 10
  val LaserBeams = 180
  val StatusType = "graftbench_msgs/VehicleStatus"
  val StatusDef = "int32 gear\nfloat64 speed_mps\nuint8 mode\nstring note\n"

  /** Per-bag ground truth. `frameKeys` maps camera topic to the content
    * key of each frame in time order; equal keys mean identical pixels. */
  final case class Truth(bag: String, bytes: Long, rows: Map[String, Long],
      framesPerCamera: Map[String, Long], duplicateBursts: Int,
      frameKeys: Map[String, Seq[Long]]) {
    def frames: Long = framesPerCamera.values.sum
  }

  /** splitmix64: a stateless, seedable hash (value noise, object paths). */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  private def cellValue(seed: Long, cam: Int, cx: Int, cy: Int): Double =
    40 + 175 * unit(mix(mix(mix(seed * 31 + cam) + cx) * 131 + cy))

  /** Render one frame: a bilinear window onto the camera's panorama at
    * `offset`, tinted per camera, plus two moving objects. Channels are
    * laid out per the camera's encoding (bgr8 stores B first). */
  def renderFrame(seed: Long, cam: Int, offset: Long, bgr: Boolean): Array[Byte] = {
    val px = new Array[Byte](Width * Height * 3)
    val tint = Array(1.0, 0.9 + 0.05 * cam, 0.8 + 0.1 * cam)
    val objs = (0 until 2).map { k =>
      val h = mix(seed * 7 + cam * 13 + k)
      val speed = 1 + (h & 3)
      val ox = ((offset / PanStep * speed * 10 + (h >>> 8) % Width) % (Width - ObjW)).toInt
      val oy = ((h >>> 20) % (Height - ObjH)).toInt
      (ox, oy, 60 + ((h >>> 32) % 60).toInt)
    }
    // the panorama cells this window covers, each hashed once
    val cx0 = Math.floorDiv(offset, Cell.toLong).toInt
    val cells = Array.tabulate(Height / Cell + 2, (Width + Cell - 1) / Cell + 2) { (j, i) =>
      cellValue(seed, cam, cx0 + i, j)
    }
    var y = 0
    while (y < Height) {
      val gy = y.toDouble / Cell
      val cy = math.floor(gy).toInt
      val fy = gy - cy
      var x = 0
      while (x < Width) {
        val gx = (x + offset).toDouble / Cell
        val cx = math.floor(gx).toInt
        val fx = gx - cx
        val row0 = cells(cy); val row1 = cells(cy + 1); val i = cx - cx0
        var lum = (row0(i) * (1 - fx) + row0(i + 1) * fx) * (1 - fy) +
          (row1(i) * (1 - fx) + row1(i + 1) * fx) * fy
        objs.foreach { case (ox, oy, boost) =>
          if (x >= ox && x < ox + ObjW && y >= oy && y < oy + ObjH) lum = math.min(255.0, lum + boost)
        }
        val base = (y * Width + x) * 3
        var c = 0
        while (c < 3) {
          val v = math.max(0, math.min(255, math.round(lum * tint(c)).toInt))
          px(base + (if (bgr) 2 - c else c)) = v.toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    px
  }

  // ---- ROS message serialization (little-endian, u32 length prefixes) ----

  private final class Le(cap: Int) {
    val b: ByteBuffer = ByteBuffer.allocate(cap).order(ByteOrder.LITTLE_ENDIAN)
    def u8(v: Int): Le = { b.put(v.toByte); this }
    def u32(v: Long): Le = { b.putInt(v.toInt); this }
    def f32(v: Double): Le = { b.putFloat(v.toFloat); this }
    def f64(v: Double): Le = { b.putDouble(v); this }
    def str(s: String): Le = {
      val a = s.getBytes(StandardCharsets.UTF_8); b.putInt(a.length); b.put(a); this
    }
    def bytes(a: Array[Byte]): Le = { b.putInt(a.length); b.put(a); this }
    def header(seq: Long, tNs: Long, frame: String): Le =
      u32(seq).u32(tNs / 1000000000L).u32(tNs % 1000000000L).str(frame)
    def result: Array[Byte] = java.util.Arrays.copyOf(b.array(), b.position())
  }

  private def imageMsg(seq: Long, tNs: Long, frame: String, enc: String, px: Array[Byte]) =
    new Le(px.length + 128).header(seq, tNs, frame).u32(Height).u32(Width).str(enc)
      .u8(0).u32(Width * 3).bytes(px).result

  private def odometryMsg(seq: Long, tNs: Long, x: Double, y: Double, yaw: Double, v: Double) = {
    val o = new Le(1024).header(seq, tNs, "odom").str("base_link")
      .f64(x).f64(y).f64(0).f64(0).f64(0).f64(math.sin(yaw / 2)).f64(math.cos(yaw / 2))
    (0 until 36).foreach(i => o.f64(if (i % 7 == 0) 0.01 else 0))
    o.f64(v * math.cos(yaw)).f64(v * math.sin(yaw)).f64(0).f64(0).f64(0).f64(0.01)
    (0 until 36).foreach(i => o.f64(if (i % 7 == 0) 0.02 else 0))
    o.result
  }

  private def laserMsg(seq: Long, tNs: Long, ranges: Array[Double]) = {
    val l = new Le(ranges.length * 8 + 128).header(seq, tNs, "laser")
      .f32(-math.Pi / 2).f32(math.Pi / 2).f32(math.Pi / (ranges.length - 1))
      .f32(0.0001).f32(0.1).f32(0.1).f32(30.0)
    l.u32(ranges.length); ranges.foreach(r => l.f32(r))
    l.u32(ranges.length); ranges.foreach(r => l.f32(100 + r))
    l.result
  }

  private def wrenchMsg(f: Array[Double]) = {
    val w = new Le(64); f.foreach(w.f64); w.result
  }

  private def statusMsg(gear: Int, speed: Double, mode: Int, note: String) =
    new Le(128).u32(gear).f64(speed).u8(mode).str(note).result

  // ---- bag v2.0 records ----

  private def field(name: String, value: Array[Byte]): Array[Byte] = {
    val n = name.getBytes(StandardCharsets.US_ASCII)
    val b = ByteBuffer.allocate(4 + n.length + 1 + value.length).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(n.length + 1 + value.length).put(n).put('='.toByte).put(value)
    b.array()
  }
  private def fStr(s: String) = s.getBytes(StandardCharsets.UTF_8)
  private def fU32(v: Long) =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v.toInt).array()
  private def fU64(v: Long) =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()
  private def fTime(ns: Long) = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    .putInt((ns / 1000000000L).toInt).putInt((ns % 1000000000L).toInt).array()
  private def fOp(op: Int) = Array(op.toByte)

  private def record(out: ByteArrayOutputStream, header: Seq[Array[Byte]], data: Array[Byte]): Unit = {
    val h = header.foldLeft(Array.emptyByteArray)(_ ++ _)
    out.write(fU32(h.length)); out.write(h)
    out.write(fU32(data.length)); out.write(data)
  }

  private final case class Conn(id: Int, topic: String, typ: String, msgDef: String)

  private def connRecord(out: ByteArrayOutputStream, c: Conn): Unit = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(fStr(c.typ + "\n" + c.msgDef)).map(b => f"$b%02x").mkString
    val data = Seq(field("topic", fStr(c.topic)), field("type", fStr(c.typ)),
      field("md5sum", fStr(md5)), field("message_definition", fStr(c.msgDef)),
      field("callerid", fStr("/graftbench_recorder")), field("latching", fStr("0")))
      .foldLeft(Array.emptyByteArray)(_ ++ _)
    record(out, Seq(field("op", fOp(7)), field("conn", fU32(c.id)),
      field("topic", fStr(c.topic))), data)
  }

  private def lz4(raw: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val z = new net.jpountz.lz4.LZ4FrameOutputStream(bo)
    z.write(raw); z.close()
    bo.toByteArray
  }

  /** Serialize (conn, time, payload) messages, time-ordered, into a bag. */
  private def writeBag(conns: Seq[Conn], msgs: Seq[(Int, Long, Array[Byte])],
      chunkBytes: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("#ROSBAG V2.0\n".getBytes(StandardCharsets.US_ASCII))
    val headerPos = out.size()
    out.write(new Array[Byte](4096)) // bag header, patched once index_pos is known
    val chunkInfos = Seq.newBuilder[(Long, Long, Long, Map[Int, Int])]
    var pending = msgs
    var chunkNo = 0
    while (pending.nonEmpty) {
      // fill one chunk up to chunkBytes of payload
      var size = 0
      val (take, rest) = pending.span { m => val ok = size < chunkBytes; size += m._3.length; ok }
      pending = rest
      val body = new ByteArrayOutputStream()
      val seen = scala.collection.mutable.LinkedHashSet[Int]()
      val offsets = scala.collection.mutable.Map[Int, Vector[(Long, Int)]]()
      take.foreach { case (cid, t, data) =>
        if (seen.add(cid)) connRecord(body, conns(cid))
        offsets(cid) = offsets.getOrElse(cid, Vector.empty) :+ (t -> body.size())
        record(body, Seq(field("op", fOp(2)), field("conn", fU32(cid)), field("time", fTime(t))), data)
      }
      val raw = body.toByteArray
      val compressed = chunkNo % 2 == 1
      val chunkPos = out.size().toLong
      record(out, Seq(field("op", fOp(5)),
        field("compression", fStr(if (compressed) "lz4" else "none")),
        field("size", fU32(raw.length))), if (compressed) lz4(raw) else raw)
      offsets.toSeq.sortBy(_._1).foreach { case (cid, entries) =>
        val idx = new ByteArrayOutputStream()
        entries.foreach { case (t, off) => idx.write(fTime(t)); idx.write(fU32(off)) }
        record(out, Seq(field("op", fOp(4)), field("ver", fU32(1)), field("conn", fU32(cid)),
          field("count", fU32(entries.size))), idx.toByteArray)
      }
      chunkInfos += ((chunkPos, take.head._2, take.last._2, offsets.map { case (k, v) => k -> v.size }.toMap))
      chunkNo += 1
    }
    val indexPos = out.size().toLong
    conns.foreach(connRecord(out, _))
    val infos = chunkInfos.result()
    infos.foreach { case (pos, t0, t1, counts) =>
      val d = new ByteArrayOutputStream()
      counts.toSeq.sortBy(_._1).foreach { case (cid, n) => d.write(fU32(cid)); d.write(fU32(n)) }
      record(out, Seq(field("op", fOp(6)), field("ver", fU32(1)), field("chunk_pos", fU64(pos)),
        field("start_time", fTime(t0)), field("end_time", fTime(t1)),
        field("count", fU32(counts.size))), d.toByteArray)
    }
    val bytes = out.toByteArray
    val hdr = new ByteArrayOutputStream()
    val fields = Seq(field("op", fOp(3)), field("index_pos", fU64(indexPos)),
      field("conn_count", fU32(conns.size)), field("chunk_count", fU32(infos.size)))
    val hlen = fields.map(_.length).sum
    record(hdr, fields, Array.fill[Byte](4096 - 8 - hlen)(' '.toByte))
    System.arraycopy(hdr.toByteArray, 0, bytes, headerPos, 4096)
    bytes
  }

  /** Generate bag `index` of the corpus for `seed`. Bags advance along the
    * panorama, so every bag's moving frames are new content; with
    * probability `repeatShare` (for index > 0) one stationary burst per
    * camera replays a frame of an earlier bag instead. */
  def bag(seed: Long, index: Int, repeatShare: Double): (Array[Byte], Truth) = {
    val h0 = mix(seed * 1000003L + index)
    val t0 = 1700000000L * 1000000000L + index * 60L * 1000000000L
    val conns = Cameras.zipWithIndex.map { case ((t, _), i) => Conn(i, t, "sensor_msgs/Image", "") } ++ Seq(
      Conn(3, "/odom", "nav_msgs/Odometry", ""),
      Conn(4, "/scan", "sensor_msgs/LaserScan", ""),
      Conn(5, "/wrist/wrench", "geometry_msgs/Wrench", ""),
      Conn(6, "/operator/notes", "std_msgs/String", ""),
      Conn(7, "/vehicle/status", StatusType, StatusDef))
    val msgs = Seq.newBuilder[(Int, Long, Array[Byte])]
    val repeats = index > 0 && unit(mix(h0 + 17)) < repeatShare
    var bursts = 0
    val keys = Cameras.zipWithIndex.map { case ((topic, enc), cam) =>
      // panorama offsets: bag i starts where bag i-1 ended (~FramesPerCamera pans)
      var offset = index.toLong * FramesPerCamera * PanStep
      val hc = mix(h0 * 3 + cam)
      // one or two stationary bursts of 2..3 repeated frames
      val nBursts = 1 + (hc & 1).toInt
      val starts = (0 until nBursts).map(k => 1 + k * 5 + ((hc >>> (8 + 4 * k)) % 2).toInt)
      val seq = Vector.newBuilder[Long]
      var f = 0
      var replayed = false
      while (f < FramesPerCamera) {
        starts.find(_ == f) match {
          case Some(_) =>
            val len = 2 + ((hc >>> (24 + f)) % 2).toInt
            // a replayed burst shows a frame an earlier bag already landed
            val key = if (repeats && !replayed) {
              replayed = true
              val earlier = (mix(hc + 5) % index).toInt.abs
              earlier.toLong * FramesPerCamera * PanStep + PanStep * (1 + (hc >>> 40) % 4)
            } else offset
            bursts += 1
            (0 until math.min(len, FramesPerCamera - f)).foreach(_ => seq += key)
            f += len
          case None =>
            offset += PanStep
            seq += offset
            f += 1
        }
      }
      val ks = seq.result().take(FramesPerCamera)
      val period = 100000000L // 10 Hz
      ks.zipWithIndex.foreach { case (k, i) =>
        msgs += ((cam, t0 + i * period + cam * 1000000L,
          imageMsg(i, t0 + i * period, topic.split('/')(1), enc,
            renderFrame(seed, cam, k, enc == "bgr8"))))
      }
      topic -> ks
    }.toMap
    var x = 0.0; var y = 0.0; var yaw = unit(mix(h0 + 1)) * 2 * math.Pi
    (0 until OdometryPerBag).foreach { i =>
      val v = 5 + 3 * unit(mix(h0 + 100 + i))
      yaw += 0.02 * (unit(mix(h0 + 200 + i)) - 0.5)
      x += v * 0.06 * math.cos(yaw); y += v * 0.06 * math.sin(yaw)
      msgs += ((3, t0 + i * 60000000L + 500000L, odometryMsg(i, t0 + i * 60000000L, x, y, yaw, v)))
    }
    (0 until LaserPerBag).foreach { i =>
      val ranges = Array.tabulate(LaserBeams)(b => 2 + 20 * unit(mix(h0 * 5 + i * 1000 + b / 6)))
      msgs += ((4, t0 + i * 200000000L + 700000L, laserMsg(i, t0 + i * 200000000L, ranges)))
    }
    (0 until WrenchPerBag).foreach { i =>
      msgs += ((5, t0 + i * 100000000L + 900000L,
        wrenchMsg(Array.tabulate(6)(k => unit(mix(h0 * 11 + i * 6 + k)) * 10 - 5))))
    }
    (0 until StringsPerBag).foreach { i =>
      msgs += ((6, t0 + i * 400000000L + 300000L,
        new Le(64).str(s"note ${mix(h0 + i) & 0xffff} lane ${i % 3}").result))
    }
    (0 until StatusPerBag).foreach { i =>
      msgs += ((7, t0 + i * 240000000L + 100000L,
        statusMsg(1 + i % 5, 5 + unit(mix(h0 * 13 + i)) * 10, i % 3, s"ok-$i")))
    }
    val all = msgs.result().sortBy(m => (m._2, m._1))
    val bytes = writeBag(conns, all, chunkBytes = 768 * 1024)
    val frames = Cameras.map(_._1 -> FramesPerCamera.toLong).toMap
    val nFrames = frames.values.sum
    val rows = Map("images" -> nFrames, "manifest" -> nFrames,
      "odometry" -> OdometryPerBag.toLong, "laser" -> LaserPerBag.toLong,
      "wrench" -> WrenchPerBag.toLong, "std_msgs" -> StringsPerBag.toLong,
      "generic" -> StatusPerBag.toLong, "clips" -> 0L, "trajectory" -> 1L)
    (bytes, Truth(f"bag_$index%04d.bag", bytes.length.toLong, rows, frames, bursts, keys))
  }

  /** Distinct frame contents across `truths` (the canonical-frame count an
    * exact-duplicate-aware dedup must report). */
  def distinctFrames(truths: Seq[Truth]): Long =
    truths.flatMap(t => t.frameKeys.toSeq.flatMap { case (topic, ks) => ks.map(topic -> _) })
      .distinct.size.toLong

  /** Write bags [0, n) of the corpus under `dir` (cached: an existing bag
    * file of the right size is reused) and return their truths. */
  def materialize(dir: File, seed: Long, n: Int, repeatShare: Double): Seq[(File, Truth)] = {
    dir.mkdirs()
    (0 until n).map { i =>
      val (bytes, truth) = bag(seed, i, repeatShare)
      val f = new File(dir, truth.bag)
      if (!f.exists() || f.length() != bytes.length) {
        val tmp = new File(dir, truth.bag + ".tmp")
        Files.write(tmp.toPath, bytes)
        Files.move(tmp.toPath, f.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      f -> truth
    }
  }
}
