package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.multimodal.{ImageOps, PixelKernels}
import graft.sources.rosbag.RosbagReader

class MultimodalSpec extends SparkSpec {

  /** End-to-end: synthesized bag -> image frames -> feature extraction. */
  private lazy val bagPath: String = {
    val dir = Files.createTempDirectory("mmbag")
    // 2x1 rgb8 image: pixel0 = (10,20,30), pixel1 = (50,60,70)
    val px = Array[Byte](10, 20, 30, 50, 60, 70)
    val inner =
      BagWriter.connection(0, "/cam0/image_raw", "sensor_msgs/Image") ++
        BagWriter.message(0, 1600000000L, 0, BagWriter.imagePayload(0, 2, 1, "rgb8", px)) ++
        BagWriter.message(0, 1600000001L, 0, BagWriter.imagePayload(1, 2, 1, "8UC3", px)) ++
        BagWriter.message(0, 1600000002L, 0, BagWriter.imagePayload(2, 2, 1, "rgb8", px)) ++
        BagWriter.message(0, 1600000003L, 0, BagWriter.imagePayload(3, 2, 1, "rgb8", px))
    val f = dir.resolve("mm.bag")
    Files.write(f, BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2 = false)))
    f.toString
  }

  test("features(): channel means via the deterministic decode stub") {
    val frames = RosbagReader.images(spark, bagPath)
    val feats = ImageOps.features(spark, frames).collect().sortBy(_.time_ns)
    val rgb = feats(0)
    assert(rgb.mean_r === 30.0 && rgb.mean_g === 40.0 && rgb.mean_b === 50.0)
    assert(rgb.brightness === 40.0)
    // 8UC3 is BGR: channels swap (reference bagstream.py:257)
    val bgr = feats(1)
    assert(bgr.mean_r === 50.0 && bgr.mean_b === 30.0)
  }

  test("sampleFrames(): every-nth selection per topic") {
    val frames = RosbagReader.images(spark, bagPath)
    val sampled = ImageOps.sampleFrames(frames, 2).select("frame_no").collect().map(_.getInt(0)).sorted
    assert(sampled.toSeq === Seq(0, 2))
  }

  test("resizePlan(): aspect-preserving target dims, no upscale") {
    val frames = RosbagReader.images(spark, bagPath)
    val r = ImageOps.resizePlan(frames, 1).select("target_width", "target_height").collect()(0)
    assert(r.getLong(0) === 1L && r.getLong(1) === 1L)
    val same = ImageOps.resizePlan(frames, 100).select("target_width").collect()(0)
    assert(same.getLong(0) === 2L) // maxSide > dims: unchanged
  }

  test("PixelKernels.gaussianBlur: constant image is a fixed point") {
    val px = Array.fill[Byte](8 * 4 * 3)(77)
    val out = PixelKernels.gaussianBlur(px, 8, 4, 3, 24, sigma = 5.0)
    assert(out.toSeq === px.toSeq) // replicate edges keep kernel weight = 1
  }

  test("PixelKernels.blurRegions: inside changed, outside bit-identical") {
    // 16x8 rgb8, left half black, right half white; blur a box straddling
    // the color boundary
    val w = 16; val h = 8; val ch = 3; val step = w * ch
    val px = new Array[Byte](h * step)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
      px(y * step + x * ch + c) = if (x < 8) 0 else 255.toByte
    val boxes = Seq((6, 2, 10, 6))
    val out = PixelKernels.blurRegions(px, w, h, ch, step, boxes, sigma = 3.0)
    var changed = 0
    for (y <- 0 until h; x <- 0 until w; c <- 0 until ch) {
      val i = y * step + x * ch + c
      val inside = x >= 6 && x < 10 && y >= 2 && y < 6
      if (inside) { if (out(i) != px(i)) changed += 1 }
      else assert(out(i) === px(i), s"pixel outside box mutated at ($x,$y,$c)")
    }
    assert(changed > 0, "no pixel inside the box changed")
    // at the boundary column the blur mixes black and white: strictly between
    val mid = 3 * step + 8 * ch
    assert((out(mid) & 0xff) > 0 && (out(mid) & 0xff) < 255)
  }

  test("PixelKernels: stride padding bytes survive blur untouched") {
    // 4x2 mono with step 6: 2 padding bytes per row carry sentinels
    val w = 4; val h = 2; val step = 6
    val px = new Array[Byte](h * step)
    for (y <- 0 until h; x <- 0 until w) px(y * step + x) = (10 * (x + 1)).toByte
    px(4) = 111; px(5) = 112; px(10) = 113; px(11) = 114 // padding sentinels
    val out = PixelKernels.blurRegions(px, w, h, 1, step, Seq((0, 0, 4, 2)), sigma = 2.0)
    assert(out(4) === 111 && out(5) === 112 && out(10) === 113 && out(11) === 114)
    // interior actually blurred (boundary pixels move toward the row mean)
    assert(out(0) !== px(0))
  }

  test("PixelKernels.resizeBilinear: known-value downsample") {
    // 2x1 rgb8 (10,20,30),(50,60,70) -> 1x1 = the midpoint (30,40,50)
    val px = Array[Byte](10, 20, 30, 50, 60, 70)
    val out = PixelKernels.resizeBilinear(px, 2, 1, 3, 6, 1, 1)
    assert(out.toSeq === Seq[Byte](30, 40, 50))
    // 4x4 gradient plane, mono: v(x,y) = 16x + 64y -> 2x2 center samples
    val g = Array.tabulate[Byte](16)(i => (16 * (i % 4) + 64 * (i / 4)).toByte)
    val o2 = PixelKernels.resizeBilinear(g, 4, 4, 1, 4, 2, 2)
    // src coords 0.5,2.5: v = 16*0.5+64*0.5 = 40 etc.
    assert(o2.map(_ & 0xff).toSeq === Seq(40, 72, 168, 200))
  }

  test("crop(): tight window copy, stride-aware") {
    // 3x2 mono with padded stride 4: rows [0,1,2,_], [10,11,12,_]
    val px = Array[Byte](0, 1, 2, 99, 10, 11, 12, 98)
    assert(PixelKernels.crop(px, 3, 2, 1, 4, 1, 0, 3, 2).toSeq === Seq[Byte](1, 2, 11, 12))
    assert(PixelKernels.crop(px, 3, 2, 1, 4, 0, 1, 1, 2).toSeq === Seq[Byte](10))
    // rgb: whole-frame crop of a tight buffer is the identity
    val rgb = Array[Byte](10, 20, 30, 50, 60, 70)
    assert(PixelKernels.crop(rgb, 2, 1, 3, 6, 0, 0, 2, 1).toSeq === rgb.toSeq)
  }

  test("cropBoxes(): one patch per region, clamped, degenerate boxes dropped") {
    val frames = RosbagReader.images(spark, bagPath).withColumn("bag", lit(bagPath))
    val t0 = 1600000000L * 1000000000L
    val regions = spark.createDataFrame(Seq(
      (bagPath, "/cam0/image_raw", t0, 1L, 0L, 1L, 1L),   // pixel 1 of frame 0
      (bagPath, "/cam0/image_raw", t0, 0L, 0L, 9L, 9L),   // over-sized: clamps to frame
      (bagPath, "/cam0/image_raw", t0 + 2_000_000_000L, 5L, 5L, 2L, 2L) // fully outside: dropped
    )).toDF("bag", "topic", "time_ns", "region_x", "region_y", "region_w", "region_h")
    val out = ImageOps.cropBoxes(spark, frames, regions).collect()
      .sortBy(r => (r.getAs[Long]("time_ns"), r.getAs[Long]("x1")))
    assert(out.length === 2)
    // clamped full-frame crop: identical bytes, tight stride
    assert(out(0).getAs[Long]("width") === 2 && out(0).getAs[Long]("step") === 6)
    assert(out(0).getAs[Array[Byte]]("pixels").toSeq === Seq[Byte](10, 20, 30, 50, 60, 70))
    // single-pixel patch = pixel 1 rgb
    assert(out(1).getAs[Long]("width") === 1 && out(1).getAs[Long]("height") === 1)
    assert(out(1).getAs[Array[Byte]]("pixels").toSeq === Seq[Byte](50, 60, 70))
  }

  test("blurFrames(): end-to-end over a bag, schema-preserving") {
    val frames = RosbagReader.images(spark, bagPath).withColumn("bag", lit(bagPath))
    val t0 = 1600000000L * 1000000000L
    val regions = spark.createDataFrame(Seq(
      (bagPath, "/cam0/image_raw", t0, Option(0), Option(0), Option(1), Option(1)),
      // a null width reaches the right edge
      (bagPath, "/cam0/image_raw", t0 + 2_000_000_000L, Option(1), Option(0), None, Option(1)),
      // x + w runs past Int range: the box reaches the edge, it does not
      // wrap to a negative bound that blurs nothing
      (bagPath, "/cam0/image_raw", t0 + 3_000_000_000L, Option(1), Option(0),
        Option(Int.MaxValue), Option(1))
    )).toDF("bag", "topic", "time_ns", "region_x", "region_y", "region_w", "region_h")
    val out = ImageOps.blurFrames(spark, frames, regions, sigma = 1.0, margin = 0)
    assert(out.columns.toSeq === frames.columns.toSeq :+ "n_blurred")
    val rows = out.collect().sortBy(_.getAs[Long]("time_ns"))
    assert(rows(0).getAs[Int]("n_blurred") === 1)
    // 2x1 frame, box = pixel 0 only: pixel 1 must stay bit-identical
    val px = rows(0).getAs[Array[Byte]]("pixels")
    assert(px.slice(3, 6).toSeq === Seq[Byte](50, 60, 70))
    assert(px.slice(0, 3).toSeq !== Seq[Byte](10, 20, 30)) // blurred toward pixel 1
    // frames without a matching region pass through byte-identical
    assert(rows(1).getAs[Int]("n_blurred") === 0)
    assert(rows(1).getAs[Array[Byte]]("pixels").toSeq === Seq[Byte](10, 20, 30, 50, 60, 70))
    // both edge cases blur pixel 1 only
    val pixel1 = PixelKernels.blurRegions(Array[Byte](10, 20, 30, 50, 60, 70), 2, 1, 3, 6,
      Seq((1, 0, 2, 1)), sigma = 1.0).toSeq
    assert(pixel1.take(3) === Seq[Byte](10, 20, 30))
    assert(pixel1 !== Seq[Byte](10, 20, 30, 50, 60, 70))
    rows.drop(2).foreach { r =>
      assert(r.getAs[Int]("n_blurred") === 1)
      assert(r.getAs[Array[Byte]]("pixels").toSeq === pixel1)
    }
  }

  test("blurFrames(): the box list joins by broadcast, so the pixels are never shuffled") {
    // bag frames carry no size estimate, so without the hint the planner
    // picks a sort-merge join and only AQE may rescue it at run time
    val frames = RosbagReader.images(spark, bagPath)
    val regions = spark.createDataFrame(Seq(
      (bagPath, "/cam0/image_raw", 1600000000L * 1000000000L, 0L, 0L, 1L, 1L)
    )).toDF("bag", "topic", "time_ns", "region_x", "region_y", "region_w", "region_h")
    val plan = ImageOps.blurFrames(spark, frames, regions).queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftOuter")), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the box list is built from the regions alone, so the frames' source
    // is scanned once, by the pixel side
    val lake = Files.createTempDirectory("blurscan").resolve("frames").toString
    frames.write.parquet(lake)
    val fromLake = ImageOps.blurFrames(spark, spark.read.parquet(lake), regions)
      .queryExecution.executedPlan.toString
    assert(fromLake.linesIterator.count(_.contains("FileScan parquet")) === 1, fromLake)
  }

  test("resize(): executes the plan, feeds toPng") {
    val frames = RosbagReader.images(spark, bagPath)
    val out = ImageOps.resize(spark, frames, 1)
    val r = out.collect()(0)
    assert(r.getAs[Long]("width") === 1L && r.getAs[Long]("height") === 1L)
    assert(r.getAs[Long]("step") === 3L)
    assert(r.getAs[Array[Byte]]("pixels").toSeq === Seq[Byte](30, 40, 50))
    assert(out.columns.toSeq === frames.columns.toSeq)
    // resized frames flow into the PNG encoder unchanged
    val png = ImageOps.toPng(spark, out).collect()(0).png
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth === 1 && img.getHeight === 1)
    // no-upscale path: maxSide larger than dims passes buffers through
    val same = ImageOps.resize(spark, frames, 100).collect()(0)
    assert(same.getAs[Array[Byte]]("pixels").toSeq === Seq[Byte](10, 20, 30, 50, 60, 70))
  }

  test("Mp4Mux: stages ordered PNGs per recording and invokes the muxer") {
    val frames = RosbagReader.images(spark, bagPath)
    val out = Files.createTempDirectory("mp4out").toString
    // stand-in muxer (no ffmpeg in this container): records the staged
    // file list + fps into the "mp4", proving the invocation contract
    graft.jobs.Mp4Mux.mux(spark, frames, out, (dir, fps, outFile) =>
      Seq("/bin/sh", "-c", s"ls -1 $dir > $outFile && echo fps=$fps >> $outFile"))
    val made = new java.io.File(out).listFiles().map(_.getName).sorted
    assert(made.length === 1 && made(0).endsWith("__cam0_image_raw.mp4"))
    val lines = scala.io.Source.fromFile(s"$out/${made(0)}").getLines().toSeq
    // all 4 frames staged, ffmpeg's %04d naming, frame_no order
    assert(lines.take(4) === Seq("image_raw-0000.png", "image_raw-0001.png",
      "image_raw-0002.png", "image_raw-0003.png"))
    assert(lines.last.startsWith("fps=1.0")) // 4 frames over 3 s
  }

  test("blurPlan(): clamped regions joined to frames") {
    val frames = RosbagReader.images(spark, bagPath)
    val regions = spark.createDataFrame(Seq(
      (bagPath, "/cam0/image_raw", 1600000000L * 1000000000L, 0L, 0L, 1L, 1L)
    )).toDF("bag", "topic", "time_ns", "region_x", "region_y", "region_w", "region_h")
    // region key must match the frame's bag path as read by binaryFile (file:// prefix)
    val fr = frames.withColumn("bag", lit(bagPath))
    val plan = ImageOps.blurPlan(fr, regions).collect()
    assert(plan.length === 1)
    val p = plan(0)
    assert(p.getAs[Long]("x1") === 0L && p.getAs[Long]("x2") === 2L) // clamped to width
  }

  test("cropBoxes -> PNG -> TarShards: the patch-export path end to end") {
    import spark.implicits._
    import graft.jobs.TarShards
    val frames = RosbagReader.images(spark, bagPath).withColumn("bag", lit(bagPath))
    val t0 = 1600000000L * 1000000000L
    val regions = spark.createDataFrame(Seq(
      (bagPath, "/cam0/image_raw", t0, 0L, 0L, 1L, 1L),
      (bagPath, "/cam0/image_raw", t0 + 2_000_000_000L, 1L, 0L, 1L, 1L)
    )).toDF("bag", "topic", "time_ns", "region_x", "region_y", "region_w", "region_h")
    val patches = ImageOps.cropBoxes(spark, frames, regions)
    // crop patches encode to REAL PNGs and pack into a WebDataset shard
    val samples = ImageOps.toPng(spark,
        patches.withColumn("file_name",
          concat(lit("patch-"), col("time_ns"), lit("-"), col("x1"), lit(".png"))))
      .map(p => TarShards.Sample(
        p.file_name.stripSuffix(".png"),
        s"""{\"t\":${p.time_ns}}""", "png", p.png))
    val out = java.nio.file.Files.createTempDirectory("patchshards").toString
    TarShards.write(samples, out)
    val back = TarShards.read(spark, out).collect().sortBy(_.key)
    assert(back.length === 2)
    // every member decodes through the JDK's own PNG reader (1x1 rgb patch)
    back.foreach { sm =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(sm.payload))
      assert(img.getWidth === 1 && img.getHeight === 1)
    }
    // pixel 0 of frame 0 is rgb(10,20,30); pixel 1 of frame 2 is rgb(50,60,70)
    val first = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(back.head.payload))
    assert((first.getRGB(0, 0) & 0xffffff) === ((10 << 16) | (20 << 8) | 30))
    val second = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(back(1).payload))
    assert((second.getRGB(0, 0) & 0xffffff) === ((50 << 16) | (60 << 8) | 70))
  }

  test("PixelKernels.grayscale + dhash: exact luma, gradient fixed points") {
    // BT.601 integer luma: (299*10 + 587*20 + 114*30 + 500) / 1000 = 18
    val g = PixelKernels.grayscale(Array[Byte](10, 20, 30), 1, 1, 3, 3)
    assert((g(0) & 0xff) === (299 * 10 + 587 * 20 + 114 * 30 + 500) / 1000)
    // mono8 passes through, stride padding skipped
    val g2 = PixelKernels.grayscale(Array[Byte](7, 0, 0, 9, 0, 0), 1, 2, 1, 3)
    assert(g2.toSeq === Seq(7.toByte, 9.toByte))
    // a 9x8 image hits the resize's identity path: hand-computable bits.
    // strictly-increasing rows -> every gradient sign positive -> all 64
    // bits set; strictly-decreasing -> none
    def img(f: Int => Int): Array[Byte] =
      Array.tabulate[Byte](9 * 8)(i => f(i % 9).toByte)
    assert(PixelKernels.dhash(img(x => x * 28), 9, 8, 1, 9) === -1L)
    assert(PixelKernels.dhash(img(x => 224 - x * 28), 9, 8, 1, 9) === 0L)
  }

  private def frameRow(id: Long, px: Array[Byte]) =
    ("bags/a.bag", "/cam0/image_raw", id, 9L, 8L, "mono8", 9L, px)

  test("nearDupFrames: banded dHash pairs within the Hamming radius, never frame x frame") {
    import spark.implicits._
    def grad(mod: Map[(Int, Int), Int]): Array[Byte] =
      Array.tabulate[Byte](9 * 8) { i =>
        mod.getOrElse((i / 9, i % 9), (i % 9) * 28).toByte
      }
    val a = grad(Map.empty)                      // dhash = all bits set
    val b = grad(Map((0, 1) -> 0))               // flips bit (0,0) only -> hamming 1
    val b3 = grad(Map((0, 1) -> 0, (1, 1) -> 0, (2, 1) -> 0)) // 3 bits, rows 0..2
    val c = Array.tabulate[Byte](9 * 8)(i => (224 - (i % 9) * 28).toByte) // all clear
    val frames = Seq(
      frameRow(1L, a), frameRow(2L, a), frameRow(3L, b),
      frameRow(4L, b3), frameRow(5L, c)
    ).toDF("bag", "topic", "time_ns", "width", "height", "encoding", "step", "pixels")
    val pairs = ImageOps.nearDupFrames(spark, frames, maxHamming = 3)
      .orderBy("a_time_ns", "b_time_ns").collect()
      .map(r => (r.getAs[Long]("a_time_ns"), r.getAs[Long]("b_time_ns"),
        r.getAs[Int]("hamming")))
    // exact copy at 0; single-bit at 1; the 3-bit pair sits AT the radius
    // (pigeonhole across the 4 blocks must still surface it); the inverted
    // frame (hamming 64/61/62) never pairs
    assert(pairs.toSeq === Seq((1L, 2L, 0), (1L, 3L, 1), (1L, 4L, 3),
      (2L, 3L, 1), (2L, 4L, 3), (3L, 4L, 2)))
    // verify stage: a candidate surviving banding but beyond the radius is
    // rejected — at maxHamming=1 the 3-bit pair bands together (its three
    // differing bits share one 32-bit block) yet must not be reported
    val tight = ImageOps.nearDupFrames(spark, frames, maxHamming = 1)
      .orderBy("a_time_ns", "b_time_ns").collect()
      .map(r => (r.getAs[Long]("a_time_ns"), r.getAs[Long]("b_time_ns")))
    assert(tight.toSeq === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    intercept[IllegalArgumentException] {
      ImageOps.nearDupFrames(spark, frames, maxHamming = 16)
    }
  }

  test("dedupGroupsFrames: a drift chain collapses to one component; canonical is the min key") {
    import spark.implicits._
    def grad(mod: Map[(Int, Int), Int]): Array[Byte] =
      Array.tabulate[Byte](9 * 8) { i =>
        mod.getOrElse((i / 9, i % 9), (i % 9) * 28).toByte
      }
    // a ~ b (hamming 1), b ~ b3 (hamming 2) — but a ~ b3 is hamming 3: at
    // maxHamming=2 the PAIR view never links a to b3; the COMPONENT view
    // must chain them through b. The inverted frame is its own world.
    val a = grad(Map.empty)
    val b = grad(Map((0, 1) -> 0))
    val b3 = grad(Map((0, 1) -> 0, (1, 1) -> 0, (2, 1) -> 0))
    val c = Array.tabulate[Byte](9 * 8)(i => (224 - (i % 9) * 28).toByte)
    val frames = Seq(
      frameRow(1L, a), frameRow(2L, b), frameRow(3L, b3),
      frameRow(4L, c), frameRow(5L, c)
    ).toDF("bag", "topic", "time_ns", "width", "height", "encoding", "step", "pixels")
    // sanity: at radius 2 the a-b3 pair itself is absent
    val rawPairs = ImageOps.nearDupFrames(spark, frames, maxHamming = 2)
      .select("a_time_ns", "b_time_ns").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!rawPairs.contains((1L, 3L)), s"fixture broken: $rawPairs")
    val groups = ImageOps.dedupGroupsFrames(spark, frames, maxHamming = 2)
      .collect()
      .map(r => r.getAs[Long]("time_ns") ->
        (r.getAs[Long]("canon_time_ns"), r.getAs[Boolean]("is_canonical"))).toMap
    // the drift chain 1-2-3 is ONE component with frame 1 canonical
    assert(groups(1L) === (1L, true))
    assert(groups(2L) === (1L, false))
    assert(groups(3L) === (1L, false))
    // the exact-copy pair 4-5 is its own component, 4 canonical
    assert(groups(4L) === (4L, true))
    assert(groups(5L) === (4L, false))
    assert(groups.size === 5)
  }
}
