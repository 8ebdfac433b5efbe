package graft.jobs

import org.scalatest.funsuite.AnyFunSuite

/** The one flag grammar of `BagIngest.main` and `BagIngestStream.main`,
  * parsed without starting Spark. */
class BagIngestArgsSpec extends AnyFunSuite {
  import BagIngest.{parseArgs, Stages}

  private def batch(flags: String*) = parseArgs(Seq("bags", "out") ++ flags, stream = false)
  private def stream(flags: String*) = parseArgs(Seq("watch", "out", "ckpt") ++ flags, stream = true)
  private def rejected(parse: => Any): String = intercept[IllegalArgumentException](parse).getMessage

  test("the dedup stages default to a Hamming distance of 3, and =N is parsed") {
    assert(batch("--image-dedup", "--audio-dedup").stages === Stages(Some(3), Some(3)))
    assert(stream("--image-dedup=5", "--audio-dedup=1", "--voxel=0.25").stages ===
      Stages(Some(5), Some(1), Some(0.25)))
    assert(batch().stages === Stages())
    assert(rejected(batch("--image-dedup=x")).contains("not a number"))
  }

  test("the batch CLI's paths and own flags") {
    val a = batch("--png", "--blur-regions", "r.parquet")
    assert(a.paths === Seq("bags", "out"))
    assert(a.png && a.blurRegions === Some("r.parquet") && a.frameIndex.isEmpty)
  }

  test("the streaming CLI's paths and frame index") {
    val a = stream("--image-dedup", "--frame-index=lake")
    assert(a.paths === Seq("watch", "out", "ckpt"))
    assert(a.frameIndex === Some("lake") && !a.png && a.blurRegions.isEmpty)
  }

  test("a bare --voxel is rejected") {
    assert(rejected(batch("--voxel")).contains("--voxel requires an edge length"))
    assert(rejected(stream("--voxel")).contains("--voxel requires an edge length"))
  }

  test("--frame-index without a dedup flag is rejected") {
    assert(rejected(stream("--frame-index=lake")).contains("--frame-index requires"))
    assert(stream("--audio-dedup", "--frame-index=lake").frameIndex === Some("lake"))
  }

  test("--blur-regions without a path is rejected") {
    assert(rejected(batch("--blur-regions")).contains("requires a parquet path"))
    assert(rejected(batch("--blur-regions", "--png")).contains("requires a parquet path"))
  }

  test("an unknown flag, or the other CLI's, is rejected by each CLI") {
    assert(rejected(batch("--image-dedupe")).contains("unknown argument '--image-dedupe'"))
    assert(rejected(batch("--frame-index=lake")).contains("unknown argument"))
    assert(rejected(stream("--audio-dedupe=2")).contains("unknown argument"))
    // the PII regions are both CLIs' flag, so the streaming job takes it
    assert(stream("--blur-regions", "r.parquet").blurRegions === Some("r.parquet"))
    assert(rejected(stream("--png")).contains("unknown argument"))
    // a stray positional after the flags is not a flag this CLI takes either
    assert(rejected(batch("--png", "extra")).contains("unknown argument 'extra'"))
  }

  test("a missing path, or a flag where a path belongs, is rejected") {
    assert(rejected(parseArgs(Seq("bags"), stream = false)).contains("usage: BagIngest "))
    assert(rejected(parseArgs(Seq("--png", "bags", "out"), stream = false))
      .contains("expected 2 paths"))
    assert(rejected(parseArgs(Seq("watch", "--image-dedup", "out", "ckpt"), stream = true))
      .contains("usage: BagIngestStream "))
  }
}
