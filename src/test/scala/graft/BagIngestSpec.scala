package graft

import java.nio.file.Files

import org.apache.spark.GraftTestAccess

class BagIngestSpec extends SparkSpec {

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
    val e = intercept[Exception] {
      graft.jobs.BagIngest.run(spark, bag.toString, dir.resolve("lake").toString, writePng = true)
    }
    assert(msgs(e).exists(_.contains("no AudioInfo")), e)
    GraftTestAccess.drainListenerBus(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    assert(sc.getPersistentRDDs.keySet === cachedBefore, "the demux cache outlived the failed ingest")
  }
}
