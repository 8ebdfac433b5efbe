package graftbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.ImageOps
import graft.sources.rosbag.{RosbagFormat, RosbagReader}

class BagCorpusSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  override def afterAll(): Unit = spark.stop()

  private def shape(bytes: Array[Byte]): Seq[(String, String, Int)] =
    RosbagFormat.parse(bytes).groupBy(m => (m.topic, m.datatype))
      .map { case ((t, d), ms) => (t, d, ms.size) }.toSeq.sorted

  test("the same seed gives identical bytes; another seed keeps the schema") {
    val (a, ta) = BagCorpus.bag(7, 3, repeatShare = 0.3)
    val (b, tb) = BagCorpus.bag(7, 3, repeatShare = 0.3)
    val (c, tc) = BagCorpus.bag(8, 3, repeatShare = 0.3)
    assert(java.util.Arrays.equals(a, b))
    assert(ta == tb)
    assert(!java.util.Arrays.equals(a, c))
    assert(shape(a) == shape(c))
    assert(ta.rows == tc.rows && ta.framesPerCamera == tc.framesPerCamera)
  }

  test("the bag uses uncompressed and lz4 chunks and parses to the truth counts") {
    val (bytes, truth) = BagCorpus.bag(3, 0, repeatShare = 0.0)
    val text = new String(bytes, "ISO-8859-1")
    assert(text.startsWith("#ROSBAG V2.0\n"))
    assert(text.contains("compression=none") && text.contains("compression=lz4"))
    val msgs = RosbagFormat.parse(bytes)
    val byTopic = msgs.groupBy(_.topic).map { case (t, ms) => t -> ms.size.toLong }
    BagCorpus.Cameras.foreach { case (t, _) => assert(byTopic(t) == truth.framesPerCamera(t)) }
    assert(msgs.count(_.msgDef.nonEmpty) == truth.rows("generic"))
    assert(msgs.size == truth.frames + BagCorpus.OdometryPerBag + BagCorpus.LaserPerBag +
      BagCorpus.WrenchPerBag + BagCorpus.StringsPerBag + BagCorpus.StatusPerBag)
  }

  test("RosbagReader reads back exactly the generator's ground-truth counts") {
    val dir = Files.createTempDirectory("graftbench-corpus").toFile
    val bags = BagCorpus.materialize(dir, 5, 2, repeatShare = 0.0)
    val path = "file:" + dir.getAbsolutePath + "/*.bag"
    val msgs = RosbagReader.messages(spark, path).persist()
    val truth = bags.map(_._2)
    def total(table: String) = truth.map(_.rows(table)).sum
    assert(RosbagReader.imagesOf(spark, msgs).count() == total("images"))
    assert(RosbagReader.odometryOf(spark, msgs).count() == total("odometry"))
    assert(RosbagReader.laserScansOf(spark, msgs).count() == total("laser"))
    assert(RosbagReader.wrenchOf(spark, msgs).count() == total("wrench"))
    assert(RosbagReader.stdMsgsOf(spark, msgs).count() == total("std_msgs"))
    assert(RosbagReader.genericMessagesOf(spark, msgs).count() == total("generic"))
    val perCam = RosbagReader.imagesOf(spark, msgs).groupBy("topic").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perCam == BagCorpus.Cameras.map(c => c._1 -> truth.map(_.framesPerCamera(c._1)).sum).toMap)
    msgs.unpersist()
  }

  test("dedup finds exactly the generator's distinct frames, replayed bursts included") {
    val dir = Files.createTempDirectory("graftbench-dedup").toFile
    val bags = BagCorpus.materialize(dir, 11, 6, repeatShare = 0.5)
    assert(bags.exists(_._2.duplicateBursts > 0))
    val frames = RosbagReader.images(spark, "file:" + dir.getAbsolutePath + "/*.bag")
    val canonical = ImageOps.totalFrameManifest(frames.select("bag", "topic", "time_ns"),
      ImageOps.dedupGroupsFrames(spark, frames, 3)).filter(col("is_canonical")).count()
    assert(canonical == BagCorpus.distinctFrames(bags.map(_._2)))
    assert(canonical < bags.map(_._2.frames).sum)
  }
}
