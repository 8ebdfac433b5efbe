package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.SnapshotLake
import graft.operators.PointCloudOps

/** The LIDAR drift gauge: q110's PSI arithmetic over per-sweep point
  * population against a frozen healthy-recording reference — identical
  * batches read EXACTLY 0, a beam-dropout batch alarms, an empty batch
  * reads NULL, and the per-batch commit is idempotent (the FrameDriftSpec
  * contract, fifth modality).
  */
class CloudDriftSpec extends SparkSpec {

  /** Synthetic point frame: sweep t carries `n` points. */
  private def pointsOf(sweeps: (Long, Int)*): DataFrame = {
    import spark.implicits._
    sweeps.flatMap { case (t, n) =>
      (0 until n).map(i =>
        ("bags/w.bag", "/lidar/points", t, i.toDouble, 0.0, 0.0, 1.0))
    }.toDF("bag", "topic", "time_ns", "x", "y", "z", "intensity")
  }

  // a healthy recording with SPREAD populations (40 sweeps, 10..49
  // returns): deciles are meaningful, identical re-lands cancel exactly
  private def healthy: DataFrame =
    pointsOf((0 until 40).map(i => (i.toLong, 10 + i)): _*)

  test("population PSI: identical batch reads exactly 0; a beam-dropout " +
    "batch alarms past 0.25; an empty batch reads NULL") {
    val ref = PointCloudOps.cloudDriftReference(healthy)
    assert(ref.counts.sum === 40L)

    val same = PointCloudOps.cloudDrift(healthy, ref).collect()
    same.foreach { r =>
      assert(r.getAs[Double]("term") === 0.0,
        s"bucket ${r.getLong(0)}: identical batch must read 0")
    }

    // a dying lidar: per-sweep returns collapse into the bottom bucket —
    // the strongest redistribution, far past the alarm
    val dropout = PointCloudOps.cloudDrift(
      pointsOf((100 until 140).map(i => (i.toLong, 1)): _*), ref)
      .collect().map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(dropout(-1L).getAs[Double]("term") > 0.25,
      s"dropout-batch PSI ${dropout(-1L).getAs[Double]("term")} under the alarm")
    assert(dropout(1L).getAs[Long]("n_new") === 40L,
      "starved sweeps must land in bucket 1")

    // a batch with no lidar sweeps: NO READING, never a spurious alarm
    val empty = PointCloudOps.cloudDrift(pointsOf(), ref)
      .collect().map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(empty(-1L).isNullAt(empty(-1L).fieldIndex("term")),
      "empty batch must read NULL")
  }

  test("streaming ingest lands the gauge per batch in <out>/cloud_drift, " +
    "batch-id idempotent; a dropout bag alarms in its own batch row set") {
    val watch = Files.createTempDirectory("pdr-watch")
    val out = Files.createTempDirectory("pdr-out").toString
    val ckpt = Files.createTempDirectory("pdr-ckpt").toString
    def bagOf(populations: Seq[Int]): Array[Byte] = {
      val inner = BagWriter.connection(0, "/lidar/points", "sensor_msgs/PointCloud2") ++
        populations.zipWithIndex.flatMap { case (n, i) =>
          BagWriter.message(0, 1600000000L + i, 0,
            BagWriter.pointCloud2Payload(
              (0 until n).map(j => (j.toFloat, 0.0f, 0.0f, 1.0f))))
        }
      BagWriter.bag(BagWriter.bagHeader, BagWriter.chunk(inner, bz2 = false))
    }
    val ref = PointCloudOps.cloudDriftReference(healthy)
    val table = s"$out/cloud_drift"

    // batch 0: the healthy distribution re-landed — gauge reads 0
    Files.write(watch.resolve("a.bag"), bagOf((0 until 40).map(10 + _)))
    val q = graft.jobs.BagIngestStream.start(spark, watch.toString, out, ckpt,
      stream = graft.jobs.BagIngest.StreamInputs(cloudDrift = Some(ref)))
    try {
      q.processAllAvailable()
      val b0 = SnapshotLake.read(spark, table)
        .filter(col("ingest_batch") === 0L).collect()
        .map(r => r.getAs[Long]("bucket") -> r).toMap
      assert(b0(-1L).getAs[Double]("term") === 0.0, "healthy batch must read 0")

      // batch 1: beam dropout — the gauge alarms, batch 0's rows stay
      // untouched beside it
      Files.write(watch.resolve("b.bag"), bagOf(Seq.fill(40)(1)))
      q.processAllAvailable()
      val b1 = SnapshotLake.read(spark, table)
        .filter(col("ingest_batch") === 1L).collect()
        .map(r => r.getAs[Long]("bucket") -> r).toMap
      assert(b1(-1L).getAs[Double]("term") > 0.25,
        s"dropout bag must alarm; read ${b1(-1L).getAs[Double]("term")}")
      assert(SnapshotLake.read(spark, table)
        .filter(col("ingest_batch") === 0L).count() === 11L,
        "batch 0 rows must survive batch 1's commit")
    } finally q.stop()
    assert(SnapshotLake.versions(spark, table).size === 2)

    // idempotence: a redelivered batch id is a no-op commit
    graft.jobs.BagIngest.writeTablesOf(spark,
      graft.sources.rosbag.RosbagReader.messages(spark, watch.resolve("b.bag").toString),
      out, writePng = false, None, batch = Some(graft.jobs.BagIngest.StreamBatch(1L,
        graft.jobs.BagIngest.StreamInputs(cloudDrift = Some(ref)))))
    assert(SnapshotLake.versions(spark, table).size === 2,
      "a redelivered batch must not land a new gauge version")
  }
}
