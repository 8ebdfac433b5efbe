package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** [[graft.plans.SmallSortRule]]: a global sort of a small result sorts in
  * one partition, with no range-bounds sampling job, and returns the same
  * rows in the same order. Both sides of the threshold are pinned with
  * Spark's own `advisoryPartitionSizeInBytes`: at 1 byte no result is
  * small, so the range exchange and its sampling job come back.
  */
class SmallSortRuleSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def query(q: String): DataFrame = SparkEntry.queries(q)(spark, sf)

  /** Run `f` with no result small enough for the rule. */
  private def ruleOff[T](f: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "1")
    try f finally spark.conf.unset(key)
  }

  /** Collect `df`, counting the Spark jobs the collect runs. */
  private def collectCountingJobs(df: DataFrame): (Array[Row], Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftTestAccess.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val rows = df.collect()
      GraftTestAccess.drainListenerBus(sc)
      (rows, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The partitioning of the exchange under the global sort in the AQE
    * final plan of an executed `df`. */
  private def sortExchange(df: DataFrame): Partitioning = {
    val sorts = collect(df.queryExecution.executedPlan) { case s: SortExec if s.global => s }
    assert(sorts.size === 1, df.queryExecution.executedPlan)
    collect(sorts.head.child) { case e: ShuffleExchangeExec => e.outputPartitioning }.head
  }

  test("q20: the global sort's exchange is one partition, and the query runs one job fewer") {
    val on = query("q20_frame_index")
    val (rowsOn, jobsOn) = collectCountingJobs(on)
    assert(sortExchange(on) === SinglePartition)
    ruleOff {
      val off = query("q20_frame_index")
      val (rowsOff, jobsOff) = collectCountingJobs(off)
      assert(sortExchange(off).isInstanceOf[RangePartitioning])
      assert(jobsOn === jobsOff - 1, s"rule on: $jobsOn jobs, rule off: $jobsOff jobs")
      assert(rowsOn.toSeq === rowsOff.toSeq)
    }
  }

  test("every sorted lake-mix query returns the same rows in the same order either way") {
    for (q <- Seq("q01_pricing_summary", "q07_window_rank", "q11b_topk_agg", "q20_frame_index",
        "q23_detect_maxconf", "q24_vru_filter", "q29b_det_eval", "q111_sensor_sync")) {
      val on = query(q).collect().toSeq
      val off = ruleOff(query(q).collect().toSeq)
      assert(on.nonEmpty, q)
      assert(on === off, q)
    }
  }

  test("a user repartitionByRange keeps its range partitions under a global sort") {
    val df = spark.range(0, 1000, 1, 4).toDF().repartitionByRange(4, col("id")).orderBy("id")
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L until 1000L))
    sortExchange(df) match {
      case RangePartitioning(_, n) => assert(n === 4)
      case other => fail(s"expected 4 range partitions, got $other")
    }
  }
}
