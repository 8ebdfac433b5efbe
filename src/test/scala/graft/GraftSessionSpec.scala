package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SmallSortRule

/** The production mains' session shape. Only the wiring case starts a
  * session; the others read a `SparkConf`. */
class GraftSessionSpec extends AnyFunSuite {

  test("get() keeps the master and shuffle width spark-submit sets") {
    val conf = new SparkConf(false)
      .set("spark.master", "spark://head:7077")
      .set("spark.sql.shuffle.partitions", "400")
    assert(GraftSession.masterAndPartitions(conf, 4) === ("spark://head:7077", 400))
  }

  test("get() falls back to every local core for what spark-submit leaves unset") {
    assert(GraftSession.masterAndPartitions(new SparkConf(false), 4) === ("local[4]", 4))
    val masterOnly = new SparkConf(false).set("spark.master", "yarn")
    assert(GraftSession.masterAndPartitions(masterOnly, 6) === ("yarn", 6))
  }

  test("a GraftSession session runs SmallSortRule in AQE's query-stage preparation") {
    val s = GraftSession.builder("local[4]", 4).getOrCreate().asInstanceOf[ClassicSession]
    assert(s.sessionState.adaptiveRulesHolder.queryStagePrepRules.contains(SmallSortRule))
  }
}
