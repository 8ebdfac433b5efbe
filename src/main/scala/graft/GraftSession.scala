package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Single place for performance-relevant session configuration.
  *
  * The same confs run locally and on a cluster: AQE handles runtime
  * re-planning (skew joins, partition coalescing), the broadcast threshold
  * covers the dimension tables, and the caller picks the master and the
  * shuffle width ([[get]] takes both from spark-submit when it sets them,
  * else from the local core count).
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime bloom-filter pruning: a selective filter on one join side
      // injects a bloom filter into the other side's scan — at 100 TB this
      // is the difference between shuffling a full fact table and shuffling
      // the ~1% that can actually match; explicit so no Spark-version
      // default change can silently disable it
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // scan-split sizing for the core count: the default 128 MB cuts a
      // ~700 MB single-file table (events at the sf10 audit scale) into
      // ~6 splits, so every pre-shuffle map stage (filters, per-row
      // expressions feeding the first groupBy/window exchange) runs on 6
      // of 32 cores (measured: q23 at CPU/wall 1.5). 32 MB keeps map
      // stages core-saturated at audit scale and is a no-op on the small
      // SFs; a real cluster sizes this against ITS executor count.
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // The lake has shipped events.ts both as TIMESTAMP(NANOS) and as
      // timestamp[us]. This conf only affects nanos-typed files: it reads
      // them as an epoch-nanos long instead of rejecting them in the
      // vectorized reader. The engine-wide long-nanos `ts` convention is
      // enforced schema-adaptively in Tables.normalizeTs, which also maps
      // µs-typed timestamps to unix_micros*1000.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // DetectAmbiguousSelfJoin false-positives on rollup-after-join plans
      // (the Expand duplicates grouping attributes); no self-joins here rely
      // on dataset-id disambiguation, so the check is safe to disable.
      .config("spark.sql.analyzer.failAmbiguousSelfJoin", "false")
      .config("spark.ui.enabled", "false")

  /** The master and shuffle width for [[get]]: the `spark.master` and
    * `spark.sql.shuffle.partitions` already in `conf` (spark-submit and
    * `-Dspark.*` put them there), else `local[cores]` and `cores`.
    */
  private[graft] def masterAndPartitions(conf: SparkConf, cores: Int): (String, Int) =
    (conf.get("spark.master", s"local[$cores]"),
      conf.getOption("spark.sql.shuffle.partitions").fold(cores)(_.toInt))

  /** The session of the production mains. */
  def get(): SparkSession = {
    val (master, shufflePartitions) =
      masterAndPartitions(new SparkConf(), Runtime.getRuntime.availableProcessors)
    val s = builder(master, shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
