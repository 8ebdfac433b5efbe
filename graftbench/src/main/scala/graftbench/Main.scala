package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point: one workload, one seed, one fresh JVM.
  *
  * Usage: graftbench.Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  *
  * Load shape: a closed loop with one client thread against `local[N]`,
  * N = min(4, available processors), shuffle partitions = N. Set-up (a
  * GraftSession build plus the workload's untimed first pass) runs once,
  * cold, at the start of the JVM. With `--trace 1` the run first measures
  * untraced, then repeats the loop with spans and engine counters on and
  * replays each operation's public calls one layer at a time.
  *
  * Prints `metric <name> <value> <unit> [n=..] [p=..]` lines and, last,
  * `RESULT <json>`; the launcher turns that into the one-line result.
  */
object Main {
  val Workloads: Seq[String] = Seq("bag_ingest", "lake_queries")

  /** Per-layer metrics with their units: every traced run reports all of
    * them, 0 for a layer the workload does not reach. */
  val PerLayer: Seq[(String, String)] = Seq(
    "GraftSession.build_s" -> "s",
    "Tables.scan_s" -> "s", "Tables.files_discovered" -> "count",
    "Tables.filecache_hit_ratio" -> "ratio",
    "sources.rosbag.parse_mb_per_s" -> "MB/s", "sources.rosbag.demux_s" -> "s",
    "sources.rosbag.messages" -> "count", "sources.rosbag.bytes" -> "bytes") ++
    Seq("images", "laser", "odometry", "wrench", "std_msgs", "generic")
      .map(v => s"sources.rosbag.decode_s.$v" -> "s") ++ Seq(
    "multimodal.blur_s" -> "s", "multimodal.png_encode_s" -> "s",
    "multimodal.png_frames" -> "count", "multimodal.png_bytes_per_pixel_byte" -> "ratio",
    "multimodal.dedup_groups_s" -> "s", "multimodal.canonical_ratio" -> "ratio",
    "jobs.BagIngest.write_s" -> "s", "jobs.BagIngest.self_s" -> "s",
    "jobs.lake_bytes_written" -> "bytes", "jobs.files_written" -> "count",
    "jobs.FrameDedupIndex.probe_commit_s" -> "s", "jobs.SnapshotLake.commit_s" -> "s",
    "jobs.SnapshotLake.versions" -> "count", "jobs.SnapshotLake.read_latest_s" -> "s",
    "jobs.SnapshotLake.files_read_ratio" -> "ratio") ++
    graftbench.Workloads.LakeMix.map(q => s"operators.query_s.$q" -> "s") ++ Seq(
    "plans.plan_s" -> "s", "plans.codegen_compiles" -> "count", "plans.codegen_compile_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.scheduler_delay_s" -> "s", "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "spark.task_failures" -> "count") ++
    Seq("client", "Tables", "sources.rosbag", "multimodal", "jobs",
      "operators", "plans").map(l => s"self_s.$l" -> "s") ++ Seq(
    "trace.overhead_pct" -> "%")

  /** Counters reported per operation from the operation's own span. */
  private val OpCounters = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.scheduler_delay_s", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb", "spark.input_mb",
    "spark.output_mb", "spark.task_failures")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (known: ${Workloads.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Opts(w, need("seed").toLong, need("seconds").toDouble, trace == "1", new File(need("work")))
  }

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def buildSession(work: File): SparkSession = {
    val n = cores
    val s = GraftSession.builder(s"local[$n]", n)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap in use right after a full collection, in MB: each heap pool's
    * usage as the collector left it, so allocations by Spark's background
    * threads after the collection do not count. */
  def heapLiveMb(): Double = {
    // Spark's ContextCleaner drops shuffle and broadcast state only after
    // a collection has cleared the weak references to it: collect, give
    // the cleaner time, and keep the smallest reading
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
        .map(_.getCollectionUsage.getUsed).sum / 1048576.0
    }.min
  }

  /** The closed loop: operations back to back until `seconds` have passed
    * (or `maxOps` ran) and the workload is at a round boundary. */
  private def loop(spark: SparkSession, w: Workload, from: Int, seconds: Double,
      t: Tracer, g: Gauges, maxOps: Int = Int.MaxValue): Seq[(Int, OpResult)] = {
    val out = mutable.ArrayBuffer[(Int, OpResult)]()
    val t0 = System.nanoTime()
    var i = from
    while ((secondsSince(t0) < seconds && out.size < maxOps) || !w.canStopAfter(i - 1)) {
      t.nextOp()
      val r = t.span("client", "op")(w.op(spark, i, t))
      if (t.enabled) w.replay(spark, i, t, g)
      out += i -> r
      i += 1
    }
    out.toSeq
  }

  /** The typical operation latency: for query mixes the median over
    * queries of each query's median, otherwise the plain median. */
  private def p50(w: Workload, rs: Seq[(Int, OpResult)]): Double = w match {
    case q: graftbench.Workloads.LakeQueries =>
      Stats.median(rs.groupBy { case (i, _) => q.queryOf(i) }
        .values.map(v => Stats.median(v.map(_._2.latencyS))).toSeq)
    case _ => Stats.median(rs.map(_._2.latencyS))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.work.mkdirs()
    val w: Workload = o.workload match {
      case "bag_ingest"   => new graftbench.Workloads.BagIngestLoad(o.work, o.seed)
      case "lake_queries" => new graftbench.Workloads.LakeQueries(o.work, o.seed)
    }
    w.prepare()

    // set-up, cold: nothing has been loaded, compiled or cached in this JVM
    val codegen0 = EngineCounters.codegen()
    val t0 = System.nanoTime()
    val spark = buildSession(o.work)
    val buildS = secondsSince(t0)
    w.firstPass(spark)
    val setupS = secondsSince(t0)
    val setupCodegen = EngineCounters.codegen().map { case (k, v) => k -> (v - codegen0(k)) }
    System.err.println(f"graftbench: set-up took $setupS%.2f s")

    w.afterSetup(spark)
    val g = new Gauges
    val untraced = loop(spark, w, 0, o.seconds, Tracer.off, g)
    System.err.println(s"graftbench: measured ${untraced.size} operations")
    val heap = heapLiveMb()
    val metrics = mutable.LinkedHashMap[String, Map[String, Any]]()
    def metric(n: String, v: Double, unit: String, extra: (String, Any)*): Unit =
      metrics(n) = Map[String, Any]("value" -> v, "unit" -> unit) ++ extra
    val lat = untraced.map(_._2.latencyS)
    metric("setup_s", setupS, "s")
    metric("latency_p50_s", p50(w, untraced), "s", "samples" -> lat.size)
    Stats.tail(lat).foreach(tl =>
      metric("latency_tail_s", tl.value, "s", "samples" -> tl.samples, "percentile" -> tl.percentile))
    metric("ops_per_s", lat.size / lat.sum, "1/s", "samples" -> lat.size)
    metric("cpu_s_per_op", untraced.map(_._2.cpuS).sum / lat.size, "s", "samples" -> lat.size)
    metric("heap_live_mb", heap, "MB")
    w.workloadMetrics(untraced.map(_._2)).foreach { case (n, v, u) => metric(n, v, u) }
    val failed = untraced.count(!_._2.ok)
    metric("error_rate", failed.toDouble / untraced.size, "ratio", "samples" -> untraced.size)

    val perLayer = mutable.LinkedHashMap[String, Double]()
    var tracedOps = Seq.empty[(Int, OpResult)]
    if (o.trace) {
      val t = Tracer.on(spark)
      // the overhead compares the traced operations' p50 with the untraced
      // p50 (per query for a mix, so a whole round is traced)
      val traced = loop(spark, w, untraced.size, o.seconds, t, g,
        maxOps = math.min(untraced.size, w.tracedOps))
      tracedOps = traced
      t.detach()
      val spans = t.recorded
      val opSpans = spans.filter(_.layer == "client")
      val nOps = opSpans.map(_.op).distinct.size.toDouble
      // every layer span is named after the per-layer metric it times
      spans.filter(_.layer != "client").groupBy(_.name).foreach { case (n, ss) =>
        perLayer(n) = Stats.median(ss.map(_.duration / 1e9))
      }
      OpCounters.foreach { k =>
        val roots = spans.filter(s => s.layer == "client" && s.name == "op")
        perLayer(k) = roots.map(_.counters.getOrElse(k, 0.0)).sum / roots.size
      }
      val scans = spans.filter(_.layer == "Tables")
      if (scans.nonEmpty) {
        val disc = scans.map(_.counters.getOrElse("Tables.files_discovered", 0.0)).sum
        val hits = scans.map(_.counters.getOrElse("Tables.filecache_hits", 0.0)).sum
        perLayer("Tables.files_discovered") = disc / scans.size
        if (disc + hits > 0) perLayer("Tables.filecache_hit_ratio") = hits / (disc + hits)
      }
      Stats.selfTimeByLayer(spans).foreach { case (l, ns) => perLayer(s"self_s.$l") = ns / 1e9 / nOps }
      perLayer("GraftSession.build_s") = buildS
      perLayer ++= setupCodegen
      perLayer ++= g.medians
      perLayer.get("jobs.BagIngest.write_s").foreach { wr =>
        val parts = Seq("sources.rosbag.demux_s", "multimodal.blur_s", "multimodal.png_encode_s") ++
          Seq("images", "laser", "odometry", "wrench", "std_msgs", "generic").map(v => s"sources.rosbag.decode_s.$v")
        perLayer("jobs.BagIngest.self_s") = wr - parts.map(perLayer.getOrElse(_, 0.0)).sum
      }
      perLayer("trace.overhead_pct") = (p50(w, traced) / p50(w, untraced) - 1) * 100
      t.writeTo(new File(o.work, s"spans-${o.workload}-${o.seed}.jsonl"))
    }

    val context = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version, "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "load" -> "closed loop, one client thread")
    metrics.foreach { case (n, m) =>
      val extra = Seq("samples" -> "n", "percentile" -> "p").flatMap { case (k, s) =>
        m.get(k).map(v => s"$s=$v") }
      println((Seq("metric", n, m("value").toString, m("unit").toString) ++ extra).mkString(" "))
    }
    if (o.trace) PerLayer.foreach { case (n, u) =>
      println(s"layer $n ${perLayer.getOrElse(n, 0.0)} $u")
    }
    val all = untraced ++ tracedOps
    val allFailed = all.count(!_._2.ok)
    val result = Map(
      "attempted" -> all.size, "failed" -> allFailed, "correct" -> (allFailed == 0),
      "metrics" -> metrics, "per_layer" -> PerLayer.map { case (n, u) =>
        n -> Map("value" -> perLayer.getOrElse(n, 0.0), "unit" -> u) }.toMap,
      "context" -> context, "deferred" -> w.deferredChecks,
      "latencies_s" -> untraced.map { case (i, r) => Seq(w.label(i), r.latencyS) })
    spark.stop()
    println("RESULT " + Stats.json(result))
  }
}
