package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.jobs.AnnIndexBuild
import graft.operators.SimilarityOps

class AnnIndexSpec extends SparkSpec {

  // one deterministic build shared by every test (same sf input each time)
  private lazy val idx: String = {
    val out = java.nio.file.Files.createTempDirectory("annindex").toString
    AnnIndexBuild.build(spark, sf, out)
    out
  }

  test("search over the prebuilt index is bit-identical to the recompute query (q70b)") {
    // at the SERVING default (the q68c operating point — what a bare
    // search() actually runs)...
    val fromIndex = AnnIndexBuild.search(spark, idx, sf).collect().toSeq
    val recompute = SimilarityOps.knnIvfPq(spark, sf, nProbe = SimilarityOps.IvfProbesServing).collect().toSeq
    // same rows, same order, same DOUBLE bits in adc_dist: the persisted
    // codes + broadcast LUT reproduce the in-query ADC chain exactly
    assert(fromIndex === recompute)
    assert(fromIndex.nonEmpty)
    // ...and at q70b's oracle-pinned constant, explicitly
    assert(AnnIndexBuild.search(spark, idx, sf, nProbe = SimilarityOps.IvfProbes)
      .collect().toSeq === SimilarityOps.knnIvfPq(spark, sf).collect().toSeq)
  }

  test("autoK: exact power-of-two boundaries, floor 16") {
    import SimilarityOps.autoK
    assert(autoK(0) === 16 && autoK(1) === 16 && autoK(256) === 16)
    assert(autoK(257) === 32)           // 16² = 256 < 257
    assert(autoK(1024) === 32)          // 32² = 1024 covers exactly
    assert(autoK(1025) === 64)
    assert(autoK(490) === 32)           // the sf0.01 gate corpus
    assert(autoK(199990) === 512)       // the sf10 scale lake
    // k grows as √n: per-decade growth ~√10, never the corpus's 10×
    assert(autoK(199990) <= 4 * autoK(19990))
  }

  test("auto quantizer: live training reproduces the frozen gate artifact bit-exactly") {
    // the generated-oracle contract behind q46d/q54b/q68d: the DuckDB
    // side replays assignment from IvfCentroidsAuto, the Spark side
    // trains live — parity only means anything if these are THE SAME
    // doubles. A drifted trainer, a changed dial constant, or a stale
    // freeze after a lake regeneration all fail HERE with a named cause
    // (refreeze via TrainQuantizers --auto).
    val (k, live) = SimilarityOps.autoQuantizer(spark, "/root/testdata/sf0.01")
    assert(k === graft.operators.IvfCentroidsAuto.k,
      s"auto k drifted: live $k vs frozen ${graft.operators.IvfCentroidsAuto.k}")
    val frozen = graft.operators.IvfCentroidsAuto.values
    assert(live.length === frozen.length)
    live.indices.foreach { c =>
      assert(live(c).toSeq === frozen(c).toSeq, s"centroid $c drifted from the freeze")
    }
  }

  test("auto balance: every corpus vector lands in exactly one list; pop beats the frozen-16 arm") {
    val d = "/root/testdata/sf0.01"
    val auto = SimilarityOps.ivfListBalanceAuto(spark, d).collect()
      .map(r => r.getAs[Long]("list_id") -> r.getAs[Long]("n_vectors")).toMap
    val n = Tables.embeddings(spark, d).filter(col("vec_id") >= 10).count()
    assert(auto.values.sum === n, "assignment lost or duplicated vectors")
    // the point of the auto dial: more lists than the frozen 16 on this
    // corpus (k=32 at n=490), so the dominant list is strictly smaller
    // than the frozen arm's — per-list pop tracks √n instead of n
    val frozenMax = SimilarityOps.ivfListBalance(spark, d).collect()
      .map(_.getAs[Long]("n_vectors")).max
    assert(auto.values.max < frozenMax,
      s"auto max pop ${auto.values.max} not below frozen-16 max $frozenMax")
  }

  test("property: assignListsKernel == the declarative broadcast-join argmax (ties included)") {
    // the kernel replaced q46b's join shape for corpus-sized k — this
    // differential pins that the two formulations are the SAME function
    // (same cosine folds, same smallest-list tie-break) on random inputs
    // plus a deliberate duplicate-centroid tie
    import spark.implicits._
    import graft.functions.VectorFunctions._
    val rng = new scala.util.Random(42)
    for (k <- Seq(3, 17, 32)) {
      val dim = 64
      val base = Array.fill(k - 1)(Array.fill(dim)(rng.nextDouble() - 0.5))
      val cents = base :+ base(0).clone() // last centroid duplicates list 0
      val emb = (0 until 200).map(i =>
        (i.toLong, Seq.fill(dim)(rng.nextDouble() - 0.5))).toDF("vec_id", "v")
      val kernel = SimilarityOps.assignListsKernel(spark, emb, cents)
        .select("vec_id", "list_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val decl = emb.withColumn("nrm", norm(col("v")))
        .join(broadcast(SimilarityOps.centroidTableOf(spark, cents)))
        .withColumn("csim", cosine(col("v"), col("cv"), col("nrm"), col("cnrm")))
        .groupBy("vec_id")
        .agg(max_by(col("list_id"), struct(col("csim"), -col("list_id"))).as("list_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(kernel === decl, s"k=$k")
      // every vector nearest the duplicated direction must resolve to
      // list 0, never the duplicate — proving the tie-break is exercised
      assert(!kernel.values.exists(_ == (k - 1).toLong), s"k=$k: tie went to the duplicate")
    }
  }

  test("q68d recall row: sane bounds and agreement with an independent recompute") {
    val d = "/root/testdata/sf0.01"
    val rows = SimilarityOps.annRecallAuto(spark, d).collect()
    assert(rows.length === 10) // the 10-query convention
    rows.foreach { r =>
      val nExact = r.getAs[Long]("n_exact")
      val hits = r.getAs[Long]("auto_hits")
      assert(nExact === 3L)
      assert(hits >= 0L && hits <= nExact)
      assert(r.getAs[Double]("auto_recall") === hits.toDouble / nExact)
    }
    // independent recompute: hits = |bruteforce top-3 ∩ auto top-3|
    val bf = SimilarityOps.knnBruteForce(spark, d, k = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val auto = SimilarityOps.knnIvfAuto(spark, d).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val expect = bf.intersect(auto).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("auto_hits") === expect.getOrElse(r.getAs[Long]("q_id"), 0L))
    }
  }

  test("q68e auto curve: monotone in nprobe, exact brute-force ceiling at nprobe = k") {
    val d = "/root/testdata/sf0.01"
    val (k, _) = SimilarityOps.autoQuantizer(spark, d)
    val rows = SimilarityOps.annRecallCurveAuto(spark, d).collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Double]("auto_recall"))).sortBy(_._1)
    assert(rows.map(_._1) === Seq(1L, 2L, 4L, 8L, 16L, 32L))
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b._2 >= a._2, s"recall fell ${a._1}->${b._1}")
      case _ => ()
    }
    // the sweep's last point probes ALL k lists on the gate corpus
    // (autoK(490) = 32) — that IS brute force, recall exactly 1.0
    assert(rows.last._1 === k.toLong, s"gate sweep should end at k=$k")
    assert(rows.last._2 === 1.0, s"ceiling: ${rows.last._2}")
  }

  test("q101 prototype prune: per-cluster cut exact, ranks dense, the cluster core is what leaves") {
    val d = "/root/testdata/sf0.01"
    val rows = SimilarityOps.prototypePrune(spark, d).collect()
    // one row per searchable corpus vector (the 490-vector gate split)
    assert(rows.length === 490)
    val byList = rows.groupBy(_.getAs[Long]("list_id"))
    byList.foreach { case (lid, rs) =>
      val n = rs.length.toLong
      rs.foreach(r => assert(r.getAs[Long]("n_list") === n, s"list $lid"))
      // ranks are a dense 1..n permutation ordered by descending score
      val sorted = rs.sortBy(_.getAs[Long]("proto_rank"))
      assert(sorted.map(_.getAs[Long]("proto_rank")).toSeq === (1L to n).toSeq, s"list $lid")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("proto_cos") >= b.getAs[Double]("proto_cos"), s"list $lid")
        case _ => ()
      }
      // EXACTLY ceil(0.25·n) rows pruned, and they are the TOP ranks —
      // D4 removes the prototypical core, keeps the boundary
      val cut = math.ceil(0.25 * n).toLong
      val (pruned, kept) = rs.partition(!_.getAs[Boolean]("keep"))
      assert(pruned.length.toLong === cut, s"list $lid: ${pruned.length} != $cut")
      assert(pruned.forall(_.getAs[Long]("proto_rank") <= cut), s"list $lid")
      assert(kept.forall(_.getAs[Long]("proto_rank") > cut), s"list $lid")
    }
    // clusters are the auto quantizer's assignment — same kernel, same
    // centroids (the differential kernel property pins the kernel itself)
    val (_, cents) = SimilarityOps.autoQuantizer(spark, d)
    val expect = SimilarityOps.assignListsKernel(spark,
        Tables.embeddings(spark, d).filter(col("vec_id") >= 10)
          .select(col("vec_id"), graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")),
        cents)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("list_id")).toMap
    rows.foreach(r => assert(
      r.getAs[Long]("list_id") === expect(r.getAs[Long]("vec_id"))))
    intercept[IllegalArgumentException] { SimilarityOps.prototypePrune(spark, d, pruneFrac = 1.0) }
  }

  test("q103 cluster map: partitions the corpus; entropy/top-source agree with a recompute") {
    val d = "/root/testdata/sf0.01"
    val rows = SimilarityOps.clusterMap(spark, d).collect()
    // every searchable vector has a doc (vec_id = doc_id) — the map
    // partitions the 490-vector gate corpus across clusters
    assert(rows.map(_.getAs[Long]("n_docs")).sum === 490L)
    // independent recompute of the per-cluster source distribution
    val (_, cents) = SimilarityOps.autoQuantizer(spark, d)
    val asg = SimilarityOps.assignListsKernel(spark,
        Tables.embeddings(spark, d).filter(col("vec_id") >= 10)
          .select(col("vec_id"), graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")),
        cents)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("list_id")).toMap
    val srcOf = Tables.documents(spark, d).select("doc_id", "source").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val byList = asg.toSeq.groupBy(_._2).view
      .mapValues(_.map { case (id, _) => srcOf(id) }).toMap
    rows.foreach { r =>
      val lid = r.getAs[Long]("list_id")
      val srcs = byList(lid)
      assert(r.getAs[Long]("n_docs") === srcs.size.toLong, s"list $lid")
      // entropy within [0, ln(#distinct sources)] (+ carrier rounding)
      val ent = r.getAs[Double]("src_entropy")
      val nDistinct = srcs.distinct.size
      assert(ent >= -1e-6 && ent <= math.log(nDistinct.toDouble) + 1e-6,
        s"list $lid: entropy $ent outside [0, ln($nDistinct)]")
      // dominant source: max count, ties to the lexicographically least
      val counts = srcs.groupBy(identity).view.mapValues(_.size).toMap
      val best = counts.toSeq.sortBy { case (src, n) => (-n, src) }.head._1
      assert(r.getAs[String]("top_source") === best, s"list $lid")
      val sc = r.getAs[Double]("avg_score")
      assert(sc > 0.0 && sc <= 1.0, s"list $lid: avg_score $sc")
    }
  }

  test("the serving default nprobe is the q68c operating point: >= 0.9 of brute force on the gate corpus") {
    // the q68c curve on the gate corpus (sf0.01, 300-query split): the
    // raw-IVF arm's recall@3 at the serving default must clear 0.9 of
    // the brute-force ceiling (= recall 1.0 at nprobe = lists). A
    // retrained quantizer that invalidates the documented operating
    // point fails here instead of silently serving a stale dial.
    val curve = SimilarityOps.annRecallCurve(spark, "/root/testdata/sf0.01",
        probes = Seq(SimilarityOps.IvfProbesServing, 16))
      .collect().map(r => r.getAs[Long]("nprobe") -> r.getAs[Double]("ivf_recall")).toMap
    val ceiling = curve(16L)
    val atDefault = curve(SimilarityOps.IvfProbesServing.toLong)
    assert(ceiling === 1.0, s"nprobe=lists must hit the exact ceiling, got $ceiling")
    assert(atDefault >= 0.9 * ceiling,
      s"serving default nprobe=${SimilarityOps.IvfProbesServing} recall $atDefault < 0.9*$ceiling")
  }

  test("probes become partition pruning: the scan carries a list_id partition filter") {
    val df = AnnIndexBuild.search(spark, idx, sf, k = 3, nProbe = 1)
    // sparkPlan, not executedPlan: AQE wraps the tree in an
    // AdaptiveSparkPlanExec leaf that collect() cannot see through
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains(idx)) => f
    }
    assert(scans.nonEmpty, df.queryExecution.sparkPlan.toString)
    val scan = scans.head
    // the probe list is a literal IN over the list_id PARTITION column —
    // pruning happens at planning, before any file opens
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "list_id")),
      scan.partitionFilters.mkString("; "))
    // 10 queries x 1 probe -> at most 10 of the 16 list directories open
    assert(scan.selectedPartitions.partitionCount <= 10,
      s"scan opened ${scan.selectedPartitions.partitionCount} partitions")
    // the index itself carries the codes only — no float embedding column
    assert(!spark.read.parquet(idx).columns.contains("v"))
  }

  test("auto-k persisted index: sidecar quantizer, partition pruning, bit-exact ADC, loud cross-search") {
    val out = java.nio.file.Files.createTempDirectory("annauto").toString
    graft.jobs.AnnIndexBuild.buildAuto(spark, sf, out)

    val res = graft.jobs.AnnIndexBuild.searchAuto(spark, out, sf, k = 3, nProbe = 2)
    // partition pruning holds with the sidecar-resolved probe list
    val scans = res.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains(out)) => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "list_id")),
      scans.head.partitionFilters.mkString("; "))
    val got = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))

    // INDEPENDENT driver-side recompute, same IEEE fold orders: sidecar
    // centroids -> probe top-2 lists per query -> ADC over the probed
    // codes against PqCodebooks -> (adc ASC, id ASC) top-3
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var t = 0.0; var i = 0
      while (i < a.length) { t += a(i) * b(i); i += 1 }; t
    }
    val cents = spark.read.parquet(s"$out/_quantizer").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val codes = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Number]("list_id").longValue(),
        r.getAs[scala.collection.Seq[Long]]("codes").toArray))
    val books = graft.operators.PqCodebooks.values
    val expect = queries.flatMap { case (qid, qv) =>
      val qnrm = math.sqrt(dot(qv, qv))
      val probed = cents.map { case (lid, cv) =>
        (lid, dot(qv, cv) / (qnrm * math.sqrt(dot(cv, cv))))
      }.sortBy { case (lid, cos) => (-cos, lid) }.take(2).map(_._1).toSet
      val scored = codes.filter(c => probed(c._2)).map { case (vid, _, cs) =>
        // per-sub fold then fixed-order d0..d7 reduce, as adcRank does
        val dsubs = Array.tabulate(8) { sub =>
          var acc = 0.0; var i = 0
          while (i < 8) {
            val x = qv(sub * 8 + i) - books(sub)(cs(sub).toInt)(i)
            acc += x * x; i += 1
          }
          acc
        }
        (vid, dsubs.reduceLeft(_ + _))
      }.sortBy { case (vid, d) => (d, vid) }.take(3)
      scored.zipWithIndex.map { case ((vid, d), i) => (qid, vid, d, (i + 1).toLong) }
    }.sortBy(t => (t._1, t._4))
    assert(got.sortBy(t => (t._1, t._4)).toSeq === expect.toSeq)
    assert(got.nonEmpty)

    // cross-search fails LOUDLY in both directions (wrong quantizer would
    // silently rank against wrong candidates)
    val e1 = intercept[IllegalArgumentException](
      graft.jobs.AnnIndexBuild.search(spark, out, sf))
    assert(e1.getMessage.contains("raw-auto"))
    val e2 = intercept[IllegalArgumentException](
      graft.jobs.AnnIndexBuild.searchAuto(spark, idx, sf))
    assert(e2.getMessage.contains("raw"))
  }

  test("residual index: search is bit-identical to the recompute query (q70c)") {
    val out = java.nio.file.Files.createTempDirectory("annres").toString
    AnnIndexBuild.build(spark, sf, out, residual = true)
    val fromIndex = AnnIndexBuild.search(spark, out, sf, residual = true).collect().toSeq
    val recompute = SimilarityOps.knnIvfPqResidual(spark, sf, nProbe = SimilarityOps.IvfProbesServing).collect().toSeq
    // the persisted residual codes + per-(query, list) LUT reproduce
    // q70c's two-subtraction ADC chain exactly, double bits included
    assert(fromIndex === recompute)
    assert(fromIndex.nonEmpty)
    // residual coding genuinely differs from raw — identical results
    // would mean the flag reached neither the books nor the LUT
    assert(fromIndex !== SimilarityOps.knnIvfPq(spark, sf, nProbe = SimilarityOps.IvfProbesServing).collect().toSeq)

    // probes still prune: the residual path keeps the partition-filter scan
    val df = AnnIndexBuild.search(spark, out, sf, k = 3, nProbe = 1, residual = true)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains(out)) => f
    }
    assert(scans.nonEmpty, df.queryExecution.sparkPlan.toString)
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "list_id")),
      scans.head.partitionFilters.mkString("; "))

    // the coding marker refuses a cross-coded search outright
    val e = intercept[IllegalArgumentException](AnnIndexBuild.search(spark, out, sf))
    assert(e.getMessage.contains("residual"))
    val e2 = intercept[IllegalArgumentException](
      AnnIndexBuild.search(spark, idx, sf, residual = true))
    assert(e2.getMessage.contains("raw"))
    // ... and a MISSING marker fails too (advisor finding): an index dir
    // this tool didn't write must not be scored with guessed semantics
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out, "_coding"), false)
    val e3 = intercept[IllegalArgumentException](
      AnnIndexBuild.search(spark, out, sf, residual = true))
    assert(e3.getMessage.contains("_coding"))
  }

  test("OPQ-residual index: search is bit-identical to the recompute query (q70e)") {
    val out = java.nio.file.Files.createTempDirectory("annopq").toString
    AnnIndexBuild.buildOpq(spark, sf, out)
    val fromIndex = AnnIndexBuild.searchOpq(spark, out, sf).collect().toSeq
    val recompute = SimilarityOps.knnIvfPqOpq(spark, sf,
      nProbe = SimilarityOps.IvfProbesServing).collect().toSeq
    // persisted rotated-residual codes + the driver-side rotate-then-ADC
    // LUT reproduce q70e's kernel chain exactly, double bits included
    assert(fromIndex === recompute)
    assert(fromIndex.nonEmpty)
    // the rotation genuinely reaches the codes — identical results to
    // the plain-residual arm would mean it reached neither side
    assert(fromIndex !== SimilarityOps.knnIvfPqResidual(spark, sf,
      nProbe = SimilarityOps.IvfProbesServing).collect().toSeq)

    // probes still prune: the OPQ path keeps the partition-filter scan
    val df = AnnIndexBuild.searchOpq(spark, out, sf, k = 3, nProbe = 1)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains(out)) => f
    }
    assert(scans.nonEmpty, df.queryExecution.sparkPlan.toString)
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "list_id")),
      scans.head.partitionFilters.mkString("; "))

    // cross-coded searches fail loudly in BOTH directions
    val e = intercept[IllegalArgumentException](AnnIndexBuild.search(spark, out, sf))
    assert(e.getMessage.contains("opq-residual"))
    val e2 = intercept[IllegalArgumentException](AnnIndexBuild.searchOpq(spark, idx, sf))
    assert(e2.getMessage.contains("raw"))
  }

  test("versioned coding guard: cross-coded search/append fail; pinned versions keep their own coding") {
    val table = java.nio.file.Files.createTempDirectory("anncoding").toString
    val v1 = AnnIndexBuild.buildVersioned(spark, sf, table) // raw
    // cross-coded search fails on the manifest property, before any scan
    val e = intercept[IllegalArgumentException](
      AnnIndexBuild.searchVersioned(spark, table, sf, residual = true))
    assert(e.getMessage.contains("raw"))
    // cross-coded APPEND fails the same way (raw codes mixed into a
    // residual table would corrupt ranks exactly like a cross-coded read)
    val e2 = intercept[IllegalArgumentException](AnnIndexBuild.appendVersioned(spark,
      Tables.embeddings(spark, sf).limit(5), table, residual = true))
    assert(e2.getMessage.contains("raw"))
    // a residual v2 rebuild flips the table's coding; v1 pinned stays raw
    val v2 = AnnIndexBuild.buildVersioned(spark, sf, table, residual = true)
    assert(AnnIndexBuild.searchVersioned(spark, table, sf, residual = true).collect().toSeq
      === SimilarityOps.knnIvfPqResidual(spark, sf, nProbe = SimilarityOps.IvfProbesServing).collect().toSeq)
    val e3 = intercept[IllegalArgumentException](
      AnnIndexBuild.searchVersioned(spark, table, sf, version = Some(v1), residual = true))
    assert(e3.getMessage.contains("raw"))
    assert(AnnIndexBuild.searchVersioned(spark, table, sf, version = Some(v1)).collect().toSeq
      === SimilarityOps.knnIvfPq(spark, sf, nProbe = SimilarityOps.IvfProbesServing).collect().toSeq)
    assert(v2 === v1 + 1)
  }

  test("residual versioned index: append + search match the residual recompute") {
    import spark.implicits._
    val half = java.nio.file.Files.createTempDirectory("annreshalf").toString
    val emb = Tables.embeddings(spark, sf)
    emb.filter(col("vec_id") < 10 || col("vec_id") % 2 === 0)
      .write.parquet(s"$half/embeddings.parquet")
    val table = java.nio.file.Files.createTempDirectory("annresincr").toString
    val v1 = AnnIndexBuild.buildVersioned(spark, half, table, residual = true)
    val v2 = AnnIndexBuild.appendVersioned(spark,
      emb.filter(col("vec_id") < 10 || col("vec_id") % 2 === 1), table, residual = true)
    assert(v2 === v1 + 1)
    assert(AnnIndexBuild.searchVersioned(spark, table, sf, residual = true).collect().toSeq
      === SimilarityOps.knnIvfPqResidual(spark, sf, nProbe = SimilarityOps.IvfProbesServing).collect().toSeq)
  }

  test("index stores one row per corpus vector with 8 sub-codes in [0,16)") {
    val t = spark.read.parquet(idx)
    val corpusN = Tables.embeddings(spark, sf).filter(col("vec_id") >= 10).count()
    assert(t.count() === corpusN)
    assert(t.filter(size(col("codes")) =!= 8).count() === 0)
    assert(t.filter(exists(col("codes"), c => c < 0 || c > 15)).count() === 0)
  }

  test("incremental append: build half, append the rest, search == full recompute") {
    import spark.implicits._
    // a corpus dir whose embeddings table holds the queries + EVEN corpus
    // vectors only; the odd half arrives later as an append batch
    val half = java.nio.file.Files.createTempDirectory("annhalf").toString
    val emb = Tables.embeddings(spark, sf)
    emb.filter(col("vec_id") < 10 || col("vec_id") % 2 === 0)
      .write.parquet(s"$half/embeddings.parquet")
    val table = java.nio.file.Files.createTempDirectory("annincr").toString
    val v1 = AnnIndexBuild.buildVersioned(spark, half, table)
    // the append batch is sourced NAIVELY — query-convention rows
    // included, as a caller appending a day's arrivals straight off an
    // embeddings table would: the filter inside appendVersioned must
    // drop them, or every search returns its own query at distance 0
    val v2 = AnnIndexBuild.appendVersioned(spark,
      emb.filter(col("vec_id") < 10 || col("vec_id") % 2 === 1), table)
    assert(v2 === v1 + 1)
    assert(jobs.SnapshotLake.read(spark, table).filter(col("vec_id") < 10).count() === 0)
    // incremental == batch: the appended codes come through the same
    // kernel, so the grown index answers exactly like a full rebuild
    val expected = SimilarityOps.knnIvfPq(spark, sf, nProbe = SimilarityOps.IvfProbesServing).collect().toSeq
    assert(AnnIndexBuild.searchVersioned(spark, table, sf).collect().toSeq === expected)
    // RE-RUN the whole append (operator retry): the re-ingest guard drops
    // every already-indexed id, so no second code row lands and the ADC
    // sums stay bit-identical (a duplicate row would silently double an
    // id's distance)
    AnnIndexBuild.appendVersioned(spark,
      emb.filter(col("vec_id") < 10 || col("vec_id") % 2 === 1), table)
    val t = jobs.SnapshotLake.read(spark, table)
    assert(t.count() === t.select("vec_id").distinct().count())
    assert(AnnIndexBuild.searchVersioned(spark, table, sf).collect().toSeq === expected)
  }

  test("delete lifecycle: tombstone hides the id even re-appended; compaction folds; re-insert works") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("anndel").toString
    val v1 = AnnIndexBuild.buildVersioned(spark, sf, table)
    val baseline = SimilarityOps.knnIvfPq(spark, sf, nProbe = SimilarityOps.IvfProbesServing).collect().toSeq
    val victim = baseline.head.getLong(1) // somebody's ranked neighbor
    val emb = Tables.embeddings(spark, sf)

    AnnIndexBuild.deleteVersioned(spark, Seq(victim).toDF("vec_id"), table)
    val after = AnnIndexBuild.searchVersioned(spark, table, sf).collect().toSeq
    assert(!after.exists(_.getLong(1) == victim))
    assert(after !== baseline)
    // merge-on-read delete == the recompute query over a corpus that
    // never contained the victim (next-best neighbors fill in, bit-exact)
    val cut = java.nio.file.Files.createTempDirectory("anncut").toString
    emb.filter(col("vec_id") =!= victim).write.parquet(s"$cut/embeddings.parquet")
    assert(after === SimilarityOps.knnIvfPq(spark, cut, nProbe = SimilarityOps.IvfProbesServing).collect().toSeq)
    // time travel: the pre-delete version still serves the victim
    assert(AnnIndexBuild.searchVersioned(spark, table, sf, version = Some(v1))
      .collect().toSeq === baseline)

    // appending a deleted id is a no-op: the re-ingest guard sees the
    // TOMBSTONE row and drops the batch row (re-insert requires the
    // compaction below first — the delete contract, enforced)
    AnnIndexBuild.appendVersioned(spark, emb.filter(col("vec_id") === victim), table)
    assert(AnnIndexBuild.searchVersioned(spark, table, sf).collect().toSeq === after)

    // compaction folds tombstones and masked rows physically; search unchanged
    assert(AnnIndexBuild.compactVersioned(spark, table).nonEmpty)
    val t = jobs.SnapshotLake.read(spark, table)
    assert(t.filter(col("list_id") < 0).count() === 0)
    assert(t.filter(col("vec_id") === victim).count() === 0)
    assert(AnnIndexBuild.searchVersioned(spark, table, sf).collect().toSeq === after)

    // after the fold the id can re-enter the index
    AnnIndexBuild.appendVersioned(spark, emb.filter(col("vec_id") === victim), table)
    assert(AnnIndexBuild.searchVersioned(spark, table, sf).collect().toSeq === baseline)
  }

  test("streaming append: idempotent per-batch commits through the same kernel; search == recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // base index from queries + EVEN corpus vectors; the odds arrive live
    val half = java.nio.file.Files.createTempDirectory("annshalf").toString
    val emb = Tables.embeddings(spark, sf)
    emb.filter(col("vec_id") < 10 || col("vec_id") % 2 === 0)
      .write.parquet(s"$half/embeddings.parquet")
    val table = java.nio.file.Files.createTempDirectory("annstream").toString
    AnnIndexBuild.buildVersioned(spark, half, table)
    // the stream carries ALL odd ids — including query-convention ones,
    // which the shared codedBatch filter must drop on this path too
    val oddRows = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val (b1, b2) = oddRows.splitAt(oddRows.length / 2)
    val ckpt = java.nio.file.Files.createTempDirectory("annsckpt").toString
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = AnnIndexBuild.appendStream(
      mem.toDF().toDF("vec_id", "embedding"), table, ckpt)
    try {
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // one snapshot per micro-batch on top of the build
    assert(jobs.SnapshotLake.versions(spark, table) === Seq(1L, 2L, 3L))
    assert(jobs.SnapshotLake.read(spark, table).filter(col("vec_id") < 10).count() === 0)
    // the live-grown index answers exactly like a full batch rebuild
    assert(AnnIndexBuild.searchVersioned(spark, table, sf).collect().toSeq
      === SimilarityOps.knnIvfPq(spark, sf, nProbe = SimilarityOps.IvfProbesServing).collect().toSeq)
  }

  test("searches racing a delete+compaction always see a LEGAL snapshot, never a torn mix") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("annrace").toString
    AnnIndexBuild.buildVersioned(spark, sf, table)
    val baseline = AnnIndexBuild.searchVersioned(spark, table, sf).collect().toSeq
    val victim = baseline.head.getLong(1)

    val mutator = new Thread(() => {
      Thread.sleep(100)
      AnnIndexBuild.deleteVersioned(spark, Seq(victim).toDF("vec_id"), table)
      Thread.sleep(100)
      AnnIndexBuild.compactVersioned(spark, table)
      ()
    })
    mutator.start()
    // searches overlap the delete commit AND the compaction rewrite; each
    // must equal a published snapshot's result — pre-delete or post-delete
    // (compaction never changes results) — the single-readRangeIn
    // consistency property: codes and tombstones from ONE version
    val seen = (1 to 10).map { _ =>
      AnnIndexBuild.searchVersioned(spark, table, sf).collect().toSeq
    }
    mutator.join()
    val finalResult = AnnIndexBuild.searchVersioned(spark, table, sf).collect().toSeq
    assert(finalResult !== baseline) // the delete landed
    assert(!finalResult.exists(_.getLong(1) == victim))
    seen.foreach { r =>
      assert(r === baseline || r === finalResult,
        s"torn result: ${r.take(3)}... is neither pre- nor post-delete")
    }
  }

  test("versioned index: atomic publish, bit-identical search, pinned-version reads") {
    val table = java.nio.file.Files.createTempDirectory("annlake").toString
    val v1 = AnnIndexBuild.buildVersioned(spark, sf, table)
    val recompute = SimilarityOps.knnIvfPq(spark, sf, nProbe = SimilarityOps.IvfProbesServing).collect().toSeq
    assert(AnnIndexBuild.searchVersioned(spark, table, sf).collect().toSeq === recompute)
    // a rebuild publishes a NEW version; the old one still serves
    // pinned readers (index migration without a serving gap)
    val v2 = AnnIndexBuild.buildVersioned(spark, sf, table)
    assert(v2 === v1 + 1)
    assert(AnnIndexBuild.searchVersioned(spark, table, sf, version = Some(v1))
      .collect().toSeq === recompute)
    assert(AnnIndexBuild.searchVersioned(spark, table, sf, version = Some(v2))
      .collect().toSeq === recompute)
  }

  test("IMI persisted index: sidecar halves, partition pruning, all-cells " +
    "probe == flat PQ ADC bit-exactly, loud cross-search") {
    val out = java.nio.file.Files.createTempDirectory("annimi").toString
    graft.jobs.AnnIndexBuild.buildImi(spark, sf, out)
    val (kk, _, _) = SimilarityOps.imiQuantizer(spark, sf)

    // default dial: cell probes become planning-time partition pruning
    val res = graft.jobs.AnnIndexBuild.searchImi(spark, out, sf, k = 3)
    val scans = res.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains(out)) => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "list_id")),
      scans.head.partitionFilters.mkString("; "))
    // 10 queries x (cells/16) probes -> far fewer than all populated cells
    val total = spark.read.parquet(out).select("list_id").distinct().count()
    assert(scans.head.selectedPartitions.partitionCount < total,
      s"scan opened ${scans.head.selectedPartitions.partitionCount} of $total cells")
    assert(res.collect().nonEmpty)

    // probing EVERY cell makes the candidate set the whole corpus, so the
    // raw ADC ranking must be BIT-IDENTICAL to the flat PQ arm (q70) —
    // the LUT math, reduce chain, and tie-break are the same shared code
    val all = graft.jobs.AnnIndexBuild.searchImi(spark, out, sf, k = 3, nProbe = kk * kk)
      .select("q_id", "neighbor_id", "adc_dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val flat = SimilarityOps.knnPq(spark, sf, 3)
      .select("q_id", "neighbor_id", "adc_dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(all === flat, "all-cells IMI search must equal flat PQ ADC exactly")

    // cross-search is loud in both directions (the coding-marker contract)
    intercept[IllegalArgumentException] {
      graft.jobs.AnnIndexBuild.searchAuto(spark, out, sf)
    }
    intercept[IllegalArgumentException] {
      graft.jobs.AnnIndexBuild.searchImi(spark, idx, sf)
    }
  }

  // ---------- IMI multi-index coarse quantizer (q46e) ----------

  test("autoImiK: exact power-of-two boundaries, floor 4, cap 2^10") {
    import SimilarityOps.autoImiK
    assert(autoImiK(0) === 4 && autoImiK(1) === 4 && autoImiK(256) === 4) // 4^4 = 256
    assert(autoImiK(257) === 8)
    assert(autoImiK(4096) === 8)        // 8^4 = 4096 covers exactly
    assert(autoImiK(4097) === 16)
    assert(autoImiK(990) === 8)         // the sf0.01 gate corpus
    // cells = K² follows the flat √n rule, but per-decade MODEL growth is
    // n^(1/4): the whole point of the multi-index
    assert(autoImiK(1L << 40) === 1 << 10)
    assert(autoImiK(Long.MaxValue) === 1 << 10) // capped, never overflows
  }

  test("IMI quantizer: live training reproduces the frozen gate artifact bit-exactly") {
    // the generated-oracle contract behind q46e (IvfCentroidsAuto's
    // pattern): DuckDB replays per-half assignment from ImiCodebooks,
    // Spark trains live — parity only means anything if these are THE
    // SAME doubles (refreeze via TrainQuantizers --imi)
    val (k, h1, h2) = SimilarityOps.imiQuantizer(spark, "/root/testdata/sf0.01")
    assert(k === graft.operators.ImiCodebooks.k,
      s"IMI k drifted: live $k vs frozen ${graft.operators.ImiCodebooks.k}")
    for ((live, frozen, name) <- Seq(
        (h1, graft.operators.ImiCodebooks.half1, "half1"),
        (h2, graft.operators.ImiCodebooks.half2, "half2"))) {
      assert(live.length === frozen.length, name)
      live.indices.foreach { c =>
        assert(live(c).toSeq === frozen(c).toSeq, s"$name centroid $c drifted")
      }
    }
  }

  test("property: assignImiKernel == naive per-half L2 argmin (ties included)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    for (k <- Seq(3, 8)) {
      val half = 32
      def book(): Array[Array[Double]] = {
        val base = Array.fill(k - 1)(Array.fill(half)(rng.nextDouble() - 0.5))
        base :+ base(0).clone() // last codeword duplicates index 0 (tie bait)
      }
      val cb1 = book(); val cb2 = book()
      val vecs = (0 until 200).map(i => (i.toLong, Seq.fill(64)(rng.nextDouble() - 0.5)))
      val kernel = SimilarityOps.assignImiKernel(spark,
          vecs.toDF("vec_id", "v"), cb1, cb2)
        .select("vec_id", "list_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      def argmin(cb: Array[Array[Double]], v: Seq[Double], off: Int): Int =
        cb.zipWithIndex.map { case (c, i) =>
          (c.indices.map(j => { val d = v(off + j) - c(j); d * d }).sum, i)
        }.minBy { case (d, i) => (d, i) }._2
      vecs.foreach { case (id, v) =>
        val expect = argmin(cb1, v, 0).toLong * k + argmin(cb2, v, half)
        assert(kernel(id) === expect, s"k=$k vec $id")
      }
      // the duplicated codewords must never win a tie (smallest index)
      assert(!kernel.values.exists { l =>
        l / k == (k - 1).toLong || l % k == (k - 1).toLong
      }, s"k=$k: tie went to a duplicate codeword")
    }
  }

  test("property: frontierCells == naive (d1+d2, list_id) grid sort — " +
    "including tie groups straddling the probe boundary") {
    val rng = new scala.util.Random(11)
    def naive(d1: Array[Double], d2: Array[Double], nProbe: Int): Seq[Long] = {
      val k = d1.length
      (for (i <- 0 until k; j <- 0 until k)
        yield (d1(i) + d2(j), i.toLong * k + j))
        .sortBy(identity).take(math.min(nProbe, k * k)).map(_._2)
    }
    for (k <- Seq(2, 5, 8); trial <- 0 until 10) {
      // quantized distances: ties are COMMON (the hard case — a tie group
      // straddling nProbe must resolve by list_id exactly like the grid)
      def half() = Array.fill(k)((rng.nextInt(4)).toDouble)
      val d1 = half(); val d2 = half()
      for (nProbe <- Seq(1, 2, k, k * k - 1, k * k, k * k + 5)) {
        val got = SimilarityOps.frontierCells(d1, d2, nProbe).toSeq
        assert(got === naive(d1, d2, nProbe), s"k=$k trial=$trial nProbe=$nProbe " +
          s"d1=${d1.mkString(",")} d2=${d2.mkString(",")}")
      }
    }
    assert(SimilarityOps.frontierCells(Array(0.0), Array(0.0), 0).isEmpty)
  }

  test("IMI frontier probes emit EXACTLY the grid enumeration's top-P cells " +
    "on the gate lake, at every dial") {
    val d = "/root/testdata/sf0.01"
    val (kk, cb1, cb2) = SimilarityOps.imiQuantizer(spark, d)
    for (nProbe <- Seq(1, SimilarityOps.ImiProbes, 17, kk * kk)) {
      def setOf(df: org.apache.spark.sql.DataFrame) = df
        .select("q_id", "list_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val grid = setOf(SimilarityOps.imiQueryProbes(spark, d, nProbe, kk, cb1, cb2))
      val frontier = setOf(SimilarityOps.imiFrontierProbes(spark, d, nProbe, kk, cb1, cb2))
      assert(frontier === grid, s"nProbe=$nProbe: frontier walk diverged from grid rank")
    }
  }

  test("q46e recall: probing every cell IS brute force; the default dial is " +
    "comparable to a flat quantizer at EQUAL cell count") {
    val d = "/root/testdata/sf0.01"
    val exact = SimilarityOps.knnBruteForce(spark, d, 3)
      .select("q_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (kk, _, _) = SimilarityOps.imiQuantizer(spark, d)
    val cells = kk * kk
    // ceiling: all cells probed == the probe set is the whole corpus ==
    // bit-identical brute-force ranking
    val all = SimilarityOps.knnImi(spark, d, 3, nProbe = cells)
      .select("q_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(all === exact, "nProbe = all cells must reproduce brute force exactly")

    def recallOf(rows: Set[(Long, Long, Long)]): Double =
      rows.count { case (q, n, _) => exact.exists(e => e._1 == q && e._2 == n) }
        .toDouble / exact.size
    // the default dial: 4 of 64 cells = 1/16 of the corpus probed
    val imiRecall = recallOf(SimilarityOps.knnImi(spark, d, 3)
      .select("q_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // flat quantizer at the SAME cell count (64 lists, same trainer
    // recipe) probing the same corpus fraction (4 of 64)
    val corpus = graft.Tables.embeddings(spark, d)
      .filter(col("vec_id") >= 10)
      .select(col("vec_id").as("id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    val flat = graft.operators.Kmeans.trainSampled(spark, corpus, cells, 10, 42L)
    val queries = SimilarityOps.queryProbeLists(spark, d, 4,
      cents = SimilarityOps.centroidTableOf(spark, flat))
    val fCorpus = SimilarityOps.assignListsKernel(spark,
      corpus.select(col("id").as("vec_id"), col("v")), flat)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("neighbor_id"))
    val flatRecall = recallOf(fCorpus.join(broadcast(queries), Seq("list_id"))
      .withColumn("cos", graft.functions.VectorFunctions.cosine(
        col("qv"), col("v"), col("qnrm"), col("nrm")))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3).select("q_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // IMI's per-half independence assumption costs some recall vs a flat
    // table spanning the same cells — but it must stay in the same
    // operating regime (the flat table it replaces can't even EXIST past
    // AutoKCap). Floors measured on the gate lake.
    assert(imiRecall >= flatRecall - 0.25,
      s"IMI recall $imiRecall collapsed vs flat-at-equal-cells $flatRecall")
    // the gate embeddings are near-isotropic (recall tracks the probed
    // fraction ~linearly — the IvfProbesServing note), so 1/16 of the
    // corpus yields recall ≈ 0.2 here (measured imi 0.200); a clustered
    // corpus saturates far earlier. The floor guards against a broken
    // probe path (recall ~0), not against the isotropic lake's geometry.
    assert(imiRecall >= 0.1,
      s"IMI default-dial recall degenerate: $imiRecall (flat: $flatRecall)")
  }

  test("q108 index drift: identical eras read drift EXACTLY 1.0; a centroid-perfect " +
    "new era reads 0; an era with no arrivals reads NULL; lake rollup accounts every vector") {
    import graft.functions.VectorFunctions.{norm, toDouble}
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .filter(col("vec_id") >= 10L)
    val big = 1000000L
    val wmBig = spark.range(1).select(lit(big).as("wm"))

    // identical eras: the SAME vector multiset re-landed above the
    // watermark — era means are equal decimal sums, so drift is 1.0 EXACTLY
    val dup = e.select((col("vec_id") + big).as("vec_id"), col("v"), col("nrm"))
    SimilarityOps.indexDriftOf(spark, e.unionByName(dup), wmBig).collect().foreach { r =>
      assert(r.getAs[Long]("n_old") === r.getAs[Long]("n_new"), s"list ${r.getLong(0)}")
      assert(r.getAs[Double]("drift") === 1.0, s"list ${r.getLong(0)} drift")
    }

    // centroid-perfect new era: each frozen centroid lands as its own
    // arrival — it assigns to its own list (cos(self) ~ 1, strictly above
    // any other centroid) and its distortion quantizes to 0 under the
    // carrier, so every receiving list reads new_dist 0.0 and drift 0.0;
    // lists receiving nothing read NULL (no reading, not a zero one)
    val cents = SimilarityOps.centroidTable(spark)
      .select((col("list_id") + big).as("vec_id"), col("cv").as("v"), col("cnrm").as("nrm"))
    val m2 = SimilarityOps.indexDriftOf(spark, e.unionByName(cents), wmBig)
      .collect().map(r => r.getAs[Long]("list_id") -> r).toMap
    assert(m2(-1L).getAs[Double]("new_dist") === 0.0)
    assert(m2(-1L).getAs[Double]("drift") === 0.0)
    m2.filterKeys(_ >= 0).values.foreach { r =>
      if (r.getAs[Long]("n_new") > 0) assert(r.getAs[Double]("drift") === 0.0)
      else assert(r.isNullAt(r.fieldIndex("drift")) && r.isNullAt(r.fieldIndex("new_dist")),
        s"list ${r.getLong(0)}: empty era must read NULL")
    }

    // the lake query: every corpus vector lands in exactly one era of the
    // rollup; per-list drift readings are finite and positive
    val lake = SimilarityOps.indexDrift(spark, sf).collect()
    val roll = lake.find(_.getAs[Long]("list_id") == -1L).get
    assert(roll.getAs[Long]("n_old") + roll.getAs[Long]("n_new") === e.count())
    lake.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("drift"))) {
        val dr = r.getAs[Double]("drift")
        assert(dr > 0.0 && !dr.isInfinite && !dr.isNaN, s"list ${r.getLong(0)}: $dr")
      }
    }
  }

  test("q107 graded retrieval: identity arm reads ndcg/rr exactly 1; reversal is graded " +
    "below set-equal; lake metrics match a naive recompute") {
    val k = 10
    val exact = SimilarityOps.knnBruteForce(spark, sf, k).cache()
    try {
      // identity: an arm that IS the truth must read hits=k, rr=1, ndcg
      // EXACTLY 1.0 (dcg and idcg quantize term-by-term identically)
      val self = SimilarityOps.retrievalQualityOf(exact, exact, k).collect()
      self.foreach { r =>
        assert(r.getAs[Long]("hits") === k.toLong)
        assert(r.getAs[Double]("rr") === 1.0)
        assert(r.getAs[Double]("ndcg") === 1.0, s"identity ndcg ${r.getAs[Double]("ndcg")}")
      }
      // reversal: same SET (hits=k, recall-style gates can't tell) but
      // fully inverted ORDER — ndcg strictly < 1, rr = 1/k: the graded
      // metric separates what q68's recall cannot
      val rev = exact.withColumn("rank", (lit(k + 1) - col("rank")).cast("long"))
      val revM = SimilarityOps.retrievalQualityOf(exact, rev, k).collect()
      revM.foreach { r =>
        assert(r.getAs[Long]("hits") === k.toLong)
        assert(r.getAs[Double]("rr") === 1.0 / k)
        assert(r.getAs[Double]("ndcg") < 0.9, s"reversed ndcg ${r.getAs[Double]("ndcg")}")
      }
      // lake run vs a naive recompute from the two ranked lists
      val arm = SimilarityOps.knnIvf(spark, sf, k)
      val got = SimilarityOps.retrievalQuality(spark, sf, k).collect()
        .map(r => r.getAs[Long]("q_id") -> r).toMap
      val eRanks = exact.collect().map(r =>
        (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Long]("rank")).toMap
      val aRows = arm.collect().map(r =>
        (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank")))
      val disc = SimilarityOps.retrievalDisc(k)
      val idcg = SimilarityOps.retrievalIdcg(k)
      eRanks.keys.map(_._1).toSeq.distinct.foreach { q =>
        val matched = aRows.filter(t => t._1 == q && eRanks.contains((q, t._2)))
        val dcg = matched.map { case (_, nid, ar) =>
          BigDecimal((k + 1 - eRanks((q, nid))).toDouble * disc(ar.toInt - 1))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }.sum.toDouble
        val nExact = eRanks.keys.count(_._1 == q)
        val expNdcg = dcg / idcg(nExact - 1)
        val top1 = eRanks.collectFirst { case ((`q`, nid), 1L) => nid }.get
        val expRr = matched.collectFirst { case (_, `top1`, ar) => 1.0 / ar }.getOrElse(0.0)
        val r = got(q)
        assert(r.getAs[Long]("hits") === matched.size.toLong, s"q=$q hits")
        assert(math.abs(r.getAs[Double]("ndcg") - expNdcg) < 1e-12, s"q=$q ndcg")
        assert(math.abs(r.getAs[Double]("rr") - expRr) < 1e-12, s"q=$q rr")
        assert(r.getAs[Double]("ndcg") >= 0.0 && r.getAs[Double]("ndcg") <= 1.0)
      }
    } finally exact.unpersist(blocking = false)
  }

  test("q107b multi-arm retrieval quality: rollup equals a carrier-mean recompute " +
    "per arm; the residual arm beats plain PQ on ndcg on the gate lake") {
    // the GATE lake (sf0.01): the frozen quantizer artifacts are trained
    // there, so arm quality relations are only meaningful there
    val gate = "/root/testdata/sf0.01"
    val k = 10
    val rows = SimilarityOps.retrievalQualityMulti(spark, gate, k).collect()
      .map(r => r.getAs[String]("arm") -> r).toMap
    assert(spark.sparkContext.getLocalProperty("spark.job.description") === null,
      "q107b must not leave its job description on the calling thread")
    assert(rows.keySet === Set("lsh_multi", "ivf_auto", "imi", "ivfpq", "ivfpq_res", "opq_ivf"))
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_queries") === 10L)
      Seq("recall", "mrr", "ndcg").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"${r.getAs[String]("arm")}.$c = $v")
      }
    }
    // the headline claim (why a residual codebook earns its extra pass):
    // strictly better ORDER quality than the plain-PQ arm on this lake
    assert(rows("ivfpq_res").getAs[Double]("ndcg") > rows("ivfpq").getAs[Double]("ndcg"),
      s"residual ndcg ${rows("ivfpq_res").getAs[Double]("ndcg")} must beat " +
        s"plain PQ ${rows("ivfpq").getAs[Double]("ndcg")}")
    // rollup arithmetic: one arm recomputed from the per-query metric
    // frame through the same decimal carrier
    val exact = SimilarityOps.knnBruteForce(spark, gate, k)
    val per = SimilarityOps.retrievalQualityOf(exact,
      SimilarityOps.knnIvfPq(spark, gate, k), k).collect()
    def cmean(vs: Seq[Double]) =
      (vs.map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum /
        vs.size).toDouble
    val expRecall = cmean(per.map(r =>
      r.getAs[Long]("hits").toDouble / r.getAs[Long]("n_exact")).toSeq)
    val expNdcg = cmean(per.map(_.getAs[Double]("ndcg")).toSeq)
    val expMrr = cmean(per.map(_.getAs[Double]("rr")).toSeq)
    assert(math.abs(rows("ivfpq").getAs[Double]("recall") - expRecall) < 1e-9)
    assert(math.abs(rows("ivfpq").getAs[Double]("ndcg") - expNdcg) < 1e-9)
    assert(math.abs(rows("ivfpq").getAs[Double]("mrr") - expMrr) < 1e-9)
  }
}
