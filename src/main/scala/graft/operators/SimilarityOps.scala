package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Exact.{davg, dsum}
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY.md §2.C).
  */
object SimilarityOps {

  /** q45 — brute-force cosine top-k: the small query set broadcasts, the
    * corpus streams past it once (one scan, no corpus shuffle); ranking is a
    * per-query window. The exactness baseline the LSH path is judged
    * against.
    */
  def knnBruteForce(s: SparkSession, d: String, k: Int = 5,
      queryIdMax: Long = QueryIdMax, sampleFrac: Double = 1.0): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val queries = e.filter(col("vec_id") < queryIdMax)
    // few-split guard on the CORPUS side only: every corpus row pays a
    // per-query cosine downstream of this scan, and a 1-split input would
    // run all of it on one core (the query side keeps its pushed filter).
    // sampleFrac < 1 samples the CORPUS deterministically (q68c's sampled
    // sweep — queries are never sampled); truth is then exact top-k over
    // the sampled corpus, the right denominator for sampled recall.
    val corpus = Tables.spreadScan(s, e.filter(col("vec_id") >= queryIdMax &&
      Tables.sampleLine(col("vec_id"), sampleFrac)))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("neighbor_id"))
    corpus.as("c").join(broadcast(queries.as("q")))
      .withColumn("cos", cosine(col("q.v"), col("c.v"), col("q.nrm"), col("c.nrm")))
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("q_id", "rank")
  }

  /** q100 — contrastive HARD-NEGATIVE mining over the embedding corpus:
    * for every query vector, the top-k corpus neighbors whose cosine
    * falls in the hard band [bandLo, bandHi) — similar enough to be
    * informative negatives for contrastive retriever/embedder training
    * (the DPR/ANCE-family mining pass), but strictly below the
    * near-duplicate region: bandHi defaults to q44's 0.25 near-dup
    * threshold, so the mined negatives and the dedup drop set partition
    * the similarity axis by construction — a near-dup mined as a
    * negative is a FALSE negative that poisons the contrastive loss,
    * which is exactly the failure mode the band guard exists for.
    *
    * Scale shape: one corpus scan against broadcast queries (q45's
    * join), the band filter runs BEFORE ranking so only band rows reach
    * the heaps, and per-query top-k rides `graft_topk` (bounded map-side
    * heaps — no Window over corpus-sized data, no global sort). At 100 TB
    * the brute-force scan is the baseline arm; the IVF/LSH bucketed
    * variants compose exactly as they do for q45/q46.
    */
  def hardNegatives(s: SparkSession, d: String, k: Int = 5,
      bandLo: Double = 0.1, bandHi: Double = 0.25,
      queryIdMax: Long = QueryIdMax): DataFrame = {
    require(bandLo < bandHi, s"need bandLo < bandHi; got [$bandLo, $bandHi)")
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val queries = e.filter(col("vec_id") < queryIdMax)
    val corpus = Tables.spreadScan(s, e.filter(col("vec_id") >= queryIdMax))
    corpus.as("c").join(broadcast(queries.as("q")))
      .withColumn("cos", cosine(col("q.v"), col("c.v"), col("q.nrm"), col("c.nrm")))
      .filter(col("cos") >= bandLo && col("cos") < bandHi)
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("neighbor_id"), col("cos"))
      .groupBy("q_id")
      .agg(call_function("graft_topk",
        col("cos"), col("neighbor_id"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("q_id"), col("t.id").as("neighbor_id"), col("t.score").as("cos"),
        (col("i") + 1).cast("long").as("rank"))
      .orderBy("q_id", "rank")
  }

  private val NumPlanes = 8
  private val Dim = 64

  /** Deterministic integer hyperplane weights, table `t`, plane `j` —
    * THE single plane family: knnLsh's buckets (any table) and the dedup
    * density dials' sign blocks (DedupOps.signBlocks, table 0) all draw
    * from here, so an edit to the weight formula reaches every consumer
    * (the DuckDB oracles mirror the same closed form). */
  private[graft] def hyperplane(t: Int, j: Int): Array[Double] =
    (0 until Dim).map(i => ((((t * 977 + j) * 131 + i * 7919) % 1001) - 500).toDouble).toArray

  /** q46 — LSH (random-hyperplane) bucketed ANN: deterministic integer
    * hyperplanes, bucket = 8 sign bits computed map-side, then search only
    * within the query's bucket. At scale this replaces the corpus-wide scan
    * with a bucket-local one (~1/256 of the data per query).
    *
    * `tables` is the standard recall dial: L independent hash tables
    * (disjoint plane sets via the table offset in the weight formula),
    * candidates OR-ed across tables — collision probability rises from p
    * to 1-(1-p)^L while scan cost grows only linearly in L. The driver
    * query runs L=1 so the DuckDB oracle stays the single-table
    * formulation.
    */
  def knnLsh(s: SparkSession, d: String, k: Int = 3, tables: Int = 1,
      queryIdMax: Long = QueryIdMax): DataFrame = {
    require(tables >= 1, s"tables must be >= 1; got $tables")
    // hyperplane weights: w(t,j,i) = (((t*977 + j)*131 + i*7919) % 1001) - 500.
    // Plane dots run through the native codegen graft_dot against constant
    // double arrays (same ascending IEEE fold as the oracle) — the HOF
    // formulation (zip_with + aggregate) re-inlines under CollapseProject
    // and pays per-element lambda dispatch outside whole-stage codegen.
    def bucketOf(v: org.apache.spark.sql.Column, t: Int) =
      (0 until NumPlanes).map { j =>
        when(dot(v, lit(hyperplane(t, j))) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)

    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      // one row per (vector, table): bucket carries the table id in the
      // high bits so tables never cross-match in the equi-join (single
      // table keeps the explode-free plan)
      .withColumn("bucket",
        if (tables == 1) bucketOf(col("v"), 0)
        else explode(array((0 until tables).map(t =>
          bucketOf(col("v"), t) + lit(t.toLong << 32)): _*)))
    val queries = e.filter(col("vec_id") < queryIdMax)
    val corpus = Tables.spreadScan(s, e.filter(col("vec_id") >= queryIdMax))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("neighbor_id"))
    val pairs = corpus.as("c")
      .join(broadcast(queries.as("q")), col("q.bucket") === col("c.bucket"))
      .withColumn("cos", cosine(col("q.v"), col("c.v"), col("q.nrm"), col("c.nrm")))
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("neighbor_id"), col("cos"))
    // a pair colliding in several tables must rank once, not L times
    val once = if (tables == 1) pairs else pairs.dropDuplicates("q_id", "neighbor_id")
    once
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("q_id", "rank")
  }

  // The ORACLE-PINNED probe count of the q46b/q70b/q70c driver queries:
  // their DuckDB oracles freeze nprobe=2, so this constant is part of
  // those queries' spec and does NOT move with the recall dial.
  private[graft] val IvfProbes = 2

  /** The persisted index's default SERVING operating point, read off the
    * q68c recall-vs-nprobe curve: the smallest nprobe whose raw-IVF
    * recall@3 clears >= 0.9 of the brute-force ceiling on the gate
    * corpus — nprobe=10 of 16 lists on the current lake (recall 0.901;
    * 8 reads 0.841). The synthetic gate embeddings are near-isotropic,
    * so recall tracks the probed fraction almost linearly — a genuinely
    * clustered corpus saturates far earlier and would re-derive a
    * smaller dial from the same curve. AnnIndexSpec asserts the >=0.9
    * property against a live curve run, so a retrained quantizer or a
    * regenerated lake that invalidates the choice fails the suite
    * instead of silently serving a stale dial.
    * jobs.AnnIndexBuild.search/searchVersioned default to THIS — defaults
    * are what operators actually run — while the q70b/q70c recompute
    * queries keep their own oracle-pinned [[IvfProbes]] explicitly. */
  private[graft] val IvfProbesServing = 10

  /** The query/corpus id convention: vec_id < QueryIdMax rows are the
    * benchmark query set, vec_id >= QueryIdMax the searchable corpus.
    * Single-sourced (private[graft]) so every corpus-ingest path — the
    * batch index build AND incremental appends — excludes the query rows
    * the same way; an ingest that coded them would return each query as
    * its own zero-distance neighbor. */
  private[graft] val QueryIdMax = 10L

  /** Query-side probe resolution shared by q46b/q70b and the persisted
    * index (one row per (q_id, qv, qnrm, list_id), the query's `nProbe`
    * nearest lists by cosine — window over 16 broadcast centroids per
    * query, a handful of rows). */
  private[graft] def queryProbeLists(s: SparkSession, d: String, nProbe: Int,
      queryIdMax: Long = QueryIdMax, keepRank: Boolean = false,
      cents: DataFrame = null): DataFrame = {
    val wProbe = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("list_id"))
    val base = Tables.embeddings(s, d)
      .filter(col("vec_id") < queryIdMax)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .join(broadcast(Option(cents).getOrElse(centroidTable(s))))
      .withColumn("csim", cosine(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nProbe)
    val cols = Seq(col("vec_id").as("q_id"), col("v").as("qv"),
      col("nrm").as("qnrm"), col("list_id")) ++
      // the probe RANK, for callers sweeping the nprobe dial (q68c): a
      // candidate probed at rank r belongs to every curve point p >= r
      (if (keepRank) Seq(col("crank").cast("long").as("crank")) else Nil)
    base.select(cols: _*)
  }

  /** q46b — IVF ANN with a TRAINED coarse quantizer: the frozen k-means
    * centroids (IvfCentroids — Kmeans.train output, the offline
    * index-training step) assign every vector to its nearest list map-side
    * (broadcast centroids, no corpus shuffle); queries probe their
    * `IvfProbes` nearest lists and rank only within them. Trained centroids
    * keep the 16 lists balanced (MSE 0.881 vs 1.538 for the old
    * first-16-vectors stand-in), which is what stops one hot list from
    * degrading toward a full scan at fleet scale — the classic recall/cost
    * dial: probes x (corpus / lists) candidates per query.
    */
  /** The frozen trained quantizer as a broadcastable centroid table
    * (private[graft]: jobs.AnnIndexBuild assigns with the same table). */
  private[graft] def centroidTable(s: SparkSession): DataFrame =
    centroidTableOf(s, IvfCentroids.values)

  /** An arbitrary centroid matrix as the same broadcastable (list_id,
    * cv, cnrm) table — the parametric seam the AUTO-k arm (q46d) feeds
    * its live-trained quantizer through, so frozen and auto paths share
    * one construction. */
  private[graft] def centroidTableOf(s: SparkSession,
      cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    cents.toSeq.zipWithIndex
      .map { case (cv, i) => (i.toLong, cv.toSeq) }
      .toDF("list_id", "cv")
      .withColumn("cnrm", norm(col("cv")))
  }

  /** An arbitrary m×k×subDim codebook array as the broadcastable
    * (sub_idx, code, cv) table — THE single construction (q69/q70/q70b/
    * q70d and the persisted index build all join against this one
    * helper, so a codebook schema change cannot silently diverge between
    * them). */
  private[graft] def booksTableOf(s: SparkSession,
      books: Array[Array[Array[Double]]]): DataFrame = {
    import s.implicits._
    books.zipWithIndex.flatMap { case (book, sub) =>
      book.zipWithIndex.map { case (cv, code) => (sub.toLong, code.toLong, cv.toSeq) }
    }.toSeq.toDF("sub_idx", "code", "cv")
  }

  /** The frozen PQ codebooks (PqCodebooks) as that table. */
  private[graft] def codebookTable(s: SparkSession): DataFrame =
    booksTableOf(s, PqCodebooks.values)

  /** The frozen RESIDUAL PQ codebooks (PqResidualCodebooks — IVFADC
    * proper: codes r = v - c(v), not v) as the same broadcastable
    * (sub_idx, code, cv) shape as [[codebookTable]]. */
  private[graft] def residualCodebookTable(s: SparkSession): DataFrame =
    booksTableOf(s, PqResidualCodebooks.values)

  /** The corpus under BOTH frozen quantizers: one row per (vec_id,
    * list_id, sub_idx, code) — coarse argmax then per-subspace PQ argmin,
    * each a broadcast join + map-side aggregate with deterministic total
    * orders. This is the single source of assignment shared by q70b's
    * in-query path and jobs.AnnIndexBuild's persisted index, so the
    * spec-pinned bit-identity between them cannot drift apart.
    * `residual = true` codes r = v - c(v) against the residual books
    * (q70c) instead of v against the raw books — same assignment kernel,
    * different WHAT. */
  private[graft] def codedCorpusSubs(s: SparkSession, d: String,
      residual: Boolean = false, queryIdMax: Long = QueryIdMax,
      sampleFrac: Double = 1.0): DataFrame =
    codedSubsOf(s, Tables.spreadScan(s, Tables.embeddings(s, d)
      .filter(col("vec_id") >= queryIdMax &&
        Tables.sampleLine(col("vec_id"), sampleFrac))
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))), residual)

  /** [[codedCorpusSubs]] over an arbitrary (vec_id, v) frame — the seam
    * incremental index maintenance codes NEW arrivals through, so batch
    * build and append produce identical codes by construction. */
  private[graft] def codedSubsOf(s: SparkSession, emb: DataFrame,
      residual: Boolean = false): DataFrame =
    pqCodeSubs(listedFrame(s, emb, residual),
      if (residual) residualCodebookTable(s) else codebookTable(s))

  /** The coarse-assigned corpus as a list-tagged (vec_id, v, list_id)
    * frame, BEFORE any PQ coding: cosine argmax against the frozen
    * quantizer (smallest-list tie-break — the engine-wide convention).
    * `residual = true` subtracts the winning coarse centroid (IVFADC
    * proper); raw keeps v itself. Extracted from [[codedSubsOf]] so the
    * OPQ-residual arm (q70e) can rotate WHAT is coded while the
    * assignment stays THE shared construction. */
  private[graft] def listedFrame(s: SparkSession, emb: DataFrame,
      residual: Boolean): DataFrame = {
    val e = emb.withColumn("nrm", norm(col("v")))
    val assigned = e.join(broadcast(centroidTable(s)))
      .withColumn("csim", cosine(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .groupBy("vec_id")
      .agg(max_by(struct(col("v"), col("list_id"), col("cv")),
        struct(col("csim"), -col("list_id"))).as("best"))
    // residual coding subtracts the winning coarse centroid BEFORE the
    // subspace split (IVFADC proper); raw coding slices v itself
    if (residual) assigned.select(col("vec_id"),
      expr("zip_with(best.v, best.cv, (x, y) -> x - y)").as("v"),
      col("best.list_id").as("list_id"))
    else assigned.select(col("vec_id"), col("best.v").as("v"),
      col("best.list_id").as("list_id"))
  }

  /** THE PQ-code-assignment tail over a list-tagged (vec_id, v, list_id)
    * frame — single-sourced so the frozen-quantizer path
    * ([[codedSubsOf]]) and the AUTO-quantizer index build
    * ([[codedSubsAuto]]) produce codes through identical math: min_by
    * argmin with map-side partials (list_id rides the grouping key — it
    * is functional on vec_id, so cardinality is unchanged and no rejoin
    * is needed). */
  private def pqCodeSubs(corpusList: DataFrame, books: DataFrame): DataFrame = {
    val subDim = 8
    corpusList.select(col("vec_id"), col("list_id"),
      explode(array((0 until 8).map(sub =>
        struct(lit(sub.toLong).as("sub_idx"),
          slice(col("v"), sub * subDim + 1, subDim).as("sv"))): _*)).as("e"))
      .select(col("vec_id"), col("list_id"), col("e.sub_idx").as("sub_idx"), col("e.sv").as("sv"))
      .join(broadcast(books), Seq("sub_idx"))
      .withColumn("sqd",
        sqDist(col("sv"), col("cv")))
      .groupBy("vec_id", "list_id", "sub_idx")
      .agg(min_by(col("code"), struct(col("sqd"), col("code"))).as("code"))
  }

  /** [[codedSubsOf]] under an ARBITRARY coarse quantizer (the auto-k
    * persisted index, raw coding only): list assignment through the
    * in-register kernel ([[assignListsKernel]] — k grows with the
    * corpus, so the broadcast-join shape is out), PQ codes through THE
    * shared tail. Residual coding is structurally excluded here: the
    * shipped residual codebooks are trained against the FROZEN
    * quantizer's residuals, so coding r = v − c_auto(v) against them
    * would rank against the wrong reconstruction — the caller enforces
    * the raw-only contract loudly. */
  private[graft] def codedSubsAuto(s: SparkSession, emb: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    pqCodeSubs(assignListsKernel(s, emb, cents).select("vec_id", "v", "list_id"),
      codebookTable(s))

  /** [[codedSubsAuto]] under the INVERTED MULTI-INDEX quantizer: cell
    * assignment through the per-half kernel, PQ codes through THE shared
    * tail — the composition claim made concrete (cells are just list
    * ids; nothing downstream of assignment changes). Raw coding only,
    * same contract as the auto arm. */
  private[graft] def codedSubsImi(s: SparkSession, emb: DataFrame,
      cb1: Array[Array[Double]], cb2: Array[Array[Double]]): DataFrame =
    pqCodeSubs(assignImiKernel(s, emb, cb1, cb2).select("vec_id", "v", "list_id"),
      codebookTable(s))

  /** q54 — IVF inverted-list balance: vectors per list under the trained
    * quantizer. This is the operational health check for the index — a
    * degenerate (untrained) quantizer concentrates the corpus in a few hot
    * lists and probing degrades toward a full scan; trained centroids keep
    * the histogram flat. Pure map-side assignment (broadcast centroids) +
    * one small aggregation.
    */
  def ivfListBalance(s: SparkSession, d: String): DataFrame =
    ivfListBalanceOf(s, Tables.embeddingsScaled(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v"))))

  /** [[ivfListBalance]] over an arbitrary prepared embedding frame
    * `(vec_id, v: array<double>, nrm)` — the entry point pipeline stages
    * use to measure THEIR frontier's density (CorpusPrep's auto dial
    * histograms the surviving docs' embeddings, not the raw corpus). */
  def ivfListBalanceOf(s: SparkSession, e: DataFrame): DataFrame =
    // argmax via max_by (map-side partials; (csim, -list_id) is a total
    // order so ties keep the smallest list, matching the old window rank)
    e.join(broadcast(centroidTable(s)))
      .withColumn("csim", cosine(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .groupBy("vec_id")
      .agg(max_by(col("list_id"), struct(col("csim"), -col("list_id"))).as("list_id"))
      .groupBy("list_id")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("list_id")

  /** q68 — ANN index-quality evaluation: per-query recall@k of BOTH
    * approximate indexes (LSH buckets, trained IVF) against the exact
    * brute-force top-k. This is the operational gate a 100 TB pipeline
    * runs on a sampled query set before trusting an index build: recall
    * collapses when buckets skew or the quantizer drifts from the corpus
    * distribution, and the per-query breakdown localizes WHICH queries
    * lose neighbors.
    *
    * Plan shape: each arm is its own already-scale-audited query (q45/q46/
    * q46b); the evaluation overhead is one tagged union + one left join +
    * one aggregation over rows x k rows — negligible next to the arms. A
    * ground-truth neighbor matched by both indexes contributes one row per
    * index to the join, so hits are conditional counts and n_exact is the
    * distinct-neighbor count.
    */
  def annRecall(s: SparkSession, d: String, k: Int = 3,
      queryIdMax: Long = QueryIdMax): DataFrame = {
    val exact = knnBruteForce(s, d, k, queryIdMax).select("q_id", "neighbor_id")
    val idx = knnLsh(s, d, k, queryIdMax = queryIdMax).select("q_id", "neighbor_id").withColumn("src", lit("lsh"))
      .unionByName(knnIvf(s, d, k, queryIdMax).select("q_id", "neighbor_id").withColumn("src", lit("ivf")))
      .unionByName(knnIvfPq(s, d, k, queryIdMax).select("q_id", "neighbor_id").withColumn("src", lit("ivfpq")))
      .unionByName(knnIvfPqResidual(s, d, k, queryIdMax).select("q_id", "neighbor_id").withColumn("src", lit("ivfpq_res")))
      .unionByName(knnIvfPqOpq(s, d, k, queryIdMax).select("q_id", "neighbor_id").withColumn("src", lit("opq_ivf")))
    exact.join(idx, Seq("q_id", "neighbor_id"), "left")
      .groupBy("q_id")
      .agg(
        countDistinct("neighbor_id").as("n_exact"),
        count(when(col("src") === "lsh", 1)).as("lsh_hits"),
        count(when(col("src") === "ivf", 1)).as("ivf_hits"),
        count(when(col("src") === "ivfpq", 1)).as("ivfpq_hits"),
        count(when(col("src") === "ivfpq_res", 1)).as("ivfpq_res_hits"),
        count(when(col("src") === "opq_ivf", 1)).as("opq_ivf_hits"))
      .withColumn("lsh_recall", col("lsh_hits").cast("double") / col("n_exact").cast("double"))
      .withColumn("ivf_recall", col("ivf_hits").cast("double") / col("n_exact").cast("double"))
      .withColumn("ivfpq_recall", col("ivfpq_hits").cast("double") / col("n_exact").cast("double"))
      .withColumn("ivfpq_res_recall", col("ivfpq_res_hits").cast("double") / col("n_exact").cast("double"))
      .withColumn("opq_ivf_recall", col("opq_ivf_hits").cast("double") / col("n_exact").cast("double"))
      .orderBy("q_id")
  }

  /** q108 — ANN-index STALENESS monitor: per-list assignment-distortion
    * drift of newly arrived vectors against the trained-era corpus — the
    * RETRAIN TRIGGER that completes the index lifecycle (build → append
    * [AnnIndexBuild.appendStream] → compact → MONITOR → retrain). A
    * quantizer trained on yesterday's distribution silently degrades as
    * the corpus drifts: new vectors land farther from their nearest
    * centroid, per-list populations skew, and probed recall decays with
    * no error anywhere. This query splits the corpus at the id watermark
    * (old = trained-era, new = arrivals; the deterministic midpoint on
    * the gate lake, the ingest watermark in production), assigns BOTH
    * eras through the frozen quantizer, and emits per list: populations,
    * mean assignment distortion (1 − cosine to the assigned centroid)
    * per era, and the drift ratio new/old. Healthy lake ≈ 1.0 per list;
    * a drifted source pushes its lists' ratio up — the documented
    * retrain threshold is ratio > 1.2 sustained across lists (FAISS
    * operational lore: retrain when imbalance or distortion drifts ~20%).
    *
    * Scale shape: ONE corpus scan → broadcast-centroid argmax (q54's
    * map-side max_by shape) → one bounded k-row aggregation; the
    * watermark is a 1-row aggregate cross-joined broadcast (q73's stats
    * device — never a driver collect in the plan). Determinism: csim is
    * the shared IEEE dot/norm chain, era means are decimal-carrier sums
    * with ONE final division each, drift is one more IEEE division.
    * Output: one row per list + the list_id = −1 corpus rollup.
    */
  def indexDrift(s: SparkSession, d: String,
      queryIdMax: Long = QueryIdMax): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val corpus = Tables.spreadScan(s, e.filter(col("vec_id") >= queryIdMax))
    val wm = corpus.agg(
      floor((lit(queryIdMax) + max(col("vec_id"))) / lit(2L)).cast("long").as("wm"))
    indexDriftOf(s, corpus, wm)
  }

  /** The drift-metric core over an arbitrary corpus frame `(vec_id, v,
    * nrm)` and a 1-row watermark frame `(wm)` — seam for monitoring ANY
    * era split (a production job passes its ingest watermark; the spec
    * feeds crafted healthy/drifted frames). */
  private[graft] def indexDriftOf(s: SparkSession, corpus: DataFrame,
      wm: DataFrame): DataFrame = {
    import graft.functions.Exact.acc
    val perVec = corpus.join(broadcast(centroidTable(s)))
      .withColumn("csim", cosine(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .groupBy("vec_id")
      .agg(max_by(struct(col("csim"), col("list_id")),
        struct(col("csim"), -col("list_id"))).as("best"))
      .select(col("vec_id"), col("best.list_id").as("list_id"),
        (lit(1.0) - col("best.csim")).as("dist"))
      .crossJoin(broadcast(wm))
      .withColumn("is_new", col("vec_id") >= col("wm"))
    // ONE corpus aggregation (the q85b aliased-subtree lesson: a second
    // groupBy over perVec would re-run the scan + argmax kernel): the
    // per-list rows carry their EXACT DECIMAL distortion sums, so the
    // corpus rollup derives from the bounded k-row frame — a sum of
    // per-list decimal sums IS the global decimal sum
    val perList = perVec.groupBy("list_id").agg(
      count(when(!col("is_new"), 1)).as("n_old"),
      count(when(col("is_new"), 1)).as("n_new"),
      sum(when(!col("is_new"), acc(col("dist")))).as("sum_old"),
      sum(when(col("is_new"), acc(col("dist")))).as("sum_new"))
    val rollup = perList.groupBy().agg(
        sum(col("n_old")).as("n_old"), sum(col("n_new")).as("n_new"),
        sum(col("sum_old")).as("sum_old"), sum(col("sum_new")).as("sum_new"))
      .select(lit(-1L).as("list_id"), col("n_old"), col("n_new"),
        col("sum_old"), col("sum_new"))
    perList.select(col("list_id"), col("n_old"), col("n_new"), col("sum_old"), col("sum_new"))
      .unionByName(rollup)
      .withColumn("old_dist",
        col("sum_old").cast("double") / col("n_old").cast("double"))
      .withColumn("new_dist",
        col("sum_new").cast("double") / col("n_new").cast("double"))
      // NULL when a list lacks an era (0/0 would be NaN): a list with no
      // new arrivals has no drift reading, not a zero one
      .withColumn("drift",
        when(col("n_old") > 0 && col("n_new") > 0, col("new_dist") / col("old_dist")))
      .select("list_id", "n_old", "n_new", "old_dist", "new_dist", "drift")
      .orderBy("list_id")
  }

  /** q107's DCG discount table 1/log2(i+1) for ranks 1..k — computed ONCE
    * here with StrictMath (bit-identical on every JVM) and interpolated
    * into the generated oracle SQL as double literals, so neither engine
    * ever calls its own log (the q106 Ln2 discipline, tabulated). */
  private[graft] def retrievalDisc(k: Int): Seq[Double] =
    (1 to k).map(i => 1.0 / (StrictMath.log(i + 1.0) / StrictMath.log(2.0)))

  /** Ideal-DCG prefix table for q107: idcg(m) = Σ_{i=1..m} (k+1−i)·disc(i)
    * with each term quantized to the DECIMAL(27,6) carrier — the SAME
    * quantization the engine's DCG sum applies, so a perfect arm reads
    * ndcg EXACTLY 1.0 (dcg and idcg quantize identically term by term). */
  private[graft] def retrievalIdcg(k: Int): Seq[Double] = {
    val disc = retrievalDisc(k)
    (1 to k).map { m =>
      (1 to m).map(i => BigDecimal((k + 1 - i).toDouble * disc(i - 1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    }
  }

  /** q107 — GRADED retrieval quality of the trained-IVF arm against the
    * exact cosine ranking: per query, set overlap (hits@k — q68's recall
    * numerator), reciprocal rank of the TRUE nearest neighbor (MRR's
    * per-query term), and nDCG@k with graded relevance rel(i) = k+1−i
    * derived from the exact rank. The recall gates (q68 family) score a
    * neighbor found at arm-rank 1 and arm-rank k identically; a RAG /
    * hard-negative-mining consumer reads ranked lists, where ORDER
    * quality is the operational metric — this is the graded companion
    * gate (Järvelin & Kekäläinen TOIS 2002 for nDCG).
    *
    * Determinism: the discount table and the ideal-DCG prefix are SHARED
    * double literals ([[retrievalDisc]]/[[retrievalIdcg]] — StrictMath on
    * the Scala side, interpolated verbatim into the oracle SQL); each
    * rel·disc term rides the DECIMAL carrier so the DCG sum is exact and
    * order-free; rr and the final ndcg division are single IEEE ops.
    * Scale shape: the metric join is |Q|·k rows — negligible next to the
    * donor arms (q45 truth, q46's probed IVF), each already scale-audited;
    * at 100 TB the truth arm runs on a sampled query set by the q68c
    * convention.
    */
  def retrievalQuality(s: SparkSession, d: String, k: Int = 10,
      queryIdMax: Long = QueryIdMax): DataFrame =
    retrievalQualityOf(
      knnBruteForce(s, d, k, queryIdMax),
      knnIvf(s, d, k, queryIdMax), k)

  /** The metric core over two ranked lists `(q_id, neighbor_id, rank)` —
    * seam for evaluating ANY arm (and for the spec's identity/reversal
    * pins: a list evaluated against itself reads ndcg exactly 1.0). */
  private[graft] def retrievalQualityOf(exact: DataFrame, arm: DataFrame,
      k: Int): DataFrame = {
    val disc = array(retrievalDisc(k).map(lit): _*)
    val idcg = array(retrievalIdcg(k).map(lit): _*)
    val e = exact.select(col("q_id"), col("neighbor_id"), col("rank").as("erank"))
    val a = arm.select(col("q_id"), col("neighbor_id"), col("rank").as("arank"))
    e.join(a, Seq("q_id", "neighbor_id"), "left")
      .groupBy("q_id")
      .agg(
        count(lit(1)).as("n_exact"),
        count(col("arank")).as("hits"),
        dsum(when(col("arank").isNotNull,
            (lit(k + 1) - col("erank")).cast("double") *
              element_at(disc, col("arank").cast("int")))
          .otherwise(lit(0.0))).as("dcg"),
        coalesce(max(when(col("erank") === 1L,
          lit(1.0) / col("arank").cast("double"))), lit(0.0)).as("rr"))
      .withColumn("ndcg", col("dcg") / element_at(idcg, col("n_exact").cast("int")))
      .select(col("q_id"), col("n_exact").cast("long").as("n_exact"),
        col("hits").cast("long").as("hits"), col("dcg"), col("rr"), col("ndcg"))
      .orderBy("q_id")
  }

  /** q107b — q107's graded metrics over EVERY index arm (the q68b wide
    * pattern applied to ORDER quality): LSH multi-table (q46c), IVF
    * auto-√n (q46d), IMI (q46e), IVFADC (q70b) and residual IVFADC
    * (q70c) each evaluated against the exact cosine ranking at k through
    * THE shared [[retrievalQualityOf]] core, rolled up to one row per
    * arm — so order quality ranks the arms the way q68b ranks recall. A
    * RAG consumer choosing a serving arm reads THIS table: recall alone
    * cannot separate an arm that finds the right set in the wrong order.
    *
    * Per arm: n_queries, recall (mean hits/n_exact), mrr (mean rr), and
    * mean nDCG@k — every mean through the DECIMAL carrier over the
    * per-query values, so the rollup is order-free and oracle-exact.
    * Scale shape: each arm is its own audited pipeline; the metric joins
    * are |Q|·k rows; the output is |arms| rows, materialized locally so
    * the shared truth persist releases (the apSweepCells discipline).
    */
  def retrievalQualityMulti(s: SparkSession, d: String, k: Int = 10,
      queryIdMax: Long = QueryIdMax): DataFrame = {
    val exact = knnBruteForce(s, d, k, queryIdMax)
      .select(col("q_id"), col("neighbor_id"), col("rank"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val arms: Seq[(Long, String, DataFrame)] = Seq(
        (1L, "lsh_multi", knnLsh(s, d, k, tables = 2, queryIdMax = queryIdMax)),
        (2L, "ivf_auto", knnIvfAuto(s, d, k, queryIdMax)),
        (3L, "imi", knnImi(s, d, k, queryIdMax)),
        (4L, "ivfpq", knnIvfPq(s, d, k, queryIdMax)),
        (5L, "ivfpq_res", knnIvfPqResidual(s, d, k, queryIdMax)),
        (6L, "opq_ivf", knnIvfPqOpq(s, d, k, queryIdMax)))
      val perArm = arms.map { case (no, name, arm) =>
        (no, name, retrievalQualityOf(exact, arm, k)
          .agg(
            count(lit(1)).as("n_queries"),
            davg(col("hits").cast("double") / col("n_exact").cast("double")).as("recall"),
            davg(col("rr")).as("mrr"),
            davg(col("ndcg")).as("ndcg"))
          .select(lit(no).as("arm_no"), lit(name).as("arm"),
            col("n_queries"), col("recall"), col("mrr"), col("ndcg")))
      }
      // Round 17 (guide §2.6, the q98 overlap pattern): the six arms were
      // one unionByName collect — a single action whose arm pipelines ran
      // with most of the cluster idle (7.1 s wall on 41.5 CPU-s at 32
      // cores). The truth materializes FIRST (so concurrent arms read its
      // cache instead of racing to compute it), then each arm's one-row
      // aggregate collects from its own driver thread. Rows assemble in
      // fixed arm_no order — the output is byte-identical.
      s.sparkContext.setJobDescription("q107b: brute-force truth")
      exact.count()
      val rows = graft.Branches.awaitAll(perArm.map { case (_, name, df) => () => {
        // job descriptions are thread-local: each arm stays labelled
        s.sparkContext.setJobDescription(s"q107b: $name arm")
        df.collect()(0)
      }})
      s.createDataFrame(
        java.util.Arrays.asList(rows.sortBy(_.getLong(0)): _*),
        perArm.head._3.schema)
    } finally {
      exact.unpersist(blocking = false)
      // the truth's description was set on the calling thread: clear it so
      // the caller's later jobs are not labelled q107b
      s.sparkContext.setJobDescription(null)
    }
  }

  /** q68c — the recall-vs-nprobe CURVE: q68b ranks the arms at the frozen
    * serving point (nprobe=2/16) but never explores the dial, and at that
    * point the best index arm sits at 0.23 mean recall@3 — unusable as a
    * production operating point. This query sweeps nprobe over
    * {1, 2, 4, 8, 16} for the raw-float IVF arm and the coded IVFADC arm
    * (the persisted index's exact math — AnnIndexBuild.search is
    * spec-pinned bit-identical to knnIvfPq, so this curve IS the
    * persisted index's curve) against brute-force truth, one row per
    * curve point. At nprobe = 16 = all lists the IVF arm probes the whole
    * corpus and MUST hit the brute-force ceiling (recall 1.0) — the
    * sweep separates PROBE loss (rises with nprobe) from CODING loss
    * (the IVFADC gap that remains at nprobe=16). The operating point a
    * production index picks is the smallest nprobe clearing >= 0.9 of
    * its arm's ceiling (SURVEY §6 records the measured choice).
    *
    * Scale shape: everything is computed ONCE at the widest point —
    * corpus coarse assignment (one broadcast-argmax pass), PQ coding
    * (one pass through THE shared codedCorpusSubs kernel), and the
    * candidate scoring at nprobe=16 (which is the whole corpus — an
    * evaluation query pays brute-force cost by definition, exactly like
    * q68's ground-truth arm; run it on a sample in production). Each
    * scored candidate carries the probe RANK of its list, and a lazy
    * explode fans it only to the curve points that include it (~2x row
    * growth, not 5x); per-(query, point) top-k rides graft_topk's
    * bounded heaps — no per-point rescan, no corpus sort, no Window.
    * Recall aggregates integer hit counts; the single final division is
    * the only double arithmetic, so the oracle is value-exact.
    */
  def annRecallCurve(s: SparkSession, d: String, k: Int = 3,
      queryIdMax: Long = 300L, probes: Seq[Int] = Seq(1, 2, 4, 8, 16),
      sampleFrac: Double = 1.0): DataFrame = {
    require(probes.nonEmpty && probes == probes.sorted.distinct,
      s"probes must be sorted distinct: $probes")
    // sampleFrac < 1 (the documented sampled-sweep dial): the CORPUS is
    // sampled deterministically (Tables.sampleLine) in all three arms —
    // brute-force truth, raw IVF, coded IVFADC — so recall stays
    // well-defined (truth and candidates see the same corpus) and the
    // sweep's brute-force-by-definition widest point costs frac of the
    // full run. Queries are never sampled. The nprobe=16 == ceiling
    // invariant survives sampling by construction (probing all lists IS
    // the sampled brute force).
    val subDim = 8
    val exact = knnBruteForce(s, d, k, queryIdMax, sampleFrac)
      .select("q_id", "neighbor_id")

    val qp = queryProbeLists(s, d, probes.max, queryIdMax, keepRank = true)
    val probeArr = array(probes.map(p => lit(p.toLong)): _*)
    // fan a candidate (probed at rank crank) to every curve point >= crank
    def fanPoints(df: DataFrame): DataFrame =
      df.withColumn("nprobe", explode(filter(probeArr, p => p >= col("crank"))))

    // ---- raw-float IVF arm: corpus assignment once (q46b's shape) ----
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val corpus = Tables.spreadScan(s, e.filter(col("vec_id") >= queryIdMax &&
        Tables.sampleLine(col("vec_id"), sampleFrac)))
      .join(broadcast(centroidTable(s)))
      .withColumn("csim", cosine(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("v"), col("nrm"), col("list_id")),
        struct(col("csim"), -col("list_id"))).as("best"))
      .select(col("vec_id"), col("best.v").as("v"), col("best.nrm").as("nrm"),
        col("best.list_id").as("list_id"))
    val ivfTop = fanPoints(
      corpus.join(broadcast(qp), Seq("list_id"))
        .withColumn("cos", cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
        .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"), col("crank")))
      .groupBy("q_id", "nprobe")
      .agg(call_function("graft_topk",
        col("cos"), col("neighbor_id"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("q_id"), col("nprobe"), explode(col("top")).as("t"))
      .select(col("q_id"), col("nprobe"), col("t.id").as("neighbor_id"))
      .withColumn("src", lit("ivf"))

    // ---- coded IVFADC arm: q70b's exact pipeline, crank carried ----
    val recon = codedCorpusSubs(s, d, queryIdMax = queryIdMax,
      sampleFrac = sampleFrac)
      .join(broadcast(codebookTable(s)), Seq("sub_idx", "code"))
      .select("vec_id", "list_id", "sub_idx", "cv")
    val querySubs = qp
      .select(col("q_id"), col("list_id"), col("crank"),
        explode(array((0 until 8).map(sub =>
          struct(lit(sub.toLong).as("sub_idx"),
            slice(col("qv"), sub * subDim + 1, subDim).as("qsv"))): _*)).as("e"))
      .select(col("q_id"), col("list_id"), col("crank"),
        col("e.sub_idx").as("sub_idx"), col("e.qsv").as("qsv"))
    val perSub = (0 until 8).map(sub =>
      sum(when(col("sub_idx") === sub.toLong, col("dsub"))).as(s"d$sub"))
    val adcCand = recon.join(broadcast(querySubs), Seq("list_id", "sub_idx"))
      .withColumn("dsub",
        sqDist(col("qsv"), col("cv")))
      // crank is functional on (q_id, neighbor): a corpus vector lives in
      // ONE list, probed by this query at one rank — adcRank's fixed-order
      // sums with the rank riding the grouping
      .groupBy(col("q_id"), col("vec_id").as("neighbor_id"), col("crank"))
      .agg(perSub.head, perSub.tail: _*)
      .withColumn("adc_dist", (0 until 8).map(sub => col(s"d$sub")).reduce(_ + _))
      .select("q_id", "neighbor_id", "adc_dist", "crank")
    val adcTop = fanPoints(adcCand)
      .groupBy("q_id", "nprobe")
      // graft_topk keeps the max by (score DESC, id ASC); negating the
      // distance makes that (adc_dist ASC, id ASC) — adcRank's exact order
      .agg(call_function("graft_topk",
        -col("adc_dist"), col("neighbor_id"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("q_id"), col("nprobe"), explode(col("top")).as("t"))
      .select(col("q_id"), col("nprobe"), col("t.id").as("neighbor_id"))
      .withColumn("src", lit("ivfadc"))

    // ---- hits vs truth, one row per curve point ----
    import s.implicits._
    val hits = ivfTop.unionByName(adcTop)
      .join(exact, Seq("q_id", "neighbor_id"), "left_semi")
      .groupBy("nprobe")
      .agg(count(when(col("src") === "ivf", 1)).as("ivf_hits"),
        count(when(col("src") === "ivfadc", 1)).as("ivfadc_hits"))
    val points = probes.map(_.toLong).toDF("nprobe")
    points.join(hits, Seq("nprobe"), "left")
      .na.fill(0L, Seq("ivf_hits", "ivfadc_hits"))
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_truth"))))
      .select(col("nprobe"), col("ivf_hits"), col("ivfadc_hits"), col("n_truth"),
        (col("ivf_hits").cast("double") / col("n_truth").cast("double")).as("ivf_recall"),
        (col("ivfadc_hits").cast("double") / col("n_truth").cast("double")).as("ivfadc_recall"))
      .orderBy("nprobe")
  }

  /** q69 — product-quantization codebook QA (PqCodebooks = Pq.train
    * output, the offline PQ index-training artifact): assign every
    * vector's 8 subvectors to their nearest codebook entry and report, per
    * (subspace, code), the population and mean squared reconstruction
    * error. This is the health check a PQ index build runs before
    * compressing a 100 TB corpus to 4-byte codes: a dead code (zero
    * population) or a hot one with outsized distortion means the codebook
    * no longer fits the corpus distribution and recall will sag.
    *
    * Scale shape: the 128-row codebook table broadcasts; subvector
    * explode + assignment is map-side (8 rows per vector, one corpus
    * pass); the only shuffle is the final 128-group aggregation. The
    * squared-distance fold and the decimal-carrier mean keep the numbers
    * engine-exact against the DuckDB oracle.
    */
  def pqStats(s: SparkSession, d: String): DataFrame = {
    val subDim = 8
    val books = codebookTable(s)
    val subs = Tables.embeddingsScaled(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .select(col("vec_id"), explode(array((0 until 8).map(sub =>
        struct(lit(sub.toLong).as("sub_idx"),
          slice(col("v"), sub * subDim + 1, subDim).as("sv"))): _*)).as("e"))
      .select(col("vec_id"), col("e.sub_idx").as("sub_idx"), col("e.sv").as("sv"))
    // argmin via min_by (map-side partial aggregation, deterministic
    // (sqd, code) total order) — not a row_number window, which would
    // shuffle AND SORT every corpus x codes candidate row (same rework as
    // q70's assignment)
    subs.join(broadcast(books), Seq("sub_idx"))
      .withColumn("sqd",
        sqDist(col("sv"), col("cv")))
      .groupBy("vec_id", "sub_idx")
      .agg(min_by(struct(col("code"), col("sqd")), struct(col("sqd"), col("code"))).as("best"))
      .groupBy(col("sub_idx"), col("best.code").as("code"))
      .agg(count(lit(1)).as("n_vectors"),
        graft.functions.Exact.davg(col("best.sqd")).as("avg_sqdist"))
      .orderBy("sub_idx", "code")
  }

  /** THE shared ADC scoring tail — as bit-identity-load-bearing as the
    * assignment kernel, and single-sourced for the same reason: q70, q70b
    * and the persisted-index search (jobs.AnnIndexBuild) all rank through
    * this one helper, so an edit to the tie-break or the summation order
    * cannot silently break the spec-pinned search == knnIvfPq equality.
    * Input: one row per scored (q_id, vec_id, sub_idx) carrying `dsub`
    * (that subspace's squared distance). The 8 per-subspace sums are
    * separate conditional aggregates (each aggregates exactly ONE row per
    * (q_id, vec_id), so partial-aggregation order cannot perturb bits)
    * added in a FIXED expression order; rank is (adc_dist ASC,
    * neighbor_id ASC). */
  private[graft] def adcRank(partials: DataFrame, k: Int): DataFrame = {
    val perSub = (0 until 8).map(sub =>
      sum(when(col("sub_idx") === sub.toLong, col("dsub"))).as(s"d$sub"))
    val wr = Window.partitionBy("q_id").orderBy(col("adc_dist").asc, col("neighbor_id"))
    partials
      .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
      .agg(perSub.head, perSub.tail: _*)
      .withColumn("adc_dist", (0 until 8).map(sub => col(s"d$sub")).reduce(_ + _))
      .select("q_id", "neighbor_id", "adc_dist")
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("q_id", "rank")
  }

  /** q70 — PQ compressed-domain ANN search (asymmetric distance
    * computation, Jégou et al. 2011): the corpus exists only as 4-bit
    * codes; a query ranks neighbors by its exact distance to each
    * vector's RECONSTRUCTION (sum over subspaces of the squared distance
    * from the query's subvector to the coded centroid). This is the scan
    * that makes billion-vector search fit in RAM — at 100 TB the coded
    * corpus is 64× smaller than the floats, and this query is the
    * read path over it.
    *
    * Scale shape: code assignment and centroid reconstruction are
    * map-side (broadcast codebook, corpus never shuffles); the per-
    * (query, vector, subspace) partials aggregate on (q_id, vec_id) —
    * the one shuffle, rows × queries × 8 narrow rows. The 8 per-subspace
    * sums are separate conditional aggregates added in a FIXED expression
    * order, so the ADC distance is bit-reproducible against the oracle
    * (a plain SUM over subspaces would fold in partition order).
    */
  def knnPq(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    adcFlat(s, Tables.spreadScan(s, e.filter(col("vec_id") >= QueryIdMax)),
      e.filter(col("vec_id") < QueryIdMax), codebookTable(s), k)
  }

  /** Subspace explode shared by the flat ADC arms (q70 raw / q70d
    * rotated): (vec_id, v) → (vec_id, sub_idx, sv), 8 narrow rows per
    * vector, map-side. */
  private def adcSubsOf(df: DataFrame): DataFrame = df
    .select(col("vec_id"), explode(array((0 until 8).map(sub =>
      struct(lit(sub.toLong).as("sub_idx"),
        slice(col("v"), sub * 8 + 1, 8).as("sv"))): _*)).as("e"))
    .select(col("vec_id"), col("e.sub_idx").as("sub_idx"), col("e.sv").as("sv"))

  /** THE flat (no coarse index) ADC search body — q70 scores raw
    * vectors against PqCodebooks, q70d scores OPQ-rotated vectors
    * against OpqModel.books; corpus and queries arrive as (vec_id, v)
    * ALREADY IN THE SPACE THE BOOKS WERE TRAINED IN, so one body serves
    * both and the two arms cannot drift.
    *
    * Code assignment: broadcast-codebook join, then argmin via min_by —
    * an ordinary aggregate with MAP-SIDE PARTIALS, so each mapper reduces
    * its corpus × codes candidates to one row per (vec, sub) before the
    * exchange (the earlier row_number window shuffled and SORTED every
    * candidate row just to pick a minimum). The (sqd, code) ordering
    * struct is a total order, so the argmin is deterministic under any
    * partitioning and reproduces the oracle's rank tiebreak.
    */
  private def adcFlat(s: SparkSession, corpusV: DataFrame, queriesV: DataFrame,
      booksDf: DataFrame, k: Int): DataFrame = {
    val corpus = adcSubsOf(corpusV)
    val queries = adcSubsOf(queriesV)
      .select(col("vec_id").as("q_id"), col("sub_idx"), col("sv").as("qsv"))
    val recon = corpus.join(broadcast(booksDf), Seq("sub_idx"))
      .withColumn("sqd",
        sqDist(col("sv"), col("cv")))
      .groupBy("vec_id", "sub_idx")
      .agg(min_by(col("cv"), struct(col("sqd"), col("code"))).as("cv"))
    val partials = recon.join(broadcast(queries), Seq("sub_idx"))
      .withColumn("dsub",
        sqDist(col("qsv"), col("cv")))
    adcRank(partials, k)
  }

  // ---------- OPQ (q70d — Ge et al. CVPR 2013) ----------

  /** The live OPQ trainer at the frozen gate dials ([[OpqModel]]'s
    * provenance): [[Opq.train]] over the searchable corpus — what
    * TrainQuantizers --opq freezes and the live == frozen spec replays. */
  private[graft] def opqTrain(s: SparkSession, d: String):
      (Array[Array[Double]], Array[Array[Array[Double]]]) =
    Opq.train(s, Tables.embeddings(s, d)
      .filter(col("vec_id") >= QueryIdMax)
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("v")),
      dim = 64, m = 8, k = 16, seed = 42L)

  /** Rotate (vec_id, v) rows by the broadcast orthogonal R — an
    * in-register matvec kernel (the assignImiKernel genus: one map-side
    * pass, no shuffle, no per-row allocation beyond the output vector).
    * [[Opq.matvec]]'s ascending-j accumulation IS the oracle's
    * list_reduce fold, so rotated coordinates are bit-identical across
    * engines. */
  private[graft] def rotateKernel(s: SparkSession, emb: DataFrame,
      r: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(r)
    emb.select(col("vec_id").cast("long"), col("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val rm = bc.value
        it.map { case (id, sv) => (id, Opq.matvec(rm, sv.toArray).toSeq) }
      }
      .toDF("vec_id", "v")
  }

  /** q70d — OPQ compressed-domain ANN search: q70's ADC scan run in the
    * learned rotated basis ([[OpqModel]] — rotation + rotated-space
    * codebooks, Ge et al. CVPR 2013). SAME 4-byte code budget as q70;
    * the rotation aligns PQ's fixed coordinate slices with the data, so
    * reconstruction error (and with it recall) improves for free at
    * serving time — the rotation costs one map-side matvec per row,
    * fused into the same pass that slices subvectors, and the ADC plan
    * downstream is IDENTICAL to q70's (shared [[adcFlat]] body). At
    * 100 TB the model is still ~37 KB broadcast state.
    */
  def knnOpq(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    require(OpqModel.rotation.nonEmpty && OpqModel.books.nonEmpty,
      "OpqModel not frozen — run TrainQuantizers --opq and paste")
    val e = rotateKernel(s, Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v")), OpqModel.rotation)
    adcFlat(s, Tables.spreadScan(s, e.filter(col("vec_id") >= QueryIdMax)),
      e.filter(col("vec_id") < QueryIdMax),
      booksTableOf(s, OpqModel.books), k)
  }

  /** The frozen-quantizer RESIDUAL corpus as a trainer input (id, v =
    * v − c(v)) — [[OpqResidualModel]]'s training frame and the
    * TrainQuantizers residual recipe, THE shared [[listedFrame]]
    * assignment underneath. */
  private[graft] def residualTrainFrame(s: SparkSession, d: String): DataFrame =
    listedFrame(s, Tables.embeddings(s, d)
      .filter(col("vec_id") >= QueryIdMax)
      .select(col("vec_id"), toDouble(col("embedding")).as("v")), residual = true)
      .select(col("vec_id").as("id"), col("v"))

  /** The live OPQ-on-residuals trainer at the frozen gate dials
    * ([[OpqResidualModel]]'s provenance): the rotation is learned on
    * the RESIDUAL distribution — what the PQ codes actually quantize
    * under IVFADC — not the raw vectors. */
  private[graft] def opqResTrain(s: SparkSession, d: String):
      (Array[Array[Double]], Array[Array[Array[Double]]]) =
    Opq.train(s, residualTrainFrame(s, d), dim = 64, m = 8, k = 16, seed = 42L)

  /** [[codedSubsOf]] under the OPQ-RESIDUAL coding (q70e): the shared
    * listedFrame assignment and pqCodeSubs tail with the frozen
    * rotation applied to WHAT is coded — the seam the persisted OPQ
    * index (jobs.AnnIndexBuild.buildOpq) codes through, so in-query and
    * persisted codes are identical by construction. */
  private[graft] def codedSubsOpqRes(s: SparkSession, emb: DataFrame): DataFrame = {
    require(OpqResidualModel.rotation.nonEmpty && OpqResidualModel.books.nonEmpty,
      "OpqResidualModel not frozen — run TrainQuantizers --opq-res and paste")
    pqCodeSubs(
      rotateKernelListed(s, listedFrame(s, emb, residual = true),
        OpqResidualModel.rotation),
      booksTableOf(s, OpqResidualModel.books))
  }

  /** [[rotateKernel]] with a list_id rider — same in-register matvec,
    * the tag just rides through (it is functional on vec_id). */
  private def rotateKernelListed(s: SparkSession, df: DataFrame,
      r: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(r)
    df.select(col("vec_id").cast("long"), col("v"), col("list_id").cast("long"))
      .as[(Long, Seq[Double], Long)]
      .mapPartitions { it =>
        val rm = bc.value
        it.map { case (id, sv, list) => (id, Opq.matvec(rm, sv.toArray).toSeq, list) }
      }
      .toDF("vec_id", "v", "list_id")
  }

  /** q70e — OPQ-rotated residual IVFADC (the FAISS production composite,
    * OPQ + IVF + PQ): q70c's pipeline with the rotation learned ON THE
    * RESIDUAL DISTRIBUTION — the thing the 4-bit codes actually quantize
    * once the coarse quantizer absorbs the between-list variance.
    * Composition by construction: coarse assignment and query probing
    * are the UNTOUCHED shared helpers (cosine is rotation-invariant, so
    * rotating before or after the coarse step partitions identically —
    * rotating the residual keeps every frozen coarse artifact and probe
    * plan byte-for-byte), and only WHAT is PQ-coded changes: r → R·r
    * against [[OpqResidualModel]]'s rotated-space books. One extra
    * map-side matvec per corpus row and per (query, probed list); scan
    * shape, index size, and shuffle structure identical to q70b/q70c.
    */
  def knnIvfPqOpq(s: SparkSession, d: String, k: Int = 3,
      queryIdMax: Long = QueryIdMax, nProbe: Int = IvfProbes): DataFrame = {
    require(OpqResidualModel.rotation.nonEmpty && OpqResidualModel.books.nonEmpty,
      "OpqResidualModel not frozen — run TrainQuantizers --opq-res and paste")
    val subDim = 8
    val books = booksTableOf(s, OpqResidualModel.books)

    // corpus: shared coarse assignment → residual → rotate → PQ codes →
    // reconstruction (the codedSubsOf chain with a rotation in WHAT)
    val recon = codedSubsOpqRes(s, Tables.spreadScan(s, Tables.embeddings(s, d)
        .filter(col("vec_id") >= queryIdMax)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))))
      .join(broadcast(books), Seq("sub_idx", "code"))
      .select("vec_id", "list_id", "sub_idx", "cv")

    // queries: shared probe resolution → per-list residual → rotate
    val queryProbes = queryProbeLists(s, d, nProbe, queryIdMax)
    val qres = rotateKernelListed(s,
      queryProbes.join(broadcast(centroidTable(s)), Seq("list_id"))
        .select(col("q_id").as("vec_id"), col("list_id"),
          expr("zip_with(qv, cv, (x, y) -> x - y)").as("v")),
      OpqResidualModel.rotation)
    val querySubs = qres
      .select(col("vec_id").as("q_id"), col("list_id"),
        explode(array((0 until 8).map(sub =>
          struct(lit(sub.toLong).as("sub_idx"),
            slice(col("v"), sub * subDim + 1, subDim).as("qsv"))): _*)).as("e"))
      .select(col("q_id"), col("list_id"), col("e.sub_idx").as("sub_idx"), col("e.qsv").as("qsv"))
    val partials = recon.join(broadcast(querySubs), Seq("list_id", "sub_idx"))
      .withColumn("dsub",
        sqDist(col("qsv"), col("cv")))
    adcRank(partials, k)
  }

  def knnIvf(s: SparkSession, d: String, k: Int = 3,
      queryIdMax: Long = QueryIdMax): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))

    // probe side: THE shared resolver (queryProbeLists — also what q70b
    // and the persisted index run), so a recall-dial or tie-break change
    // reaches every probing path at once
    val queries = queryProbeLists(s, d, IvfProbes, queryIdMax)
    // corpus side (the one that scales): nearest-centroid argmax via
    // max_by — map-side partials, no per-vector sort; ties keep the
    // smallest list_id, matching the resolver's window tie-break
    val corpus = Tables.spreadScan(s, e.filter(col("vec_id") >= queryIdMax))
      .join(broadcast(centroidTable(s)))
      .withColumn("csim", cosine(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("v"), col("nrm"), col("list_id")),
        struct(col("csim"), -col("list_id"))).as("best"))
      .select(col("vec_id"), col("best.v").as("v"), col("best.nrm").as("nrm"),
        col("best.list_id").as("list_id"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("neighbor_id"))
    corpus.join(broadcast(queries), Seq("list_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("q_id", "rank")
  }

  // ---------- AUTO-k coarse quantizer (q46d / q54b / q68d) ----------

  /** Auto-k recipe constants: the training seed/iters are the frozen
    * provenance of [[graft.operators.IvfCentroidsAuto]]; AutoMppc is
    * FAISS's max_points_per_centroid device — the trainer sees ~64
    * points per centroid, so with k ≈ √n training costs O(n·d·iters),
    * never O(n·k). */
  private[graft] val AutoSeed = 42L
  private[graft] val AutoIters = 10
  private[graft] val AutoMppc = 64

  /** The auto list-count dial: k = the smallest power of two (≥ 16) with
    * k² ≥ n — the √n rule every flat-IVF sizing guide converges on
    * (per-query scan cost k + nprobe·n/k is minimized at k ~ √n; FAISS
    * recommends nlist ∈ [4√n, 16√n]). Exact integer arithmetic — no
    * float log at power-of-two boundaries (the autoBits adjudication,
    * DedupOps.autoBits). A frozen k means per-list population grows
    * linearly with the corpus and probing degrades toward a full scan
    * (the q44b/q67b genus — the round-10 verdict's last frozen scale
    * dial); under this rule per-list population grows only as √n.
    */
  /** Flat-IVF sizing ceiling: k caps at 2^20 lists. The cap is where the
    * FLAT coarse quantizer's own model stops fitting: the centroid table
    * is k × 64 dims × 8 B — 512 MB of driver- and executor-resident
    * doubles at the cap — and k²=n puts that corpus at n ≈ 10^12
    * vectors (~a quarter-petabyte of raw fp32 at d=64). Past it, a flat
    * table is the wrong structure regardless of memory: the escape
    * hatch is a hierarchical quantizer (IMI — two 2^10 codebooks whose
    * PRODUCT spans 2^20 cells from 16 MB of centroids, Babenko &
    * Lempitsky CVPR 2012 — or a two-level coarse tree), which composes
    * with everything downstream of the assignment kernel since lists
    * are still just ids. [[autoK]] clamps silently (a bigger corpus
    * still gets a working, if coarser-than-√n, index); [[autoQuantizer]]
    * warns when the clamp engages so a 100 TB run sees the dial pinned.
    */
  private[graft] val AutoKCap = 1 << 20

  private[graft] def autoK(n: Long): Int = {
    require(n >= 0, s"corpus size must be >= 0; got $n")
    var k = 16
    while (k.toLong * k < n && k < AutoKCap) k <<= 1
    k
  }

  /** Most recent trained auto quantizer per (session, lake, corpus
    * convention) — q46d/q54b/q68d share one training run (the
    * established one-live-copy policy, DedupOps.sigTable's pattern);
    * the cache holds k×64 doubles — 512 KiB at the gate lake's k=1024,
    * and bounded by [[AutoKCap]]'s 512 MB worst case (the flat-IVF
    * model's own ceiling, see there), never rows. The SESSION key is
    * weak ([[SessionModelCache]]): a JVM cycling sessions on one
    * long-lived context stops retaining retired sessions' models. */
  private val autoQuantCaches =
    new SessionModelCache[(String, Long), (Int, Array[Array[Double]])]()

  /** Train (or fetch) the AUTO coarse quantizer for lake `d`: measure the
    * searchable corpus size, derive k via [[autoK]], bound the training
    * set to ~[[AutoMppc]] points per centroid on the deterministic q36
    * hash line, and run the sampled trainer ([[Kmeans.trainSampled]]:
    * deterministic sample-init + distributed Lloyd). Fully deterministic
    * for a fixed lake — reruns (and the frozen gate artifact
    * [[graft.operators.IvfCentroidsAuto]]) reproduce it bit-exactly.
    */
  private[graft] def autoQuantizer(s: SparkSession, d: String,
      queryIdMax: Long = QueryIdMax): (Int, Array[Array[Double]]) =
    autoQuantCaches.getOrCompute(s, (d, queryIdMax))(
      autoQuantizerOf(s, Tables.embeddings(s, d)
        .filter(col("vec_id") >= queryIdMax)
        .select(col("vec_id").as("id"), toDouble(col("embedding")).as("v"))))

  /** The auto-k training recipe over an arbitrary `(id, v)` frame — the
    * seam pipeline stages train through (CorpusPrep's prototype-prune
    * stage quantizes its SURVIVING frontier, not the raw lake). Uncached:
    * a frontier is run-specific. */
  private[graft] def autoQuantizerOf(s: SparkSession,
      corpus: DataFrame): (Int, Array[Array[Double]]) = {
    val n = corpus.count()
    require(n > 0, "auto quantizer: empty corpus")
    val k = autoK(n)
    if (k.toLong * k < n)
      System.err.println(s"[graft] autoK clamped at $k lists for n=$n vectors " +
        "(k^2 < n): per-list population now grows past sqrt(n) — switch to " +
        "a hierarchical (IMI-style) coarse quantizer at this scale")
    val frac = math.min(1.0, AutoMppc.toDouble * k / n)
    val sample = Tables.spreadScan(s, corpus.filter(Tables.sampleLine(col("id"), frac)))
    (k, Kmeans.trainSampled(s, sample, k, AutoIters, AutoSeed))
  }

  /** Corpus coarse assignment against an in-memory centroid matrix — the
    * auto arm's one deliberate mapPartitions kernel: the DataFrame
    * formulation (broadcast-join + max_by, q46b's shape) materializes
    * n×k joined rows each carrying two 64-double arrays, which at
    * k = 512 / n = 200k is ~10⁸ rows of pure churn for 6.5×10⁹ multiplies
    * this kernel does in-register in one streaming pass (k is no longer
    * the constant 16 that made the join shape cheap). Bit-exactness with
    * the DuckDB oracle is preserved by construction: ascending-index IEEE
    * folds for dot/norm (the graft_dot order) and strict `>` argmax
    * keeping the smallest list on ties (the (csim DESC, list_id) window
    * rank). Emits (vec_id, v, nrm, list_id).
    */
  private[graft] def assignListsKernel(s: SparkSession, emb: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(cents)
    emb.select(col("vec_id").cast("long"), col("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        val k = cs.length
        val cnrm = Array.tabulate(k) { c =>
          var t = 0.0; var i = 0
          val cv = cs(c)
          while (i < cv.length) { t += cv(i) * cv(i); i += 1 }
          math.sqrt(t)
        }
        it.map { case (id, sv) =>
          val v = sv.toArray
          var t = 0.0; var i = 0
          while (i < v.length) { t += v(i) * v(i); i += 1 }
          val nrm = math.sqrt(t)
          var best = 0; var bestCos = Double.NegativeInfinity
          var c = 0
          while (c < k) {
            var dot = 0.0; var j = 0
            val cv = cs(c)
            while (j < v.length) { dot += v(j) * cv(j); j += 1 }
            val cos = dot / (nrm * cnrm(c))
            if (cos > bestCos) { bestCos = cos; best = c }
            c += 1
          }
          (id, sv, nrm, best.toLong)
        }
      }
      .toDF("vec_id", "v", "nrm", "list_id")
  }

  /** q46d — IVF ANN under the AUTO-k trained quantizer: the same search
    * as q46b (probe the query's [[IvfProbes]] nearest lists, rank within
    * them) with the quantizer's list count derived FROM THE CORPUS at
    * query time ([[autoK]]: k = min 2^b with k² ≥ n) and the centroids
    * trained live by the deterministic sampled trainer. q46b keeps its
    * pinned k=16 oracle as the frozen baseline; THIS is the arm a
    * growing corpus operates — per-list population grows √n, probed
    * rows per query ~nprobe·√n (sub-linear), and no human retunes
    * anything. Oracled via the generated-oracle pattern: the gate lake's
    * trained centroids are frozen at full precision
    * ([[graft.operators.IvfCentroidsAuto]], TrainQuantizers --auto) and
    * the DuckDB side replays assignment/probe/rank from those constants;
    * a spec pins live-trained == frozen bit-exactly, so a drifted
    * trainer or a stale freeze fails the suite, not just parity.
    */
  def knnIvfAuto(s: SparkSession, d: String, k: Int = 3,
      queryIdMax: Long = QueryIdMax): DataFrame = {
    val (_, cents) = autoQuantizer(s, d, queryIdMax)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val queries = queryProbeLists(s, d, IvfProbes, queryIdMax,
      cents = centroidTableOf(s, cents))
    val corpus = assignListsKernel(s,
      Tables.spreadScan(s, e.filter(col("vec_id") >= queryIdMax)
        .select(col("vec_id"), col("v"))), cents)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("neighbor_id"))
    corpus.join(broadcast(queries), Seq("list_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("q_id", "rank")
  }

  /** q54b — the auto-k index health histogram: q54's list-balance check
    * under the AUTO quantizer, over the searchable corpus (what the
    * index actually holds — the auto arm trains and assigns corpus-only,
    * like the persisted index). The decade evidence for the auto dial:
    * k grows with the corpus, so per-list population stays ~√n where the
    * frozen 16-list arm's grows linearly. One kernel pass + one ≤k-group
    * aggregation.
    */
  def ivfListBalanceAuto(s: SparkSession, d: String): DataFrame = {
    val (_, cents) = autoQuantizer(s, d)
    val corpus = Tables.embeddingsScaled(s, d)
      .filter(col("vec_id") >= QueryIdMax)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    assignListsKernel(s, corpus, cents)
      .groupBy("list_id")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("list_id")
  }

  /** q68d — the auto arm's recall row (q68's evaluation shape): per
    * query, recall@k of the auto-k IVF search against exact brute-force
    * truth — the gate a retrained auto quantizer passes before serving.
    * Arms are their own scale-audited queries; the evaluation adds one
    * left join + one aggregation over queries×k rows.
    */
  def annRecallAuto(s: SparkSession, d: String, k: Int = 3,
      queryIdMax: Long = QueryIdMax): DataFrame = {
    val exact = knnBruteForce(s, d, k, queryIdMax).select("q_id", "neighbor_id")
    val auto = knnIvfAuto(s, d, k, queryIdMax)
      .select("q_id", "neighbor_id").withColumn("hit", lit(1))
    exact.join(auto, Seq("q_id", "neighbor_id"), "left")
      .groupBy("q_id")
      .agg(countDistinct("neighbor_id").as("n_exact"),
        count(col("hit")).as("auto_hits"))
      .withColumn("auto_recall",
        col("auto_hits").cast("double") / col("n_exact").cast("double"))
      .orderBy("q_id")
  }

  /** q68e — the auto arm's recall-vs-nprobe operating CURVE (q68c's
    * device pointed at the AUTO quantizer): the table an operator reads
    * to derive `searchAuto`'s corpus-specific serving dial — probed
    * fraction is nprobe/k with k now data-derived, so the dial must be
    * re-read per corpus, which is exactly what this query does. Sweep
    * points default to powers of two up to the GATE k (32); on a larger
    * corpus the same points simply probe a smaller fraction. At
    * nprobe = k (all lists probed) the arm IS brute force and recall
    * must hit 1.0 — the spec pins that ceiling on the gate lake.
    *
    * Scale shape: corpus assignment once through the kernel, candidates
    * carry their probe RANK and fan lazily to the curve points that
    * include them (q68c's device), per-(query, point) top-k on bounded
    * graft_topk heaps — no per-point rescan, no corpus sort.
    */
  def annRecallCurveAuto(s: SparkSession, d: String, k: Int = 3,
      queryIdMax: Long = QueryIdMax,
      probes: Seq[Int] = Seq(1, 2, 4, 8, 16, 32)): DataFrame = {
    require(probes.nonEmpty && probes == probes.sorted.distinct,
      s"probes must be sorted distinct: $probes")
    val (_, cents) = autoQuantizer(s, d, queryIdMax)
    val exact = knnBruteForce(s, d, k, queryIdMax).select("q_id", "neighbor_id")
    val qp = queryProbeLists(s, d, probes.max, queryIdMax, keepRank = true,
      cents = centroidTableOf(s, cents))
    val corpus = assignListsKernel(s,
      Tables.spreadScan(s, Tables.embeddings(s, d)
        .filter(col("vec_id") >= queryIdMax)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))), cents)
    val probeArr = array(probes.map(p => lit(p.toLong)): _*)
    val hits = corpus.join(broadcast(qp), Seq("list_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"), col("crank"))
      .withColumn("nprobe", explode(filter(probeArr, p => p >= col("crank"))))
      .groupBy("q_id", "nprobe")
      .agg(call_function("graft_topk",
        col("cos"), col("neighbor_id"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("q_id"), col("nprobe"), explode(col("top")).as("t"))
      .select(col("q_id"), col("nprobe"), col("t.id").as("neighbor_id"))
      .join(exact, Seq("q_id", "neighbor_id"), "left_semi")
      .groupBy("nprobe")
      .agg(count(lit(1)).as("auto_hits"))
    import s.implicits._
    probes.map(_.toLong).toDF("nprobe")
      .join(hits, Seq("nprobe"), "left")
      .na.fill(0L, Seq("auto_hits"))
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_truth"))))
      .select(col("nprobe"), col("auto_hits"), col("n_truth"),
        (col("auto_hits").cast("double") / col("n_truth").cast("double")).as("auto_recall"))
      .orderBy("nprobe")
  }

  // ---------- IMI multi-index coarse quantizer (q46e) ----------

  /** IMI per-half sub-codebook sizing: K = the smallest power of two
    * (≥ 4) with K⁴ ≥ n, capped at [[ImiKCap]] — cells = K² then follows
    * the same √n rule as [[autoK]], but the stored model is 2·K·(d/2)
    * doubles instead of K²·d. At the [[AutoKCap]] frontier (cells = 2^20,
    * n ≈ 10^12) the two codebooks are 2·2^10·32·8 B = 512 KiB where the
    * flat table is 512 MB — THE documented escape hatch past the flat
    * quantizer's model-size ceiling (Babenko & Lempitsky CVPR 2012,
    * "The inverted multi-index"). Exact integer arithmetic, the autoK
    * convention. */
  private[graft] val ImiKCap = 1 << 10
  private[graft] def autoImiK(n: Long): Int = {
    require(n >= 0, s"corpus size must be >= 0; got $n")
    var k = 4
    while (k.toLong * k * k * k < n && k < ImiKCap) k <<= 1
    k
  }

  /** q46e's probe dial: IMI cells are ~K× finer than flat auto-k lists
    * at the same corpus (K² ≈ √n·K cells vs √n lists), so probing the
    * same corpus FRACTION takes proportionally more cells. 4 cells of
    * the gate lake's 64 probes 1/16 of the corpus — the fraction q46b's
    * 2-of-16 and q46d's 2-of-32 dials land around. */
  private[graft] val ImiProbes = 4

  /** Most recent trained IMI quantizer per (session, lake, corpus
    * convention) — the [[autoQuantizer]] cache policy (weak session key
    * via [[SessionModelCache]]); the cached model is 2·K·32 doubles, KiB
    * at any corpus size (that smallness is the whole point of IMI). */
  private val imiQuantCaches =
    new SessionModelCache[(String, Long),
      (Int, Array[Array[Double]], Array[Array[Double]])]()

  private[graft] def imiQuantizer(s: SparkSession, d: String,
      queryIdMax: Long = QueryIdMax): (Int, Array[Array[Double]], Array[Array[Double]]) =
    imiQuantCaches.getOrCompute(s, (d, queryIdMax))(
      imiQuantizerOf(s, Tables.embeddings(s, d)
        .filter(col("vec_id") >= queryIdMax)
        .select(col("vec_id").as("id"), toDouble(col("embedding")).as("v"))))

  /** Train the two per-half codebooks: K = [[autoImiK]](n), ONE
    * deterministic q36-hash-line sample bounded to ~[[AutoMppc]]·K points
    * feeds both halves (slice(v, 1, 32) / slice(v, 33, 32)), trained by
    * the same sampled trainer as the flat auto arm with seeds
    * [[AutoSeed]] / [[AutoSeed]]+1 — fully deterministic for a fixed
    * lake, so the frozen gate artifact ([[ImiCodebooks]], TrainQuantizers
    * --imi) reproduces it bit-exactly. */
  private[graft] def imiQuantizerOf(s: SparkSession,
      corpus: DataFrame): (Int, Array[Array[Double]], Array[Array[Double]]) = {
    val n = corpus.count()
    require(n > 0, "IMI quantizer: empty corpus")
    val k = autoImiK(n)
    val frac = math.min(1.0, AutoMppc.toDouble * k / n)
    val sample = Tables.spreadScan(s, corpus.filter(Tables.sampleLine(col("id"), frac)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val h1 = Kmeans.trainSampled(s,
        sample.select(col("id"), slice(col("v"), 1, 32).as("v")), k, AutoIters, AutoSeed)
      val h2 = Kmeans.trainSampled(s,
        sample.select(col("id"), slice(col("v"), 33, 32).as("v")), k, AutoIters, AutoSeed + 1)
      (k, h1, h2)
    } finally sample.unpersist(blocking = false)
  }

  /** IMI coarse assignment against the two in-memory half codebooks —
    * the [[assignListsKernel]] genus: cell id = i1·K + i2 where i_h is
    * the per-half L2 argmin (STANDARD IMI — the coarse quantizer is a
    * bucketing device, L2 per half is additive where per-half cosine is
    * not; final candidate ranking stays cosine like every other arm).
    * Ascending-index IEEE distance folds, strict `<` argmin keeping the
    * smallest index on ties — the (dist ASC, idx) oracle window order.
    * Emits (vec_id, v, nrm, list_id). */
  private[graft] def assignImiKernel(s: SparkSession, emb: DataFrame,
      cb1: Array[Array[Double]], cb2: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    require(cb1.length == cb2.length, "IMI halves must share K")
    val b1 = s.sparkContext.broadcast(cb1)
    val b2 = s.sparkContext.broadcast(cb2)
    emb.select(col("vec_id").cast("long"), col("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val c1 = b1.value; val c2 = b2.value
        val k = c1.length
        val half = c1(0).length
        def argmin(cs: Array[Array[Double]], v: Array[Double], off: Int): Int = {
          var best = 0; var bestD = Double.PositiveInfinity
          var c = 0
          while (c < k) {
            var t = 0.0; var j = 0
            val cv = cs(c)
            while (j < half) { val dd = v(off + j) - cv(j); t += dd * dd; j += 1 }
            if (t < bestD) { bestD = t; best = c }
            c += 1
          }
          best
        }
        it.map { case (id, sv) =>
          val v = sv.toArray
          var t = 0.0; var i = 0
          while (i < v.length) { t += v(i) * v(i); i += 1 }
          val i1 = argmin(c1, v, 0)
          val i2 = argmin(c2, v, half)
          (id, sv, math.sqrt(t), i1.toLong * k + i2)
        }
      }
      .toDF("vec_id", "v", "nrm", "list_id")
  }

  /** A half codebook as a broadcastable (idx, c) table. */
  private def halfTable(s: SparkSession, cb: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    cb.toSeq.zipWithIndex.map { case (cv, i) => (i.toLong, cv.toSeq) }.toDF("idx", "c")
  }

  /** Query-side IMI probe resolution, GRID form: per query, the per-half
    * distance tables (K rows each) join into the K² cell grid, rank by
    * (d1 + d2 ASC, cell id) — additivity is exactly why the coarse
    * metric is per-half L2 — and the top `nProbe` cells probe. K² rows
    * per QUERY — fine at gate scale, √n cells per query at auto-K; the
    * SERVING path is [[imiFrontierProbes]] (the multi-sequence walk,
    * same cells, O(nProbe·log nProbe) per query). Kept as the
    * adjudication baseline the spec pins the frontier against. */
  private[graft] def imiQueryProbes(s: SparkSession, d: String, nProbe: Int,
      k: Int, cb1: Array[Array[Double]], cb2: Array[Array[Double]],
      queryIdMax: Long = QueryIdMax): DataFrame = {
    val q = Tables.embeddings(s, d)
      .filter(col("vec_id") < queryIdMax)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val d1 = q.join(broadcast(halfTable(s, cb1).withColumnRenamed("idx", "i1")))
      .withColumn("d1", sqDist(slice(col("v"), 1, 32), col("c"))).drop("c")
    val d2 = q.select(col("vec_id"), col("v"))
      .join(broadcast(halfTable(s, cb2).withColumnRenamed("idx", "i2")))
      .withColumn("d2", sqDist(slice(col("v"), 33, 32), col("c")))
      .select("vec_id", "i2", "d2")
    val wProbe = Window.partitionBy("vec_id")
      .orderBy(col("ds").asc, col("list_id").asc)
    d1.join(d2, Seq("vec_id"))
      .withColumn("ds", col("d1") + col("d2"))
      .withColumn("list_id", col("i1") * k + col("i2"))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("list_id"))
  }

  /** The multi-sequence frontier walk (Babenko & Lempitsky CVPR 2012
    * §3.1): emit the top `nProbe` cells of the K² grid in (d1+d2 ASC,
    * cell id ASC) order WITHOUT materializing the grid — each half's
    * distances sort once (K log K), then a priority-queue frontier walks
    * the sorted plane from (0,0), pushing a cell's right/down successor
    * only when its other predecessor has been visited (so each cell
    * enters the heap once) and popping in nondecreasing d1+d2 order.
    * Per query: O(K·d/2) distance work + O(K log K + nProbe log nProbe)
    * walk — at auto-K = n^(1/4) this replaces the grid path's √n cells
    * per query with the probe count itself, the difference between a
    * benchmark audit and a production server at 10⁹ vectors.
    *
    * EXACT-SET contract with the grid: pops are nondecreasing in ds, so
    * after the nProbe-th pop the walk keeps draining cells TIED with the
    * boundary ds (their predecessors all sit at ≤ the boundary, hence
    * already popped — the tie group is fully reachable), then one local
    * sort by (ds, cell id) cuts the identical top-nProbe the grid's
    * window rank selects. Spec-pinned equal on the gate lake. */
  private[graft] def frontierCells(d1: Array[Double], d2: Array[Double],
      nProbe: Int): Array[Long] = {
    val k = d1.length
    require(d2.length == k, s"IMI halves must share K; got $k/${d2.length}")
    val target = math.min(nProbe.toLong, k.toLong * k).toInt
    if (target <= 0) return Array.empty
    // per-half enumeration order: (dist ASC, original idx ASC) — the same
    // total order the grid path's (ds ASC, list_id ASC) rank induces
    val o1 = Array.range(0, k).sortBy(i => (d1(i), i))
    val o2 = Array.range(0, k).sortBy(i => (d2(i), i))
    def lidOf(a: Int, b: Int): Long = o1(a).toLong * k + o2(b)
    def dsOf(a: Int, b: Int): Double = d1(o1(a)) + d2(o2(b))
    implicit val ord: Ordering[(Double, Long, Int, Int)] =
      Ordering.by[(Double, Long, Int, Int), (Double, Long)](t => (t._1, t._2)).reverse
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long, Int, Int)]
    val popped = new java.util.HashSet[Long]()
    // no pushed-set needed (a review cleanup): the predecessor-pop
    // guards below already admit exactly ONE push per cell — (a,b) can
    // only enter from the LATER of its two predecessors' pops (each
    // guard checks the OTHER predecessor's popped state), and boundary
    // cells have a single predecessor. The property spec pins the walk
    // against a naive grid sort on tie-heavy inputs.
    def push(a: Int, b: Int): Unit =
      if (a < k && b < k)
        heap.enqueue((dsOf(a, b), lidOf(a, b), a, b))
    def isPopped(a: Int, b: Int): Boolean = popped.contains(a.toLong * k + b)
    push(0, 0)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    var boundary = 0.0
    while (heap.nonEmpty && (out.length < target || heap.head._1 == boundary)) {
      val (ds, lid, a, b) = heap.dequeue()
      popped.add(a.toLong * k + b)
      out += ((ds, lid))
      if (out.length == target) boundary = ds
      if (b == 0 || isPopped(a + 1, b - 1)) push(a + 1, b)
      if (a == 0 || isPopped(a - 1, b + 1)) push(a, b + 1)
    }
    out.sortInPlaceBy(t => (t._1, t._2))
    out.take(target).map(_._2).toArray
  }

  /** [[imiQueryProbes]] through [[frontierCells]] — the SERVING probe
    * path: one in-register kernel pass over the query set (broadcast
    * half codebooks, the [[assignImiKernel]] genus), each query emitting
    * its nProbe cells directly; no K²-row grid, no window rank, no
    * shuffle. Per-half distances fold in ascending-component order —
    * bit-identical to the grid path's sqDist fold, so the emitted sets
    * are EXACTLY the grid's top-nProbe (spec-pinned). */
  private[graft] def imiFrontierProbes(s: SparkSession, d: String, nProbe: Int,
      k: Int, cb1: Array[Array[Double]], cb2: Array[Array[Double]],
      queryIdMax: Long = QueryIdMax): DataFrame = {
    import s.implicits._
    require(cb1.length == k && cb2.length == k, "IMI halves must share K")
    val b1 = s.sparkContext.broadcast(cb1)
    val b2 = s.sparkContext.broadcast(cb2)
    Tables.embeddings(s, d)
      .filter(col("vec_id") < queryIdMax)
      .select(col("vec_id").cast("long"), toDouble(col("embedding")).as("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val c1 = b1.value; val c2 = b2.value
        val kk = c1.length
        val half = c1(0).length
        def dists(cs: Array[Array[Double]], v: Array[Double], off: Int): Array[Double] = {
          val out = new Array[Double](kk)
          var c = 0
          while (c < kk) {
            var t = 0.0; var j = 0
            val cv = cs(c)
            while (j < half) { val dd = v(off + j) - cv(j); t += dd * dd; j += 1 }
            out(c) = t; c += 1
          }
          out
        }
        it.flatMap { case (id, sv) =>
          // corrupt-row guard (a review finding): the grid path this
          // replaced scored through graft_sqdist, whose NULL contract
          // made a short or null embedding surface as NULL distances —
          // the hand-rolled kernel would instead abort the whole job on
          // v(off + j). A malformed query row emits NO probes (the same
          // observable as NULL-ranked everywhere), never a crash.
          if (sv == null || sv.length != 2 * half) Iterator.empty
          else {
            val v = sv.toArray
            var t = 0.0; var i = 0
            while (i < v.length) { t += v(i) * v(i); i += 1 }
            val nrm = math.sqrt(t)
            frontierCells(dists(c1, v, 0), dists(c2, v, half), nProbe)
              .map(lid => (id, sv, nrm, lid))
          }
        }
      }
      .toDF("q_id", "qv", "qnrm", "list_id")
  }

  /** q46e — ANN under the INVERTED MULTI-INDEX coarse quantizer
    * (Babenko & Lempitsky CVPR 2012): the documented escape hatch past
    * [[AutoKCap]], now implemented — two per-half codebooks of
    * [[autoImiK]](n) centroids each span K² cells from 2·K·32 doubles of
    * model, so the √n-cells rule keeps holding where the flat table's
    * OWN SIZE stops fitting (512 MB at 2^20 lists; IMI spans the same
    * cells from 512 KiB). Corpus assignment is one in-register kernel
    * pass ([[assignImiKernel]] — and CHEAPER than flat at equal cells:
    * 2·K half-distances per vector vs K² full ones); queries walk the
    * multi-sequence frontier ([[imiFrontierProbes]] — lazy (d1+d2 ASC,
    * cell ASC) emission, never the K² grid) and probe [[ImiProbes]]
    * cells;
    * candidate ranking inside probed cells is the engine-wide cosine
    * top-k, identical to q46b/q46d downstream — lists are just ids, so
    * everything downstream of assignment (the partitioned persisted
    * index, PQ/ADC coding, recall gates) composes unchanged. Oracled via
    * the frozen-artifact pattern ([[ImiCodebooks]], TrainQuantizers
    * --imi); a spec pins live-trained == frozen plus kernel-vs-naive
    * assignment and the recall relation against flat quantizers at equal
    * cell count. */
  def knnImi(s: SparkSession, d: String, k: Int = 3,
      queryIdMax: Long = QueryIdMax, nProbe: Int = ImiProbes): DataFrame = {
    val (kk, cb1, cb2) = imiQuantizer(s, d, queryIdMax)
    val queries = imiFrontierProbes(s, d, nProbe, kk, cb1, cb2, queryIdMax)
    val corpus = assignImiKernel(s,
      Tables.spreadScan(s, Tables.embeddings(s, d)
        .filter(col("vec_id") >= queryIdMax)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))), cb1, cb2)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("neighbor_id"))
    corpus.join(broadcast(queries), Seq("list_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("q_id", "rank")
  }

  /** q46f — the IMI arm's recall row (q68d's evaluation shape pointed at
    * the multi-index quantizer): per query, recall@k of the IMI search
    * against exact brute-force truth — the retrain gate for the
    * multi-index, and the third member of the recall family (frozen
    * q68, auto q68d, IMI here; an index family without its recall gate
    * is a dial nobody can trust). Arms are their own scale-audited
    * queries; the evaluation adds one left join + one bounded
    * aggregation over queries×k rows.
    */
  def annRecallImi(s: SparkSession, d: String, k: Int = 3,
      queryIdMax: Long = QueryIdMax): DataFrame = {
    val exact = knnBruteForce(s, d, k, queryIdMax).select("q_id", "neighbor_id")
    val imi = knnImi(s, d, k, queryIdMax)
      .select("q_id", "neighbor_id").withColumn("hit", lit(1))
    exact.join(imi, Seq("q_id", "neighbor_id"), "left")
      .groupBy("q_id")
      .agg(countDistinct("neighbor_id").as("n_exact"),
        count(col("hit")).as("imi_hits"))
      .withColumn("imi_recall",
        col("imi_hits").cast("double") / col("n_exact").cast("double"))
      .orderBy("q_id")
  }

  /** q101 — cluster-prototypicality pruning (SSL-prototype scoring per
    * Sorscher et al. NeurIPS 2022; the diversify half of D4, Tirumala et
    * al. 2023): assign every corpus vector to its nearest AUTO-k
    * centroid, score prototypicality as cosine to the assigned centroid,
    * and mark the most-prototypical `pruneFrac` of each cluster for
    * removal — D4's recipe drops the easy/redundant core of each
    * semantic cluster and keeps the informative boundary, the
    * data-pruning step that beats power-law scaling on over-sampled
    * corpora. SemDeDup (q67) removes near-IDENTICAL pairs; this removes
    * REPRESENTATIVE mass — the two compose into the full D4 pass.
    *
    * Output: one row per corpus vector with its cluster, score,
    * within-cluster rank (1 = most prototypical), cluster size, and the
    * keep verdict `proto_rank > ceil(pruneFrac · n_list)`.
    *
    * Scale shape: one assignment-kernel pass (O(n·d·k) in-register, the
    * auto arm's kernel), one broadcast join of k centroid rows to score
    * the assigned cosine, then a rank window PARTITIONED BY list_id —
    * per-partition sort of ~n/k ≈ √n rows under the auto-k rule, never
    * a global sort. Oracled via the frozen-centroid generated-oracle
    * device (IvfCentroidsAuto), like q46d/q54b.
    */
  def prototypePrune(s: SparkSession, d: String, pruneFrac: Double = 0.25,
      queryIdMax: Long = QueryIdMax): DataFrame = {
    val (_, cents) = autoQuantizer(s, d, queryIdMax)
    val corpus = Tables.embeddingsScaled(s, d)
      .filter(col("vec_id") >= queryIdMax)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    prototypeRank(s, corpus, cents, pruneFrac).orderBy("vec_id")
  }

  /** [[prototypePrune]] over an arbitrary `(vec_id, v)` frame with a
    * quantizer trained ON THAT frame — the pipeline seam (CorpusPrep's
    * opt-in D4 stage prunes its surviving frontier; clusters must
    * describe the survivors, not the raw lake). UNORDERED — driver
    * queries order on top. */
  def prototypePruneOf(s: SparkSession, emb: DataFrame,
      pruneFrac: Double): DataFrame = {
    val (_, cents) = autoQuantizerOf(s,
      emb.select(col("vec_id").as("id"), col("v")))
    prototypeRank(s, emb.select("vec_id", "v"), cents, pruneFrac)
  }

  /** The shared assignment → score → within-cluster rank → cut body. */
  private def prototypeRank(s: SparkSession, corpus: DataFrame,
      cents: Array[Array[Double]], pruneFrac: Double): DataFrame = {
    require(pruneFrac >= 0.0 && pruneFrac < 1.0, s"pruneFrac in [0,1); got $pruneFrac")
    val asg = assignListsKernel(s, Tables.spreadScan(s, corpus), cents)
    // re-derive the assigned cosine via the shared helpers — the same
    // ascending-index dot fold the kernel's argmax used, so the score is
    // bit-equal to the assignment decision (and to the DuckDB replay)
    val scored = asg.join(broadcast(centroidTableOf(s, cents)), Seq("list_id"))
      .withColumn("proto_cos", cosine(col("v"), col("cv"), col("nrm"), col("cnrm")))
    val wRank = Window.partitionBy("list_id")
      .orderBy(col("proto_cos").desc, col("vec_id"))
    val wList = Window.partitionBy("list_id")
    scored.select(col("vec_id"), col("list_id"), col("proto_cos"))
      .withColumn("proto_rank", row_number().over(wRank).cast("long"))
      .withColumn("n_list", count(lit(1)).over(wList))
      .withColumn("keep",
        col("proto_rank").cast("double") > ceil(lit(pruneFrac) * col("n_list").cast("double")))
  }

  /** q103 — the corpus CARTOGRAPHY table: one row per auto-k semantic
    * cluster with its population, token mass, mean q48 quality score,
    * source-mix Shannon entropy, and dominant source — the "what is in
    * this corpus, and where" report an operator reads before deciding
    * which clusters to prune (q101), dedup harder (q67), or up/down-mix
    * (q64). The cross-modal join every cluster-level curation decision
    * needs: embeddings give the clusters, documents give the content
    * stats, linked by the established vec_id = doc_id convention.
    *
    * Scale shape: one assignment-kernel pass over the embeddings, one
    * equi-join with the scored documents on the id (both sides shuffle
    * once on the key — co-located at any scale), then aggregations whose
    * output is k + k·|sources| rows; the entropy/top-source joins touch
    * only those bounded frames. Mean score and entropy go through the
    * exact DECIMAL carrier (Exact.dsum), so the report is bit-stable
    * under any partitioning.
    */
  def clusterMap(s: SparkSession, d: String,
      queryIdMax: Long = QueryIdMax): DataFrame = {
    val (_, cents) = autoQuantizer(s, d, queryIdMax)
    val corpus = Tables.embeddingsScaled(s, d)
      .filter(col("vec_id") >= queryIdMax)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val asg = assignListsKernel(s, Tables.spreadScan(s, corpus), cents)
      .select(col("vec_id").as("doc_id"), col("list_id"))
    val docs = TextAnalysisOps.qualityScoredOf(
        Tables.documentsScaled(s, d), carry = Seq("source"))
      .select("doc_id", "source", "n_tokens", "score")
    val joined = asg.join(docs, Seq("doc_id"))
    val base = joined.groupBy("list_id").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      graft.functions.Exact.davg(col("score")).as("avg_score"))
    val bySrc = joined.groupBy("list_id", "source")
      .agg(count(lit(1)).as("n_src"))
    val p = col("n_src").cast("double") / col("n_docs").cast("double")
    val ent = bySrc.join(broadcast(base.select("list_id", "n_docs")), Seq("list_id"))
      .withColumn("term", p * log(p))
      .groupBy("list_id")
      .agg((-graft.functions.Exact.dsum(col("term"))).as("src_entropy"))
    val top = bySrc.groupBy("list_id")
      .agg(min_by(col("source"), struct(-col("n_src"), col("source"))).as("top_source"))
    base.join(ent, Seq("list_id")).join(top, Seq("list_id"))
      .select("list_id", "n_docs", "n_tokens", "avg_score", "src_entropy", "top_source")
      .orderBy("list_id")
  }

  /** q70b — IVF-probed PQ search (IVFADC, Jégou et al. TPAMI 2011 §IV):
    * the composition a billion-vector index actually runs. q46b's trained
    * coarse quantizer prunes WHICH vectors to score (each query probes its
    * `IvfProbes` nearest inverted lists); q70's PQ codes decide HOW each
    * survivor is scored (asymmetric distance to the 4-byte reconstruction).
    * Neither half alone scales: flat PQ (q70) still touches every code,
    * and IVF over raw floats (q46b) still reads full vectors — probe ×
    * (corpus/lists) candidates at 4 bytes each is the shape that fits a
    * 10⁹-vector index in cluster RAM and answers in milliseconds.
    *
    * Scale shape: coarse assignment and code assignment are both
    * broadcast-join + map-side argmin/argmax aggregates (the corpus never
    * shuffles except by its own vec_id partials); the probe join hits only
    * the corpus rows whose list a query probes — candidates shrink by
    * lists/probes (8× here) BEFORE any per-pair arithmetic, and the final
    * aggregation moves probe-local 8-row partials only. The per-subspace
    * sums are separate conditional aggregates added in fixed expression
    * order (q70's bit-reproducibility discipline), so ADC distances are
    * engine-exact against the oracle.
    */
  def knnIvfPq(s: SparkSession, d: String, k: Int = 3,
      queryIdMax: Long = QueryIdMax, nProbe: Int = IvfProbes): DataFrame = {
    val subDim = 8
    // query probes — THE shared resolver (also what the persisted index's
    // search collects driver-side). The q70b driver query runs the
    // oracle-pinned IvfProbes default; AnnIndexSpec's bit-identity tests
    // also instantiate the serving operating point here.
    val queryProbes = queryProbeLists(s, d, nProbe, queryIdMax)

    // corpus coarse + code assignment comes from THE shared helper
    // (codedCorpusSubs — also what AnnIndexBuild persists); joining the
    // codebook back on (sub_idx, code) recovers the reconstruction
    val recon = codedCorpusSubs(s, d, queryIdMax = queryIdMax)
      .join(broadcast(codebookTable(s)), Seq("sub_idx", "code"))
      .select("vec_id", "list_id", "sub_idx", "cv")

    // the probe join: only corpus rows in a probed list are ever scored
    val querySubs = queryProbes
      .select(col("q_id"), col("list_id"), explode(array((0 until 8).map(sub =>
        struct(lit(sub.toLong).as("sub_idx"),
          slice(col("qv"), sub * subDim + 1, subDim).as("qsv"))): _*)).as("e"))
      .select(col("q_id"), col("list_id"), col("e.sub_idx").as("sub_idx"), col("e.qsv").as("qsv"))
    val partials = recon.join(broadcast(querySubs), Seq("list_id", "sub_idx"))
      .withColumn("dsub",
        sqDist(col("qsv"), col("cv")))
    adcRank(partials, k)
  }

  /** q70c — residual-encoded IVFADC (Jégou et al. TPAMI 2011 §IV.A, the
    * production default): the corpus is coded as PQ codes of the RESIDUAL
    * r = v - c(v) against its coarse centroid, and a query scores each
    * probed list's survivors by ADC between ITS OWN residual against that
    * list's centroid (q - c_list) and the coded reconstruction. Residuals
    * concentrate near the origin once the coarse quantizer absorbs the
    * between-list variance, so the same 4-bit/subspace budget quantizes a
    * tighter distribution at identical index size and identical scan
    * shape. Measured on the synthetic sf0.01 corpus: end-to-end
    * reconstruction MSE 0.537 (raw, q70b's coding) -> 0.478 (residual) —
    * an 11% gain bounded by how isotropic these embeddings are (the
    * coarse step absorbs only ~12% of the energy; real clustered corpora
    * absorb far more, which is why residual coding is the production
    * default); the 30-pair q68 recall sample is statistically flat
    * between the two arms (both sit far below the nprobe=2 ivf ceiling).
    *
    * Scale shape: identical to q70b — coarse + code assignment are
    * broadcast joins with map-side argmin/argmax (the corpus never
    * shuffles except by its own vec_id partials), the probe join touches
    * only probed lists' rows, ADC partials aggregate in fixed expression
    * order through the shared [[adcRank]] tail. The only new arithmetic
    * is one zip_with subtraction per query x probed list (a handful of
    * rows) and per corpus vector at coding time.
    */
  def knnIvfPqResidual(s: SparkSession, d: String, k: Int = 3,
      queryIdMax: Long = QueryIdMax, nProbe: Int = IvfProbes): DataFrame = {
    val subDim = 8
    val queryProbes = queryProbeLists(s, d, nProbe, queryIdMax)

    val recon = codedCorpusSubs(s, d, residual = true, queryIdMax = queryIdMax)
      .join(broadcast(residualCodebookTable(s)), Seq("sub_idx", "code"))
      .select("vec_id", "list_id", "sub_idx", "cv")

    // the query's residual is PER PROBED LIST (q - c_list), so the
    // subtraction happens after the probe resolution — centroidTable is
    // 16 rows, the join a broadcast against a handful of query rows
    val querySubs = queryProbes
      .join(broadcast(centroidTable(s)), Seq("list_id"))
      .select(col("q_id"), col("list_id"),
        expr("zip_with(qv, cv, (x, y) -> x - y)").as("qrv"))
      .select(col("q_id"), col("list_id"), explode(array((0 until 8).map(sub =>
        struct(lit(sub.toLong).as("sub_idx"),
          slice(col("qrv"), sub * subDim + 1, subDim).as("qsv"))): _*)).as("e"))
      .select(col("q_id"), col("list_id"), col("e.sub_idx").as("sub_idx"), col("e.qsv").as("qsv"))
    val partials = recon.join(broadcast(querySubs), Seq("list_id", "sub_idx"))
      .withColumn("dsub",
        sqDist(col("qsv"), col("cv")))
    adcRank(partials, k)
  }

  /** q81 — hybrid retrieval fusion via Reciprocal Rank Fusion (Cormack et
    * al. SIGIR 2009): the lexical ranking (q73's BM25 top-k) and a
    * semantic ranking (cosine of the query vector over the embedded
    * corpus, vec_id = doc_id convention) merge into one list by
    * `rrf = Σ 1/(K + rank)` — the standard hybrid-search reducer, immune
    * to the two scorers' incomparable scales. A doc ranked by only one
    * side contributes only that side's term.
    *
    * Scale shape: each side is a bounded distributed top-k
    * (TakeOrderedAndProject — no global sort; BM25 is one scan + one
    * 1-row broadcast, the cosine side one corpus scan against a broadcast
    * query), the fusion joins two k-row lists — driver-sized no matter
    * the corpus. Double arithmetic is a fixed IEEE chain both engines
    * reproduce bit-identically.
    */
  /** Rank an already-bounded k-row list by (score DESC, id ASC) WITHOUT a
    * window: one global `graft_topk` aggregate over <= k rows. An empty
    * partition spec on a rank window — even one provably fed k rows —
    * plans a WindowExec that logs the "No Partition Defined" single-
    * partition warning on every run; a literal partition key does not
    * survive the optimizer (EliminateWindowPartitions folds it away), so
    * the clean fix is no Window node at all. graft_topk's heap order is
    * exactly ROW_NUMBER's (score DESC, id ASC) tiebreak.
    */
  private def rankBounded(df: DataFrame, score: Column, id: Column,
      rankName: String, topK: Int): DataFrame =
    df.agg(call_function("graft_topk", score, id, id, lit(topK)).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.id").as("doc_id"), (col("pos") + 1).cast("long").as(rankName))

  def hybridRrf(s: SparkSession, d: String, rrfK: Int = 60, topK: Int = 20): DataFrame = {
    val lex = rankBounded(TextAnalysisOps.bm25(s, d, topK = topK), // already top-k, k rows
      col("score"), col("doc_id"), "rank_lex", topK)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"), col("nrm").as("qn"))
    val sem = rankBounded(
      e.filter(col("vec_id") >= QueryIdMax).crossJoin(broadcast(q))
        .withColumn("cos", cosine(col("v"), col("qv"), col("nrm"), col("qn")))
        .select(col("vec_id").as("doc_id"), col("cos"))
        .orderBy(col("cos").desc, col("doc_id")).limit(topK), // distributed top-k
      col("cos"), col("doc_id"), "rank_sem", topK)
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_sem")), lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(topK)
  }

  /** q81b — hybrid RRF fanned over a QUERY TABLE: real hybrid search
    * serves many queries per pass, not one hard-coded vector. Each
    * query_id gets its own semantic ranking; the lexical ranking (q73's
    * fixed benchmark term set) is query-independent here, so one bounded
    * BM25 list joins every query's fusion — the standard shared-candidate
    * layout when the lexical side is a filter/boost list.
    *
    * Scale shape: the semantic per-query top-k runs through `graft_topk`
    * (bounded k-entry heaps in map-side partials, shuffle carries k rows
    * per task×query — never a per-query sort of the corpus, exactly
    * q11b's plan insensitive to corpus size); every rank window is
    * PARTITIONED by query_id (or a literal for the k-row lexical list),
    * so nothing plans a global window and driver logs stay quiet. Fusion
    * joins queries × k-row lists — driver-sized no matter the corpus.
    */
  def hybridRrfMulti(s: SparkSession, d: String, nQueries: Int = 3,
      rrfK: Int = 60, topK: Int = 20): DataFrame = {
    require(nQueries >= 1 && nQueries <= 10, s"nQueries in [1,10]; got $nQueries")
    val lex = rankBounded(TextAnalysisOps.bm25(s, d, topK = topK), // already top-k, k rows
      col("score"), col("doc_id"), "rank_lex", topK)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val qs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    // per-query semantic top-k: one corpus scan against the broadcast
    // query table, reduced by the bounded graft_topk aggregate
    val sem = e.filter(col("vec_id") >= QueryIdMax).join(broadcast(qs))
      .withColumn("cos", cosine(col("v"), col("qv"), col("nrm"), col("qn")))
      .groupBy("query_id")
      .agg(call_function("graft_topk",
        col("cos"), col("vec_id"), col("vec_id"), lit(topK)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rank_sem"))
    val lexPerQuery = lex.crossJoin(broadcast(qs.select("query_id")))
    val wr = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    lexPerQuery.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_sem")), lit(0.0)))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= topK)
      .select("query_id", "doc_id", "rank_lex", "rank_sem", "rrf", "rank")
      .orderBy("query_id", "rank")
  }
}
