package graft

import org.apache.spark.sql.GraftSqlTestAccess
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.CurationOps

/** Invariants for the corpus-curation batch (q56–q59 + PII redaction);
  * oracle parity is the driver gate, these pin the semantics.
  */
class CurationSpec extends SparkSpec {

  test("q82 decontamination: exact recompute of the removal list") {
    val k = 13
    val got = CurationOps.decontaminate(spark, sf, k).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(t => t.getLong(0) -> t.getString(1).split(" ", -1))
    def isTest(id: Long): Boolean = (id * 2654435761L) % 100 >= 80
    val winsByDoc = texts.collect { case (id, ws) if ws.length >= k =>
      id -> (0 to ws.length - k).map(i => ws.slice(i, i + k).mkString(" "))
    }
    val heldout = winsByDoc.collect { case (id, rs) if isTest(id) => rs }.flatten.toSet
    val train = winsByDoc.filterNot { case (id, _) => isTest(id) }
    assert(got.keySet === train.map(_._1).toSet) // only long-enough TRAIN docs
    train.foreach { case (id, rs) =>
      val hits = rs.count(heldout.contains)
      val row = got(id)
      assert(row.getAs[Long]("n_ngrams") === rs.length.toLong, s"doc $id")
      assert(row.getAs[Long]("n_hits") === hits.toLong, s"doc $id")
      assert(row.getAs[Boolean]("drop") === (hits > 0), s"doc $id")
    }
    intercept[IllegalArgumentException] { CurationOps.decontaminate(spark, sf, k = 1) }
  }

  test("q82b fuzzy decon: a paraphrased held-out doc flags its train echo; clean docs pass") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fuzzydecon").toString
    // split sides under the 80/20 hash rule: ids 3/8 are HELD-OUT,
    // 1/2/4 are TRAIN. Doc 1 is a light paraphrase of held-out doc 3
    // (one token changed — shares most shingles but NOT every 13-gram,
    // the case q82's verbatim rule exists to miss); doc 2 shares
    // nothing; doc 4 is a verbatim copy of held-out doc 8.
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val para = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    val copy = (100 to 140).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, "en", "src0", para),  // train: paraphrase of 3
      (2L, "en", "src0", other), // train: clean
      (4L, "en", "src0", copy),  // train: verbatim copy of 8
      (3L, "en", "src0", base),  // held-out
      (8L, "en", "src0", copy))  // held-out
    docs.toDF("doc_id", "lang", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = CurationOps.deconFuzzy(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // the verbatim copy: all 16 positions agree, est 1.0, dropped
    assert(got.contains(4L), s"verbatim train copy not even a candidate: ${got.keySet}")
    assert(got(4L).getAs[Long]("n_agree_max") === 16L)
    assert(got(4L).getAs[Boolean]("drop"))
    // the paraphrase: flagged with a high (but < 1) estimate
    assert(got.contains(1L), s"paraphrase not a candidate: ${got.keySet}")
    assert(got(1L).getAs[Boolean]("drop"),
      s"paraphrase estimate ${got(1L).getAs[Double]("best_est")} under the cut")
    assert(got(1L).getAs[Long]("n_agree_max") < 16L, "a paraphrase cannot agree on all positions")
    // the clean doc shares no band with any held-out doc
    assert(!got.contains(2L), "clean train doc flagged")
    // held-out docs are never reported (the list is a TRAIN removal list)
    assert(!got.contains(3L) && !got.contains(8L))
  }

  test("bloom kernel: zero false negatives; fp rate near the 12-bits/key design point") {
    import graft.plans.BloomKernels
    val rnd = new scala.util.Random(42)
    val keys = Array.fill(5000)(rnd.nextLong())
    val bits = new Array[Long](BloomKernels.sizedWords(keys.length, 12))
    val k = BloomKernels.numHashes(12)
    keys.foreach(BloomKernels.add(bits, k, _))
    // a Bloom filter can NEVER miss an inserted key
    keys.foreach(key => assert(BloomKernels.contains(bits, k, key)))
    // false positives on a disjoint probe set stay near the design point
    // (~0.3% at 12 bits/key, k=8); 2% is a 6x safety margin
    val probes = Array.fill(20000)(rnd.nextLong()).filterNot(keys.contains)
    val fp = probes.count(BloomKernels.contains(bits, k, _))
    assert(fp.toDouble / probes.length < 0.02, s"fp rate ${fp.toDouble / probes.length}")
  }

  test("q82c bloom decon: bit-identical to q82; sketch probe sits below the verify join") {
    val q82 = CurationOps.decontaminate(spark, sf).collect().map(_.toSeq).toSeq
    val q82c = CurationOps.deconBloom(spark, sf).collect().map(_.toSeq).toSeq
    // the sketch is exact-verified away: SAME rows, SAME values, SAME order
    assert(q82c === q82)
    val plan = CurationOps.deconBloom(spark, sf).queryExecution.executedPlan.toString
    // the membership probe is a scan-side FILTER (pre-join), and the
    // exact verify join is a broadcast of the benchmark-bounded index
    assert(plan.contains("graft_bloom_contains"), "bloom probe missing from the physical plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      "exact verify should be a broadcast left-semi join of the heldout index")
  }

  test("q82d fraction decon: coverage bounds vs q82; drops the copy, keeps the brush-past") {
    // gate-lake differential against q82: coverage and flags must cohere
    val q82 = CurationOps.decontaminate(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val q82d = CurationOps.deconFraction(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(q82d.keySet === q82.keySet) // same train-side doc universe
    q82d.foreach { case (id, r) =>
      val cov = r.getAs[Long]("n_covered")
      assert(cov >= 0L && cov <= r.getAs[Long]("n_tokens"), s"doc $id")
      val anyHit = q82(id).getAs[Long]("n_hits") > 0
      // a doc has covered tokens iff q82 found at least one window hit,
      // and one hit covers at least the 13 tokens of its window
      assert((cov > 0L) === anyHit, s"doc $id")
      if (anyHit) assert(cov >= 13L, s"doc $id")
      // fraction-drop implies any-window-drop: q82d is strictly laxer
      if (r.getAs[Boolean]("drop")) assert(q82(id).getAs[Boolean]("drop"), s"doc $id")
    }

    // planted contrast: doc 4 is a verbatim copy of held-out doc 8
    // (coverage 1.0 — drops under BOTH rules); doc 1 shares exactly one
    // 13-gram with held-out doc 3 inside a long clean doc (any-window
    // flags it, fraction keeps it — the policy difference this operator
    // exists to offer)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fracdecon").toString
    val shared = (1 to 13).map(i => s"s$i").mkString(" ")
    val longClean = (1 to 80).map(i => s"c$i").mkString(" ")
    val copy = (100 to 140).map(i => s"v$i").mkString(" ")
    Seq(
      (1L, "en", "src0", s"$longClean $shared"), // train: brush-past
      (4L, "en", "src0", copy),                  // train: full copy
      (3L, "en", "src0", s"$shared " + (1 to 40).map(i => s"z$i").mkString(" ")), // held-out
      (8L, "en", "src0", copy))                  // held-out
      .toDF("doc_id", "lang", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = CurationOps.deconFraction(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(4L).getAs[Double]("contam_frac") === 1.0)
    assert(got(4L).getAs[Boolean]("drop"))
    assert(got(1L).getAs[Long]("n_covered") === 13L)
    assert(!got(1L).getAs[Boolean]("drop"),
      s"brush-past at frac ${got(1L).getAs[Double]("contam_frac")} should survive")
    // while the any-window rule flags it
    val strict = CurationOps.decontaminate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("drop")).toMap
    assert(strict(1L))
  }

  test("q97 sampled sweep: heldout index never sampled; flag_rate agrees on the gate lake") {
    val full = CurationOps.deconCurve(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    val one = CurationOps.deconCurve(spark, sf, sampleFrac = 1.0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(one === full, "frac=1.0 must be the full curve")
    val half = CurationOps.deconCurve(spark, sf, sampleFrac = 0.5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(half.keySet === full.keySet)
    half.foreach { case (k, (nIdx, nDocs, rate)) =>
      // the benchmark index is NEVER sampled — identical per arm
      assert(nIdx === full(k)._1, s"k=$k heldout index changed under sampling")
      // the train side genuinely shrank
      assert(nDocs < full(k)._2, s"k=$k train side did not shrink")
      // the dial read (flag rate per window size) estimates the full run
      assert(math.abs(rate - full(k)._3) <= 0.15,
        s"k=$k sampled flag_rate $rate vs full ${full(k)._3}")
    }
  }

  test("q97 decon curve: flags monotone non-increasing in k; 13-arm matches q82 exactly") {
    val rows = CurationOps.deconCurve(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet === Set(8L, 13L, 21L))
    // a shared 21-token window contains shared 13-token sub-windows, so
    // the flagged set can only SHRINK as the window grows (the nesting
    // argument — exact modulo 60-bit hash collisions, absent here)
    assert(rows(8L)._3 >= rows(13L)._3 && rows(13L)._3 >= rows(21L)._3,
      s"flag counts not monotone: $rows")
    rows.foreach { case (k, (nIdx, nDocs, nFlag)) =>
      assert(nFlag <= nDocs, s"k=$k flags exceed train docs")
      assert(nIdx >= 0 && nDocs > 0)
    }
    // the k=13 arm IS q82: its flag count must equal the removal list's
    val q82flags = CurationOps.decontaminate(spark, sf)
      .filter(org.apache.spark.sql.functions.col("drop")).count()
    assert(rows(13L)._3 === q82flags)
  }

  test("q98 quality agreement: three arms, bounds, overlap counts, deterministic") {
    val rows = CurationOps.qualityAgreement(spark, sf).collect()
    assert(rows.length === 3)
    val byPair = rows.map(r =>
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(byPair.keySet === Set(("lm", "dsir"), ("lm", "clf"), ("dsir", "clf")))
    byPair.values.foreach { case (n, rho) =>
      assert(n > 1, "degenerate overlap")
      assert(rho >= -1.0 && rho <= 1.0, s"spearman out of range: $rho")
    }
    // arms with DSIR cover only the non-reference split; lm-clf covers it
    // all (lm needs >= 2 tokens, so lm-dsir can be a strict subset of
    // dsir-clf on a corpus with 1-token docs)
    assert(byPair(("lm", "dsir"))._1 < byPair(("lm", "clf"))._1)
    assert(byPair(("lm", "dsir"))._1 <= byPair(("dsir", "clf"))._1)
    // bit-stable: a second run reproduces the matrix exactly
    val again = CurationOps.qualityAgreement(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(again === byPair)
  }

  test("q98: a scorer job that fails at run time leaves no cache behind") {
    import java.nio.{ByteBuffer, ByteOrder}
    import java.nio.file.Files
    // a lake whose documents footer (schema, row groups) is intact, so the
    // query plans, but whose pages are zeroed, so every scan task throws
    val lake = Files.createTempDirectory("graftq98fail")
    val docs = lake.resolve("documents.parquet")
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(s"$sf/documents.parquet"))
    val footerLen = ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.fill(bytes, 4, bytes.length - 8 - footerLen, 0.toByte)
    Files.write(docs, bytes)
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val plansBefore = GraftSqlTestAccess.cachedPlans(spark)
    intercept[Exception](CurationOps.qualityAgreement(spark, lake.toString))
    assert(sc.getPersistentRDDs.keySet === rddsBefore, "a scorer cache outlived the failed query")
    assert(GraftSqlTestAccess.cachedPlans(spark) === plansBefore,
      "a scorer frame is still registered as cached")
  }

  test("q99 repetition profile: exact recompute, bounds, coverage semantics") {
    val ns = Seq(2, 3, 5)
    val got = CurationOps.repetitionProfile(spark, sf, ns).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(t => t.getLong(0) -> t.getString(1).split(" ", -1))
    ns.foreach { n =>
      texts.foreach { case (id, ws) =>
        if (ws.length < n) assert(!got.contains((id, n.toLong)))
        else {
          val row = got((id, n.toLong))
          val grams = (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" "))
          val counts = grams.groupBy(identity).view.mapValues(_.size).toMap
          assert(row.getAs[Long]("n_tokens") === ws.length.toLong, s"doc $id n=$n")
          assert(row.getAs[Long]("n_windows") === grams.length.toLong)
          assert(row.getAs[Long]("top_count") === counts.values.max.toLong)
          def cover(starts: Seq[Int]): Long =
            starts.flatMap(i => i until i + n).distinct.size.toLong
          // top gram: max count, tie by the engine's rh order — token
          // coverage is tie-independent only when counts are unique, so
          // recompute from ALL argmax grams and accept any of them
          val maxC = counts.values.max
          val topCovers = counts.collect { case (g, c) if c == maxC =>
            cover(grams.zipWithIndex.collect { case (gg, i) if gg == g => i })
          }.toSet
          val gotTop = math.round(row.getAs[Double]("top_cover_frac") * ws.length)
          assert(topCovers.contains(gotTop), s"doc $id n=$n: $gotTop not in $topCovers")
          val dupStarts = grams.zipWithIndex.collect {
            case (g, i) if counts(g) >= 2 => i }
          val gotDup = math.round(row.getAs[Double]("dup_cover_frac") * ws.length)
          assert(gotDup === cover(dupStarts), s"doc $id n=$n")
          assert(row.getAs[Double]("top_cover_frac") >= 0.0 &&
            row.getAs[Double]("top_cover_frac") <= 1.0)
          assert(row.getAs[Double]("dup_cover_frac") >= 0.0 &&
            row.getAs[Double]("dup_cover_frac") <= 1.0)
        }
      }
    }
  }

  test("q56 contamination: test docs only, rates in [0,1], planted dups fully contaminated") {
    val rows = CurationOps.contamination(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val docId = r.getAs[Long]("doc_id")
      assert((docId * 2654435761L) % 100 >= 80, s"train doc $docId leaked into the report")
      val shared = r.getAs[Long]("n_contaminated")
      val total = r.getAs[Long]("n_shingles")
      val rate = r.getAs[Double]("contamination")
      assert(shared >= 0 && shared <= total)
      assert(rate >= 0.0 && rate <= 1.0)
    }
    // exact cross-split duplicates (same text both sides) must read as 100%
    val dupGroups = operators.DedupOps.exact(spark, sf).filter(col("n_copies") > 1)
    val dupDocs = Tables.documents(spark, sf)
      .join(dupGroups.select("text_hash"),
        md5(col("text").cast("binary")) === col("text_hash"))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .collect().groupBy(_.getString(1)).values
    val crossSplit = dupDocs.filter { g =>
      val splits = g.map(r => (r.getLong(0) * 2654435761L) % 100 >= 80).toSet
      splits.size == 2
    }
    if (crossSplit.nonEmpty) {
      val byId = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("contamination")).toMap
      val testIds = crossSplit.flatMap(_.map(_.getLong(0)))
        .filter(id => (id * 2654435761L) % 100 >= 80)
      testIds.foreach { id =>
        byId.get(id).foreach(rate => assert(rate === 1.0,
          s"test doc $id duplicates a train doc but reads ${rate}"))
      }
    }
  }

  test("q57 dup-ngram rate: bounds and exact arithmetic") {
    val rows = CurationOps.dupNgramRate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val total = r.getAs[Long]("n_ngrams")
      val distinct = r.getAs[Long]("n_distinct")
      val rate = r.getAs[Double]("dup_rate")
      assert(distinct >= 1 && distinct <= total)
      assert(math.abs(rate - (total - distinct).toDouble / total) < 1e-15)
    }
  }

  test("q58 stratified sample: exact per-stratum quota, deterministic") {
    val langTotals = Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = CurationOps.stratifiedSample(spark, sf, pct = 20).collect()
    val perLang = sampled.groupBy(_.getAs[String]("lang")).view.mapValues(_.length.toLong)
    langTotals.foreach { case (lang, n) =>
      val quota = (n * 20 + 99) / 100
      assert(perLang.getOrElse(lang, 0L) === quota,
        s"$lang: expected ceil quota $quota of $n, got ${perLang.getOrElse(lang, 0L)}")
    }
    // deterministic under re-execution (hash order, not rand())
    val again = CurationOps.stratifiedSample(spark, sf, pct = 20).collect()
    assert(sampled.map(_.getAs[Long]("doc_id")).toSeq === again.map(_.getAs[Long]("doc_id")).toSeq)
    assertThrows[IllegalArgumentException](CurationOps.stratifiedSample(spark, sf, pct = 0))
  }

  test("q59 int8 quantization: every nonzero vector saturates its max element; errors bounded") {
    val rows = CurationOps.quantizeStats(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalVectors = rows.map(_.getAs[Long]("n_vectors")).sum
    val totalSaturated = rows.map(_.getAs[Long]("n_saturated")).sum
    // the arg-max element quantizes to exactly ±127 by construction
    assert(totalSaturated >= totalVectors,
      s"expected >=1 saturated element per vector: $totalSaturated < $totalVectors")
    rows.foreach { r =>
      assert(r.getAs[Double]("avg_sse") > 0.0)
      // per-element error of round-to-nearest is at most scale/2; scale is
      // bounded by the global max norm — use a loose but sound cap
      assert(r.getAs[Double]("max_abs_err") < 1.0)
    }
  }

  test("q60 chunking: full coverage, stride spacing, no sliver tail") {
    val chunks = CurationOps.chunkDocs(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val nTokens = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chunks.keySet === nTokens.keySet) // every doc chunked, incl. short ones
    chunks.foreach { case (id, cs) =>
      val sorted = cs.sortBy(_.getAs[Long]("chunk_no"))
      assert(sorted.head.getAs[Long]("start_token") === 1L)
      // consecutive chunks exactly stride apart
      val starts = sorted.map(_.getAs[Long]("start_token"))
      starts.zip(starts.tail).foreach { case (a, b) => assert(b - a === 24L) }
      // the last chunk reaches the final token; every chunk is non-empty
      val last = sorted.last
      assert(last.getAs[Long]("start_token") + last.getAs[Long]("n_chunk_tokens") - 1 === nTokens(id))
      sorted.foreach { c =>
        val k = c.getAs[Long]("n_chunk_tokens")
        assert(k >= 1 && k <= 32)
        assert(c.getAs[String]("chunk_text").split(" ", -1).length.toLong === k)
      }
    }
  }

  test("q61 packing: bins contiguous per shard, every doc packed, budget arithmetic exact") {
    val bins = CurationOps.packSequences(spark, sf).collect()
    val totalDocs = Tables.documents(spark, sf).count()
    assert(bins.map(_.getAs[Long]("n_docs")).sum === totalDocs)
    bins.groupBy(_.getAs[Long]("shard")).foreach { case (_, bs) =>
      val ids = bs.map(_.getAs[Long]("bin")).sorted
      assert(ids.head === 0L && ids === (0L until ids.length).toArray.toSeq,
        s"bins not contiguous: ${ids.mkString(",")}")
      // doc ranges don't overlap across consecutive bins
      val ordered = bs.sortBy(_.getAs[Long]("bin"))
      ordered.zip(ordered.tail).foreach { case (a, b) =>
        assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
      }
    }
    // recompute shard 0's binning driver-side from raw token counts
    val docs0 = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._1 % 32 == 0).sortBy(_._1)
    var cum = 0L
    val expected = docs0.map { case (id, n) => val b = cum / 512; cum += n; (id, b) }
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val got = bins.filter(_.getAs[Long]("shard") == 0L)
      .map(r => r.getAs[Long]("bin") -> r.getAs[Long]("n_docs")).toMap
    assert(got === expected)
  }

  test("q61b pack layout: agrees with q61 bins; offsets in [0,budget) and cumulative") {
    val layout = CurationOps.packLayout(spark, sf).collect()
    val bins = CurationOps.packSequences(spark, sf).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("bin")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    // the doc-level layout re-aggregates to exactly the q61 bin summary
    val rolled = layout.groupBy(r => (r.getAs[Long]("shard"), r.getAs[Long]("bin")))
      .view.mapValues(g => (g.length.toLong, g.map(_.getAs[Long]("n_tokens")).sum)).toMap
    assert(rolled === bins)
    layout.foreach { r =>
      val off = r.getAs[Long]("offset")
      assert(off >= 0 && off < 512, s"offset $off out of range")
    }
    // within a shard, offset is the running token sum mod budget
    layout.groupBy(_.getAs[Long]("shard")).foreach { case (_, ds) =>
      var cum = 0L
      ds.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        assert(r.getAs[Long]("offset") === cum % 512)
        assert(r.getAs[Long]("bin") === cum / 512)
        cum += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("q63 word-quality rules: exact driver-side recompute") {
    val got = CurationOps.gopherQuality(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
    assert(got.size === texts.length)
    texts.foreach { t =>
      val words = t.getString(1).split(" ", -1)
      val counts = words.groupBy(identity).view.mapValues(_.length)
      val r = got(t.getLong(0))
      assert(r.getAs[Long]("n_words") === words.length.toLong)
      assert(r.getAs[Long]("n_distinct") === counts.size.toLong)
      assert(math.abs(r.getAs[Double]("top_word_frac") -
        counts.values.max.toDouble / words.length) < 1e-15)
      assert(math.abs(r.getAs[Double]("ttr") - counts.size.toDouble / words.length) < 1e-15)
      assert(math.abs(r.getAs[Double]("mean_word_len") -
        words.map(_.length.toLong).sum.toDouble / words.length) < 1e-15)
    }
  }

  test("q64 source mix: weights normalize to 1 and upsample small sources") {
    val rows = CurationOps.sourceMix(spark, sf).collect()
    assert(rows.length > 1)
    // the normalizer is truncated to 6 decimals by the exact carrier, so the
    // sum is 1 within ~n_sources * 5e-7, not machine epsilon
    val wsum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-5, s"weights sum to $wsum")
    val totalTokens = rows.map(_.getAs[Long]("n_tokens")).sum.toDouble
    // sqrt temperature: weight/token-share is monotonically non-increasing
    // in source size — small sources are upsampled relative to proportional
    val boost = rows.map(r =>
      r.getAs[Long]("n_tokens") ->
        r.getAs[Double]("weight") / (r.getAs[Long]("n_tokens") / totalTokens))
    boost.sortBy(_._1).toSeq.sliding(2).foreach {
      case Seq((na, ba), (nb, bb)) => if (na < nb) assert(ba >= bb - 1e-12)
      case _ => ()
    }
  }

  test("q64c temperature curve: per-alpha normalization, alpha=0.5 == q64, compression ordering") {
    val rows = CurationOps.temperatureMix(spark, sf).collect()
    val byAlpha = rows.groupBy(_.getAs[Double]("alpha"))
    assert(byAlpha.keySet === Set(0.25, 0.5, 0.75, 1.0))
    byAlpha.foreach { case (a, rs) =>
      val tot = rs.map(_.getAs[Double]("weight")).sum
      // the scale-6 DECIMAL carrier rounds the normalizer at 1e-6
      assert(math.abs(tot - 1.0) < 1e-6, s"alpha=$a weights sum to $tot")
    }
    // the alpha=0.5 arm IS q64's rule
    val q64 = operators.CurationOps.sourceMix(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("weight")).toMap
    byAlpha(0.5).foreach { r =>
      assert(r.getAs[Double]("weight") === q64(r.getAs[String]("source")),
        s"alpha=0.5 drifted from q64 for ${r.getAs[String]("source")}")
    }
    // alpha=1 is proportional sampling: boost exactly 1 for every source
    byAlpha(1.0).foreach(r => assert(math.abs(r.getAs[Double]("boost") - 1.0) < 1e-6))
    // lower temperature exponent upsamples the smallest source harder
    // and downsamples the largest harder — the dial's whole point
    val smallest = rows.minBy(_.getAs[Long]("n_tokens")).getAs[String]("source")
    val largest = rows.maxBy(_.getAs[Long]("n_tokens")).getAs[String]("source")
    def boostsOf(src: String): Seq[Double] =
      rows.filter(_.getAs[String]("source") == src).sortBy(_.getAs[Double]("alpha"))
        .map(_.getAs[Double]("boost")).toSeq
    assert(boostsOf(smallest) === boostsOf(smallest).sorted.reverse,
      s"smallest source $smallest: boost should fall as alpha rises")
    assert(boostsOf(largest) === boostsOf(largest).sorted,
      s"largest source $largest: boost should rise toward 1 as alpha rises")
  }

  test("q65 dup-run coverage: exact recompute; exact duplicates read 100% shared") {
    val got = CurationOps.dupRuns(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(t => t.getLong(0) -> t.getString(1).split(" ", -1))
    val k = 8
    val runsByDoc = texts.collect { case (id, ws) if ws.length >= k =>
      id -> (0 to ws.length - k).map(i => ws.slice(i, i + k).mkString(" "))
    }
    val extent = scala.collection.mutable.Map.empty[String, (Long, Long)]
    runsByDoc.foreach { case (id, rs) => rs.foreach { r =>
      val (mn, mx) = extent.getOrElse(r, (id, id))
      extent(r) = (math.min(mn, id), math.max(mx, id))
    } }
    assert(got.keySet === runsByDoc.map(_._1).toSet)
    runsByDoc.foreach { case (id, rs) =>
      val shared = rs.count { r => val (mn, mx) = extent(r); mn != id || mx != id }
      val row = got(id)
      assert(row.getAs[Long]("n_runs") === rs.length.toLong)
      assert(row.getAs[Long]("n_shared") === shared.toLong)
      assert(math.abs(row.getAs[Double]("shared_frac") - shared.toDouble / rs.length) < 1e-15)
    }
    // a doc whose full text exists verbatim elsewhere shares every run
    val dupIds = operators.DedupOps.exact(spark, sf).filter(col("n_copies") > 1)
      .join(Tables.documents(spark, sf)
          .select(col("doc_id").as("d"), md5(col("text").cast("binary")).as("text_hash")),
        "text_hash")
      .select("d").collect().map(_.getLong(0)).toSet
    // (vacuous at scale factors without planted duplicates — the exact
    // recompute above already pins every value)
    dupIds.filter(got.contains)
      .foreach(id => assert(got(id).getAs[Double]("shared_frac") === 1.0))
  }

  test("q83 dup spans: canonical survives, extents exact; q83b cut removes exactly the spans") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("spans").toString
    val base = "a b c d e f g h i j" // 10 tokens
    Seq(
      (0L, base),                             // corpus-first: the canonical copy
      (1L, s"x1 x2 $base y1"),                // copy at tokens 3..12
      (2L, base),                             // full-document duplicate
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),     // unique, no spans
      (4L, "p q r s t u v w p q r s t u v w") // WITHIN-doc 8-token repeat
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")

    val spans = CurationOps.dupSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: marked windows 3,4,5 merge to one maximal span of the full
    // 10-token copy; doc 2 is covered end-to-end; doc 4's SECOND
    // occurrence is cut while the first stays (within-doc dedup)
    assert(spans === Seq(
      (1L, 3L, 12L, 10L),
      (2L, 1L, 10L, 10L),
      (4L, 9L, 16L, 8L)))

    val cut = CurationOps.cutDupSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 2 vanishes (every token duplicated — its canonical lives in
    // doc 0); everything else keeps exactly the uncovered tokens
    assert(cut === Map(
      0L -> base,
      1L -> "x1 x2 y1",
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9",
      4L -> "p q r s t u v w"))
  }

  test("q109 mask policy: length-stable, exact sentinel placement; dropping " +
    "sentinels reproduces q83b's cut text exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("maskspans").toString
    val base = "a b c d e f g h i j" // the q83 crafted corpus, verbatim
    Seq(
      (0L, base),
      (1L, s"x1 x2 $base y1"),
      (2L, base),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
      (4L, "p q r s t u v w p q r s t u v w")
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")

    val mk = CurationOps.MaskToken
    val got = CurationOps.maskDupSpans(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_masked"), r.getAs[String]("text")))).toMap
    // EVERY doc emits a row — a fully-duplicated doc is masked, not
    // dropped (the policy's defining difference from q83b, where doc 2
    // vanishes) — and token counts equal the originals (length-stable)
    assert(got.keySet === Set(0L, 1L, 2L, 3L, 4L))
    assert(got(0L) === ((10L, 0L, base)))
    assert(got(1L) === ((13L, 10L, s"x1 x2 ${Seq.fill(10)(mk).mkString(" ")} y1")))
    assert(got(2L) === ((10L, 10L, Seq.fill(10)(mk).mkString(" "))))
    assert(got(3L) === ((9L, 0L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")))
    assert(got(4L) === ((16L, 8L, s"p q r s t u v w ${Seq.fill(8)(mk).mkString(" ")}")))

    // policy equivalence on the REAL lake: dropping every sentinel from
    // q109's text yields q83b's cut text, doc by doc (absent = fully cut)
    val masked = CurationOps.maskDupSpans(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_masked"), r.getAs[String]("text")))).toMap
    val cutLake = CurationOps.cutDupSpans(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val origN = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1).length).toMap
    assert(masked.keySet === origN.keySet, "q109 must emit every doc")
    masked.foreach { case (id, (n, nm, text)) =>
      assert(n === origN(id).toLong, s"doc $id not length-stable")
      val dropped = text.split(" ", -1).filterNot(_ == mk).mkString(" ")
      assert(dropped === cutLake.getOrElse(id, ""), s"doc $id policy mismatch")
      assert(nm === text.split(" ", -1).count(_ == mk).toLong, s"doc $id sentinel count")
    }
  }

  test("q85 source divergence: exact driver-side recompute, bit-identical") {
    val rows = CurationOps.sourceDivergence(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val st = collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    docs.foreach { case (src, t) => t.split(" ", -1).foreach(tok => st(src -> tok) += 1) }
    val nSrc = st.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val nDis = st.groupBy(_._1._1).map { case (s, m) => s -> m.size.toLong }
    val nTok = st.groupBy(_._1._2).map { case (t, m) => t -> m.values.sum }
    val nTot = st.values.sum
    // the same fixed IEEE chain + DECIMAL(27,6) HALF_UP reduction the
    // query (and its oracle) run — the result must match to the BIT
    val expect = st.keys.toSeq.groupBy(_._1).map { case (src, keys) =>
      val terms = keys.map { case (_, t) =>
        val n = st(src -> t)
        val term = n.toDouble *
          math.log((n.toDouble / nSrc(src).toDouble) / (nTok(t).toDouble / nTot.toDouble))
        BigDecimal(term).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      src -> (terms.sum.toDouble / nSrc(src).toDouble)
    }
    rows.foreach { r =>
      val src = r.getString(0)
      assert(r.getLong(1) === nSrc(src), src)
      assert(r.getLong(2) === nDis(src), src)
      assert(r.getDouble(3) === expect(src), src)
    }
    assert(rows.map(_.getString(0)).toSet === nSrc.keySet)
  }

  test("q84 source overlap: each source pair counted once per distinct shared window") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("srcover").toString
    val s10 = (1 to 10).map(i => s"s$i").mkString(" ") // 3 8-token windows
    val t8 = (1 to 8).map(i => s"t$i").mkString(" ")   // 1 window, in all 3 sources
    Seq(
      (10L, "srcA", s10), (11L, "srcA", t8),
      (20L, "srcB", s"b1 b2 $s10"), (21L, "srcB", t8), // s10's 3 windows re-occur at 3..5
      (30L, "srcC", t8), (31L, "srcC", "c1 c2 c3 c4 c5 c6 c7 c8 c9"))
      .toDF("doc_id", "source", "text").write.parquet(s"$dir/documents.parquet")
    val got = CurationOps.sourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // A∩B = s10's 3 windows + t8; A∩C = B∩C = t8 only — counted once per
    // pair per distinct window, regardless of occurrence multiplicity
    assert(got === Seq(("srcA", "srcB", 4L), ("srcA", "srcC", 1L), ("srcB", "srcC", 1L)))
  }

  test("redactPii: typed placeholders replace emails, phones, SSNs, IPs; clean text unchanged") {
    import spark.implicits._
    val cases = Seq(
      (1L, "contact alice.smith+x@example.co.uk for details"),
      (2L, "call +1 (555) 123-4567 or 555 987 6543 today"),
      (3L, "ssn 123-45-6789 on file"),
      (4L, "server at 192.168.0.12 responded"),
      (5L, "perfectly clean sentence with no identifiers"))
    val out = cases.toDF("id", "text")
      .select(col("id"), TextFunctions.redactPii(col("text")).as("red"),
        TextFunctions.piiCounts(col("text")).as("c"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getStruct(2))).toMap
    assert(out(1L)._1 === "contact [EMAIL] for details")
    assert(out(1L)._2.getAs[Int]("emails") === 1)
    assert(out(2L)._1 === "call [PHONE] or [PHONE] today")
    assert(out(2L)._2.getAs[Int]("phones") === 2)
    assert(out(3L)._1 === "ssn [SSN] on file")
    assert(out(3L)._2.getAs[Int]("ssns") === 1)
    assert(out(4L)._1 === "server at [IP] responded")
    assert(out(4L)._2.getAs[Int]("ips") === 1)
    assert(out(5L)._1 === cases(4)._2)
    val c5 = out(5L)._2
    assert(c5.getAs[Int]("emails") + c5.getAs[Int]("phones") +
      c5.getAs[Int]("ssns") + c5.getAs[Int]("ips") === 0)
  }

  test("q74 PPS sample: exactly k picks per source, heavy docs guaranteed in") {
    val k = 3
    val rows = CurationOps.ppsSample(spark, sf, k).collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    // each pointer lands in exactly one segment -> k rows per source
    bySource.foreach { case (src, rs) =>
      assert(rs.length === k, s"source $src")
      assert(rs.map(_.getAs[Long]("pick")).sorted.toSeq === (0L until k.toLong))
    }
    // the defining PPS property: any doc owning more than tot/k of the
    // stratum's weight MUST appear (it spans at least one pointer gap)
    val docs = Tables.documents(spark, sf).select("source", "doc_id", "n_chars").collect()
    docs.groupBy(_.getAs[String]("source")).foreach { case (src, ds) =>
      val tot = ds.map(_.getAs[Long]("n_chars")).sum
      val heavy = ds.filter(_.getAs[Long]("n_chars") * k > tot).map(_.getAs[Long]("doc_id"))
      val picked = bySource(src).map(_.getAs[Long]("doc_id")).toSet
      heavy.foreach(h => assert(picked.contains(h), s"heavy doc $h of $src"))
    }
  }

  test("q74 PPS sample: naive in-memory recompute matches exactly") {
    val k = 3
    val docs = Tables.documents(spark, sf).select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars")))
    val naive = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      val ordered = ds.sortBy(d => ((d._2 * 2654435761L) % 1000000007L, d._2))
      val tot = ordered.map(_._3).sum
      var cum = 0L
      ordered.flatMap { d =>
        cum += d._3
        (0 until k).filter(j =>
          (cum - d._3) * (2 * k) < (2L * j + 1) * tot && (2L * j + 1) * tot <= cum * (2 * k))
          .map(j => (src, j.toLong, d._2, d._3))
      }
    }.sortBy(t => (t._1, t._2)).toList
    val got = CurationOps.ppsSample(spark, sf, k).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("pick"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"))).toList
    assert(got === naive)
  }

  test("q90 LM perplexity: hand-computed scores, unseen-doc ln(V) pin, in-distribution ranks lower") {
    import spark.implicits._
    // reference source: "a b" x3 and "a c" — V = {a,b,c} = 3
    //   unigram counts: a=4, b=3, c=1 (token stream "a b a b a b a c")
    //   bigram counts:  (a,b)=3, (b,a)=2, (b,c)=0, (a,c)=1, (c,a)=1... recomputed below
    val dir = java.nio.file.Files.createTempDirectory("lmppl").toString
    Seq(
      (1L, "src0", "a b a b a b a c"),
      (2L, "other", "a b a b"),   // in-distribution bigrams
      (3L, "other", "x y z"),     // fully unseen: every bigram scores ln(V)
      (4L, "other", "solo")       // single token: no bigram -> absent
    ).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = CurationOps.lmPerplexity(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_nll"))).toMap

    // driver-side reference: count from the same text, add-one smoothing
    val refToks = "a b a b a b a c".split(" ").toSeq
    val c1 = refToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c12 = refToks.zip(refToks.tail).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val v = c1.size.toLong
    def nll(w1: String, w2: String): Double =
      -math.log((c12.getOrElse((w1, w2), 0L) + 1).toDouble /
        (c1.getOrElse(w1, 0L) + v).toDouble)
    def score(text: String): (Long, Double) = {
      val t = text.split(" ").toSeq
      val bs = t.zip(t.tail)
      // replicate the engine's exact-decimal carrier: each doc groups its
      // bigrams to (pair, k) and accumulates k*nll as DECIMAL(27,6)
      val terms = bs.groupBy(identity).map { case (p, g) =>
        BigDecimal(g.size.toDouble * nll(p._1, p._2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      (bs.size.toLong, terms.sum.toDouble / bs.size)
    }
    for (d <- Seq(1L, 2L, 3L)) {
      val txt = Map(1L -> "a b a b a b a c", 2L -> "a b a b", 3L -> "x y z")(d)
      val (en, enll) = score(txt)
      assert(got(d)._1 === en, s"doc $d n_bigrams")
      assert(math.abs(got(d)._2 - enll) < 1e-12, s"doc $d: ${got(d)._2} vs $enll")
    }
    // the fully-unseen doc scores ln(V) (to carrier precision):
    // -ln((0+1)/(0+V)) for every bigram
    assert(math.abs(got(3L)._2 - math.log(v.toDouble)) < 1e-5)
    // in-distribution text scores strictly lower than off-distribution
    assert(got(2L)._2 < got(3L)._2)
    // a single-token doc has no bigram and is absent, both engines
    assert(!got.contains(4L))
  }

  test("q91 DSIR: target-like raw docs outrank junk; exact in-memory recompute") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dsir").toString
    val target = "the quick brown fox jumps over the lazy dog"
    Seq(
      (1L, "src0", target),
      (2L, "src0", "the quick brown fox runs over the lazy cat"),
      (10L, "raw", target),                        // verbatim target text
      (11L, "raw", "zq wx kv jm qq zz xx yy ww vv"), // junk, disjoint tokens
      (12L, "raw", "the quick brown fox")          // partial target prefix
    ).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = CurationOps.dsirWeights(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Double]("logweight"))).toMap
    assert(got.keySet === Set(10L, 11L, 12L)) // raw docs only

    // driver-side reference: same hash, same smoothing, same carrier
    val B = 1024
    def ph(x: String): Long = {
      var acc = 0L; var i = 0
      while (i < x.length) { acc = (acc * 31 + x.charAt(i)) % 1000000007L; i += 1 }
      acc
    }
    def featsOf(text: String): Seq[Long] = {
      val t = text.split(" ").filter(_.nonEmpty).toSeq
      (t ++ t.zip(t.tail).map { case (a, b) => a + " " + b }).map(g => ph(g) % B)
    }
    val lake = Seq((1L, "src0", target),
      (2L, "src0", "the quick brown fox runs over the lazy cat"),
      (10L, "raw", target), (11L, "raw", "zq wx kv jm qq zz xx yy ww vv"),
      (12L, "raw", "the quick brown fox"))
    def countsOf(src: Boolean): Map[Long, Long] =
      lake.filter(d => (d._2 == "src0") == src).flatMap(d => featsOf(d._3))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (ct, cr) = (countsOf(true), countsOf(false))
    val (tt, tr) = (ct.values.sum, cr.values.sum)
    def lr(b: Long): Double =
      math.log((ct.getOrElse(b, 0L) + 1).toDouble / (tt + B).toDouble) -
        math.log((cr.getOrElse(b, 0L) + 1).toDouble / (tr + B).toDouble)
    for ((id, _, text) <- lake if got.contains(id)) {
      val fs = featsOf(text)
      val terms = fs.groupBy(identity).map { case (b, g) =>
        BigDecimal(g.size.toDouble * lr(b))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      assert(got(id)._1 === fs.size.toLong, s"doc $id n_feats")
      assert(math.abs(got(id)._2 - terms.sum.toDouble) < 1e-12,
        s"doc $id: ${got(id)._2} vs ${terms.sum.toDouble}")
    }
    // the selection property DSIR exists for: verbatim-target > partial > junk
    assert(got(10L)._2 > got(12L)._2 && got(12L)._2 > got(11L)._2,
      s"ranking broken: $got")
  }

  test("q64b epoch mix: per-source token output hits the sqrt-temperature " +
    "quota within one document, repeats within one of the floor") {
    import org.apache.spark.sql.functions._
    val plan = CurationOps.epochMix(spark, sf).collect()
    assert(plan.nonEmpty)
    // recompute the quotas exactly as the operator defines them
    val bySrc = plan.groupBy(_.getString(1))
    val srcTokens = bySrc.view.mapValues(_.map(_.getLong(2)).sum).toMap
    val totalSw = srcTokens.values.toSeq.sorted // carrier is order-insensitive
      .map(t => BigDecimal(math.sqrt(t.toDouble)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    val corpus = srcTokens.values.sum
    bySrc.foreach { case (src, rows) =>
      val ts = srcTokens(src)
      val quota = math.floor(corpus.toDouble *
        (math.sqrt(ts.toDouble) / totalSw)).toLong
      val shipped = rows.map(r => r.getLong(3) * r.getLong(2)).sum
      val maxTok = rows.map(_.getLong(2)).max
      assert(shipped >= quota && shipped < quota + maxTok,
        s"$src: shipped $shipped outside [$quota, ${quota + maxTok})")
      // every doc repeats either floor(quota/T) or one more
      val full = quota / ts
      assert(rows.forall(r => r.getLong(3) == full || r.getLong(3) == full + 1))
    }
  }

  test("q50b winnow: the SIGMOD-2003 guarantee, rightmost ties, short docs, coverage") {
    import spark.implicits._
    val k = 5; val w = 4
    // docs 1 and 2 share a 8-token run (= w + k - 1, the guarantee
    // threshold) embedded in otherwise-disjoint text; doc 3 is 6 tokens
    // (hash stream m = 2 < w); doc 4 is one repeated token (all window
    // hashes equal -> every window's rightmost element is selected)
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 a6 $shared a7 a8 a9 a10"),
      (2L, s"b1 b2 $shared b3 b4 b5 b6 b7 b8 b9 b10 b11"),
      (3L, "c1 c2 c3 c4 c5 c6"),
      (4L, (1 to 12).map(_ => "x").mkString(" "))
    ).toDF("doc_id", "text")
    val got = CurationOps.winnowOf(docs, k, w).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("fp_pos"), r.getAs[Long]("fp")))
    val byDoc = got.groupBy(_._1)
    // guarantee: a shared run of length w + k - 1 shares >= 1 fingerprint
    val f1 = byDoc(1L).map(_._3).toSet
    val f2 = byDoc(2L).map(_._3).toSet
    assert((f1 & f2).nonEmpty, "shared 8-token run must share a fingerprint")
    // short doc: m = 2 < w -> exactly one fingerprint (whole-stream min)
    assert(byDoc(3L).length === 1)
    // all-equal hashes: rightmost-min tie-break selects pos p + w - 1 for
    // each window start p in [1, m - w + 1] -> positions {w .. m}
    val m4 = 12 - (k - 1)
    assert(byDoc(4L).map(_._2).sorted.toSeq === (w.toLong to m4.toLong))
    // coverage invariant (the guarantee's mechanism): every valid window
    // [p, p + w - 1] contains a selected position
    byDoc.foreach { case (id, rows) =>
      val sel = rows.map(_._2).toSet
      val m = Map(1L -> 13, 2L -> 15, 3L -> 2, 4L -> m4)(id)
      (1 to math.max(1, m - w + 1)).foreach { p =>
        assert((p until p + w).exists(q => sel(q.toLong)), s"doc $id window $p uncovered")
      }
      assert(rows.length <= m)
    }
    // positions carry real hash-stream offsets: fp at (doc, pos) equals the
    // independent md5-60-bit recompute of that k-gram
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    got.foreach { case (id, pos, fp) =>
      val gram = texts(id).slice(pos.toInt - 1, pos.toInt - 1 + k).mkString(" ")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(gram.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(fp === java.lang.Long.parseLong(md5.take(15), 16), s"doc $id pos $pos")
    }
    intercept[IllegalArgumentException] { CurationOps.winnowOf(docs, k, 0) }
  }

  test("q50c winnow dedup: exact dups at 1.0, dfCap stop keys, minShared coincidence guard") {
    import spark.implicits._
    def run(docs: org.apache.spark.sql.DataFrame, dfCap: Long = 64,
        minShared: Long = 2, threshold: Double = 0.35) =
      CurationOps.winnowDedupOf(docs, 5, 4, dfCap, minShared, threshold).collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getAs[Long]("shared"), r.getAs[Double]("jaccard")))).toMap
    val textA = (1 to 30).map(i => s"a$i").mkString(" ")
    val textB = (1 to 30).map(i => s"b$i").mkString(" ")
    // docs 1/2 identical -> full fingerprint overlap, jaccard exactly 1.0;
    // doc 3 unrelated -> no pair
    val base = Seq((1L, textA), (2L, textA), (3L, textB)).toDF("doc_id", "text")
    val got = run(base)
    assert(got.keySet === Set((1L, 2L)))
    assert(got((1L, 2L))._2 === 1.0)
    // dfCap: a boilerplate run shared by FIVE docs is a stop key at
    // dfCap=4 — its fingerprints pair nobody, while the two docs that
    // ALSO share a distinctive run still pair on the distinctive keys
    val boiler = (1 to 30).map(i => s"c$i").mkString(" ")
    val distinct8 = (1 to 20).map(i => s"d$i").mkString(" ")
    val capped = Seq(
      (1L, s"$boiler $distinct8"), (2L, s"$boiler $distinct8"),
      (3L, boiler), (4L, boiler), (5L, boiler)).toDF("doc_id", "text")
    val cappedGot = run(capped, dfCap = 4, threshold = 0.1)
    // pairs among 3/4/5 (only boilerplate keys, all df=5 > 4) are gone;
    // 1-2 pair on the distinctive-run keys with a CONSISTENT universe
    // (denominator counts kept keys only -> jaccard 1.0, not diluted)
    assert(cappedGot.keySet === Set((1L, 2L)))
    assert(cappedGot((1L, 2L))._2 === 1.0)
    // uncapped, all C(5,2) boilerplate pairs + the 1-2 pair appear
    assert(run(capped, threshold = 0.1).keySet.size === 10)
    // minShared: force single-fingerprint docs (5 tokens = one window
    // hash) sharing that one key — one key's evidence is a coincidence,
    // not a duplicate verdict
    val tiny = Seq((1L, "t1 t2 t3 t4 t5"), (2L, "t1 t2 t3 t4 t5"))
      .toDF("doc_id", "text")
    assert(run(tiny).isEmpty)
    assert(run(tiny, minShared = 1).keySet === Set((1L, 2L)))
  }
}
