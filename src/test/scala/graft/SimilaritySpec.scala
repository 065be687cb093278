package graft

import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {

  /** Independent re-implementation: collect the embeddings and rank in plain
    * Scala double math — no Spark expressions involved.
    */
  private def bruteForceScala(dir: String, k: Int): Seq[Long] = {
    val rows = Tables
      .embeddings(spark, dir)
      .select("vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = rows.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    rows
      .filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(k)
      .map(_._1)
      .toSeq
  }

  test("s1 brute-force top-10 matches an independent implementation") {
    val got = Similarity.annBruteForce(spark, sf0001).collect().map(_.getLong(1)).toSeq
    assert(got == bruteForceScala(sf0001, 10))
  }

  test("s1 ranks are 1..10") {
    val rnk = Similarity.annBruteForce(spark, sf0001).collect().map(_.getLong(0)).toSeq
    assert(rnk == (1L to 10L))
  }

  test("s3 grouped top-k agg: query 0's neighbors match s1's top-3") {
    val s1top3 = Similarity.annBruteForce(spark, sf0001).collect().map(_.getLong(1)).take(3).toSeq
    val s3 = Similarity
      .annBatchTopK(spark, sf0001)
      .collect()
      .filter(_.getLong(0) == 0L)
      .sortBy(_.getLong(1))
      .map(_.getLong(2))
      .toSeq
    assert(s3 == s1top3)
    // and every query id gets exactly k ranked rows
    val all = Similarity.annBatchTopK(spark, sf0001).collect()
    assert(all.length == 5 * 3)
    assert(all.map(_.getLong(0)).distinct.sorted.toSeq == (0L until 5L))
  }

  test("graft.ann.nclusters=auto derives the bounded √n operating point and serves a fresh layout") {
    // the derivation: nc = clamp(ceil(√n), 16, 4096), np = max(4, ceil(nc/4))
    assert(Similarity.autoIvfKnobs(0L) == ((16, 4)))
    assert(Similarity.autoIvfKnobs(100L) == ((16, 4)))
    assert(Similarity.autoIvfKnobs(10000L) == ((100, 25)))
    assert(Similarity.autoIvfKnobs(100000000000L) == ((4096, 1024)))
    // end-to-end: the auto point resolves from the conf, builds its own
    // nc-keyed layout (cache can't collide with the fixed-knob artifacts),
    // and still never invents neighbors
    spark.conf.set("graft.ann.nclusters", "auto")
    try {
      val got = Similarity.annIvf(spark, sf0001, 0L, 5).collect()
      assert(got.length == 5)
      val exact = Similarity.annBruteForce(spark, sf0001, 0L, 50).collect().map(_.getLong(1)).toSet
      assert(got.map(_.getLong(1)).forall(exact.contains), "auto-point IVF returned a non-neighbor")
    } finally spark.conf.unset("graft.ann.nclusters")
  }

  test("s4 ivf probe search approximates s1 and never invents neighbors") {
    val exact = Similarity.annBruteForce(spark, sf0001).collect().map(_.getLong(1)).toSet
    val ivf   = Similarity.annIvf(spark, sf0001).collect()
    assert(ivf.length == 10)
    assert(ivf.map(_.getLong(0)).toSeq == (1L to 10L))
    val recall = (exact & ivf.map(_.getLong(1)).toSet).size
    assert(recall >= 2, s"ivf recall too low: $recall/10")
  }

  test("s6 partitioned ivf == s4's answer, scanning only probed cluster dirs") {
    val s4 = Similarity.annIvf(spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val s6df = Similarity.annIvfPartitioned(spark, sf0001)
    val s6   = s6df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(s6 == s4, s"partitioned layout changed the answer: $s6 vs $s4")
    // the probe restriction must be DIRECTORY-level pruning, not a row filter
    val plan = s6df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cl".r.findFirstIn(plan).isDefined, plan)
  }

  test("clean corpus: no surviving near-dup pair, filters actually applied") {
    val kept = graft.operators.Pipeline.cleanCorpus(spark, sf0001).collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty && kept.size < 500)
    // keep-rule guarantee: for every qualifying pair (a<b), b must be gone
    val pairs = graft.operators.Dedup
      .ngramJaccardPairs(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (_, b) => assert(!kept.contains(b), s"near-dup $b survived") }
    // quality floor: no kept doc under 20 tokens
    val short = graft.operators.TextAnalysis
      .tokenCount(spark, sf0001)
      .where(org.apache.spark.sql.functions.col("n_tokens") < 20)
      .collect()
      .map(_.getLong(0))
      .toSet
    assert((kept & short).isEmpty)
  }

  test("c2: stage counts form a monotone funnel that matches independent recounts") {
    val Array(row) = graft.operators.Pipeline.stageCounts(spark, sf0001).collect()
    val (nRaw, nQuality, nLang, nClean) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(nRaw >= nQuality && nQuality >= nLang && nLang >= nClean)
    assert(nRaw == graft.sources.Tables.documents(spark, sf0001).count())
    // n_clean must equal the pipeline it reports on — not approximately
    assert(nClean == graft.operators.Pipeline.cleanCorpus(spark, sf0001).count())
    // every stage actually filters on this corpus, or the report is vacuous
    assert(nRaw > nQuality && nLang > nClean)
  }

  test("c3: per-source token yield reconciles with c1 survivors and c2 totals") {
    val rows = graft.operators.Pipeline.tokenYield(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // per-source yields are bounded and consistent
    rows.foreach { case (_, dr, tr, dc, tc) =>
      assert(dc <= dr && tc <= tr)
      assert((dc == 0) == (tc == 0), "doc/token yields must vanish together")
    }
    // totals reconcile with the pipeline the table reports on
    assert(rows.map(_._4).sum == graft.operators.Pipeline.cleanCorpus(spark, sf0001).count())
    assert(rows.map(_._2).sum == graft.sources.Tables.documents(spark, sf0001).count())
    // token yield actually differs across sources on this corpus (the
    // reason the table is per-source at all)
    val ratios = rows.map { case (_, _, tr, _, tc) => tc.toDouble / tr }
    assert(ratios.max - ratios.min > 0.01)
  }

  test("d33: drop reasons reconcile with the operators they cite; kept = c1 minus contamination") {
    val rows = graft.operators.Pipeline.dropReasons(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.length == graft.sources.Tables.documents(spark, sf0001).count())
    // kept is exactly the conjunction of the four bits
    rows.foreach { case (_, ts_, wl, nd, ct, kept) =>
      assert(kept == (if (ts_ == 0 && wl == 0 && nd == 0 && ct == 0) 1L else 0L))
    }
    // near-dup marginal == the dedup rung's drop set; contamination == d8's flag set
    val ndIds = rows.filter(_._4 == 1).map(_._1).toSet
    assert(ndIds == graft.operators.Dedup.minhashLshPairs(spark, sf0001)
      .select("doc_b").collect().map(_.getLong(0)).toSet)
    val ctIds = rows.filter(_._5 == 1).map(_._1).toSet
    assert(ctIds == graft.operators.Curation.decontaminate(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet)
    // kept set == c1 survivors minus the contaminated (the extended gate)
    val c1 = graft.operators.Pipeline.cleanCorpus(spark, sf0001).collect().map(_.getLong(0)).toSet
    assert(rows.filter(_._6 == 1).map(_._1).toSet == (c1 -- ctIds))
  }

  test("s2 lsh is a plausible approximation of s1 (recall >= 3/10)") {
    val exact = Similarity.annBruteForce(spark, sf0001).collect().map(_.getLong(1)).toSet
    val appr  = Similarity.annLsh(spark, sf0001).collect().map(_.getLong(1)).toSet
    assert(appr.size == 10)
    assert((exact & appr).size >= 3, s"recall too low: ${(exact & appr).size}/10")
  }

  test("s8 quantized+rerank is EXACTLY s1: the int8 shortlist never costs a result") {
    val exact = Similarity.annBruteForce(spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val quant = Similarity.annQuantized(spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(quant == exact)
  }

  test("s9 composed stack (IVF pruning x int8 coarse x exact rerank) == s6 probe search") {
    val s6 = Similarity.annIvfPartitioned(spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val s9 = Similarity.annIvfQuantized(spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(s9 == s6)
  }

  test("s17 re-rank is structurally exact: shortlist >= corpus reproduces s1 bit-for-bit") {
    val exact = Similarity.annBruteForce(spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pq = Similarity
      .annPq(spark, sf0001, shortlist = 100000) // ≥ corpus → containment by construction
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pq == exact)
  }

  test("s17 default shortlist holds a recall floor; codes and codebooks are well-formed and reused") {
    import org.apache.spark.sql.functions._
    // the ADC shortlist is approximate (that is WHY s17 is no-oracle) —
    // but it must stay a good approximation: recall@10 ≥ 8/10 here
    val exact = Similarity.annBruteForce(spark, sf0001).collect().map(_.getLong(1)).toSet
    val deflt = Similarity.annPq(spark, sf0001).collect().map(_.getLong(1)).toSet
    assert((exact & deflt).size >= 8, s"PQ recall too low: ${(exact & deflt).size}/10")
    val layout = Similarity.pqLayoutCache(spark, sf0001)
    val codes  = spark.read.parquet(s"$layout/pq.parquet")
    val n      = graft.sources.Tables.embeddings(spark, sf0001).count()
    assert(codes.count() == n, "one code row per vector")
    // every code indexes inside its book; M codes per vector
    assert(codes.where(size(col("codes")) =!= Similarity.PqSubspaces).count() == 0)
    assert(
      codes.where(expr(s"exists(codes, c -> c < 0 OR c >= ${Similarity.PqCodewords})")).count() == 0,
      "codes must index inside the codebook"
    )
    val books = spark.read.parquet(s"$layout/codebooks.parquet")
    assert(books.count() == Similarity.PqSubspaces.toLong * Similarity.PqCodewords)
    // warm path: a second query builds nothing
    graft.sources.LayoutCache.drainBuildLog()
    Similarity.annPq(spark, sf0001).collect()
    assert(graft.sources.LayoutCache.drainBuildLog().isEmpty, "second s17 query must reuse the PQ layout")
  }

  test("s18 IVF×PQ at full probe == plain s17: the composition loses nothing when nothing is pruned") {
    val nc = 16
    val full = Similarity
      .annIvfPq(spark, sf0001, nClusters = nc, nProbe = nc)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pq = Similarity.annPq(spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == pq && full.nonEmpty)
  }

  test("s18 at default knobs: probed-candidate recall stays useful") {
    val exact = Similarity.annBruteForce(spark, sf0001).collect().map(_.getLong(1)).toSet
    val got   = Similarity.annIvfPq(spark, sf0001).collect().map(_.getLong(1)).toSet
    assert(got.size == 10)
    // two stacked approximations (probe recall × ADC recall): floor at half
    assert((exact & got).size >= 5, s"IVF×PQ recall too low: ${(exact & got).size}/10")
  }

  test("s17p planted twin: the five planted neighbors rank exactly through the PQ index") {
    val got = Similarity.annPqPlanted(spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // brute force over the same union is the contract (the driver oracle
    // replays it in DuckDB; this is the in-engine differential)
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables
      .embeddings(spark, sf0001)
      .select("vec_id", "embedding")
      .unionByName(
        spark.read.parquet("/root/repo/fixtures/annplant/embeddings.parquet").select("vec_id", "embedding")
      )
    graft.functions.VectorFunctions.register(spark)
    val q = e.where(col("vec_id") === 2000000L).select(col("embedding").as("qv"))
    val brute = e
      .where(col("vec_id") =!= 2000000L)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), expr("cosine_sim(embedding, qv)").as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(got.map(_._2) == brute && got.map(_._1) == (1L to 5L))
    // all five planted ids (2000001–2000005) must be the answer — a
    // vacuous background result cannot satisfy this
    assert(got.map(_._2).forall(_ >= 2000001L))
  }

  test("s8 shortlist containment has headroom: exact top-10 sits inside the int8 top-20") {
    // tighter-than-production shortlist still reproduces s1 → the default 50
    // is not sitting on the edge
    val exact = Similarity.annBruteForce(spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val tight = Similarity.annQuantized(spark, sf0001, shortlist = 20).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(tight == exact)
  }

  test("s10: norms are exact on planted vectors; counts partition the corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_norms").toString
    Seq(
      (0L, Seq(3.0f, 4.0f), 1),   // norm 5
      (1L, Seq(0.0f, 0.0f), 1),   // norm 0 — the broken-encoder row s10 exists to expose
      (2L, Seq(1.0f, 0.0f), 2),   // norm 1
      (3L, Seq(-2.0f, 0.0f), 2),  // norm 2 — sign must not matter
      (4L, Seq(0.6f, 0.8f), 2)    // unit-ish norm, float rounding exercised
    ).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity
      .normStats(spark, dir)
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got(1)._1 == 2L && got(1)._2 == 0.0 && got(1)._3 == 5.0)
    // (0.6f, 0.8f) is NOT unit in float→double arithmetic: the fold must
    // reproduce the widened-float sum exactly, a hair above 1.0 — so label
    // 2's min stays the exact-1.0 vector
    assert(math.sqrt(0.6f.toDouble * 0.6f.toDouble + 0.8f.toDouble * 0.8f.toDouble) > 1.0)
    assert(got(2) == ((3L, 1.0, 2.0)))
    // real corpus: group counts partition the table, min ≤ max everywhere
    val real = Similarity.normStats(spark, sf0001).collect()
    val total = graft.sources.Tables.embeddings(spark, sf0001).count()
    assert(real.map(_.getLong(1)).sum == total)
    assert(real.forall(r => r.getDouble(2) <= r.getDouble(3)))
  }

  test("s11 filtered ANN: label pushdown inside the probed scan; full-probe == filtered brute") {
    import org.apache.spark.sql.functions.col
    val lbl = 1
    // independent filtered brute force: local cosine over the collected corpus
    val rows = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val qv = rows.find(_._1 == 0L).get._2
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = rows
      .filter(r => r._1 != 0L && r._3 == lbl)
      .map(r => (r._1, cos(r._2, qv)))
      .sortBy { case (id, c) => (-c, id) }
      .take(10).zipWithIndex.map { case ((id, _), i) => (i + 1L, id) }.toSeq
    // probing EVERY cluster makes the IVF path exhaustive -> must equal brute
    val full = Similarity.annIvfFiltered(spark, sf0001, label = lbl, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == expected, s"full-probe filtered ANN != filtered brute:\n$full\n$expected")
    // default probes: the predicate must land in the SCAN, not a post-filter
    val s11df = Similarity.annIvfFiltered(spark, sf0001, label = lbl)
    val plan  = s11df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cl".r.findFirstIn(plan).isDefined, plan.take(1200))
    assert(plan.contains("EqualTo(label,"), s"label not pushed to parquet:\n${plan.take(1200)}")
    val got = s11df.collect().map(_.getLong(1)).toSet
    val labelled = rows.filter(_._3 == lbl).map(_._1).toSet
    assert(got.size == 10 && got.subsetOf(labelled))
  }

  test("nearest_centroids: compiled scan == independent ranking; zero vectors, clamp, mismatch; codegen survives 256 clusters") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    graft.functions.VectorFunctions.register(spark)
    val rnd  = new scala.util.Random(7)
    val vecs = Seq.tabulate(50)(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat))) :+
      ((50L, Seq.fill(8)(0.0f))) // zero-norm row: cos 0.0 to everything → index order
    val df = vecs.toDF("vec_id", "embedding")
    val cs: Array[Seq[Float]] = Array.fill(12)(Seq.fill(8)(rnd.nextGaussian().toFloat))
    def cosD(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = df
      .select(col("vec_id"), Similarity.nearestCentroidsCol(cs, 3).as("p"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq)
      .toMap
    vecs.foreach { case (id, v) =>
      val exp = cs.zipWithIndex
        .map { case (c, i) => (cosD(v, c), i) }
        .sortBy { case (cd, i) => (-cd, i) }
        .take(3).map(_._2).toSeq
      assert(got(id) == exp, s"vec $id")
    }
    assert(got(50L) == Seq(0, 1, 2)) // all-ties → smallest indices first
    // nProbe beyond C clamps to C (the slice contract of the old formulation)
    val clamped = df.limit(1).select(Similarity.nearestCentroidsCol(cs, 99)).head().getSeq[Int](0)
    assert(clamped.length == 12 && clamped.toSet == (0 until 12).toSet)
    // dimension-mismatched centroid → null, never a truncated score
    val bad = (cs.toSeq :+ Seq.fill(9)(1.0f)).toArray
    assert(df.limit(1).select(Similarity.nearestCentroidsCol(bad, 2)).head().isNullAt(0))
    // the point of the expression: codegen must COMPILE at √n-scale cluster
    // counts (fallback=false turns a Janino overflow into a test failure —
    // the literal-tree formulation this replaced dies here at 256)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val cs256 = Array.fill(256)(Seq.fill(8)(rnd.nextGaussian().toFloat))
      val n     = df.select(explode(Similarity.nearestCentroidsCol(cs256, 4))).count()
      assert(n == vecs.length * 4L)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("s2p planted LSH: top-5 is exactly the graded fixture neighbors, in cosine order") {
    // expectation comes from the committed fixture design (graded jitter →
    // strictly decreasing cosines 0.9999 … 0.9935, all a decade above any
    // background pair), not from the engine — every neighbor must survive
    // banding AND rank exactly as brute force would
    val got = Similarity.annLshPlanted(spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2000001L), (2L, 2000002L), (3L, 2000003L), (4L, 2000004L), (5L, 2000005L)))
  }

  test("s11p planted filtered IVF: label filter composes BEFORE top-k (distractors excluded)") {
    // the two closest planted neighbors carry label 8: a post-filter of the
    // unfiltered top-3 would return one row, an unfiltered search would
    // return the distractors — only filter-then-rank yields ranks 1..3 on
    // the three label-7 neighbors
    val got = Similarity.annIvfFilteredPlanted(spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2000003L), (2L, 2000004L), (3L, 2000005L)))
  }

  test("s4p/s6p/s9p/s12p/s18p planted twins: every composed rung returns exactly the graded fixture neighbors") {
    // one expectation, fixed by the committed fixture design (graded jitter
    // → strictly decreasing cosines, a decade above background), met five
    // separate ways: inline IVF, the persisted cl= layout, IVF×SQ8,
    // the base+delta maintained index, and IVF×PQ — each must both FIND
    // the planted neighbors through its real index path and rank them in
    // exact brute-force order
    val want = Seq((1L, 2000001L), (2L, 2000002L), (3L, 2000003L), (4L, 2000004L), (5L, 2000005L))
    val rungs = Seq(
      "s4p"  -> Similarity.annIvfPlanted(spark, sf0001),
      "s6p"  -> Similarity.annIvfPartitionedPlanted(spark, sf0001),
      "s9p"  -> Similarity.annIvfQuantizedPlanted(spark, sf0001),
      "s12p" -> Similarity.annIvfIncrementalPlanted(spark, sf0001),
      "s18p" -> Similarity.annIvfPqPlanted(spark, sf0001)
    )
    for ((name, df) <- rungs) {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == want, s"$name returned $got")
    }
  }

  test("s21p: tombstoning the best planted neighbor shifts ranks 2..5 up; the deleted id never appears") {
    val want = Seq((1L, 2000002L), (2L, 2000003L), (3L, 2000004L), (4L, 2000005L))
    val got = Similarity
      .annIvfTombstonedPlanted(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
    assert(got == want, s"got $got")
    assert(!got.exists(_._2 == Similarity.TombstonedPlantedId), "mask leaked the deleted vector")
  }

  test("s14p planted kNN join: each planted vector's top-3 are other planted vectors, brute-force ranked") {
    import org.apache.spark.sql.functions._
    val got = Similarity.knnJoinIvfPlanted(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // six planted queries × k=3, no background query leaks in
    assert(got.map(_._1).distinct.sorted == (2000000L to 2000005L), s"queries: ${got.map(_._1).distinct.toSeq}")
    assert(got.size == 18)
    // every ranked neighbor is itself planted (mutual cosines a decade
    // above background make any corpus id here a probe/rank bug)
    assert(got.forall(_._3 >= 2000000L), s"background neighbor leaked: $got")
    // and the ranking is exact: brute-force per-query top-3 over the union
    val e = graft.sources.Tables
      .embeddings(spark, sf0001)
      .select("vec_id", "embedding")
      .unionByName(
        spark.read.parquet(graft.Fixtures.dir + "/annplant/embeddings.parquet").select("vec_id", "embedding")
      )
    graft.functions.VectorFunctions.register(spark)
    val brute = e.where(col("vec_id") >= 2000000L)
      .crossJoin(e.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_emb")))
      .where(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"), expr("cosine_sim(embedding, nbr_emb)").as("cos"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))))
      .where(col("rnk") <= 3)
      .select("vec_id", "rnk", "nbr_id")
      .orderBy("vec_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2))).toSeq
    assert(got == brute)
  }

  test("s19p planted filtered IVF×PQ: the label filter composes BEFORE the ADC shortlist") {
    // the two closest planted neighbors carry label 8 — only
    // filter-then-quantized-rank yields ranks 1..3 on the label-7 trio
    // (the s11p contract proven through the PQ stack)
    val got = Similarity.annIvfPqFilteredPlanted(spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2000003L), (2L, 2000004L), (3L, 2000005L)))
  }

  test("s19 at full probe + corpus-wide shortlist == filtered brute force (nothing pruned, nothing lost)") {
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.register(spark)
    val n = graft.sources.Tables.embeddings(spark, sf0001).count().toInt
    val got = Similarity
      .annIvfPqFiltered(spark, sf0001, queryId = 0L, k = 10, label = 1, nClusters = 16, nProbe = 16, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val e = graft.sources.Tables.embeddings(spark, sf0001)
    val q = e.where(col("vec_id") === 0L).select(col("embedding").as("qv"))
    val brute = e
      .where(col("vec_id") =!= 0L && col("label") === 1)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), expr("cosine_sim(embedding, qv)").as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(got.map(_._2) == brute && got.map(_._1) == (1L to brute.length))
  }

  test("recall ledger structure: monotone in nprobe, full probe exact, SQ8 shortlist lossless") {
    // pins the BASELINE.md ledger's structural rows over the same
    // evenly-sampled query protocol (5 queries at the spec SF — the table's
    // absolute numbers are the committed RecallLedger run's artifacts)
    val embs = graft.sources.Tables
      .embeddings(spark, sf0001)
      .select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .toMap
    val qids  = graft.RecallLedger.queryIds(embs.size.toLong, 5)
    val exact = graft.RecallLedger.exactTopK(embs, qids, 10)
    def recall(rung: Long => org.apache.spark.sql.DataFrame): Double =
      qids.map { q =>
        val got = rung(q).collect().map(_.getLong(1)).toSet
        (exact(q) & got).size.toDouble / 10
      }.sum / qids.size
    val byProbe = Seq(1, 4, 16).map(np =>
      np -> recall(q => Similarity.annIvfPartitioned(spark, sf0001, q, 10, 16, np)))
    // monotone non-decreasing in probe width; full probe IS brute force
    assert(byProbe.sliding(2).forall { case Seq((_, a), (_, b)) => b >= a }, byProbe)
    assert(byProbe.last._2 == 1.0, byProbe)
    // the SQ8 coarse pass costs nothing at the default shortlist
    val sq8 = recall(q => Similarity.annIvfQuantized(spark, sf0001, q, 10, 16, 4))
    val ivf = byProbe.find(_._1 == 4).get._2
    assert(sq8 == ivf, s"SQ8 $sq8 vs IVF $ivf")
  }

  test("compacted generation == segmented s12 at every probe width; tombstoned never leaks, full probe == survivor brute force") {
    // compaction is a physical fold against frozen centroids — the
    // compacted layout must answer EXACTLY like the base+delta pair at
    // every operating point, not just the planted query (the recall
    // ledger's generation rows ride this identity)
    for (np <- Seq(1, 16); q <- Seq(0L, 7L)) {
      val seg = Similarity.annIvfIncremental(spark, sf0001, q, 10, 16, np)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val comp = Similarity.annIvfCompactedCorpus(spark, sf0001, q, 10, 16, np)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(comp == seg, s"compacted != segmented at nprobe=$np q=$q")
    }
    // tombstoned: the mask must hold at every probe width, and at full
    // probe the answer is brute force over the survivors
    for (np <- Seq(1, 4, 16)) {
      val got = Similarity.annIvfTombstonedCorpus(spark, sf0001, 0L, 10, 16, np).collect()
      assert(got.forall(_.getLong(1) % 10 != 3), s"deleted id leaked at nprobe=$np")
    }
    val embs = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val survivors = embs.filter { case (id, _) => id % 10 != 3 }
    val exactT = graft.RecallLedger.exactTopK(survivors, Seq(0L), 10)(0L)
    val full = Similarity.annIvfTombstonedCorpus(spark, sf0001, 0L, 10, 16, 16)
      .collect().map(_.getLong(1)).toSet
    assert(full == exactT, s"full-probe tombstoned != survivor brute force:\n$full\n$exactT")
  }

  test("s12 incremental IVF: full probe == s1 brute force (maintenance loses and duplicates nothing)") {
    // with every cluster probed, the maintained base+delta index is
    // exhaustive — any vector dropped, duplicated, or mis-unioned during
    // maintenance would break exact equality with the brute-force ranking
    val brute = Similarity.annBruteForce(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val full = Similarity.annIvfIncremental(spark, sf0001, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == brute, s"full-probe incremental != brute:\n$full\n$brute")
  }

  test("s12: delta vectors carry exactly the assignment the frozen base centroids dictate") {
    import org.apache.spark.sql.functions.col
    val e     = graft.sources.Tables.embeddings(spark, sf0001)
    val split = e.agg(org.apache.spark.sql.functions.expr("(max(vec_id) + 1) div 2")).head().getLong(0)
    val base  = Similarity.ivfBaseLayoutCache(spark, sf0001, 16, split)
    val delta = Similarity.ivfDeltaLayoutCache(spark, sf0001, 16, split)
    val cs = spark.read.parquet(s"$base/centroids.parquet")
      .orderBy("cl").collect().map(_.getSeq[Float](1))
    // re-run the SAME in-engine assignment expression over the batch slice
    graft.functions.VectorFunctions.register(spark)
    val expected = e.where(col("vec_id") >= split)
      .withColumn("cl", Similarity.assignCol(cs))
      .select("vec_id", "cl").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val stored = spark.read.parquet(s"$delta/vectors.parquet")
      .select("vec_id", "cl").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored == expected)
    assert(stored.nonEmpty, "sf0.001 must have a non-empty batch half")
    // and the delta segment holds ONLY batch vectors; base holds the rest
    val baseIds = spark.read.parquet(s"$base/vectors.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(stored.keySet.forall(_ >= split) && baseIds.forall(_ < split))
    assert((baseIds ++ stored.keySet) == e.select("vec_id").collect().map(_.getLong(0)).toSet)
  }

  test("vector-index compaction: frozen centroids, exact row fold, full probe == brute") {
    import org.apache.spark.sql.functions.col
    val e     = graft.sources.Tables.embeddings(spark, sf0001)
    val split = e.agg(org.apache.spark.sql.functions.expr("(max(vec_id) + 1) div 2")).head().getLong(0)
    val base  = Similarity.ivfBaseLayoutCache(spark, sf0001, 16, split)
    val delta = Similarity.ivfDeltaLayoutCache(spark, sf0001, 16, split)
    val out   = java.nio.file.Files.createTempDirectory("graft_veccompact").toString
    Similarity.compactVectorIndex(spark, base, s"$delta/vectors.parquet", out)
    // row fold is exact: every (vec_id, cl) of base+delta, nothing else
    def asg(p: String): Set[(Long, Int)] = spark.read.parquet(p)
      .select(col("vec_id"), col("cl").cast("int")).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val folded = asg(s"$out/vectors.parquet")
    assert(folded == (asg(s"$base/vectors.parquet") ++ asg(s"$delta/vectors.parquet")) && folded.nonEmpty)
    // centroids carried over unchanged — compaction never retrains
    def cents(p: String) = spark.read.parquet(s"$p/centroids.parquet").orderBy("cl").collect().map(_.getSeq[Float](1)).toSeq
    assert(cents(out) == cents(base))
    // the compacted generation is cluster-partitioned like any base
    assert(new java.io.File(s"$out/vectors.parquet").listFiles().exists(_.getName.startsWith("cl=")))
    // and answers exactly at full probe: == brute force
    val qv = e.where(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    val got = Similarity.probeSearchLayout(spark, out, qv, queryId = 0L, k = 10, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val brute = Similarity.annBruteForce(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == brute)
  }

  test("s20p: the compacted planted generation answers exactly as the segmented pair (s12p)") {
    def ranks(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val segmented = ranks(Similarity.annIvfIncrementalPlanted(spark, sf0001))
    val compacted = ranks(Similarity.annIvfCompactedPlanted(spark, sf0001))
    assert(compacted == segmented && segmented.nonEmpty)
  }

  test("vector deletion lifecycle: tombstone mask == survivor-corpus brute; purge retires the ledger") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val e      = graft.sources.Tables.embeddings(spark, sf0001)
    val split  = e.agg(org.apache.spark.sql.functions.expr("(max(vec_id) + 1) div 2")).head().getLong(0)
    val base   = Similarity.ivfBaseLayoutCache(spark, sf0001, 16, split)
    val delta  = Similarity.ivfDeltaLayoutCache(spark, sf0001, 16, split)
    val ledger = e.where(pmod(col("vec_id"), lit(10)) === 3).select("vec_id")
    // one compacted (un-purged) generation to probe through
    val gen = java.nio.file.Files.createTempDirectory("graft_vtomb_gen").toString
    Similarity.compactVectorIndex(spark, base, s"$delta/vectors.parquet", gen)
    // ground truth: brute force over a physical survivor corpus
    val survivorsDir = java.nio.file.Files.createTempDirectory("graft_vtomb_truth").toString
    e.where(pmod(col("vec_id"), lit(10)) =!= 3)
      .write.mode("overwrite").parquet(s"$survivorsDir/embeddings.parquet")
    def ranks(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val truth = ranks(Similarity.annBruteForce(spark, survivorsDir))
    val qv    = e.where(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    val masked = ranks(
      Similarity.probeSearchLayoutTombstoned(spark, gen, ledger, qv, queryId = 0L, k = 10, nProbe = 16)
    )
    assert(masked == truth && truth.nonEmpty)
    assert(masked.forall(_._2 % 10 != 3), "a tombstoned id must never rank")
    val bruteFull = ranks(Similarity.annBruteForce(spark, sf0001))
    if (bruteFull.exists(_._2 % 10 == 3))
      assert(masked != bruteFull, "deleting a ranked neighbor must change the answer")
    // purge: the new generation answers without a mask, rows physically gone
    val purged = java.nio.file.Files.createTempDirectory("graft_vtomb_purged").toString
    Similarity.compactVectorIndexPurged(spark, base, s"$delta/vectors.parquet", ledger, purged)
    assert(ranks(Similarity.probeSearchLayout(spark, purged, qv, queryId = 0L, k = 10, nProbe = 16)) == truth)
    assert(
      spark.read.parquet(s"$purged/vectors.parquet").where(pmod(col("vec_id"), lit(10)) === 3).isEmpty
    )
  }

  /** Independent all-pairs kNN in plain Scala double math (no Spark
    * expressions): the reference answer for the s13/s14 kNN-join family.
    */
  private def knnAllPairsScala(dir: String, k: Int): Map[Long, Seq[Long]] = {
    val rows = Tables
      .embeddings(spark, dir)
      .select("vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    rows.map { case (qid, qv) =>
      qid -> rows
        .filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(k)
        .map(_._1)
        .toSeq
    }.toMap
  }

  test("s13 knn self-join matches an independent all-pairs implementation") {
    val expected = knnAllPairsScala(sf0001, 3)
    val got = Similarity
      .knnJoin(spark, sf0001)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    assert(got == expected)
    // and every vector emits exactly k=3 ranked rows
    assert(got.forall(_._2.length == 3))
  }

  test("s14 knn join with one cluster == s13 brute (completeness invariant)") {
    val brute = Similarity.knnJoin(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val one = Similarity.knnJoinIvf(spark, sf0001, nClusters = 1, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(one == brute, "single-cluster kNN join must equal the brute rung")
  }

  test("s15 mutual pairs replay from s13's edges; symmetric, one orientation, layout-backed") {
    val edges = Similarity.knnJoin(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val expect = edges.collect {
      case (a, b) if a < b && edges.contains((b, a)) => (a, b)
    }
    val got = Similarity.mutualKnnPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.toSet == expect, s"missing ${expect -- got.toSet}, extra ${got.toSet -- expect}")
    assert(got == got.sorted, "output must be ordered by (vec_id_a, vec_id_b)")
    assert(got.forall { case (a, b) => a < b })
    assert(got.nonEmpty, "sf0.001 must contain at least one mutual pair")
    // warm layout: re-running builds nothing
    graft.sources.LayoutCache.drainBuildLog()
    Similarity.mutualKnnPairs(spark, sf0001).collect()
    assert(graft.sources.LayoutCache.drainBuildLog().isEmpty, "warm kNN-graph layout rebuilt")
  }

  test("s16 clusters == independent union-find over s15's mutual edges, labeled by min member") {
    val edges = Similarity.mutualKnnPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // independent union-find (path-halving) over the collected edge list
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) { parent(r) = parent.getOrElse(parent(r), parent(r)); r = parent(r) }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = parent.keys.map(v => v -> find(v)).toMap
    val got = Similarity.mutualKnnClusters(spark, sf0001)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(got == expect, s"cluster labels diverge: ${got.toSet -- expect.toSet} vs ${expect.toSet -- got.toSet}")
    assert(got.nonEmpty)
    // labels are component minima: every cluster_id is a member of its own cluster
    got.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keySet.min == cid, s"cluster $cid not labeled by its min member")
    }
  }

  test("s22 semantic keep-list: cluster minima + unclustered vectors; sizes partition the corpus; exactly one survivor per component") {
    val clusters = Similarity.mutualKnnClusters(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))) // (cluster_id, vec_id)
    val kept = Similarity.semanticKeepList(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap // vec_id -> cluster_size
    val allVecs = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val clustered = clusters.map(_._2).toSet
    val minima    = clusters.groupBy(_._1).map { case (cid, ms) => ms.map(_._2).min }.toSet
    assert(minima == clusters.map(_._1).toSet, "star labels must be component minima")
    // keep-list = minima ∪ (corpus − clustered), nothing else
    assert(kept.keySet == minima ++ (allVecs -- clustered))
    // each representative carries its component size; singletons carry 1
    val sizes = clusters.groupBy(_._1).map { case (cid, ms) => cid -> ms.length.toLong }
    minima.foreach(m => assert(kept(m) == sizes(m), s"rep $m size ${kept(m)} != ${sizes(m)}"))
    (allVecs -- clustered).foreach(v => assert(kept(v) == 1L))
    // the sizes the keep-list reports partition the corpus exactly
    assert(kept.values.sum == allVecs.size.toLong, "cluster sizes must partition the corpus")
    assert(clusters.nonEmpty && (allVecs -- clustered).nonEmpty, "fixture must exercise both branches")
  }

  test("s15t/s16t kNN-graph takedown: ledger walk == from-scratch survivor rebuild; purge retires the mask") {
    import org.apache.spark.sql.functions._
    // (1) the ledger-walk edge rebuild equals a from-scratch kNN pass over
    // the surviving corpus — the exactness claim behind both rungs (first
    // k surviving stored entries ARE the survivor top-k; overflow docs
    // recompute). From-scratch comparator built independently here.
    val surv = graft.sources.Tables
      .embeddings(spark, sf0001)
      .where(pmod(col("vec_id"), lit(10)) =!= 3)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var (n, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { n += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      n / (math.sqrt(na) * math.sqrt(nb))
    }
    val expectEdges = surv.flatMap { case (id, emb) =>
      surv.filter(_._1 != id)
        .map { case (nid, nemb) => (nid, cos(emb, nemb)) }
        .sortBy { case (nid, c) => (-c, nid) }
        .take(3)
        .map { case (nid, _) => (id, nid) }
    }.toSet
    val gotEdges = Similarity.survivorKnnEdges(spark, sf0001, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(gotEdges == expectEdges,
      s"missing ${(expectEdges -- gotEdges).take(5)}, extra ${(gotEdges -- expectEdges).take(5)}")
    // (2) takedown semantics: tombstoned ids on neither side of any pair
    // nor in any cluster; at least one pair NOT present in plain s15
    // (vacated-slot pairs — the reason a plain mask is not enough)
    val pairs = Similarity.mutualKnnPairsTombstoned(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty)
    // the rung now serves from the persisted knntd layout — pin that the
    // parquet artifact equals the live walk's mutualization exactly
    val liveMutual = gotEdges.filter { case (a, b) => a < b && gotEdges.contains((b, a)) }
    assert(pairs.toSet == liveMutual,
      s"persisted takedown pairs diverge from live walk: ${(pairs.toSet -- liveMutual).take(5)} vs ${(liveMutual -- pairs.toSet).take(5)}")
    assert(pairs.forall { case (a, b) => a % 10 != 3 && b % 10 != 3 })
    val plain = Similarity.mutualKnnPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((pairs.toSet -- plain).nonEmpty,
      "expected at least one vacated-slot mutual pair absent from the full-corpus graph")
    val clusters = Similarity.mutualKnnClustersTombstoned(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.forall { case (cid, v) => v % 10 != 3 && cid % 10 != 3 })
    assert(clusters.map(_._2).toSet == pairs.flatMap(p => Seq(p._1, p._2)).toSet,
      "cluster membership must be exactly the vectors touched by a survivor mutual pair")
    // (3) purge: the physically rewritten full-depth ledger answers the
    // masked rung's question with NO mask — pairs from the purged layout
    // equal the takedown rung's output, and the ledger keeps full depth
    val out = java.nio.file.Files.createTempDirectory("knn_purge").toString
    Similarity.purgeKnnGraph(spark, sf0001, out)
    val purged = spark.read.parquet(s"$out/edges.parquet")
    val purgedPairs = {
      val e = purged.where(col("rnk") <= 3).select(col("vec_id").as("a"), col("nbr_id").as("b"))
      val rev = e.select(col("b").as("a"), col("a").as("b"))
      e.join(rev, Seq("a", "b")).where(col("a") < col("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(purgedPairs == pairs.toSet, "purged-layout pairs must equal the masked rung's output")
    assert(purged.where(pmod(col("vec_id"), lit(10)) === 3 || pmod(col("nbr_id"), lit(10)) === 3).count() == 0,
      "purged ledger must contain no tombstoned endpoint")
    val depths = purged.groupBy("vec_id").count().select(max("count")).head().getLong(0)
    assert(depths == Similarity.KnnGraphLedgerDepth,
      s"purged ledger must keep full depth ${Similarity.KnnGraphLedgerDepth}, got $depths")
  }

  test("takedown OVERFLOW corner: a survivor losing 6 of its top-8 recomputes exactly once — no duplicate edges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // synthetic corpus engineered so vec 0's top-8 holds SIX tombstoned
    // vectors (ids ≡ 3 mod 10) and only two survivors — below k=3, the
    // targeted-recompute branch. Before the round-18 review fix, vec 0's
    // two surviving ledger rows ALSO rode along beside the recompute's
    // full top-3, duplicating edges that then multiplied through the
    // mutual join.
    val rnd  = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    def near(s: Float) = base.map(x => x + s * rnd.nextGaussian().toFloat)
    def far()          = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rows =
      Seq((0L, base, 0)) ++                                  // the query survivor
        Seq(3L, 13L, 23L, 33L, 43L, 53L).zipWithIndex.map { // six tombstoned near-twins
          case (id, i) => (id, near(0.01f * (i + 1)), 0)
        } ++
        Seq((1L, near(0.30f), 0), (2L, near(0.35f), 0)) ++  // two surviving near rows
        (100L to 115L).map(id => (id, far(), 0))            // surviving background
    val dir = java.nio.file.Files.createTempDirectory("knn_overflow").toString
    rows.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val edges = Similarity.survivorKnnEdges(spark, dir, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the corner actually fired: vec 0 has < 3 survivors in its stored top-8
    val layout = Similarity.knnGraphLayoutCache(spark, dir, 3)
    val storedSurvivors = spark.read.parquet(s"$layout/edges.parquet")
      .where(col("vec_id") === 0L && pmod(col("nbr_id"), lit(10)) =!= 3)
      .count()
    assert(storedSurvivors < 3, s"fixture failed to trigger overflow (stored survivors=$storedSurvivors)")
    // no duplicate (vec_id, nbr_id) edge anywhere
    val dup = edges.groupBy(e => (e._1, e._3)).filter(_._2.size > 1).keys.toSeq
    assert(dup.isEmpty, s"duplicate survivor edges: $dup")
    // and every survivor (corpus big enough) has exactly k edges at distinct ranks
    val byVec = edges.groupBy(_._1)
    byVec.foreach { case (v, es) =>
      assert(es.length == 3, s"vec $v has ${es.length} edges")
      assert(es.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L), s"vec $v ranks ${es.map(_._2).toSeq}")
    }
    // vec 0's rebuilt top-3 equals brute force over survivors
    val surv = rows.filter(_._1 % 10 != 3)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val n  = a.indices.map(i => a(i).toDouble * b(i)).sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      n / (na * nb)
    }
    val expect0 = surv.filter(_._1 != 0L)
      .map { case (id, emb, _) => (id, cos(base, emb)) }
      .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
    val got0 = byVec(0L).sortBy(_._2).map(_._3).toSeq
    assert(got0 == expect0, s"vec 0 rebuilt top-3 $got0 != brute $expect0")
  }

  test("s14 knn join at default clusters: bounded output, no self-pairs, useful recall") {
    val expected = knnAllPairsScala(sf0001, 3)
    val got = Similarity
      .knnJoinIvf(spark, sf0001)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    // every vector appears (clusters hold >= 4 members on this corpus or
    // the assertion below would legitimately flag the layout as degenerate)
    got.foreach { case (id, nbrs) =>
      assert(nbrs.length <= 3 && !nbrs.contains(id))
    }
    // aggregate recall@3 over the corpus: cluster-bounded candidates must
    // still recover most true neighbors (boundary losses only)
    val hits = got.toSeq.map { case (id, nbrs) =>
      (expected(id).toSet & nbrs.toSet).size
    }.sum
    val total = 3 * expected.size
    assert(hits * 10 >= total * 5, s"kNN-join recall@3 too low: $hits/$total")
  }

  test("oracle export keeps two version dirs per artifact and points at the newest") {
    import java.nio.file.{Files, Path, Paths}
    val sub  = s"retention-spec-${System.nanoTime()}/t.parquet"
    val name = sub.replace('/', '_')
    def versions(): Seq[Path] = {
      val ls = Files.list(Paths.get(Similarity.OracleArtifactDir, ".versions"))
      try ls.toArray.toSeq.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.startsWith(s"$name-"))
      finally ls.close()
    }
    val srcs = (1 to 3).map { i =>
      val d = Files.createTempDirectory("graft_export")
      Files.writeString(d.resolve("part-0.parquet"), s"content $i")
      d
    }
    val link = Paths.get(Similarity.OracleArtifactDir, sub)
    try {
      srcs.foreach(d => Similarity.exportForOracle(d.toString, sub))
      assert(versions().size == 2)
      assert(versions().contains(Files.readSymbolicLink(link)))
      assert(Files.readString(link.resolve("part-0.parquet")) == "content 3")
    } finally {
      Files.deleteIfExists(link)
      Files.deleteIfExists(link.getParent)
      versions().foreach { v =>
        Files.walk(v).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      }
    }
  }
}
