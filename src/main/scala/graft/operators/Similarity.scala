package graft.operators

import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  *   - [[annBruteForce]]: exact top-k by cosine — broadcast the query vector,
  *     score every row (codegen'd [[graft.functions.CosineSimilarity]]),
  *     `TakeOrderedAndProject` does a distributed per-partition top-k +
  *     driver merge; no shuffle of the corpus. This is the correctness
  *     baseline and is oracle-checked (rank/id output only — no float
  *     columns in the result contract).
  *   - [[annLsh]]: the scale path — 16 random-hyperplane sign bits, banded
  *     4×4 (multi-probe by band): only vectors sharing ≥1 band bucket with
  *     the query are scored. At 100 TB the bucket join replaces the full
  *     scan with a key-equality join whose right side is the (tiny) probe
  *     set — same plan shape as a partition-pruned point lookup.
  */
object Similarity {

  /** Deterministic random hyperplanes (seed fixed — signatures must be
    * stable across runs/sessions for bucket joins to make sense).
    */
  private[operators] def planes(nPlanes: Int = 16, dim: Int = 64): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Rank a (vec_id, cos) frame: top-k by cosine desc (vec_id tiebreak) →
    * (rnk, vec_id). `orderBy+limit` plans as `TakeOrderedAndProject`
    * (distributed per-partition top-k, driver merge); the final ranking then
    * runs over the ≤k surviving rows as one `array_sort`+`posexplode` — no
    * partitionless ranking window (which would warn and force a single
    *-partition WindowExec even for k rows).
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .agg(collect_list(struct(col("cos"), col("vec_id"))).as("top"))
      .select(
        posexplode(
          expr(
            "array_sort(top, (a, b) -> case when a.cos > b.cos then -1 when a.cos < b.cos then 1 " +
              "when a.vec_id < b.vec_id then -1 when a.vec_id > b.vec_id then 1 else 0 end)"
          )
        ).as(Seq("pos", "t"))
      )
      .select((col("pos") + 1).cast("long").as("rnk"), col("t.vec_id").as("vec_id"))
      .orderBy("rnk")

  /** S1 — exact brute-force top-k for the query vector `vec_id = 0`.
    * Output: (rnk, vec_id), rank by cosine desc with id tiebreak.
    */
  def annBruteForce(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    VectorFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val q = e.where(col("vec_id") === queryId).select(col("embedding").as("qv"))
    val scored = e
      .where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), expr("cosine_sim(embedding, qv)").as("cos"))
    rankTopK(scored, k)
  }

  /** S3 — grouped batch ANN: top-k neighbors for *each* of the first
    * `nQueries` vectors at once — the production shape (scoring a query
    * batch against the corpus). Aggregation-based top-k
    * ([[graft.functions.TopKByScore]]) instead of a ranking window: partial
    * aggregation keeps ≤k rows per (query, map-partition), so the exchange
    * carries k·partitions rows per query rather than the whole scored
    * cross product — the shape that survives a 100 TB corpus.
    */
  def annBatchTopK(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 3): DataFrame = {
    VectorFunctions.register(spark)
    val e  = Tables.embeddings(spark, dir)
    val qs = e.where(col("vec_id") < nQueries).select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = e
      .crossJoin(broadcast(qs))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), expr("cosine_sim(embedding, qv)").as("cos"))
      // cosine_sim yields null on dimension-mismatched embeddings; the
      // UDAF's tuple encoder has a non-nullable Double, so filter the
      // degraded rows out instead of crashing the aggregation
      .where(col("cos").isNotNull)
    val topk = graft.functions.TopK.topKIds(k)
    scored
      .groupBy("query_id")
      .agg(topk(col("vec_id"), col("cos")).as("ids"))
      .select(col("query_id"), posexplode(col("ids")).as(Seq("pos", "vec_id")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"), col("vec_id"))
      .orderBy("query_id", "rnk")
  }

  /** S4 — IVF-style ANN: coarse quantizer (nClusters centroids, one
    * distributed Lloyd refinement over deterministic seeds) + probe search
    * (query scores only the nProbe nearest clusters' members).
    *
    * Scale shape: assignment is a narrow map (nClusters cosines per row,
    * all inside codegen); only C×dim floats ever reach the driver; a query
    * touches ~nProbe/nClusters of the corpus. The cluster assignment would
    * be computed once at ingest and stored as a partition column in a real
    * deployment — then probe search becomes partition pruning.
    */
  /** The nProbe nearest centroid ids per row via the compiled
    * [[graft.functions.NearestCentroids]] scan — ONE expression holding the
    * centroid matrix as a reference object, so the plan stays inside
    * whole-stage codegen at ANY cluster count (the literal-per-centroid
    * formulation this replaced fell out of codegen past ~128 clusters —
    * knn100 rehearsal finding; √n-scaled deployments need thousands).
    * Ordering: cosine desc, index asc on exact ties.
    */
  private[graft] def nearestCentroidsCol(cs: Array[Seq[Float]], nProbe: Int): Column =
    call_function(
      "nearest_centroids",
      col("embedding"),
      typedLit(cs.map(_.toSeq).toSeq),
      lit(nProbe)
    )

  /** Cluster-assignment column: the nearest centroid's index (cosine
    * argmax, smallest index on exact float ties).
    */
  private[graft] def assignCol(cs: Array[Seq[Float]]): Column =
    element_at(nearestCentroidsCol(cs, 1), 1)

  /** Coarse quantizer: k-means|| seeding (Bahmani et al., VLDB'12) +
    * distributed Lloyd iterated to movement-epsilon. Every stage keeps the
    * driver bound at O(candidates × dim) floats — candidates ≤
    * `1 + rounds × 4·oversample·k`, never corpus rows:
    *
    *  1. first seed = the vector minimizing `xxhash64(vec_id)` (the
    *     deterministic stand-in for a uniform pick — no RNG anywhere: the
    *     only run-to-run variation left is float-sum association in the
    *     distributed cost normalizer and Lloyd means, the same epsilon
    *     every distributed trainer carries);
    *  2. `rounds` cost-proportional sampling passes: each vector joins the
    *     candidate set with probability `min(1, ℓ·cost(x)/Σcost)` where
    *     `cost(x) = 1 − max cos(x, C)` and ℓ = oversample·k, the accept
    *     draw again derived from `xxhash64(vec_id, round)`;
    *  3. candidates are weighted by corpus attendance (one assignment
    *     pass) and reduced to k on the driver: weighted farthest-point
    *     picks the k spread-out heavy candidates, then weighted Lloyd
    *     over the candidate set polishes them — O(|cand|·k·dim), driver;
    *  4. distributed Lloyd (assign + mean per (cluster, dim)) repeats
    *     until the largest centroid movement `1 − cos(old, new)` drops
    *     below `graft.ann.kmeans.epsilon` or `graft.ann.kmeans.maxiters`
    *     passes — each iteration is one narrow-map job, only C×dim floats
    *     ever reach the driver.
    *
    * Replaces the lowest-id-seed + single-Lloyd-round trainer (adequate
    * for index MECHANICS, underpowered on clustered data — r11 verdict
    * watch item): on real clustered corpora the seeds no longer all land
    * in whatever cluster owns the low ids, which is what lifted the
    * low-nprobe recall curve (BASELINE.md ledger).
    */
  /** Every knob that parameterizes the trained quantizer, rendered as a
    * key component for EVERY persisted layout whose artifact embeds
    * [[refinedCentroids]] output — [[graft.GraftConf]]'s discipline:
    * knobs that parameterize a persisted layout fold into its cache key,
    * so two settings can never silently share one artifact. Introduced
    * with the v5 balance knobs, and it closes the same (pre-existing)
    * gap for the older `kmeans.*` knobs, which also shape the stored
    * centroids but rode outside the keys until now.
    */
  private def quantizerKnobKey(spark: SparkSession): String = {
    val mi = graft.GraftConf.int(spark, "ann.kmeans.maxiters", 8)
    val ep = graft.GraftConf.double(spark, "ann.kmeans.epsilon", 1e-4)
    val r  = graft.GraftConf.int(spark, "ann.kmeans.rounds", 3)
    val o  = graft.GraftConf.int(spark, "ann.kmeans.oversample", 2)
    val sc = graft.GraftConf.int(spark, "ann.kmeans.sample", 1 << 20)
    val b  = graft.GraftConf.int(spark, "ann.kmeans.balance", 2)
    val t  = graft.GraftConf.double(spark, "ann.kmeans.balance_tau", 1.25)
    s"km$mi;$ep;$r;$o;$sc;$b;$t"
  }

  /** Trained-quantizer centroids memoized per (LISTING DIGEST, layout path)
    * for the JVM's lifetime — the serving state an ANN index holds
    * resident. The path is content-keyed ([[graft.sources.LayoutCache]]),
    * so one path names one immutable training output; a regenerated corpus
    * or retuned knob mints a NEW path and misses the memo. The digest in
    * the key (ADVICE r21) closes the one path-reuse hole: a layout swept by
    * retention and REBUILT under the identical content key reuses the same
    * directory, and distributed float aggregation in the trainer can
    * diverge at ulp level between builds — a bare-path memo would then
    * serve centroids that disagree with the rebuilt `vectors.parquet`
    * assignments. The digest walk costs ~1.4 ms against the ~150 ms
    * collect job the memo removes; the query's real work (assignment,
    * probe scan, ranking) still computes from parquet every call.
    */
  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Seq[Float]]]

  private def loadCentroids(spark: SparkSession, path: String): Array[Seq[Float]] =
    centroidCache.getOrElseUpdate(
      s"${Tables.listingDigest(spark, path)}:$path",
      Tables.cachedRead(spark, path).orderBy("cl").collect().map(_.getSeq[Float](1))
    )

  /** PQ codebooks memoized per (listing digest, layout path) — same
    * contract as [[centroidCache]] (immutable content-keyed path, small
    * driver-side artifact, digest guard against same-key rebuilds).
    */
  private val codebookCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Seq[Float]]]]

  private def loadCodebooks(spark: SparkSession, path: String): Array[Array[Seq[Float]]] =
    codebookCache.getOrElseUpdate(s"${Tables.listingDigest(spark, path)}:$path", {
      val cbRows = Tables.cachedRead(spark, path).collect()
      val m   = cbRows.map(_.getInt(0)).max + 1
      val arr = Array.ofDim[Seq[Float]](m, cbRows.map(_.getInt(1)).max + 1)
      cbRows.foreach(r => arr(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2))
      arr
    })

  private[graft] def refinedCentroids(e: DataFrame, nClusters: Int): Array[Seq[Float]] = {
    val spark     = e.sparkSession
    val maxIters  = graft.GraftConf.int(spark, "ann.kmeans.maxiters", 8)
    val eps       = graft.GraftConf.double(spark, "ann.kmeans.epsilon", 1e-4)
    val sampleCap = graft.GraftConf.int(spark, "ann.kmeans.sample", 1 << 20)
    require(maxIters >= 1, s"graft.ann.kmeans.maxiters=$maxIters must be >= 1")
    require(eps > 0, s"graft.ann.kmeans.epsilon=$eps must be > 0")
    require(sampleCap >= 1, s"graft.ann.kmeans.sample=$sampleCap must be >= 1")
    // TRAIN on a hash-capped slice, ASSIGN everything: at 100 TB the
    // quantizer cannot Lloyd the full corpus maxIters times, and doesn't
    // need to — C centroids are estimated as well from ~1M vectors as from
    // 10^11 (standard IVF practice). The slice is a deterministic
    // xxhash64 thinning (no RNG, reproducible); below the cap it is the
    // whole corpus, so small-SF behavior is unchanged. Assignment of every
    // vector against the trained centroids stays where it always was: in
    // the callers' full-corpus scan.
    // ONE count action serves double duty: the non-empty guard (an empty
    // embeddings input fails HERE with a clear message, not as an opaque
    // NoSuchElementException inside the Lloyd loop) and the thinning
    // decision below the cap — there is no separate "extra" scan.
    val n = e.count()
    require(n > 0, "quantizer training requires a non-empty embeddings input")
    val train = trainingSlice(e, sampleCap, n)
    val cs    = lloydToEpsilon(train, kmeansParSeeds(train, nClusters), maxIters, eps)
    balancedCentroids(train, cs, maxIters, eps)
  }

  /** Distributed Lloyd iterated until the largest centroid movement
    * `1 − cos(old, new)` drops below epsilon or maxIters passes.
    */
  private def lloydToEpsilon(
      train: DataFrame,
      seeds: Array[Seq[Float]],
      maxIters: Int,
      eps: Double
  ): Array[Seq[Float]] = {
    var cs    = seeds
    var iter  = 0
    var moved = Double.MaxValue
    while (iter < maxIters && moved >= eps) {
      val next = lloydStep(train, cs)
      moved = cs.zip(next).map { case (a, b) => 1.0 - cosLocal(a, b) }.max
      cs = next
      iter += 1
    }
    cs
  }

  /** BALANCE pass over a converged quantizer (scheme v5): split each
    * cluster whose occupancy exceeds `graft.ann.kmeans.balance_tau` ×
    * mean, retiring an equal number of the SMALLEST clusters so k is
    * unchanged, then re-Lloyd to epsilon; repeat up to
    * `graft.ann.kmeans.balance` rounds or until no cluster overflows.
    *
    * Why: the r18/r19 crossover tables measured effective pruning stuck
    * at ~nominal/2 at EVERY operating point — probe selection favors the
    * largest clusters (queries are corpus-distributed, so probes land
    * where the data is dense), and a probed cluster at 2× mean occupancy
    * scans 2× the rows nominal pruning promises. Capping occupancy near
    * the mean makes probed mass ≈ np/nc of the corpus, i.e. effective ≈
    * nominal — recovered for every IVF query rather than re-paid per
    * probe (VERDICT r19 item 1).
    *
    * The split seed is the oversized cluster's FARTHEST member (lowest
    * cosine to its own centroid, ties to the smallest vec_id — no RNG,
    * the [[kmeansParSeeds]] determinism discipline); the donor slot takes
    * that member as its new centroid and the next Lloyd round separates
    * the pair. A degenerate oversized cluster (all members identical)
    * re-proposes its own centroid, which the changed-nothing check turns
    * into termination. Costs per round, all on the ≤`sample`-row training
    * slice: one sizing aggregation, one windowed farthest-member pass,
    * one epsilon-bounded Lloyd rerun.
    */
  private def balancedCentroids(
      train: DataFrame,
      seeds: Array[Seq[Float]],
      maxIters: Int,
      eps: Double
  ): Array[Seq[Float]] = {
    val spark  = train.sparkSession
    val rounds = graft.GraftConf.int(spark, "ann.kmeans.balance", 2)
    val tau    = graft.GraftConf.double(spark, "ann.kmeans.balance_tau", 1.25)
    require(rounds >= 0, s"graft.ann.kmeans.balance=$rounds must be >= 0")
    require(tau >= 1.0, s"graft.ann.kmeans.balance_tau=$tau must be >= 1.0")
    var cs    = seeds
    var round = 0
    var done  = rounds == 0 || cs.length < 2
    while (!done && round < rounds) {
      val sizes = Array.fill(cs.length)(0L)
      train
        .withColumn("cl", assignCol(cs))
        .groupBy("cl")
        .agg(count(lit(1)).as("n"))
        .collect()
        .foreach(r => sizes(r.getInt(0)) = r.getLong(1))
      val mean = sizes.sum.toDouble / cs.length
      val over = sizes.indices.filter(i => sizes(i) > tau * mean).sortBy(i => (-sizes(i), i))
      // donors: the smallest clusters, strictly below mean (retiring a
      // near-mean cluster would just create the next round's hole)
      val donors = sizes.indices
        .filterNot(over.contains)
        .filter(i => sizes(i) < mean)
        .sortBy(i => (sizes(i), i))
      val splits = over.zip(donors)
      if (splits.isEmpty) done = true
      else {
        val overSet  = splits.map(_._1)
        val centsLit = typedLit(cs.map(_.toSeq).toSeq)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cl")
          .orderBy(col("s").asc, col("vec_id").asc)
        val far = train
          .withColumn("cl", assignCol(cs))
          .where(col("cl").isin(overSet: _*))
          .withColumn(
            "s",
            call_function("cosine_sim", col("embedding"), element_at(centsLit, col("cl") + 1))
          )
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select("cl", "embedding")
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Float](1))
          .toMap
        val next    = cs.clone()
        var changed = false
        splits.foreach { case (o, d) =>
          far.get(o).foreach { v =>
            if (v != next(d) && v != cs(o)) { next(d) = v; changed = true }
          }
        }
        if (!changed) done = true
        else {
          cs = lloydToEpsilon(train, next, maxIters, eps)
          round += 1
        }
      }
    }
    cs
  }

  /** Deterministic ~`cap`-row training slice: keep rows whose
    * `xxhash64(vec_id) mod 2^20` falls under the thinning ratio. The
    * caller supplies the corpus count (it already needed one for the
    * non-empty guard — no second scan here); the cap is approximate
    * (hash-uniform expectation), which is all quantizer training needs.
    */
  private def trainingSlice(e: DataFrame, cap: Int, n: Long): DataFrame = {
    if (n <= cap) e
    else {
      val num  = 1L << 20
      val keep = math.max(1L, (cap.toDouble / n * num).toLong)
      e.where(pmod(xxhash64(col("vec_id")), lit(num)) < keep)
    }
  }

  /** One distributed Lloyd step: assign to the nearest centroid, mean per
    * (cluster, dim). An empty cluster keeps its previous centroid.
    */
  private[graft] def lloydStep(e: DataFrame, cs: Array[Seq[Float]]): Array[Seq[Float]] = {
    val dims = cs.head.length
    val rows = e
      .withColumn("cl", assignCol(cs))
      .select(col("cl"), posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy("cl", "d")
      .agg(avg("v").as("m"))
      .collect()
    val byCluster = rows.groupBy(_.getInt(0))
    cs.indices.map { c =>
      byCluster.get(c) match {
        case Some(rs) =>
          val m = new Array[Float](dims)
          rs.foreach(r => m(r.getInt(1)) = r.getDouble(2).toFloat)
          m.toSeq
        case None => cs(c)
      }
    }.toArray
  }

  /** k-means|| candidate harvest + driver-side weighted reduction to k.
    * A corpus with ≤ k distinct vectors degrades to one centroid per
    * vector (the planted twin's tiny-fixture contract).
    */
  private[graft] def kmeansParSeeds(e: DataFrame, k: Int): Array[Seq[Float]] = {
    val spark      = e.sparkSession
    val rounds     = graft.GraftConf.int(spark, "ann.kmeans.rounds", 3)
    val oversample = graft.GraftConf.int(spark, "ann.kmeans.oversample", 2)
    require(rounds >= 1, s"graft.ann.kmeans.rounds=$rounds must be >= 1")
    require(oversample >= 1, s"graft.ann.kmeans.oversample=$oversample must be >= 1")
    val l          = math.max(1, oversample * k)
    VectorFunctions.register(spark)
    val first = e
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(1)
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0))
    val cand = scala.collection.mutable.ArrayBuffer[Seq[Float]](first.toIndexedSeq: _*)
    var r    = 1
    while (r <= rounds && cand.nonEmpty) {
      val candLit = typedLit(cand.map(_.toSeq).toSeq)
      val cost = greatest(
        lit(0.0),
        lit(1.0) - array_max(transform(candLit, c => call_function("cosine_sim", col("embedding"), c)))
      )
      val withCost = e.select(col("vec_id"), col("embedding"), cost.as("cost"))
      val total    = withCost.agg(sum("cost")).head().getDouble(0)
      if (total <= 0) r = rounds // every vector coincides with a candidate
      else {
        // deterministic uniform draw in [0,1) from (vec_id, round)
        val u = pmod(xxhash64(col("vec_id"), lit(r)), lit(1L << 40)).cast("double") / lit((1L << 40).toDouble)
        val picked = withCost
          .where(u < least(lit(1.0), lit(l.toDouble) * col("cost") / lit(total)))
          .orderBy("vec_id")
          .limit(4 * l) // hard driver bound against a degenerate cost surface
          .select("embedding")
          .collect()
          .map(_.getSeq[Float](0))
        cand ++= picked
      }
      r += 1
    }
    val distinctCand = cand.distinct.toArray
    if (distinctCand.length <= k) return distinctCand
    // weight by corpus attendance, then reduce on the driver
    val wRows = e
      .withColumn("cl", assignCol(distinctCand))
      .groupBy("cl")
      .agg(count(lit(1)).as("w"))
      .collect()
    val w = Array.fill(distinctCand.length)(0L)
    wRows.foreach(r0 => w(r0.getInt(0)) = r0.getLong(1))
    weightedReduce(distinctCand, w, k)
  }

  /** Deterministic driver-side reduction of weighted candidates to k:
    * weighted farthest-point seeding (pick the heaviest, then repeatedly
    * the candidate maximizing `weight × (1 − max cos to chosen)`, ties to
    * the smaller index), polished by weighted Lloyd over the candidates.
    */
  private[graft] def weightedReduce(
      cand: Array[Seq[Float]],
      w: Array[Long],
      k: Int
  ): Array[Seq[Float]] = {
    val n      = cand.length
    val chosen = scala.collection.mutable.ArrayBuffer[Int](w.indices.maxBy(i => (w(i), -i)))
    val best   = Array.fill(n)(-1.0) // max cos to any chosen centroid
    while (chosen.size < k) {
      val last = chosen.last
      var i    = 0
      while (i < n) { best(i) = math.max(best(i), cosLocal(cand(i), cand(last))); i += 1 }
      var pick  = -1
      var score = -1.0
      i = 0
      while (i < n) {
        if (!chosen.contains(i)) {
          val s = w(i).toDouble * math.max(0.0, 1.0 - best(i))
          if (s > score) { score = s; pick = i }
        }
        i += 1
      }
      if (pick < 0) return cand.indices.take(k).map(cand).toArray // all identical
      chosen += pick
    }
    var centers = chosen.map(cand).toArray
    // weighted Lloyd over the candidate set (driver, O(|cand|·k·dim))
    for (_ <- 1 to 4) {
      val dims  = centers.head.length
      val sums  = Array.fill(centers.length)(new Array[Double](dims))
      val masses = Array.fill(centers.length)(0L)
      var i = 0
      while (i < n) {
        var bi = 0; var bc = -2.0
        var c  = 0
        while (c < centers.length) {
          val s = cosLocal(cand(i), centers(c))
          if (s > bc) { bc = s; bi = c }
          c += 1
        }
        var d = 0
        while (d < dims) { sums(bi)(d) += cand(i)(d).toDouble * w(i); d += 1 }
        masses(bi) += w(i)
        i += 1
      }
      centers = centers.indices.map { c =>
        if (masses(c) == 0) centers(c)
        else sums(c).map(v => (v / masses(c)).toFloat).toSeq
      }.toArray
    }
    centers
  }

  private def cosLocal(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The nProbe cluster ids nearest the query vector (centroids are local —
    * driver-side coordination over C×dim floats, by design).
    */
  private[graft] def probeIds(qv: Seq[Float], centroids: Array[Seq[Float]], nProbe: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (cosLocal(qv, c), i) }
      .sortBy { case (c, i) => (-c, i) }
      .take(nProbe)
      .map(_._2)
      .toIndexedSeq

  /** Corpus-scaled IVF operating point (VERDICT r18 item 3): `nc ~ √n`
    * bounded to [16, 4096] — the standard IVF sizing that balances the
    * per-query coarse scan (nc centroid scores) against the fine scan
    * (np·n/nc candidate scores); a FIXED nc at 100 TB degenerates to
    * near-full scans (n/nc per cluster grows linearly while pruning stays
    * constant). `np = ceil(nc/4)` (floor 4) holds the probe FRACTION of
    * the registered (16, 4) point, which is what holds the recall floor:
    * the RecallLedger measured np = nc/8 at 0.505 recall@10 vs the
    * registered point's 0.590 on the same corpus — scaling nc must not
    * silently trade recall away, so the fraction stays and the ledger
    * re-grades the auto point next to the fixed rows every run. Effective
    * pruning at 1/4 nominal is barely below the r18-measured ceiling
    * anyway (probe selection favors the LARGEST clusters, so nominal 8×
    * delivered only 4.0× effective); deployments wanting deeper pruning
    * lower `graft.ann.nprobe` explicitly and read the measured recall
    * price off the ledger ladder.
    */
  private[graft] def autoIvfKnobs(n: Long): (Int, Int) = {
    val nc = math.min(4096, math.max(16, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt))
    (nc, math.max(4, (nc + 3) / 4))
  }

  /** Embedding-corpus cardinality memoized PER PATH for the JVM's
    * lifetime. Not fingerprint-keyed on purpose: a content fingerprint
    * would re-list every file under the corpus on EVERY auto-mode query
    * call (doubling the driver-side metadata I/O the layout lookup already
    * pays — at 100 TB that is thousands of file statuses per query), and
    * the count only feeds the nc HEURISTIC: a corpus regenerated under the
    * same path within one JVM would reuse the previous size for knob
    * selection, while every ARTIFACT stays correct regardless because the
    * layouts themselves are content-keyed.
    */
  private val vecCountCache = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def corpusVecCount(spark: SparkSession, dir: String): Long =
    vecCountCache.getOrElseUpdate(dir, Tables.embeddings(spark, dir).count())

  /** Resolved (nClusters, nProbe) from the `graft.ann.nclusters` /
    * `graft.ann.nprobe` session knobs — the IVF recall/cost operating
    * point. Probing more clusters than exist is a config error, not a
    * silent full scan. `graft.ann.nclusters=auto` derives the point from
    * corpus size ([[autoIvfKnobs]]) — the 100 TB default; the REGISTERED
    * rungs stay at the compiled (16, 4) point because the cross-engine
    * DuckDB replay pins that exact operating point in SQL (probe rank
    * `rn <= 4`), and nc is already folded into every IVF layout key so an
    * auto-scaled session can never share an artifact with a fixed-knob
    * one.
    */
  private def resolveIvfKnobs(spark: SparkSession, dir: String, nClusters: Int, nProbe: Int): (Int, Int) = {
    val ncConf = spark.conf.getOption("graft.ann.nclusters").map(_.trim)
    if (nClusters <= 0 && ncConf.exists(_.equalsIgnoreCase("auto"))) {
      val (anc, anp) = autoIvfKnobs(corpusVecCount(spark, dir))
      val np         = if (nProbe > 0) nProbe else graft.GraftConf.int(spark, "ann.nprobe", anp)
      require(np <= anc, s"graft.ann.nprobe=$np cannot exceed auto-scaled nclusters=$anc")
      (anc, np)
    } else {
      val nc = if (nClusters > 0) nClusters else graft.GraftConf.int(spark, "ann.nclusters", 16)
      val np = if (nProbe > 0) nProbe else graft.GraftConf.int(spark, "ann.nprobe", 4)
      require(np <= nc, s"graft.ann.nprobe=$np cannot exceed graft.ann.nclusters=$nc")
      (nc, np)
    }
  }

  def annIvf(
      spark: SparkSession,
      dir: String,
      queryId: Long = 0L,
      k: Int = 10,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1     // -1 = the graft.ann.nprobe session knob (4 unset)
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val e       = Tables.embeddings(spark, dir)
    // the coarse quantizer comes from the persisted layout (one training
    // per corpus version — the same centroids s6/s9 read, which is also
    // what the artifact-conditioned DuckDB replay adjudicates); s4's
    // identity vs s6 is WHERE assignment happens: here it is computed at
    // query time over the raw embeddings scan, s6 reads the pre-assigned
    // cluster-partitioned layout. Retraining live per call (the old
    // shape) paid k-means twice per cold corpus and let an ulp-level
    // training divergence false-FAIL the oracle on a near-tied
    // assignment.
    val refined = loadCentroids(spark, s"${ivfLayoutCache(spark, dir, nc)}/centroids.parquet")
    val qv      = e.where(col("vec_id") === queryId).select("embedding").head().getSeq[Float](0)
    val probes  = probeIds(qv, refined, np)
    rankTopK(
      e.withColumn("cl", assignCol(refined))
        .where(col("cl").isin(probes: _*) && col("vec_id") =!= queryId)
        .select(col("vec_id"), call_function("cosine_sim", col("embedding"), typedLit(qv)).as("cos")),
      k
    )
  }

  /** S6 — IVF probe search as PARTITION PRUNING: the cluster assignment is
    * computed once at "ingest" and persisted as a hive partition column
    * (`cl=<id>/` directories, centroids alongside), so a probe search reads
    * ONLY the probed clusters' directories — `PartitionFilters` in the scan,
    * zero I/O for the other (nClusters − nProbe)/nClusters of a 10¹⁰-vector
    * corpus. This is [[annIvf]]'s docstring promise made physical, the
    * vector analogue of [[graft.operators.CoreQueries.p1PartitionedTimeCount]].
    * Same deterministic quantizer as S4 → same results (SimilaritySpec).
    */
  def annIvfPartitioned(
      spark: SparkSession,
      dir: String,
      queryId: Long = 0L,
      k: Int = 10,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1     // -1 = the graft.ann.nprobe session knob (4 unset)
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val layout    = ivfLayoutCache(spark, dir, nc)
    val centroids = loadCentroids(spark, s"$layout/centroids.parquet")
    val qv     = Tables.embeddings(spark, dir).where(col("vec_id") === queryId).select("embedding").head().getSeq[Float](0)
    val probes = probeIds(qv, centroids, np)
    rankTopK(
      Tables.cachedRead(spark, s"$layout/vectors.parquet")
        .where(col("cl").isin(probes: _*) && col("vec_id") =!= queryId)
        .select(col("vec_id"), call_function("cosine_sim", col("embedding"), typedLit(qv)).as("cos")),
      k
    )
  }

  /** S11 — FILTERED ANN over the IVF layout: top-k among vectors matching a
    * metadata predicate (`label = ?`), the vector-database operation
    * production retrieval actually runs (RAG with a tenant/language/split
    * filter). The composition matters at 100 TB: the predicate lands IN
    * the probed scan — directory-level `PartitionFilters` (cl IN probes)
    * × row-group `PushedFilters` (EqualTo(label)) — so unprobed clusters
    * cost zero I/O and non-matching row groups drop on min/max stats
    * BEFORE any vector is decoded, rather than scoring everything and
    * filtering after (post-filter ANN, the classic recall trap). The
    * standard filtered-search caveat applies and is the knob's job:
    * selective filters thin each probed cluster, so widen
    * `graft.ann.nprobe` with filter selectivity (the spec demonstrates
    * probe-widening recovering the filtered-brute answer). Fully
    * DuckDB-oracled since round 15 by oracle-over-artifact: the exported
    * centroids condition the replay (assignment, probes, filter,
    * re-rank — [[OracleArtifactDir]]); the equivalence spec and plan
    * asserts remain as the engine-side gates.
    */
  def annIvfFiltered(
      spark: SparkSession,
      dir: String,
      queryId: Long = 0L,
      k: Int = 10,
      label: Int = 0,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1     // -1 = the graft.ann.nprobe session knob (4 unset)
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val layout    = ivfLayoutCache(spark, dir, nc)
    val centroids = loadCentroids(spark, s"$layout/centroids.parquet")
    val qv     = Tables.embeddings(spark, dir).where(col("vec_id") === queryId).select("embedding").head().getSeq[Float](0)
    val probes = probeIds(qv, centroids, np)
    rankTopK(
      Tables.cachedRead(spark, s"$layout/vectors.parquet")
        .where(col("cl").isin(probes: _*) && col("label") === label && col("vec_id") =!= queryId)
        .select(col("vec_id"), call_function("cosine_sim", col("embedding"), typedLit(qv)).as("cos")),
      k
    )
  }

  /** Cluster-partitioned embedding layout, built at most once per input dir
    * (`_SUCCESS`-guarded tmpdir cache, like
    * [[graft.operators.Prep.dayPartitionedEventsCache]]): vectors written
    * `partitionBy("cl")`, refined centroids persisted beside them so probe
    * ordering needs no recompute at query time.
    */
  /** Bump whenever the quantizer or layout scheme changes — versioned into
    * the cache key alongside a content fingerprint of the source table
    * (see [[graft.sources.LayoutCache]]), so neither regenerated data nor a
    * changed scheme can silently hit a stale layout. v2 added the stored
    * `q8` int8 column beside each vector (s9's coarse-pass scan target);
    * v3 switched assignment to the compiled [[graft.functions.NearestCentroids]]
    * scan, whose exact-tie rule is smallest-index (the struct-max
    * formulation it replaced kept the largest); v4 replaced the
    * lowest-id-seed single-Lloyd trainer with k-means|| + iterate-to-
    * epsilon ([[refinedCentroids]]) — different centroids, so every stored
    * assignment must rebuild; v5 adds the occupancy-balance pass
    * ([[balancedCentroids]]) — again different centroids, and the oracle
    * replays assignment from the persisted set, so a stale-layout reuse
    * across the trainer change would split engine from oracle.
    */
  private[operators] val IvfSchemeVersion = 5

  /** Per-vector int8 scalar quantization `q[i] = round(127·x[i]/max|x|)` —
    * the per-vector scale cancels inside cosine, so approximate ordering
    * survives. ONE definition shared by the stored layouts ([[sq8LayoutCache]],
    * [[ivfLayoutCache]]): a layout written by one scheme and probed by
    * another would silently degrade recall.
    */
  private[operators] val q8Col: Column = expr(
    "transform(embedding, x -> cast(round(x * 127.0 / " +
      "greatest(cast(1e-30 as float), array_max(transform(embedding, y -> abs(y))))) as tinyint))"
  )

  /** Fixed, host-stable directory the ANN family's TRAINED ARTIFACTS
    * (IVF centroids, PQ codebooks) are exported to on every query run —
    * the oracle-over-artifact mechanism (round 15): the DuckDB oracle
    * cannot recompute k-means training (engine-internal float iteration),
    * but it CAN read the persisted training output and replay everything
    * downstream — assignment, probe selection, coarse scoring, shortlist,
    * re-rank — relationally, which adjudicates the whole query path that
    * can actually be wrong at query time. The path must be a literal in
    * the static oracle SQL, hence a fixed tmpdir location rather than the
    * content-keyed layout dirs; a `_src` marker makes re-export a no-op
    * while the source layout is unchanged, so the per-query cost after
    * the first export is one file read.
    */
  private[graft] val OracleArtifactDir: String =
    s"${sys.props("java.io.tmpdir")}/graft_ann_oracle"

  /** Export = copy into a CONTENT-KEYED version directory once, then
    * atomically repoint a symlink at it. The fixed path the static oracle
    * SQL reads is the symlink, so a concurrent DuckDB `read_parquet`
    * never observes a half-written or deleted directory (the naive
    * delete-then-copy had that window), and re-exporting an
    * already-exported layout is a single readlink. Two processes
    * exporting DIFFERENT corpora still race last-writer-wins on the
    * symlink — overlapping ANN oracle gates across corpora is
    * unsupported (the close gate is strictly sequential per SF) — but
    * the version dirs themselves are immutable, so the loser's data is
    * intact and one re-run repoints.
    *
    * RETENTION: a repoint deletes the `sub`'s version dirs other than the
    * new target and the previous one, so a reader that resolved the old
    * link keeps its data while the directory stays bounded.
    */
  private[graft] def exportForOracle(srcDir: String, sub: String): Unit = synchronized {
    import java.nio.file._
    def rmTree(p: Path): Unit = {
      val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).iterator()
      while (it.hasNext) Files.delete(it.next())
    }
    val src  = Paths.get(srcDir)
    val link = Paths.get(OracleArtifactDir, sub)
    // version key: the source layout path (content-keyed by LayoutCache)
    // PLUS its recursive listing (name, length, mtime) — the path alone
    // left one hole (ADVICE r21): a layout swept by retention and rebuilt
    // under the identical content key reuses the same directory, and a
    // rebuild at a different parallelism can diverge at ulp level, so a
    // path-only version would silently no-op the re-export and leave the
    // oracle reading the PREVIOUS build's centroids while the query reads
    // the new ones. The export path is java.nio-local by construction
    // (the copy below), so the listing walk is too.
    val lister = Files.walk(src).filter(p => Files.isRegularFile(p)).sorted().iterator()
    val lmd    = java.security.MessageDigest.getInstance("MD5")
    lmd.update(srcDir.getBytes("UTF-8"))
    while (lister.hasNext) {
      val p = lister.next()
      lmd.update(
        s"${src.relativize(p)}#${Files.size(p)}#${Files.getLastModifiedTime(p).toMillis}"
          .getBytes("UTF-8")
      )
    }
    val ver     = lmd.digest().map("%02x".format(_)).mkString.take(16)
    val verName = sub.replace('/', '_')
    val verDir  = Paths.get(OracleArtifactDir, ".versions", s"$verName-$ver")
    if (!Files.exists(verDir.resolve("_done"))) {
      val tmp = Paths.get(verDir.toString + ".tmp")
      if (Files.exists(tmp)) rmTree(tmp)
      Files.createDirectories(tmp)
      val files = Files.walk(src).filter(p => Files.isRegularFile(p)).iterator()
      while (files.hasNext) {
        val p   = files.next()
        val t   = tmp.resolve(src.relativize(p).toString)
        if (t.getParent != null) Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
      Files.write(tmp.resolve("_done"), srcDir.getBytes("UTF-8"))
      try Files.move(tmp, verDir, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: FileAlreadyExistsException => () } // concurrent exporter won
    }
    val prev = if (Files.isSymbolicLink(link)) Some(Files.readSymbolicLink(link)) else None
    if (prev.contains(verDir)) return
    if (link.getParent != null) Files.createDirectories(link.getParent)
    // a plain directory from the pre-symlink export scheme
    if (Files.exists(link, LinkOption.NOFOLLOW_LINKS) && prev.isEmpty) rmTree(link)
    val tmpLink = link.resolveSibling(link.getFileName.toString + ".lnk")
    Files.deleteIfExists(tmpLink)
    Files.createSymbolicLink(tmpLink, verDir)
    Files.move(tmpLink, link, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val versionOfSub = ("^" + java.util.regex.Pattern.quote(verName) + "-[0-9a-f]{16}$").r
    val versions = Files.list(verDir.getParent)
    try versions.iterator().forEachRemaining { p =>
      if (versionOfSub.matches(p.getFileName.toString) && p != verDir && !prev.contains(p))
        scala.util.Try(rmTree(p)) // a concurrent exporter may be sweeping too
    }
    finally versions.close()
  }

  private[operators] def ivfLayoutCache(spark: SparkSession, dir: String, nClusters: Int): String = {
    import spark.implicits._
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"ivf-v$IvfSchemeVersion#$nClusters#${quantizerKnobKey(spark)}"
    )
    val layout = graft.sources.LayoutCache.getOrBuild(spark, "graft_ivf", key) { out =>
      val e       = Tables.embeddings(spark, dir)
      val refined = refinedCentroids(e, nClusters)
      // q8 stored here because s9's coarse pass reads it; the s12 segments
      // below have no quantized reader and skip it
      writeIvfSegment(e, refined, out, withQ8 = true)
      writeCentroids(spark, refined, out)
    }
    exportForOracle(s"$layout/centroids.parquet", s"ivf$nClusters/centroids.parquet")
    layout
  }

  /** Shared IVF segment write: assign and cluster-partition one vector
    * slice (ONE definition so a scheme change cannot diverge the s4/s6/s9
    * layout from s12's frozen-centroid segments).
    */
  private def writeIvfSegment(e: DataFrame, cs: Array[Seq[Float]], out: String, withQ8: Boolean): Unit = {
    val assigned = e.withColumn("cl", assignCol(cs))
    (if (withQ8) assigned.withColumn("q8", q8Col) else assigned)
      .write.mode("overwrite").partitionBy("cl").parquet(s"$out/vectors.parquet")
  }

  private def writeCentroids(spark: SparkSession, cs: Array[Seq[Float]], out: String): Unit = {
    import spark.implicits._
    cs.zipWithIndex
      .map { case (c, i) => (i, c) }
      .toSeq
      .toDF("cl", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$out/centroids.parquet")
  }

  /** Bump with any change to the incremental (base + delta) IVF scheme.
    * v2 dropped the unread q8 column from the s12 segments; v3 tracks the
    * main scheme's switch to the compiled assignment scan (tie rule:
    * smallest index); v4 tracks the k-means|| trainer (frozen base
    * centroids change, so base AND delta segments rebuild together); v5
    * tracks the balanced quantizer ([[balancedCentroids]]), same blast
    * radius as v4.
    */
  private[operators] val IvfIncrSchemeVersion = 5

  /** The MAINTAINED coarse quantizer: an IVF layout trained and assigned on
    * the base slice `vec_id < batchStartId` only — the artifact a daily
    * ingest keeps, exactly the n5/n12/v4 maintenance contract applied to
    * the vector index.
    */
  private[graft] def ivfBaseLayoutCache(
      spark: SparkSession, dir: String, nClusters: Int, batchStartId: Long): String = {
    import spark.implicits._
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"ivfbase-v$IvfIncrSchemeVersion#$nClusters#$batchStartId#${quantizerKnobKey(spark)}"
    )
    val layout = graft.sources.LayoutCache.getOrBuild(spark, "graft_ivfbase", key) { out =>
      val e       = Tables.embeddings(spark, dir).where(col("vec_id") < batchStartId)
      val refined = refinedCentroids(e, nClusters)
      writeIvfSegment(e, refined, out, withQ8 = false)
      writeCentroids(spark, refined, out)
    }
    exportForOracle(s"$layout/centroids.parquet", s"ivfbase$nClusters/centroids.parquet")
    layout
  }

  /** The DELTA segment: batch vectors (`vec_id ≥ batchStartId`) assigned to
    * the base layout's FROZEN centroids and written as their own
    * cluster-partitioned segment beside the sealed base — the sealed-
    * segment + delta-segment shape production vector stores use. Per-day
    * cost = one batch scan + assignment against C centroids; the base is
    * never re-read, re-assigned, or re-clustered.
    */
  private[graft] def ivfDeltaLayoutCache(
      spark: SparkSession, dir: String, nClusters: Int, batchStartId: Long): String = {
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"ivfdelta-v$IvfIncrSchemeVersion#$nClusters#$batchStartId#${quantizerKnobKey(spark)}"
    )
    graft.sources.LayoutCache.getOrBuild(spark, "graft_ivfdelta", key) { out =>
      val base = ivfBaseLayoutCache(spark, dir, nClusters, batchStartId)
      val centroids = loadCentroids(spark, s"$base/centroids.parquet")
      writeIvfSegment(
        Tables.embeddings(spark, dir).where(col("vec_id") >= batchStartId),
        centroids, out, withQ8 = false
      )
    }
  }

  /** S12 — INCREMENTAL IVF: probe search over the maintained index after
    * the daily batch (n5's split: vecs ≥ (max+1)/2 arrive as the batch).
    * The coarse quantizer is FROZEN at the base build; the batch lands as
    * a delta segment assigned to those centroids ([[ivfDeltaLayoutCache]]),
    * and a query probes both segments — `cl` is a partition column in
    * each, so the probe's IN-list prunes directories on BOTH sides of the
    * union and unprobed clusters cost zero I/O, sealed or fresh.
    *
    * This completes the maintenance matrix (dedup pairs n5, clusters n12,
    * tokenizer v4, vector index s12): every ingest-time artifact family
    * has a batch-scaled maintenance path. The standard IVF caveat is
    * explicit: centroids drift as the corpus grows, so recall against a
    * drifted distribution degrades until a re-cluster — the re-cluster is
    * the base rebuild, amortized, not a per-batch cost. With ALL clusters
    * probed the maintained index returns exactly s1's brute-force answer
    * (nothing lost or duplicated in maintenance — the completeness
    * invariant SimilaritySpec pins); fully DuckDB-oracled since round 15
    * by oracle-over-artifact over the exported FROZEN base centroids
    * (base + delta are both assigned to them, so one replay covers the
    * union).
    */
  def annIvfIncremental(
      spark: SparkSession,
      dir: String,
      queryId: Long = 0L,
      k: Int = 10,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1     // -1 = the graft.ann.nprobe session knob (4 unset)
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val split = Tables
      .embeddings(spark, dir)
      .agg(expr("coalesce((max(vec_id) + 1) div 2, 0)").as("k"))
      .head().getLong(0)
    val base  = ivfBaseLayoutCache(spark, dir, nc, split)
    val delta = ivfDeltaLayoutCache(spark, dir, nc, split)
    val centroids = loadCentroids(spark, s"$base/centroids.parquet")
    val qv     = Tables.embeddings(spark, dir).where(col("vec_id") === queryId).select("embedding").head().getSeq[Float](0)
    val probes = probeIds(qv, centroids, np)
    val segs = Tables.cachedRead(spark, s"$base/vectors.parquet")
      .select("vec_id", "embedding", "cl")
      .unionByName(
        Tables.cachedRead(spark, s"$delta/vectors.parquet").select("vec_id", "embedding", "cl")
      )
    rankTopK(
      segs
        .where(col("cl").isin(probes: _*) && col("vec_id") =!= queryId)
        .select(col("vec_id"), call_function("cosine_sim", col("embedding"), typedLit(qv)).as("cos")),
      k
    )
  }

  /** Probe search over a sealed base layout + a STREAM-appended delta
    * directory ([[graft.streaming.VectorIndexStream]]'s segments,
    * `batch_id=<id>/cl=<c>/`) — [[annIvfIncremental]]'s query side with the
    * single batch delta replaced by the union over every streamed segment.
    * `cl` is a partition column on both sides, so the probe IN-list prunes
    * directories within each `batch_id=` segment as well as on the base.
    */
  private[graft] def probeSearchStreamed(
      spark: SparkSession,
      baseLayout: String,
      deltaDir: String,
      qv: Seq[Float],
      queryId: Long,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    VectorFunctions.register(spark)
    val centroids = loadCentroids(spark, s"$baseLayout/centroids.parquet")
    val probes = probeIds(qv, centroids, nProbe)
    val segs = Tables.cachedRead(spark, s"$baseLayout/vectors.parquet")
      .select("vec_id", "embedding", "cl")
      .unionByName(Tables.cachedRead(spark, deltaDir).select("vec_id", "embedding", "cl"))
    rankTopK(
      segs
        .where(col("cl").isin(probes: _*) && col("vec_id") =!= queryId)
        .select(col("vec_id"), call_function("cosine_sim", col("embedding"), typedLit(qv)).as("cos")),
      k
    )
  }

  /** COMPACT the maintained vector index's generations (sealed base +
    * delta segments) into ONE base-shaped layout: vectors re-clustered
    * under `cl=` partitions, the FROZEN centroids carried over unchanged.
    * Compaction is a physical fold, never a retrain — every stored
    * assignment is already against these centroids, so retraining here
    * would silently shift membership and break the sealed-segment
    * exactness argument (s12's contract). After the fold, probe cost
    * returns to one partition-pruned scan instead of base + N delta
    * reads — the vector-index instance of t16's LSM generation handoff,
    * with the stream appending new deltas beside the new generation.
    */
  private[graft] def compactVectorIndex(
      spark: SparkSession,
      baseLayout: String,
      deltaVectorsDir: String,
      out: String
  ): Unit = {
    Tables.cachedRead(spark, s"$baseLayout/vectors.parquet")
      .select("vec_id", "embedding", "cl")
      .unionByName(Tables.cachedRead(spark, deltaVectorsDir).select("vec_id", "embedding", "cl"))
      .write.mode("overwrite").partitionBy("cl").parquet(s"$out/vectors.parquet")
    Tables.cachedRead(spark, s"$baseLayout/centroids.parquet")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$out/centroids.parquet")
  }

  /** Probe search over a SINGLE base-shaped layout (a compacted
    * generation, or any base with no delta yet) — the one-segment tail
    * [[probeSearchStreamed]] generalizes.
    */
  private[graft] def probeSearchLayout(
      spark: SparkSession,
      layout: String,
      qv: Seq[Float],
      queryId: Long,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    VectorFunctions.register(spark)
    val centroids = loadCentroids(spark, s"$layout/centroids.parquet")
    val probes = probeIds(qv, centroids, nProbe)
    rankTopK(
      Tables.cachedRead(spark, s"$layout/vectors.parquet")
        .where(col("cl").isin(probes: _*) && col("vec_id") =!= queryId)
        .select(col("vec_id"), call_function("cosine_sim", col("embedding"), typedLit(qv)).as("cos")),
      k
    )
  }

  /** Bump with any change to the compacted-generation scheme. */
  private[operators] val IvfCompactSchemeVersion = 1

  /** Corpus-level COMPACTED generation — the s12 base+delta pair folded
    * by [[compactVectorIndex]] under its own content-fingerprinted key,
    * then probed like any base layout. Ledger/spec surface, not a
    * registered query (the registered compacted rung is the planted
    * s20p): this twin grades the generation handoff's RECALL on the real
    * corpus across probe widths, which the planted oracle cannot —
    * compaction is a physical fold against frozen centroids, so its
    * answer must be bit-identical to the segmented pair's at every
    * operating point (SimilaritySpec pins exactly that).
    */
  private[graft] def annIvfCompactedCorpus(
      spark: SparkSession,
      dir: String,
      queryId: Long,
      k: Int = 10,
      nClusters: Int = -1,
      nProbe: Int = -1
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val split = Tables
      .embeddings(spark, dir)
      .agg(expr("coalesce((max(vec_id) + 1) div 2, 0)").as("k"))
      .head().getLong(0)
    val base  = ivfBaseLayoutCache(spark, dir, nc, split)
    val delta = ivfDeltaLayoutCache(spark, dir, nc, split)
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"ivfcompactc-v$IvfCompactSchemeVersion-base$IvfSchemeVersion#$nc#$split#${quantizerKnobKey(spark)}"
    )
    val layout = graft.sources.LayoutCache.getOrBuild(spark, "graft_ivfcompactc", key) { out =>
      compactVectorIndex(spark, base, s"$delta/vectors.parquet", out)
    }
    val qv = Tables.embeddings(spark, dir).where(col("vec_id") === queryId).select("embedding").head().getSeq[Float](0)
    probeSearchLayout(spark, layout, qv, queryId, k, np)
  }

  /** Corpus-level TOMBSTONED generation — the base layout probed under a
    * takedown ledger masking `vec_id % 10 == 3` (t17's deletion rule on
    * the vector side). Ledger/spec surface, not a registered query (the
    * registered tombstoned rung is the planted s21p): this twin grades
    * masked-probe RECALL against brute force over the SURVIVORS across
    * probe widths, and lets the spec assert the mask never leaks a
    * deleted id at any operating point.
    */
  private[graft] def annIvfTombstonedCorpus(
      spark: SparkSession,
      dir: String,
      queryId: Long,
      k: Int = 10,
      nClusters: Int = -1,
      nProbe: Int = -1
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val layout   = ivfLayoutCache(spark, dir, nc)
    val qv = Tables.embeddings(spark, dir).where(col("vec_id") === queryId).select("embedding").head().getSeq[Float](0)
    val ledger = Tables.embeddings(spark, dir).where(col("vec_id") % 10 === 3).select("vec_id")
    probeSearchLayoutTombstoned(spark, layout, ledger, qv, queryId, k, np)
  }

  /** s20p — the COMPACTED generation through the planted oracle: s12p's
    * base + planted-delta pair folded by [[compactVectorIndex]] under its
    * own content-fingerprinted key, then probed like any base layout.
    * This puts the generation handoff itself on the correctness board:
    * the compacted artifact must answer the planted query exactly as the
    * segmented pair does (both share the brute-force top-5 oracle over
    * corpus ∪ fixture).
    */
  def annIvfCompactedPlanted(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1     // -1 = the graft.ann.nprobe session knob (4 unset)
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val base     = ivfLayoutCache(spark, dir, nc)
    val delta    = ivfPlantedDeltaLayoutCache(spark, dir, nc)
    // key carries BOTH inputs' provenance: the corpus fingerprint, the base
    // scheme version, and the fixture's own content key — a fixture edit
    // rebuilds the delta AND this fold (a stale compacted generation
    // silently serving old fixture vectors is exactly the failure the
    // cache-key discipline exists to prevent)
    val fxKey = graft.sources.LayoutCache.contentKey(spark, annPlantFixture(spark), "fx")
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"ivfcompact-v$IvfCompactSchemeVersion-base$IvfSchemeVersion#$nc#$fxKey#${quantizerKnobKey(spark)}"
    )
    val layout = graft.sources.LayoutCache.getOrBuild(spark, "graft_ivfcompact", key) { out =>
      compactVectorIndex(spark, base, s"$delta/vectors.parquet", out)
    }
    val qv = Tables.cachedRead(spark, annPlantFixture(spark))
      .where(col("vec_id") === PlantedQueryId)
      .select("embedding")
      .head()
      .getSeq[Float](0)
    probeSearchLayout(spark, layout, qv, PlantedQueryId, k, np)
  }

  /** The planted neighbor [[annIvfTombstonedPlanted]] deletes — the BEST
    * match (jitter 0.01, rank 1 in every s*p twin): if the mask leaks
    * anywhere in the probe path, the deleted vector reclaims rank 1 and
    * the driver hash breaks.
    */
  private[graft] val TombstonedPlantedId = 2000001L

  /** S21P — ANN search WITH DELETION on the correctness board: the t17
    * takedown story on the vector side, as a registered rung. The best
    * planted neighbor is tombstoned and the probe masks it via
    * [[probeSearchLayoutTombstoned]]'s broadcast anti join over the SAME
    * planted layout s6p reads (no rebuilt index — erasure must work on
    * sealed segments). k is 4, not 5, deliberately: the four survivors
    * are all planted (probe-independent — they sit in the query's own
    * cluster), so the DuckDB oracle can brute-force the union minus the
    * deleted id with no quantizer state in the answer; at k=5 the fifth
    * row would be a background vector whose presence depends on which
    * clusters were probed. ANN deletion is simpler than BM25's (t17): no
    * corpus statistic to correct — the mask alone is the whole semantics,
    * which is why one rung suffices.
    */
  def annIvfTombstonedPlanted(
      spark: SparkSession,
      dir: String,
      k: Int = 4,
      nClusters: Int = -1,
      nProbe: Int = -1
  ): DataFrame = {
    import spark.implicits._
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val layout   = ivfPlantedLayoutCache(spark, dir, nc)
    val qv = Tables.cachedRead(spark, annPlantFixture(spark))
      .where(col("vec_id") === PlantedQueryId)
      .select("embedding")
      .head()
      .getSeq[Float](0)
    val ledger = Seq(TombstonedPlantedId).toDF("vec_id")
    probeSearchLayoutTombstoned(spark, layout, ledger, qv, PlantedQueryId, k, np)
  }

  /** Tombstoned probe search — the vector half of t17's deletion
    * lifecycle: a `(vec_id)` takedown ledger masks deleted vectors out of
    * the probed scan by broadcast anti join (the ledger is takedown-sized;
    * the corpus-side stream never shuffles for it). Top-k then ranks over
    * survivors only — identical to an index rebuilt without them, because
    * ANN state is per-row (no corpus statistics to correct, simpler than
    * BM25's negation row).
    */
  private[graft] def probeSearchLayoutTombstoned(
      spark: SparkSession,
      layout: String,
      ledger: DataFrame,
      qv: Seq[Float],
      queryId: Long,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    VectorFunctions.register(spark)
    val centroids = loadCentroids(spark, s"$layout/centroids.parquet")
    val probes = probeIds(qv, centroids, nProbe)
    rankTopK(
      Tables.cachedRead(spark, s"$layout/vectors.parquet")
        .where(col("cl").isin(probes: _*) && col("vec_id") =!= queryId)
        .join(broadcast(ledger.select("vec_id")), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), call_function("cosine_sim", col("embedding"), typedLit(qv)).as("cos")),
      k
    )
  }

  /** The PURGING generation fold: [[compactVectorIndex]] that also drops
    * the ledger's vectors physically — after it runs, probes need no mask
    * and the ledger retires. Centroids stay FROZEN even though their
    * training set shrank: assignments of the survivors are already against
    * them and remain valid; re-training belongs to a scheduled re-index,
    * never to erasure (which must not move other vectors between
    * clusters).
    */
  private[graft] def compactVectorIndexPurged(
      spark: SparkSession,
      baseLayout: String,
      deltaVectorsDir: String,
      ledger: DataFrame,
      out: String
  ): Unit = {
    Tables.cachedRead(spark, s"$baseLayout/vectors.parquet")
      .select("vec_id", "embedding", "cl")
      .unionByName(Tables.cachedRead(spark, deltaVectorsDir).select("vec_id", "embedding", "cl"))
      .join(broadcast(ledger.select("vec_id")), Seq("vec_id"), "left_anti")
      .write.mode("overwrite").partitionBy("cl").parquet(s"$out/vectors.parquet")
    Tables.cachedRead(spark, s"$baseLayout/centroids.parquet")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$out/centroids.parquet")
  }

  /** Bump with any change to the stored scalar-quantized layout. */
  private[operators] val Sq8SchemeVersion = 1

  /** Persisted `(vec_id, q8)` scalar-quantization layout for [[annQuantized]]
    * — the int8 copy written ONCE at ingest (content-fingerprinted like
    * every layout cache), so the coarse pass physically reads 1 byte per
    * component instead of recomputing int8 from the 4-byte floats it was
    * supposed to avoid scanning. This is what makes s8's "4× less scan
    * bandwidth" a property of the plan rather than of the docstring;
    * PlanShapeSpec asserts the coarse scan's ReadSchema carries only
    * (vec_id, q8).
    */
  private[operators] def sq8LayoutCache(spark: SparkSession, dir: String): String = {
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"sq8-v$Sq8SchemeVersion"
    )
    graft.sources.LayoutCache.getOrBuild(spark, "graft_sq8", key) { out =>
      Tables
        .embeddings(spark, dir)
        .select(col("vec_id"), q8Col.as("q8"))
        .write
        .mode("overwrite")
        .parquet(s"$out/quant.parquet")
    }
  }

  /** S9 — the composed production ANN stack: IVF partition pruning (s6's
    * persisted cluster layout — only probed `cl=` directories are read) ×
    * stored int8 scalar quantization for the coarse pass (the layout's
    * `q8` column, written at ingest by [[ivfLayoutCache]]) × exact float
    * re-rank of the shortlist. The coarse pass reads ONLY (vec_id, q8)
    * from the probed partitions — 1 byte per component off disk instead of
    * 4 — and the float embeddings are then fetched for just `shortlist`
    * rows by a broadcast probe against the same pruned partitions
    * (per-cluster row groups + vec_id min/max stats bound that second read
    * to the shortlist's row groups). PlanShapeSpec pins both scans'
    * ReadSchema and the PartitionFilters. Each ingredient is already
    * proven in isolation (s6 ≡ s4; s8 ≡ s1); the spec pins the
    * composition ≡ s6 — quantization costs nothing on top of probe search
    * at this corpus's margins. Like s4/s6, output depends on the
    * quantizer's cluster assignment, which the round-15
    * oracle-over-artifact replay conditions on: the exported centroids
    * adjudicate assignment/probes, the q8 codes replay from their exact
    * formula (integer codes, so float and double products coincide), and
    * shortlist + re-rank replay relationally — fully DuckDB-oracled.
    */
  def annIvfQuantized(
      spark: SparkSession,
      dir: String,
      queryId: Long = 0L,
      k: Int = 10,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1,    // -1 = the graft.ann.nprobe session knob (4 unset)
      shortlist: Int = QuantShortlist
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np)  = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val layout    = ivfLayoutCache(spark, dir, nc)
    val centroids = loadCentroids(spark, s"$layout/centroids.parquet")
    val qv     = Tables.embeddings(spark, dir).where(col("vec_id") === queryId).select("embedding").head().getSeq[Float](0)
    val probes = probeIds(qv, centroids, np)
    // the query's own stored signature — quantized by the SAME scheme that
    // wrote the layout, so coarse scores are self-consistent
    val qv8 = Tables.cachedRead(spark, s"$layout/vectors.parquet")
      .where(col("vec_id") === queryId)
      .select("q8")
      .head()
      .getSeq[Byte](0)
      .map(_.toFloat)
    val short = Tables.cachedRead(spark, s"$layout/vectors.parquet")
      .where(col("cl").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(
        col("vec_id"),
        call_function("cosine_sim", expr("cast(q8 as array<float>)"), typedLit(qv8)).as("acos")
      )
      .where(col("acos").isNotNull)
      .orderBy(col("acos").desc, col("vec_id"))
      .limit(shortlist)
      .select("vec_id")
    rankTopK(
      Tables.cachedRead(spark, s"$layout/vectors.parquet")
        .where(col("cl").isin(probes: _*))
        .join(broadcast(short), "vec_id")
        .select(col("vec_id"), call_function("cosine_sim", col("embedding"), typedLit(qv)).as("cos")),
      k
    )
  }

  /** S5 — range search: ALL vectors within cosine ≥ `minCos` of the query
    * (the radius-query twin of S1's top-k). Scan → broadcast query → scored
    * filter; no shuffle at all — the filter prunes before anything wide, so
    * output size is the only scale variable. Threshold 0.30 sits in a
    * measured gap of this corpus's similarity distribution (nearest value
    * 4.5e-4 away), so the float/double boundary is never ambiguous.
    */
  def rangeSearch(spark: SparkSession, dir: String, queryId: Long = 0L, minCos: Double = 0.30): DataFrame = {
    VectorFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val q = e.where(col("vec_id") === queryId).select(col("embedding").as("qv"))
    e.where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), expr("cosine_sim(embedding, qv)").as("cos"))
      .where(col("cos") >= minCos)
      .select("vec_id")
      .orderBy("vec_id")
  }

  /** S2 — LSH-bucketed ANN: random-hyperplane signatures, 4 bands × 4 bits,
    * candidates = vectors sharing ≥1 band bucket with the query, then exact
    * cosine rank over candidates only. Approximate (recall < 1); the
    * engine-hash-free but plane-dependent output gets a rows-level check
    * plus a recall spec against [[annBruteForce]].
    */
  def annLsh(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    VectorFunctions.register(spark)
    exportLshPlanes(spark)
    annLshOn(Tables.embeddings(spark, dir), queryId, k)
  }

  /** Version tag for the exported hyperplane artifact — bump with any
    * change to [[planes]] (count, dim, seed, or generator).
    */
  private val LshPlanesTag = "planes-v1#16#64#seed42"

  /** Export the deterministic LSH hyperplanes for the s2
    * oracle-over-artifact replay (round 15): the planes are code-level
    * constants (fixed-seed Gaussians), so unlike the IVF/PQ artifacts
    * there is no training to condition away — but the DuckDB oracle still
    * needs the VALUES, and reading them from an exported parquet keeps
    * the mechanism identical to the centroid/codebook exports. Signature
    * arithmetic replays exactly: Spark's zip_with promotes the float
    * component to double before the multiply, so the oracle's
    * DOUBLE-product dot is bit-identical.
    */
  private def exportLshPlanes(spark: SparkSession): Unit = synchronized {
    import java.nio.file._
    val link = Paths.get(OracleArtifactDir, "lsh", "planes.parquet")
    val done = link.resolve("_done") // resolves THROUGH the symlink
    if (Files.isSymbolicLink(link) && Files.exists(done) &&
      new String(Files.readAllBytes(done), "UTF-8").trim.endsWith(LshPlanesTag))
      return // constant content at the current tag; once is enough
    // stage into a private temp dir, then publish through the shared
    // atomic versioned-symlink path (no concurrent-writer window)
    val tmp = Files.createTempDirectory("graft_lsh_planes")
    import spark.implicits._
    planes().zipWithIndex
      .map { case (p, i) => (i, p.toSeq) }
      .toSeq
      .toDF("i", "p")
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$tmp/$LshPlanesTag")
    exportForOracle(s"$tmp/$LshPlanesTag", "lsh/planes.parquet")
  }

  /** [[annLsh]] core over an arbitrary embeddings frame (the planted twin
    * unions the committed fixture in; `cosine_sim` must already be
    * registered).
    */
  private def annLshOn(e: DataFrame, queryId: Long, k: Int): DataFrame = {
    val ps = planes()
    // sign bit per plane via fused dot product (zip_with + aggregate stays
    // in codegen; 16 planes × dim muls per row, one pass each).
    val bitCols = ps.zipWithIndex.map { case (p, i) =>
      val dot = aggregate(
        zip_with(col("embedding"), typedLit(p.toSeq), (x, y) => x * y),
        lit(0.0),
        (acc, v) => acc + v
      )
      when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    val sig = e.select(col("vec_id"), col("embedding"), bitCols.reduce(_ + _).as("sig"))
    val bands = sig.select(
      col("vec_id"),
      col("embedding"),
      explode(
        array((0 until 4).map(b => struct(lit(b).as("band"), expr(s"(sig >> ${4 * b}) & 15").as("bv"))): _*)
      ).as("bk")
    ).select(col("vec_id"), col("embedding"), col("bk.band").as("band"), col("bk.bv").as("bv"))
    val qBands = bands.where(col("vec_id") === queryId).select(
      col("band").as("qband"), col("bv").as("qbv"), col("embedding").as("qv")
    )
    val cand = bands
      .where(col("vec_id") =!= queryId)
      .join(broadcast(qBands), col("band") === col("qband") && col("bv") === col("qbv"))
      .select(col("vec_id"), col("embedding"), col("qv"))
      .dropDuplicates("vec_id")
    rankTopK(cand.select(col("vec_id"), expr("cosine_sim(embedding, qv)").as("cos")), k)
  }

  /** Id of the planted ANN query vector in `fixtures/annplant`
    * ([[graft.FixtureGen.annPlant]]); ids ≥ 2e6 collide with no SF corpus
    * and no other fixture.
    */
  private[graft] val PlantedQueryId = 2000000L

  private def annPlantFixture(spark: SparkSession): String =
    graft.Fixtures.dir + "/annplant/embeddings.parquet"

  /** S2P — [[annLsh]] with the committed graded-neighbor fixture
    * (`fixtures/annplant`) unioned into the corpus. Plain s2's top-10 is
    * plane-dependent over background vectors (candidate recall < 1 ⇒ no SQL
    * oracle); the planted twin's top-5 is exactly the five fixture
    * neighbors — cosines 0.9935–0.9999, a decade above any background pair,
    * so each must BOTH reach the LSH candidate set (worst per-neighbor
    * band-miss probability < 1e-3, and deterministic given the committed
    * fixture + fixed planes) AND rank identically to exact brute force.
    * The DuckDB oracle brute-forces the same union via `read_parquet`, so
    * the hash-checked path proves POSITIVE approximate-index matches — the
    * n4p pattern applied to the ANN family.
    */
  def annLshPlanted(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    VectorFunctions.register(spark)
    val e = Tables.embeddings(spark, dir).unionByName(Tables.cachedRead(spark, annPlantFixture(spark)))
    annLshOn(e, PlantedQueryId, k)
  }

  /** IVF layout over corpus ∪ the ANN planted fixture — [[ivfLayoutCache]]'s
    * build keyed on BOTH contents (the n4p layout-key pattern), so neither a
    * regenerated corpus nor a regenerated fixture can hit a stale layout.
    * Carries the stored `q8` column like the production layout, so the
    * quantized planted twin (s9p) coarse-scans the same bytes-per-vector
    * shape s9 does.
    */
  private[operators] def ivfPlantedLayoutCache(spark: SparkSession, dir: String, nClusters: Int): String = {
    val fx    = annPlantFixture(spark)
    val fxKey = graft.sources.LayoutCache.contentKey(spark, fx, "fx")
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"ivfp-v$IvfSchemeVersion-q8#$nClusters#$fxKey#${quantizerKnobKey(spark)}"
    )
    graft.sources.LayoutCache.getOrBuild(spark, "graft_ivfp", key) { out =>
      val e       = Tables.embeddings(spark, dir).unionByName(Tables.cachedRead(spark, fx))
      val refined = refinedCentroids(e, nClusters)
      writeIvfSegment(e, refined, out, withQ8 = true)
      writeCentroids(spark, refined, out)
    }
  }

  /** S11P — [[annIvfFiltered]] over corpus ∪ the planted fixture, filter
    * `label = 7`, k = 3. The fixture's two CLOSEST neighbors carry label 8,
    * so the correct answer (the three label-7 neighbors at overall ranks
    * 3–5) is reachable only if the predicate composes BEFORE the top-k —
    * a post-filter of the unfiltered top-3 would return one row, and an
    * unfiltered search would return the distractors. The DuckDB oracle is
    * filtered brute force over the same union, which also gates probe
    * completeness: if the nProbe clusters missed a planted neighbor the
    * hash would diverge. Plain s11 stays no-oracle (cluster assignment is
    * engine-internal); this twin pins its END-TO-END contract on a known
    * positive.
    */
  def annIvfFilteredPlanted(
      spark: SparkSession,
      dir: String,
      k: Int = 3,
      label: Int = 7,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1     // -1 = the graft.ann.nprobe session knob (4 unset)
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val layout    = ivfPlantedLayoutCache(spark, dir, nc)
    val centroids = loadCentroids(spark, s"$layout/centroids.parquet")
    val qv = Tables.cachedRead(spark, annPlantFixture(spark))
      .where(col("vec_id") === PlantedQueryId)
      .select("embedding")
      .head()
      .getSeq[Float](0)
    val probes = probeIds(qv, centroids, np)
    rankTopK(
      Tables.cachedRead(spark, s"$layout/vectors.parquet")
        .where(col("cl").isin(probes: _*) && col("label") === label && col("vec_id") =!= PlantedQueryId)
        .select(col("vec_id"), call_function("cosine_sim", col("embedding"), typedLit(qv)).as("cos")),
      k
    )
  }

  /** S4P — [[annIvf]] (inline quantizer + probe search) over corpus ∪ the
    * planted fixture, query = the planted id, k = 5: the five graded
    * neighbors sit a cosine decade above any background pair, so they land
    * in the query's own cluster neighborhood and the probe set must surface
    * all five in exact brute-force order — a full positive-match oracle
    * through the REAL index path (plain s4 stays no-oracle because
    * background candidates' survival is cluster-assignment-dependent).
    */
  def annIvfPlanted(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1     // -1 = the graft.ann.nprobe session knob (4 unset)
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val e = Tables
      .embeddings(spark, dir)
      .select("vec_id", "embedding")
      .unionByName(Tables.cachedRead(spark, annPlantFixture(spark)).select("vec_id", "embedding"))
    val refined = refinedCentroids(e, nc)
    val qv      = e.where(col("vec_id") === PlantedQueryId).select("embedding").head().getSeq[Float](0)
    val probes  = probeIds(qv, refined, np)
    rankTopK(
      e.withColumn("cl", assignCol(refined))
        .where(col("cl").isin(probes: _*) && col("vec_id") =!= PlantedQueryId)
        .select(col("vec_id"), call_function("cosine_sim", col("embedding"), typedLit(qv)).as("cos")),
      k
    )
  }

  /** S6P — [[annIvfPartitioned]] over the persisted planted layout
    * ([[ivfPlantedLayoutCache]]): the probe search reads ONLY the probed
    * `cl=` directories, and the hash-checked answer (the five planted
    * neighbors in brute-force order) proves directory pruning did not
    * prune away a true match — the partition-pruning rung's own
    * positive-match oracle, not inherited from s4p's inline path.
    */
  def annIvfPartitionedPlanted(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1     // -1 = the graft.ann.nprobe session knob (4 unset)
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val layout    = ivfPlantedLayoutCache(spark, dir, nc)
    val centroids = loadCentroids(spark, s"$layout/centroids.parquet")
    val qv = Tables.cachedRead(spark, annPlantFixture(spark))
      .where(col("vec_id") === PlantedQueryId)
      .select("embedding")
      .head()
      .getSeq[Float](0)
    val probes = probeIds(qv, centroids, np)
    rankTopK(
      Tables.cachedRead(spark, s"$layout/vectors.parquet")
        .where(col("cl").isin(probes: _*) && col("vec_id") =!= PlantedQueryId)
        .select(col("vec_id"), call_function("cosine_sim", col("embedding"), typedLit(qv)).as("cos")),
      k
    )
  }

  /** S9P — the composed IVF×SQ8 stack ([[annIvfQuantized]]) over the
    * planted layout: int8 coarse pass over the probed directories,
    * float re-rank of the shortlist. The planted cosine gaps (≥ 2.6e-4
    * after re-rank, a decade above background BEFORE it) mean the five
    * true neighbors must survive BOTH the directory pruning and the
    * quantized shortlist cut for the hash to match — the full production
    * stack proven on a known positive.
    */
  def annIvfQuantizedPlanted(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1,    // -1 = the graft.ann.nprobe session knob (4 unset)
      shortlist: Int = QuantShortlist
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np)  = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val layout    = ivfPlantedLayoutCache(spark, dir, nc)
    val centroids = loadCentroids(spark, s"$layout/centroids.parquet")
    val qv = Tables.cachedRead(spark, annPlantFixture(spark))
      .where(col("vec_id") === PlantedQueryId)
      .select("embedding")
      .head()
      .getSeq[Float](0)
    val probes = probeIds(qv, centroids, np)
    val qv8 = Tables.cachedRead(spark, s"$layout/vectors.parquet")
      .where(col("vec_id") === PlantedQueryId)
      .select("q8")
      .head()
      .getSeq[Byte](0)
      .map(_.toFloat)
    val short = Tables.cachedRead(spark, s"$layout/vectors.parquet")
      .where(col("cl").isin(probes: _*) && col("vec_id") =!= PlantedQueryId)
      .select(
        col("vec_id"),
        call_function("cosine_sim", expr("cast(q8 as array<float>)"), typedLit(qv8)).as("acos")
      )
      .where(col("acos").isNotNull)
      .orderBy(col("acos").desc, col("vec_id"))
      .limit(shortlist)
      .select("vec_id")
    rankTopK(
      Tables.cachedRead(spark, s"$layout/vectors.parquet")
        .where(col("cl").isin(probes: _*))
        .join(broadcast(short), "vec_id")
        .select(col("vec_id"), call_function("cosine_sim", col("embedding"), typedLit(qv)).as("cos")),
      k
    )
  }

  /** Planted DELTA segment for [[annIvfIncrementalPlanted]]: the fixture's
    * six vectors assigned to the PRODUCTION corpus layout's frozen
    * centroids and written as their own cluster-partitioned segment — the
    * exact artifact a maintenance batch containing the planted vectors
    * would produce. Keyed on corpus content, fixture content, and scheme
    * version (the n4p layout-key pattern).
    */
  private[operators] def ivfPlantedDeltaLayoutCache(spark: SparkSession, dir: String, nClusters: Int): String = {
    val fx    = annPlantFixture(spark)
    val fxKey = graft.sources.LayoutCache.contentKey(spark, fx, "fx")
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"ivfpdelta-v$IvfSchemeVersion#$nClusters#$fxKey#${quantizerKnobKey(spark)}"
    )
    graft.sources.LayoutCache.getOrBuild(spark, "graft_ivfpdelta", key) { out =>
      val base = ivfLayoutCache(spark, dir, nClusters)
      val centroids = loadCentroids(spark, s"$base/centroids.parquet")
      writeIvfSegment(
        Tables.cachedRead(spark, fx).select("vec_id", "embedding"),
        centroids, out, withQ8 = false
      )
      writeCentroids(spark, centroids, out)
    }
  }

  /** S12P — the incremental rung's planted twin, and the sharpest test in
    * the family: the base is the UNMODIFIED production corpus layout
    * ([[ivfLayoutCache]]) and every planted vector — query AND all five
    * true neighbors — arrives exclusively through the delta segment
    * ([[ivfPlantedDeltaLayoutCache]], fixture assigned to the frozen
    * corpus centroids). The oracle answer is the five planted neighbors,
    * so a maintenance path that lost, duplicated, or mis-assigned batch
    * vectors could not hash-match: the query proves NEW vectors become
    * findable through the maintained index, not merely that old ones
    * stay findable (s12 stays no-oracle for the same background-survival
    * reason as s4).
    */
  def annIvfIncrementalPlanted(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1     // -1 = the graft.ann.nprobe session knob (4 unset)
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val base  = ivfLayoutCache(spark, dir, nc)
    val delta = ivfPlantedDeltaLayoutCache(spark, dir, nc)
    val centroids = loadCentroids(spark, s"$base/centroids.parquet")
    val qv = Tables.cachedRead(spark, annPlantFixture(spark))
      .where(col("vec_id") === PlantedQueryId)
      .select("embedding")
      .head()
      .getSeq[Float](0)
    val probes = probeIds(qv, centroids, np)
    val segs = Tables.cachedRead(spark, s"$base/vectors.parquet")
      .select("vec_id", "embedding", "cl")
      .unionByName(
        Tables.cachedRead(spark, s"$delta/vectors.parquet").select("vec_id", "embedding", "cl")
      )
    rankTopK(
      segs
        .where(col("cl").isin(probes: _*) && col("vec_id") =!= PlantedQueryId)
        .select(col("vec_id"), call_function("cosine_sim", col("embedding"), typedLit(qv)).as("cos")),
      k
    )
  }

  /** S14P — [[knnJoinIvf]] over the planted layout, output restricted to
    * the six planted QUERY rows: each planted vector's true top-3 are
    * other planted vectors (mutual cosines a decade above background), so
    * the per-vector probe join must both find them (they live in the
    * query vector's own cluster neighborhood) and rank them in exact
    * order. This oracles the kNN-GRAPH path — per-row probe assignment,
    * the cl-key join, the TopK aggregate — which the single-query twins
    * never execute (plain s14 stays no-oracle: background queries' kth
    * neighbor may sit in an unprobed cluster).
    */
  def knnJoinIvfPlanted(
      spark: SparkSession,
      dir: String,
      k: Int = 3,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1     // -1 = the graft.ann.nprobe session knob (4 unset)
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val layout   = ivfPlantedLayoutCache(spark, dir, nc)
    val centroids = loadCentroids(spark, s"$layout/centroids.parquet")
    val v = Tables.cachedRead(spark, s"$layout/vectors.parquet")
      .select(col("cl"), col("vec_id"), col("embedding"))
    // the planted-query restriction lands BEFORE the probe join, so the
    // scored relation is 6 query rows × their probed clusters, not the
    // whole corpus's kNN graph. The filter is an exact id RANGE, not
    // `>= PlantedQueryId`: replicated rehearsal corpora (ScaleRehearsal's
    // +1e9-stride copies) carry ids past 2e6, and an open-ended filter
    // would silently promote them to query rows (measured: 54k rows at
    // the 10× sweep before this bound).
    val queries = v
      .where(col("vec_id").between(PlantedQueryId, PlantedQueryId + 5))
      .select(col("vec_id"), col("embedding"), explode(probeIdsCol(centroids, np)).as("cl"))
    val nbrs = v.select(col("cl"), col("vec_id").as("nbr_id"), col("embedding").as("nbr_emb"))
    val scored = queries
      .join(nbrs, "cl")
      .where(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"), expr("cosine_sim(embedding, nbr_emb)").as("cos"))
      .where(col("cos").isNotNull)
    val topk = graft.functions.TopK.topKIds(k)
    scored
      .groupBy("vec_id")
      .agg(topk(col("nbr_id"), col("cos")).as("ids"))
      .select(col("vec_id"), posexplode(col("ids")).as(Seq("pos", "nbr_id")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rnk"), col("nbr_id"))
      .orderBy("vec_id", "rnk")
  }

  /** S18P — the composed IVF×PQ stack ([[annIvfPq]]) on the planted
    * union: directory pruning on [[ivfPlantedLayoutCache]] picks the
    * candidates, the 8-byte ADC pass scores them off
    * [[pqPlantedLayoutCache]]'s code table, and the float re-rank orders
    * the shortlist. Hash-green means the five planted neighbors survived
    * ALL THREE stages — probe, code-table cut, re-rank — closing the
    * planted matrix over every composed rung.
    */
  def annIvfPqPlanted(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      nClusters: Int = -1,
      nProbe: Int = -1,
      shortlist: Int = PqShortlist
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val ivf = ivfPlantedLayoutCache(spark, dir, nc)
    val centroids = loadCentroids(spark, s"$ivf/centroids.parquet")
    val e = Tables
      .embeddings(spark, dir)
      .select("vec_id", "embedding")
      .unionByName(Tables.cachedRead(spark, annPlantFixture(spark)).select("vec_id", "embedding"))
    val qv     = e.where(col("vec_id") === PlantedQueryId).select("embedding").head().getSeq[Float](0)
    val probes = probeIds(qv, centroids, np)
    val cand = Tables.cachedRead(spark, s"$ivf/vectors.parquet")
      .where(col("cl").isin(probes: _*))
      .select("vec_id")
    annPqOver(spark, e, pqPlantedLayoutCache(spark, dir), PlantedQueryId, k, shortlist, Some(cand))
  }

  /** Shortlist size for [[annQuantized]] — measured headroom: the exact
    * top-10's worst rank under int8-approximate ordering is 11 across all
    * test SFs, so 50 leaves ~5× margin.
    */
  val QuantShortlist = 50

  /** S8 — scalar-quantized ANN with exact re-rank: score int8-quantized
    * vectors first (`q[i] = round(127·x[i]/max|x|)` per vector — the
    * per-vector scale cancels inside cosine), keep a [[QuantShortlist]]
    * shortlist, then re-rank ONLY the shortlist on the full float
    * embeddings. Because the shortlist provably contains the exact top-k on
    * this corpus (worst approximate rank 11 ≤ 50), the output is IDENTICAL
    * to [[annBruteForce]] and shares its oracle — an approximate index whose
    * result is still exact is the best kind.
    *
    * Scale shape: the tinyint copy is a STORED column ([[sq8LayoutCache]],
    * written once at ingest — 4× less scan bandwidth than float32, the
    * same reason FAISS SQ8 exists), the coarse pass reads ONLY
    * (vec_id, q8) — PlanShapeSpec pins the scan's ReadSchema — with
    * `TakeOrderedAndProject` doing a distributed per-partition shortlist,
    * and the float embeddings are touched for just `shortlist` rows via a
    * broadcast semi-join probe.
    */
  def annQuantized(
      spark: SparkSession,
      dir: String,
      queryId: Long = 0L,
      k: Int = 10,
      shortlist: Int = QuantShortlist
  ): DataFrame = {
    VectorFunctions.register(spark)
    val e      = Tables.embeddings(spark, dir)
    val layout = sq8LayoutCache(spark, dir)
    val quant  = Tables.cachedRead(spark, s"$layout/quant.parquet")
    val qv8    = quant.where(col("vec_id") === queryId).select(col("q8").as("qq8"))
    val short = quant
      .where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qv8))
      .select(
        col("vec_id"),
        expr("cosine_sim(cast(q8 as array<float>), cast(qq8 as array<float>))").as("acos")
      )
      .where(col("acos").isNotNull)
      .orderBy(col("acos").desc, col("vec_id"))
      .limit(shortlist)
      .select("vec_id")
    val qv = e.where(col("vec_id") === queryId).select(col("embedding").as("qv"))
    rankTopK(
      e.join(broadcast(short), "vec_id")
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), expr("cosine_sim(embedding, qv)").as("cos")),
      k
    )
  }

  /** S13 — corpus-wide kNN SELF-JOIN (brute rung): the top-k cosine
    * neighbors of EVERY vector at once — the all-pairs operation behind
    * kNN-graph construction (semantic clustering seeds, graph-based dedup,
    * diversity sampling). Distinct from s1/s3 (a handful of query vectors):
    * here the query set IS the corpus, so the scored relation is O(n²) and
    * this rung is — like n1 for the MinHash family — the *labeled
    * exact-oracle baseline*, not the production path ([[knnJoinIvf]] is).
    *
    * Plan shape: one side broadcasts (corpus vectors as the build side),
    * scoring stays inside codegen (`cosine_sim` is a codegen'd Catalyst
    * expression), and [[graft.functions.TopKByScore]] keeps ≤ k rows per
    * (vec_id, map partition) through the exchange — the cross product is
    * never shuffled, only k·partitions rows per vector. Oracle-checked
    * (rank/id contract, no float columns), sharing s3's window-SQL shape
    * with the query filter dropped.
    */
  def knnJoin(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    VectorFunctions.register(spark)
    // Fan the STREAMED side (guide §2.5): the corpus arrives as one row
    // group, so the n² cosine scoring otherwise runs in ONE task. Hash on
    // vec_id keeps each query's TopK state single-owner, and each
    // streamed row still meets the broadcast in the same iteration order,
    // so per-key score sequences — and the TopK result — are unchanged.
    knnJoinOver(
      Tables.embeddings(spark, dir),
      k,
      fanStreamed = Tables.fanOut(_, Seq(s"$dir/embeddings.parquet"), Seq(col("vec_id")))
    )
  }

  /** The brute kNN-graph core over an arbitrary query/candidate relation —
    * [[knnJoin]]'s body factored so the takedown paths can run the same
    * scoring over survivor subsets ([[survivorKnnEdges]]'s targeted
    * recompute, [[purgeKnnGraph]]'s survivor rebuild). Queries and
    * candidates may differ: the targeted pass scores a HANDFUL of overflow
    * docs against all survivors — the n19t shape, wide work proportional
    * to the overflow set, never the corpus. The broadcast side is the
    * QUERY side (round-18 review: broadcasting the candidate side ships
    * the whole corpus through the driver even when the query set is
    * empty — at 10¹⁰ vectors that aborts every takedown on the 8 GiB
    * broadcast limit; the query set is the small relation by contract).
    * Cosine is argument-symmetric bit-for-bit (IEEE products and the
    * norm product commute exactly), so the orientation flip cannot move
    * a single score.
    */
  private def knnJoinOver(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val qs = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = candidates
      .select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_emb"))
      .crossJoin(broadcast(qs))
      .where(col("qid") =!= col("nbr_id"))
      .select(col("qid").as("vec_id"), col("nbr_id"), expr("cosine_sim(qe, nbr_emb)").as("cos"))
      .where(col("cos").isNotNull) // dimension-mismatch degrades to null; unrankable
    val topk = graft.functions.TopK.topKIds(k)
    scored
      .groupBy("vec_id")
      .agg(topk(col("nbr_id"), col("cos")).as("ids"))
      .select(col("vec_id"), posexplode(col("ids")).as(Seq("pos", "nbr_id")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rnk"), col("nbr_id"))
      .orderBy("vec_id", "rnk")
  }

  /** Self-join form — the layout build and s13's disclosed quadratic brute
    * rung. Orientation matters for the PARTIAL AGGREGATION, not just the
    * broadcast: the grouping key must come from the STREAMED side, so each
    * partition's partial TopK state holds only its slice of query ids and
    * the shuffle carries n partials. The two-frame form above broadcasts
    * the queries instead — correct there because its query set is small
    * by contract, but applied to the self-join it puts ALL n keys in
    * EVERY partition's partial state (n×partitions partial rows through
    * the exchange — measured 2× on s13, 2.25 → 4.12 s, when round 18
    * briefly unified the orientations).
    */
  private[graft] def knnJoinOver(
      e: DataFrame,
      k: Int,
      fanStreamed: DataFrame => DataFrame = identity
  ): DataFrame = {
    val nbrs = e.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_emb"))
    val scored = fanStreamed(e.select("vec_id", "embedding"))
      .crossJoin(broadcast(nbrs))
      .where(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"), expr("cosine_sim(embedding, nbr_emb)").as("cos"))
      .where(col("cos").isNotNull)
    val topk = graft.functions.TopK.topKIds(k)
    scored
      .groupBy("vec_id")
      .agg(topk(col("nbr_id"), col("cos")).as("ids"))
      .select(col("vec_id"), posexplode(col("ids")).as(Seq("pos", "nbr_id")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rnk"), col("nbr_id"))
      .orderBy("vec_id", "rnk")
  }

  /** The nProbe nearest cluster ids per row, computed IN-ENGINE — the
    * distributed twin of the driver-side [[probeIds]], same ordering
    * contract (cos desc, idx asc), evaluated per ROW so a corpus-wide
    * probe assignment never touches the driver. One compiled loop
    * ([[nearestCentroidsCol]]), not a per-centroid expression tree.
    */
  private def probeIdsCol(cs: Array[Seq[Float]], nProbe: Int): Column =
    nearestCentroidsCol(cs, nProbe)

  /** S14 — kNN self-join over the IVF layout (production rung): each vector
    * scores only the members of its nProbe nearest clusters, so the scored
    * relation shrinks from n² to n·(nProbe/nClusters)·avg-cluster-size —
    * the factor-(nClusters/nProbe) saving that makes a kNN graph buildable
    * at 10¹⁰ vectors, compounding with the layout's directory partitioning
    * (the probe join key `cl` is the partition column, so co-candidates are
    * colocated by one shuffle whose per-task width is a cluster — the IVF
    * balance contract). Multi-probe is the recall lever: a true neighbor in
    * an unprobed cluster is invisible, the recall/cost operating point
    * SimilaritySpec measures against [[knnJoin]] at the default 4/16 knobs;
    * with nClusters=1 the output is IDENTICAL to the brute rung (the
    * completeness invariant, same shape as s12's all-probes gate). A
    * (query, neighbor) pair arises at most once — a neighbor lives in
    * exactly one cluster — so no dedup step is needed. Fully
    * DuckDB-oracled since round 15 by oracle-over-artifact (per-vector
    * probes and assignment replayed from the exported centroids with
    * NearestCentroids' float semantics); the equivalence + recall specs
    * remain as the engine-side gates.
    */
  def knnJoinIvf(
      spark: SparkSession,
      dir: String,
      k: Int = 3,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1     // -1 = the graft.ann.nprobe session knob (4 unset)
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val layout   = ivfLayoutCache(spark, dir, nc)
    val centroids = loadCentroids(spark, s"$layout/centroids.parquet")
    val v = Tables.cachedRead(spark, s"$layout/vectors.parquet")
      .select(col("cl"), col("vec_id"), col("embedding"))
    // query side: np rows per vector, one per probed cluster
    val queries = v
      .select(col("vec_id"), col("embedding"), explode(probeIdsCol(centroids, np)).as("cl"))
    val nbrs = v.select(col("cl"), col("vec_id").as("nbr_id"), col("embedding").as("nbr_emb"))
    val scored = queries
      .join(nbrs, "cl")
      .where(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"), expr("cosine_sim(embedding, nbr_emb)").as("cos"))
      .where(col("cos").isNotNull)
    val topk = graft.functions.TopK.topKIds(k)
    scored
      .groupBy("vec_id")
      .agg(topk(col("nbr_id"), col("cos")).as("ids"))
      .select(col("vec_id"), posexplode(col("ids")).as(Seq("pos", "nbr_id")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rnk"), col("nbr_id"))
      .orderBy("vec_id", "rnk")
  }

  /** Bump with any change to the stored kNN-graph scheme. v2: the layout
    * stores a top-[[KnnGraphLedgerDepth]] edge LEDGER instead of exactly
    * the query k — the LSS/t17 store-a-little-more-at-ingest trade, so a
    * takedown resolves from the stored prefix (s15t/s16t) without
    * re-scoring the corpus.
    */
  private[operators] val KnnGraphSchemeVersion = 2

  /** Edge-ledger depth: the layout stores each vector's top-8 neighbors
    * even though the registered queries read k=3. Why 8: the stored
    * prefix IS the global neighbor ranking, so after a takedown each
    * survivor's new top-k is the first k SURVIVING stored entries —
    * exact whenever ≥ k of its 8 survive. Under the registered 1/10
    * tombstone rule the chance a vector loses ≥ 6 of its top-8 is
    * ~C(8,6)·10⁻⁶ ≈ 3e-5 (and those few recompute via the targeted
    * pass), while the ledger costs 8/3× the k=3 table — rows of 24
    * bytes, negligible beside the embeddings themselves.
    */
  private[graft] val KnnGraphLedgerDepth = 8

  /** The kNN GRAPH as a persisted layout — s13's directed top-k edge list
    * `(vec_id, rnk, nbr_id)` materialized once per corpus version, the
    * vector analogue of the MinHash family's signatures→PAIRS rung: graph
    * consumers (mutual-edge mining, cluster seeding, diversity walks) read
    * an edge table instead of each re-running the scoring pass. Built from
    * the EXACT brute rung, so everything derived downstream keeps a SQL
    * oracle; the build cost is the documented quadratic (paid once at
    * ingest — [[knnJoinIvf]] is the sub-quadratic build alternative when
    * approximate recall suffices, same output contract at full probe).
    */
  private[graft] def knnGraphLayoutCache(spark: SparkSession, dir: String, k: Int): String = {
    val depth = math.max(k, KnnGraphLedgerDepth)
    // key on DEPTH alone: the stored artifact depends only on depth, so
    // readers at different query k (≤ depth) share one build of the most
    // expensive layout in the family instead of storing byte-identical
    // ledgers under distinct keys
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"knng-v$KnnGraphSchemeVersion#d$depth"
    )
    graft.sources.LayoutCache.getOrBuild(spark, "graft_knng", key) { out =>
      knnJoin(spark, dir, depth).write.mode("overwrite").parquet(s"$out/edges.parquet")
    }
  }

  /** B1 — margin-based bitext mining (Artetxe & Schwenk, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings",
    * ACL 2019 — the method behind CCMatrix/WikiMatrix-scale parallel-data
    * harvesting, which is to multilingual training corpora what MinHash
    * is to monolingual dedup): a candidate pair's raw cosine is
    * normalized by how similar each side is to its own neighborhood,
    * `margin(x, y) = cos(x, y) / ((avgKnn(x→T) + avgKnn(y→S)) / 2)`, so
    * hub sentences (high cosine to EVERYTHING) stop producing false
    * pairs — the reason raw-threshold mining does not survive real
    * corpora. The corpus splits into "languages" by label parity (the
    * deterministic stand-in for a language id — production passes its
    * own language predicate); a pair is emitted when each side is the
    * other's nearest cross-lingual neighbor (the paper's
    * "intersection" criterion) and the ratio margin clears
    * [[BitextMarginThreshold]].
    *
    * Scale shape: this registered rung is the EXACT scorer — a
    * broadcast-side cross score of the two halves, the s13/s1 brute
    * discipline, which is also what makes it fully DuckDB-oracleable
    * (every cosine, ordered top-k fold, and ratio replays bit-for-bit:
    * float-product cosines, DOUBLE ratio arithmetic, ordered-list sums).
    * At 10⁹×10⁹ production swaps the scorer for the IVF-pruned neighbor
    * lists (s14's join: n·nProbe/nClusters) and keeps the margin
    * arithmetic unchanged — the same exact-rung/production-rung split as
    * s13/s14, documented rather than duplicated because the margin math
    * is the novel part and it is identical over either neighbor list.
    */
  def bitextMarginPairs(
      spark: SparkSession,
      dir: String,
      k: Int = BitextMarginK,
      threshold: Double = BitextMarginThreshold
  ): DataFrame = {
    VectorFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    // fanOut (guide §2.5): both halves arrive as one row group, so the
    // |S|x|T| scoring pass otherwise runs in ONE task per side-stats
    // branch. Hashing the streamed half on sid spreads the cross product;
    // per-pair cosine values and the downstream (cos desc, id asc) window
    // folds are placement-independent, so the emitted pairs are unchanged.
    val src = Tables.fanOut(
      e.where(pmod(col("label"), lit(2)) === 0)
        .select(col("vec_id").as("sid"), col("embedding").as("se")),
      Seq(s"$dir/embeddings.parquet"),
      Seq(col("sid"))
    )
    val tgt = e.where(pmod(col("label"), lit(2)) === 1).select(col("vec_id").as("tid"), col("embedding").as("te"))
    // same null-cosine convention as b2's retrieve (dimension-mismatch →
    // null → dropped): both rungs must see identical neighborhoods for the
    // nProbe==nClusters ≡ b1 identity to hold bit-for-bit
    val scored = src
      .crossJoin(tgt)
      .select(col("sid"), col("tid"), call_function("cosine_sim", col("se"), col("te")).as("cos"))
      .where(col("cos").isNotNull)
    val perSrc = bitextSideStats(scored, "sid", "tid", k)
    val perTgt = bitextSideStats(scored, "tid", "sid", k)
    perSrc
      .join(perTgt, perSrc("nn_tid") === perTgt("tid"))
      .where(col("nn_sid") === col("sid")) // mutual nearest (intersection criterion)
      .withColumn("margin", col("nn_cos_sid") / ((col("davg_sid") + col("davg_tid")) / lit(2.0)))
      .where(col("margin") >= threshold)
      .select(col("sid").as("src_id"), col("tid").as("tgt_id"))
      .orderBy("src_id")
  }

  /** b1's registered operating point: neighborhood width and ratio-margin
    * threshold (the paper's 1.05–1.06 band). Inlined in the oracle SQL —
    * the registered-default discipline every knob-coupled oracle follows.
    */
  val BitextMarginK         = 4
  val BitextMarginThreshold = 1.05

  /** Per-side neighborhood statistics for the margin rule — ONE definition
    * shared by the exact scorer ([[bitextMarginPairs]]) and the IVF-pruned
    * production rung ([[bitextMarginPairsIvf]]), so the two rungs cannot
    * diverge on the arithmetic that IS the method. Ordered top-k fold:
    * sort (cos desc, id asc), take k, sum in that order — the sequential
    * fold DuckDB's `list_sum(array_agg(ORDER BY)[1:k])` replays
    * bit-for-bit. The divisor is `least(k, |candidates|)`, not constant k:
    * in b1 every side sees the full opposite half so the two coincide, but
    * a b2 pruned neighborhood can hold fewer than k opposite-half vectors —
    * dividing by constant k there would deflate davg and emit pairs that
    * fail the margin rule over their actual neighbors (BitextSpec pins the
    * corner; the oracle mirrors with `least(k, count(*))`).
    *
    * MEMORY SHAPE (round 18 — found by the crossover rehearsal, where the
    * original fold OOMed b1 at the 10× corpus): the top-k cut runs as a
    * row_number WINDOW over (cos desc, id asc) BEFORE any array forms, so
    * per-key state is a sort-based spillable window, never a
    * neighborhood-sized in-heap array (the old collect_list held each
    * side's ENTIRE candidate list — 10⁴ boxed structs per key × 10⁴ keys
    * at 10×, an ObjectHashAggregate heap bomb that no executor count
    * fixes because it scales with corpus width, not partition count).
    * Bit-exactness is preserved: the window's comparator is the fold's
    * comparator, so the ≤k surviving rows are exactly the old sorted
    * slice, the per-key array is now ≤k entries, and the divisor
    * `least(k, |candidates|)` equals the count of surviving rows.
    */
  private[graft] def bitextSideStats(df: DataFrame, key: String, other: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key)
      .orderBy(col("cos").desc, col(other).asc)
    val cmp =
      s"(a, b) -> CASE WHEN a.cos > b.cos THEN -1 WHEN a.cos < b.cos THEN 1 " +
        s"WHEN a.$other < b.$other THEN -1 WHEN a.$other > b.$other THEN 1 ELSE 0 END"
    df.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .groupBy(key)
      .agg(collect_list(struct(col("cos"), col(other))).as("arr"))
      .select(
        col(key),
        expr(s"element_at(array_sort(arr, $cmp), 1).$other").as(s"nn_$other"),
        expr(s"element_at(array_sort(arr, $cmp), 1).cos").as(s"nn_cos_$key"),
        expr(
          s"aggregate(array_sort(arr, $cmp), CAST(0.0 AS DOUBLE), (s, x) -> s + x.cos) / CAST(size(arr) AS DOUBLE)"
        ).as(s"davg_$key")
      )
  }

  /** B2 — the PRODUCTION bitext rung: identical margin arithmetic to
    * [[bitextMarginPairs]] (the shared [[bitextSideStats]] fold and the
    * same mutual-nearest + ratio-threshold tail), but each side's
    * neighborhood comes from the IVF index instead of an all-pairs score —
    * the s13/s14 exact-rung/production-rung split applied to mining.
    * Forward retrieval: every source vector probes its nProbe nearest
    * clusters ([[probeIdsCol]], the compiled in-engine scan) and scores
    * only the TARGET-side vectors assigned there (an equi-join on the
    * layout's partition column `cl` — partition pruning at scale, the s14
    * shape); the backward retrieval mirrors it. The scored relation
    * shrinks from |S|×|T| to n·(nProbe/nClusters)·avg-cluster-size, which
    * is what makes CCMatrix-scale (10⁹×10⁹) mining feasible; the cost is
    * the usual IVF recall trade measured in the RecallLedger (a true
    * nearest neighbor in an unprobed cluster is invisible, so a pair can
    * be missed — never invented: every emitted pair satisfied the margin
    * rule on its pruned neighborhoods). At nProbe == nClusters every
    * cluster is probed, both retrievals see the full opposite half, and
    * the output is IDENTICAL to b1 bit-for-bit (BitextSpec pins it — the
    * s14/s13 completeness discipline). Fully DuckDB-oracled by
    * oracle-over-artifact: the exported centroids replay assignment and
    * per-vector probes relationally, then the b1 margin SQL runs over the
    * pruned candidate relation.
    */
  def bitextMarginPairsIvf(
      spark: SparkSession,
      dir: String,
      k: Int = BitextMarginK,
      threshold: Double = BitextMarginThreshold,
      nClusters: Int = -1,
      nProbe: Int = -1
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np)   = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val (fwd, bwd) = bitextIvfRetrievals(spark, dir, nc, np)
    val perSrc     = bitextSideStats(fwd, "sid", "tid", k)
    val perTgt     = bitextSideStats(bwd, "tid", "sid", k)
    perSrc
      .join(perTgt, perSrc("nn_tid") === perTgt("tid"))
      .where(col("nn_sid") === col("sid")) // mutual nearest (intersection criterion)
      .withColumn("margin", col("nn_cos_sid") / ((col("davg_sid") + col("davg_tid")) / lit(2.0)))
      .where(col("margin") >= threshold)
      .select(col("sid").as("src_id"), col("tid").as("tgt_id"))
      .orderBy("src_id")
  }

  /** b2's two directed IVF-pruned retrievals `(sid, tid, cos)` — factored
    * so the crossover rehearsal counts exactly the scored relation the
    * rung times. One directed retrieval: queries explode to their nProbe
    * probe clusters, candidates are the opposite half's members of those
    * clusters (each candidate lives in exactly one cluster, so a
    * (query, candidate) pair arises at most once — no dedup needed).
    */
  private def bitextIvfRetrievals(
      spark: SparkSession, dir: String, nc: Int, np: Int): (DataFrame, DataFrame) =
    bitextIvfRetrievalsOver(spark, ivfLayoutCache(spark, dir, nc), np, lit(true))

  /** The retrieval core over ANY IVF layout, query sides restricted by
    * `queryFilter` — ONE definition so the production rung and the planted
    * twin cannot diverge on the probe-join shape or the null-cosine
    * convention the nProbe==nClusters ≡ b1 identity depends on.
    */
  private def bitextIvfRetrievalsOver(
      spark: SparkSession, layout: String, np: Int, queryFilter: Column): (DataFrame, DataFrame) = {
    val centroids = loadCentroids(spark, s"$layout/centroids.parquet")
    val v = Tables.cachedRead(spark, s"$layout/vectors.parquet")
      .select(col("cl"), col("vec_id"), col("label"), col("embedding"))
    val src = v.where(pmod(col("label"), lit(2)) === 0)
    val tgt = v.where(pmod(col("label"), lit(2)) === 1)
    def retrieve(q: DataFrame, qid: String, n: DataFrame, nid: String): DataFrame = {
      val queries = q
        .where(queryFilter)
        .select(col("vec_id"), col("embedding"), explode(probeIdsCol(centroids, np)).as("pcl"))
        .select(col("vec_id").as(qid), col("embedding").as("qe"), col("pcl"))
      val nbrs = n.select(col("cl").as("pcl"), col("vec_id").as(nid), col("embedding").as("ne"))
      queries
        .join(nbrs, "pcl")
        .select(col(qid), col(nid), call_function("cosine_sim", col("qe"), col("ne")).as("cos"))
        .where(col("cos").isNotNull)
    }
    (retrieve(src, "sid", tgt, "tid"), retrieve(tgt, "tid", src, "sid"))
  }

  /** Scored-row counts of b2's forward/backward retrievals at the given
    * knobs — the crossover rehearsal's candidate-volume evidence (the
    * n·(nProbe/nClusters)·cluster arithmetic, measured).
    */
  private[graft] def bitextIvfScoredCounts(
      spark: SparkSession, dir: String, nClusters: Int = -1, nProbe: Int = -1): (Long, Long) = {
    VectorFunctions.register(spark)
    val (nc, np)   = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val (fwd, bwd) = bitextIvfRetrievals(spark, dir, nc, np)
    (fwd.count(), bwd.count())
  }

  /** Planted-id range of `fixtures/bitextplant` ([[graft.FixtureGen
    * .bitextPlant]]): three translated pairs, even-label source ↔
    * odd-label target, pair cosine ≈ 0.99998. Disjoint from every SF's
    * vec_ids, the other fixtures, and rehearsal +1e9-stride replicas —
    * hence exact RANGE filters (the s14p discipline).
    */
  private[graft] val BitextPlantLo = 2100000L
  private[graft] val BitextPlantHi = 2100005L

  private def bitextPlantFixture(spark: SparkSession): String =
    graft.Fixtures.dir + "/bitextplant/embeddings.parquet"

  /** IVF layout over corpus ∪ the bitext planted fixture — the
    * [[ivfPlantedLayoutCache]] recipe (live k-means over the union, keyed
    * on BOTH contents so neither a regenerated corpus nor a regenerated
    * fixture hits a stale layout) under its own cache name; no q8 copy
    * (the bitext rungs never coarse-scan int8).
    */
  private[graft] def ivfBitextPlantedLayoutCache(
      spark: SparkSession, dir: String, nClusters: Int): String = {
    val fx    = bitextPlantFixture(spark)
    val fxKey = graft.sources.LayoutCache.contentKey(spark, fx, "fx")
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"ivfbp-v$IvfSchemeVersion#$nClusters#$fxKey#${quantizerKnobKey(spark)}"
    )
    graft.sources.LayoutCache.getOrBuild(spark, "graft_ivfbp", key) { out =>
      val e       = Tables.embeddings(spark, dir).unionByName(Tables.cachedRead(spark, fx))
      val refined = refinedCentroids(e, nClusters)
      writeIvfSegment(e, refined, out, withQ8 = false)
      writeCentroids(spark, refined, out)
    }
  }

  /** B2P — [[bitextMarginPairsIvf]]'s planted twin (VERDICT r17 item 4,
    * closing the planted matrix): the corpus ∪ `fixtures/bitextplant`
    * union carries three KNOWN translated pairs (partner cosine ≈ 0.99998,
    * a decade above background), the IVF layout over the union is trained
    * LIVE (the s4p discipline — this twin gates k-means training, which
    * b2's oracle-over-artifact conditions away), and the real IVF
    * retrieval + shared margin fold must emit exactly those pairs through
    * the planted id range. Query sides are restricted to the planted
    * RANGE before the probe join (the s14p shape — 6 query rows × probed
    * clusters, not the whole mining run), candidates stay the full
    * opposite half, so davg is diluted by real background neighbors
    * exactly as in production.
    *
    * Why the exact-b1 oracle adjudicates this approximate path (the
    * fixture scaladoc's containment argument, pinned in BitextSpec):
    * (1) each planted side's TRUE cross-half nearest is its partner at
    * cosine ≈ 1, so mutual-nearest holds on the full neighborhoods (the
    * oracle) and on any pruned sub-neighborhood that surfaces the partner
    * — and the partner is surfaced because near-identical embeddings rank
    * the centroid list near-identically, putting the partner's ASSIGNED
    * cluster (its own top-1 probe) inside the query's nProbe=4 probes;
    * (2) pruning can only remove candidates, so the pruned top-k fold's
    * davg ≤ the full davg, hence margin_pruned ≥ margin_full ≈ 1.9 ≫ 1.05
    * — if the oracle emits, the engine must emit; the converse direction
    * needs no margin argument because a non-partner pair already fails
    * mutual-nearest on both sides. Fully DuckDB-oracled: b1's exact
    * margin SQL over the same union, restricted to the planted src range.
    */
  def bitextMarginPairsIvfPlanted(
      spark: SparkSession,
      dir: String,
      k: Int = BitextMarginK,
      threshold: Double = BitextMarginThreshold,
      nClusters: Int = -1,
      nProbe: Int = -1
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val (fwd, bwd) = bitextIvfRetrievalsOver(
      spark,
      ivfBitextPlantedLayoutCache(spark, dir, nc),
      np,
      col("vec_id").between(BitextPlantLo, BitextPlantHi)
    )
    val perSrc = bitextSideStats(fwd, "sid", "tid", k)
    val perTgt = bitextSideStats(bwd, "tid", "sid", k)
    perSrc
      .join(perTgt, perSrc("nn_tid") === perTgt("tid"))
      .where(col("nn_sid") === col("sid")) // mutual nearest (intersection criterion)
      .withColumn("margin", col("nn_cos_sid") / ((col("davg_sid") + col("davg_tid")) / lit(2.0)))
      .where(col("margin") >= threshold)
      .select(col("sid").as("src_id"), col("tid").as("tgt_id"))
      .orderBy("src_id")
  }

  /** S15 — MUTUAL kNN pairs: edges (a, b) where each vector is in the
    * other's top-k — the standard symmetrization that turns a directed kNN
    * graph into the undirected graph clustering/community detection runs on
    * (one-sided neighbors are hub artifacts; mutuality is the cheap, robust
    * filter). A read + one self equi-join of the persisted edge layout —
    * two scans of a (n·k)-row table and an 8-byte-pair hash join; the
    * scored pass is never re-run. Each qualifying pair emerges exactly once
    * (the join matches (a,b) with its unique reverse, and `a < b` keeps one
    * orientation). Oracle: the all-pairs window CTE joined to its own
    * reverse.
    */
  def mutualKnnPairs(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val layout = knnGraphLayoutCache(spark, dir, k)
    val e = Tables.cachedRead(spark, s"$layout/edges.parquet")
      .where(col("rnk") <= k) // the layout ledger is deeper than the query k (scheme v2)
      .select(col("vec_id").as("a"), col("nbr_id").as("b"))
    mutualize(e)
  }

  /** Symmetrize a directed edge set into mutual pairs `(a < b)` — each
    * qualifying pair emerges exactly once (the join matches (a,b) with its
    * unique reverse, and `a < b` keeps one orientation).
    */
  private def mutualize(e: DataFrame): DataFrame = {
    val rev = e.select(col("b").as("a"), col("a").as("b"))
    e.join(rev, Seq("a", "b"))
      .where(col("a") < col("b"))
      .select(col("a").as("vec_id_a"), col("b").as("vec_id_b"))
      .orderBy("vec_id_a", "vec_id_b")
  }

  /** Takedown rule for the kNN-graph layout: `vec_id ≡ 3 (mod 10)` —
    * t17's doc rule applied to the vector table. Fixed so the masked
    * rungs stay DuckDB-oracleable; production passes its own tombstone
    * relation into the same machinery.
    */
  private[graft] def knnTombstones(spark: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(spark, dir)
      .where(pmod(col("vec_id"), lit(10)) === 3)
      .select("vec_id")

  /** The survivor kNN graph rebuilt from the stored edge ledger — the
    * n19t/t17 deletion discipline applied to the kNN-graph layout, which
    * (like LSS maxima, unlike the per-media hash ledgers) is NOT
    * mask-exact: deleting a vector vacates top-k slots in its surviving
    * neighbors' lists, so a plain anti-join both leaves stale edges
    * conceptually ranked too low AND misses the new mutual pairs the
    * vacancy creates. The ledger resolves it in ledger-cardinality work:
    *
    *   1. mask BOTH endpoints out of the stored top-[[KnnGraphLedgerDepth]]
    *      ledger (anti joins, no forced broadcast — the n17t rule: the
    *      registered tombstone set is a corpus fraction, AQE broadcasts
    *      production-sized sets from runtime stats);
    *   2. each survivor's new top-k is the FIRST k surviving stored
    *      entries in stored-rank order — exact because the stored prefix
    *      is the global ranking: any survivor outside the stored depth
    *      ranks below every surviving entry inside it;
    *   3. only vectors with FEWER than k surviving stored entries (lost
    *      ≥ depth−k+1 of their top-depth — measure ~3e-5 under the
    *      registered rule) fall to the TARGETED recompute: brute-score
    *      just those queries against the survivors ([[knnJoinOver]] with
    *      a tiny broadcast query side), never the whole corpus.
    */
  private[graft] def survivorKnnEdges(spark: SparkSession, dir: String, k: Int): DataFrame = {
    VectorFunctions.register(spark)
    val layout = knnGraphLayoutCache(spark, dir, k)
    val tomb   = knnTombstones(spark, dir)
    val edges  = Tables.cachedRead(spark, s"$layout/edges.parquet")
    val masked = edges
      .join(tomb, Seq("vec_id"), "left_anti")
      .join(tomb.select(col("vec_id").as("nbr_id")), Seq("nbr_id"), "left_anti")
    val w      = org.apache.spark.sql.expressions.Window.partitionBy("vec_id").orderBy("rnk")
    val ranked = masked.withColumn("srnk", row_number().over(w))
    // overflow = surviving vectors with < k surviving stored entries —
    // including those whose stored list died entirely (absent from
    // `ranked`), hence the anti join against the survivor id set rather
    // than a count filter alone
    val survivors = Tables.embeddings(spark, dir).join(tomb, Seq("vec_id"), "left_anti")
    val decided = ranked
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_surv"))
      .where(col("n_surv") >= k)
      .select("vec_id")
    // ledger rows serve ONLY decided vectors: an overflow vector's 1..k-1
    // surviving rows must NOT ride along, or the targeted recompute below
    // re-emits those same edges and the duplicates multiply through the
    // mutual join (caught in round-18 review — the spec's overflow corpus
    // pins it)
    val fromLedger = ranked
      .join(decided, Seq("vec_id"), "left_semi")
      .where(col("srnk") <= k)
    val overflow = survivors.select("vec_id").join(decided, Seq("vec_id"), "left_anti")
    val recomputed = knnJoinOver(
      survivors.join(overflow, Seq("vec_id")).select("vec_id", "embedding"),
      survivors.select("vec_id", "embedding"),
      k
    )
    fromLedger
      .select(col("vec_id"), col("srnk").cast("long").as("rnk"), col("nbr_id"))
      .unionByName(recomputed)
  }

  /** Bump with any change to the survivor-walk derivation or the persisted
    * takedown-serve artifact shape; chains with the kNN-graph scheme in the
    * layout key.
    */
  private[operators] val KnnTdSchemeVersion = 1

  /** The survivor mutual-pair set AND its contracted clusters persisted per
    * (corpus, takedown-rule, k) version — n19t's `lsstd` discipline applied
    * to the kNN family (VERDICT r18 item 1): the ledger walk + targeted
    * overflow recompute + star contraction are real work that changes only
    * when the corpus or the takedown set changes, so the query rungs read
    * a content-keyed parquet and the recompute runs ONCE per version, not
    * per query (r18 measured s16t at 3.9 s serving the mask + ledger
    * window + contraction LIVE — the slowest recurring read on the board).
    * Both artifacts land in ONE build because the clusters are a pure
    * function of the pairs; splitting them would pay the survivor walk
    * twice. At 100 TB this build rides the once-per-takedown-version
    * maintenance pass, exactly like the LSS family's `lsstd`.
    */
  private[graft] def knnTombstonedLayoutCache(spark: SparkSession, dir: String, k: Int): String = {
    val depth = math.max(k, KnnGraphLedgerDepth)
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"knntd-v$KnnTdSchemeVersion#knng-v$KnnGraphSchemeVersion#d$depth#k$k#mod10eq3"
    )
    graft.sources.LayoutCache.getOrBuild(spark, "graft_knntd", key) { out =>
      mutualize(
        survivorKnnEdges(spark, dir, k)
          .select(col("vec_id").as("a"), col("nbr_id").as("b"))
      ).write.mode("overwrite").parquet(s"$out/pairs.parquet")
      Dedup
        .clustersFromPairsStar(
          spark.read
            .parquet(s"$out/pairs.parquet")
            .select(col("vec_id_a").as("doc_a"), col("vec_id_b").as("doc_b"))
        )
        .select(col("cluster_id"), col("doc_id").as("vec_id"))
        .write.mode("overwrite").parquet(s"$out/clusters.parquet")
    }
  }

  /** S15T — s15 WITH TAKEDOWN: mutual pairs over the survivor kNN graph
    * ([[survivorKnnEdges]]). A tombstoned vector appears on neither side
    * of any pair, AND pairs newly made mutual by vacated slots appear —
    * the result equals a from-scratch mutual-kNN pass over the surviving
    * corpus (the survivor-rebuild DuckDB oracle pins it; SimilaritySpec
    * pins the ledger-walk ≡ rebuild identity engine-side on the LIVE
    * derivation). Serves from the persisted takedown artifact
    * ([[knnTombstonedLayoutCache]]) — a parquet read, not a live walk.
    */
  def mutualKnnPairsTombstoned(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    Tables.cachedRead(spark, s"${knnTombstonedLayoutCache(spark, dir, k)}/pairs.parquet")
      .orderBy("vec_id_a", "vec_id_b")

  /** S16T — s16 WITH TAKEDOWN: connected components over the survivor
    * mutual-kNN edge set, labeled by min vec_id. A tombstoned vector
    * vanishes from cluster MEMBERSHIP, and components split where it was
    * the only bridge — both effects fall out of running the same star
    * contraction over the survivor pairs at layout-build time; the oracle
    * is the survivor-rebuild recursive reachability, and the query rung
    * reads the persisted cluster table ([[knnTombstonedLayoutCache]]).
    */
  def mutualKnnClustersTombstoned(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    Tables.cachedRead(spark, s"${knnTombstonedLayoutCache(spark, dir, k)}/clusters.parquet")
      .orderBy("cluster_id", "vec_id")

  /** The PURGE stage for the kNN-graph layout: physically rewrite the
    * edge ledger at FULL depth over the surviving corpus — after it runs,
    * queries need no mask and the takedown set retires (t17's
    * compactSegmentsPurged / [[graft.operators.Dedup.purgeHashLedger]]
    * discipline). Full depth (not the masked prefix) so the purged
    * generation absorbs the NEXT takedown from its own ledger; at 100 TB
    * this rides the once-per-corpus-version graph rebuild.
    */
  private[graft] def purgeKnnGraph(spark: SparkSession, dir: String, out: String): Unit = {
    VectorFunctions.register(spark)
    val survivors = Tables
      .embeddings(spark, dir)
      .join(knnTombstones(spark, dir), Seq("vec_id"), "left_anti")
      .select("vec_id", "embedding")
    knnJoinOver(survivors, KnnGraphLedgerDepth)
      .write.mode("overwrite").parquet(s"$out/edges.parquet")
  }

  /** Bump with any change to the kNN cluster derivation; chains with the
    * kNN-graph scheme in the layout key.
    */
  private[operators] val KnnClustersSchemeVersion = 1

  /** S16 — SEMANTIC duplicate clusters: connected components over the
    * mutual-kNN edge set, labeled by min vec_id — the embedding-space
    * analogue of n6's lexical cluster table, and the grouping a diversity
    * sampler or cluster-aware split consumes (mutual-kNN communities are
    * the standard cheap proxy for "these documents say the same thing").
    * Same engine (the O(log n)-round star contraction,
    * [[graft.operators.Dedup.clustersFromPairsStar]]), same
    * materialization contract (the cluster table persists once per corpus
    * version on top of the persisted edge layout — fourth rung of the
    * vector family: vectors → kNN edges → mutual pairs → clusters), and
    * the same oracle shape (recursive reachability over the mutual edge
    * CTE). Only vectors touched by a mutual pair appear, n6's contract.
    */
  def mutualKnnClusters(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"knncl-v$KnnClustersSchemeVersion#knng-v$KnnGraphSchemeVersion#$k"
    )
    val layout = graft.sources.LayoutCache.getOrBuild(spark, "graft_knncl", key) { out =>
      val pairs = mutualKnnPairs(spark, dir, k)
        .select(col("vec_id_a").as("doc_a"), col("vec_id_b").as("doc_b"))
      Dedup
        .clustersFromPairsStar(pairs)
        .select(col("cluster_id"), col("doc_id").as("vec_id"))
        .write.mode("overwrite").parquet(s"$out/clusters.parquet")
    }
    Tables.cachedRead(spark, s"$layout/clusters.parquet").orderBy("cluster_id", "vec_id")
  }

  /** S22 — SEMANTIC KEEP-LIST (the SemDeDup shape — Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023: cluster the embedding space, keep one
    * representative per semantic-duplicate group): from every s16
    * mutual-kNN component keep exactly its min-id representative, plus
    * every vector no mutual pair touches — the embedding-space complement
    * of n9's lexical keep-list, closing the curation ladder's last gap
    * (lexical clusters have keep/quality-keep rungs; semantic clusters
    * had only the cluster table). Output `(vec_id, cluster_size)` — n9's
    * exact ledger shape, so a curation pipeline consumes either keep-list
    * through one code path.
    *
    * The representative rule is min vec_id — deterministic and
    * SQL-replayable, so the DuckDB oracle rebuilds the WHOLE chain
    * (exact kNN → mutual edges → recursive reachability → min-id label →
    * keep selection) and hash-checks the selection rule itself; swapping
    * in a quality signal (n14's move) changes one join. Scale shape:
    * everything corpus-sized is one left-anti join of 8-byte ids against
    * the persisted cluster layout; the representative filter and size
    * aggregate run over the CLUSTERED rows only (bounded by duplicate
    * mass, not corpus size).
    */
  def semanticKeepList(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val clusters = mutualKnnClusters(spark, dir, k).select("cluster_id", "vec_id")
    val sizes    = clusters.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    val reps = clusters
      .where(col("vec_id") === col("cluster_id")) // star labels are component minima
      .join(sizes, "cluster_id")
      .select(col("vec_id"), col("cluster_size"))
    val singletons = Tables
      .embeddings(spark, dir)
      .select("vec_id")
      .join(clusters.select("vec_id"), Seq("vec_id"), "left_anti")
      .withColumn("cluster_size", lit(1L))
    reps.unionByName(singletons).orderBy("vec_id")
  }

  /** S7 — retrieve-then-enrich: [[annBatchTopK]]'s neighbor ids joined back
    * to the `documents` row they index (vec_id ≡ doc_id in this corpus) —
    * the composition every retrieval pipeline ends with, and the join
    * direction is the whole point at scale: the TOP-K RESULT (queries × k
    * rows) broadcasts to the big metadata table, never the reverse. The
    * metadata scan reads only the projected columns (column pruning) and
    * its probe side never shuffles.
    */
  def annWithMetadata(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 3): DataFrame = {
    val hits = annBatchTopK(spark, dir, nQueries, k)
    Tables
      .documents(spark, dir)
      .join(broadcast(hits), col("doc_id") === col("vec_id"))
      .select(col("query_id"), col("rnk"), col("vec_id"), col("source"), col("n_chars"))
      .orderBy("query_id", "rnk")
  }

  /** S10 — per-label L2-norm profile `(label, n_vecs, min_norm, max_norm)`:
    * the embedding-health check a pipeline runs before trusting cosine
    * scores (a zero or exploding norm is a broken encoder batch; per-label
    * spread flags class-conditional drift). Single partial-aggregable
    * groupBy over a narrow projection — no shuffle carries a vector, only
    * (label, norm) pairs, and min/max/count combine map-side.
    *
    * Float discipline: the norm is Σx² folded LEFT-TO-RIGHT in double then
    * `sqrt` — the same IEEE op sequence DuckDB's `list_aggregate('sum')`
    * over a `list_transform` runs, so per-vector norms are bit-identical
    * across engines (verified empirically on the corpus), and min/max of
    * bit-identical doubles is exact. An AVG across vectors would NOT be
    * (unordered combine ⇒ rounding differs) — which is why the contract is
    * min/max, not mean.
    */
  def normStats(spark: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(spark, dir)
      .select(
        col("label"),
        expr(
          "sqrt(aggregate(embedding, cast(0.0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double)))"
        ).as("norm")
      )
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), min("norm").as("min_norm"), max("norm").as("max_norm"))
      .orderBy("label")

  // ————————————————————————————— s17: product quantization ——————————————

  /** Bump with any change to the PQ scheme or its training. */
  private[operators] val PqSchemeVersion = 1

  /** PQ geometry (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011): the 64-dim embedding splits into
    * [[PqSubspaces]] contiguous 8-dim subvectors, each quantized against
    * its own [[PqCodewords]]-entry codebook → an 8-BYTE code per vector
    * where SQ8 (s8) stores 64 bytes. Shortlist width for the exact
    * re-rank follows s8's discipline.
    */
  val PqSubspaces = 8
  val PqCodewords = 32
  val PqShortlist = 200

  /** Per-subspace codebooks: deterministic seeds (the K lowest-id
    * vectors' subvectors) + one distributed L2 Lloyd refinement — the
    * [[refinedCentroids]] discipline with the PQ-correct metric. Only
    * M×K×subDim floats ever reach the driver.
    */
  private[operators] def pqCodebooks(e: DataFrame, m: Int, kw: Int): Array[Array[Seq[Float]]] = {
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    (0 until m).toArray.map { s =>
      val sv = e.select(col("vec_id"), expr(s"slice(embedding, ${s * sub + 1}, $sub)").as("sv"))
      val seeds: Array[Seq[Float]] =
        sv.orderBy("vec_id").limit(kw).collect().map(_.getSeq[Float](1))
      val assigned = sv.withColumn("code", pqAssignCol(seeds))
      val refined = assigned
        .select(col("code"), posexplode(col("sv")).as(Seq("d", "v")))
        .groupBy("code", "d")
        .agg(avg("v").as("m"))
        .collect()
      val byCode = refined.groupBy(_.getInt(0))
      (0 until seeds.length).map { c =>
        byCode.get(c) match {
          case Some(rows) =>
            val arr = new Array[Float](sub)
            rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2).toFloat)
            arr.toSeq
          case None => seeds(c) // empty cell keeps its seed
        }
      }.toArray
    }
  }

  /** The nearest-codeword index (L2, first-min tie-break → smallest
    * codeword on exact ties) over an `sv` subvector column, against a
    * literal codebook — builtin SQL (transform + aggregate) so the
    * K×subDim multiply-adds stay inside whole-stage codegen. L2, not
    * cosine: the ADC score approximates a DOT product
    * (`dot(q_s, x_s) ≈ dot(q_s, c)`), and minimizing ‖x_s − c‖ bounds
    * that error by ‖q_s‖·‖x_s − c‖, while a direction-only quantizer
    * would let magnitude error through unbounded.
    */
  private def pqAssignCol(cb: Array[Seq[Float]]): Column = {
    val cbSql = cb
      .map(c => "array(" + c.map(v => s"cast($v as double)").mkString(",") + ")")
      .mkString("array(", ",", ")")
    expr(
      s"cast(array_position(transform($cbSql, c -> aggregate(zip_with(sv, c, (a, b) -> " +
        "(cast(a as double) - b) * (cast(a as double) - b)), cast(0.0 as double), (s, x) -> s + x)), " +
        s"array_min(transform($cbSql, c -> aggregate(zip_with(sv, c, (a, b) -> " +
        "(cast(a as double) - b) * (cast(a as double) - b)), cast(0.0 as double), (s, x) -> s + x)))) - 1 as int)"
    )
  }

  /** Persisted PQ layout: `pq.parquet` `(vec_id, codes array<int> length
    * M, norm double)` — 8 small ints + one norm per vector, the bytes the
    * coarse pass reads — plus `codebooks.parquet` `(s, j, cw)` so a query
    * (or a later session) rebuilds its ADC table from the layout alone.
    */
  private def buildPqLayout(spark: SparkSession, e: DataFrame, out: String): Unit = {
    val cbs = pqCodebooks(e, PqSubspaces, PqCodewords)
    val sub = cbs.head.head.length
    // one narrow map: M assignments per row, each against its own book
    var withCodes = e
    (0 until PqSubspaces).foreach { s =>
      withCodes = withCodes
        .withColumn("sv", expr(s"slice(embedding, ${s * sub + 1}, $sub)"))
        .withColumn(s"c$s", pqAssignCol(cbs(s)))
        .drop("sv")
    }
    withCodes
      .select(
        col("vec_id"),
        array((0 until PqSubspaces).map(s => col(s"c$s")): _*).as("codes"),
        expr(
          "sqrt(aggregate(embedding, cast(0.0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double)))"
        ).as("norm")
      )
      .write.mode("overwrite").parquet(s"$out/pq.parquet")
    val rows = for {
      s <- cbs.indices
      j <- cbs(s).indices
    } yield (s, j, cbs(s)(j))
    import spark.implicits._
    rows.toDF("s", "j", "cw").write.mode("overwrite").parquet(s"$out/codebooks.parquet")
  }

  private[graft] def pqLayoutCache(spark: SparkSession, dir: String): String = {
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"pq-v$PqSchemeVersion#$PqSubspaces#$PqCodewords"
    )
    val layout = graft.sources.LayoutCache.getOrBuild(spark, "graft_pq", key) { out =>
      buildPqLayout(spark, Tables.embeddings(spark, dir), out)
    }
    exportForOracle(s"$layout/codebooks.parquet", "pq/codebooks.parquet")
    layout
  }

  /** PQ layout over corpus ∪ the ANN planted fixture, keyed on BOTH
    * contents (the ivfPlantedLayoutCache pattern).
    */
  private[operators] def pqPlantedLayoutCache(spark: SparkSession, dir: String): String = {
    val fx    = annPlantFixture(spark)
    val fxKey = graft.sources.LayoutCache.contentKey(spark, fx, "fx")
    val key = graft.sources.LayoutCache.contentKey(
      spark,
      s"$dir/embeddings.parquet",
      s"pqp-v$PqSchemeVersion#$PqSubspaces#$PqCodewords#$fxKey"
    )
    graft.sources.LayoutCache.getOrBuild(spark, "graft_pqp", key) { out =>
      val e = Tables
        .embeddings(spark, dir)
        .select("vec_id", "embedding")
        .unionByName(Tables.cachedRead(spark, fx).select("vec_id", "embedding"))
      buildPqLayout(spark, e, out)
    }
  }

  /** S17 — product-quantized ANN: the third rung of the quantization
    * ladder (float s1 → int8 SQ8 s8 → 8-byte PQ codes), the memory shape
    * that keeps a BILLION-vector coarse pass in RAM (8 B + norm per
    * vector ≈ 16 B vs SQ8's 64 B vs float's 256 B). Asymmetric distance
    * computation: the query stays FLOAT, and `dot(q, x) ≈ Σ_s
    * table[s][code_s(x)]` where the M×K table of exact subspace dots is
    * built driver-side (tiny) and rides into codegen as a literal —
    * scoring a vector is M array lookups + M adds, no multiplies at all.
    * Cosine needs norms: the exact per-vector norm is STORED (the one
    * scalar PQ cannot reconstruct), so the ADC score divides by
    * `‖q‖·norm` and approximation error lives only in the numerator.
    * The shortlist then re-ranks EXACTLY from the float embeddings.
    *
    * Contract honesty vs s8: SQ8's per-component error is small enough
    * that its shortlist provably contains the true top-k on this corpus
    * (s8 is fully oracled); PQ's reconstruction error is coarser and
    * data-dependent — on near-tied random background cosines it CAN
    * reorder the shortlist boundary (measured: recall@10 = 8/10 at
    * sf0.1's 2000 vectors) — so s17 carries specs (≡ s1 at shortlist ≥
    * corpus, a recall floor at the default) rather than an
    * exactness-vs-BRUTE oracle. Since round 15 it IS fully DuckDB-oracled
    * the honest way — oracle-over-artifact: the replay reads the exported
    * codebooks and reproduces the ADC pass itself (codes, table, fold,
    * norm, shortlist, re-rank) bit-for-bit, adjudicating the query path
    * without pretending ADC equals brute force; the planted twin
    * [[annPqPlanted]] still carries the positive-match oracle for the
    * training step.
    */
  def annPq(
      spark: SparkSession,
      dir: String,
      queryId: Long = 0L,
      k: Int = 10,
      shortlist: Int = PqShortlist
  ): DataFrame =
    annPqOver(spark, Tables.embeddings(spark, dir), pqLayoutCache(spark, dir), queryId, k, shortlist)

  /** S17P — [[annPq]] over corpus ∪ the committed graded-neighbor fixture
    * (`fixtures/annplant`), the s2p pattern for the PQ rung: the five
    * planted neighbors sit a cosine DECADE above the background, so ADC
    * reconstruction error — which reorders near-tied background vectors
    * and is why plain s17 carries no oracle — cannot push them out of the
    * shortlist, and the exact re-rank restores their true order. The
    * DuckDB oracle brute-forces the same union, so the hash-checked path
    * proves POSITIVE matches through the quantized index.
    */
  def annPqPlanted(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = Tables
      .embeddings(spark, dir)
      .select("vec_id", "embedding")
      .unionByName(Tables.cachedRead(spark, annPlantFixture(spark)).select("vec_id", "embedding"))
    annPqOver(spark, e, pqPlantedLayoutCache(spark, dir), PlantedQueryId, k, PqShortlist)
  }

  /** S18 — the composed IVF×PQ stack (the architecture billion-scale
    * vector engines ship as "IVFPQ"): IVF partition pruning picks the
    * probed clusters (directory-level `cl=` pruning on the s6 layout,
    * reading ONLY vec_id from them), PQ's 8-byte ADC pass scores just
    * those candidates off the code table, and the exact float re-rank
    * runs on the shortlist. Beside s9 (IVF×SQ8) this completes the
    * composition matrix: per-query cost is nProbe/nClusters of the
    * CODE table (16 B/vector), touching float vectors only for the
    * shortlist. Fully DuckDB-oracled since round 15 by
    * oracle-over-artifact: BOTH trained artifacts (centroids, codebooks)
    * export, and the replay composes the IVF gate into the ADC pass.
    * The ≡ s17-at-full-probe spec remains: with every cluster probed the
    * candidate set is the whole corpus, so the stack must reproduce the
    * plain PQ rung bit-for-bit.
    */
  def annIvfPq(
      spark: SparkSession,
      dir: String,
      queryId: Long = 0L,
      k: Int = 10,
      nClusters: Int = -1,
      nProbe: Int = -1,
      shortlist: Int = PqShortlist
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val ivf = ivfLayoutCache(spark, dir, nc)
    val centroids = loadCentroids(spark, s"$ivf/centroids.parquet")
    val qv = Tables.embeddings(spark, dir).where(col("vec_id") === queryId).select("embedding").head().getSeq[Float](0)
    val probes = probeIds(qv, centroids, np)
    val cand = Tables.cachedRead(spark, s"$ivf/vectors.parquet")
      .where(col("cl").isin(probes: _*))
      .select("vec_id")
    annPqOver(spark, Tables.embeddings(spark, dir), pqLayoutCache(spark, dir), queryId, k, shortlist, Some(cand))
  }

  /** S19 — FILTERED IVF×PQ: the metadata-filtered production retrieval
    * shape (s11) composed through the quantized stack (s18) — the query a
    * RAG deployment with tenant/language/split predicates actually runs
    * against a billion-vector PQ index. The predicate composes BEFORE the
    * ADC shortlist: candidates come from the IVF layout's probed `cl=`
    * directories with the label equality pushed into that scan
    * (PartitionFilters × PushedFilters, the s11 argument), and only those
    * vec_ids enter the code-table pass — so the shortlist is k-of-the-
    * FILTERED-set, never a post-filter of the unfiltered top-k (the
    * classic filtered-ANN recall trap, provably absent via the planted
    * twin). Per-query cost: (nProbe/nClusters)·|codes| minus the filter's
    * selectivity, floats only for the shortlist. Fully DuckDB-oracled
    * since round 15 by oracle-over-artifact (the s18 replay with the
    * label predicate composed before the ADC shortlist); the
    * ≡-filtered-brute spec at degenerate knobs and
    * [[annIvfPqFilteredPlanted]]'s oracle remain as the other gates.
    */
  def annIvfPqFiltered(
      spark: SparkSession,
      dir: String,
      queryId: Long = 0L,
      k: Int = 10,
      label: Int = 0,
      nClusters: Int = -1, // -1 = the graft.ann.nclusters session knob (16 unset)
      nProbe: Int = -1,    // -1 = the graft.ann.nprobe session knob (4 unset)
      shortlist: Int = PqShortlist
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val ivf = ivfLayoutCache(spark, dir, nc)
    val centroids = loadCentroids(spark, s"$ivf/centroids.parquet")
    val qv = Tables.embeddings(spark, dir).where(col("vec_id") === queryId).select("embedding").head().getSeq[Float](0)
    val probes = probeIds(qv, centroids, np)
    val cand = Tables.cachedRead(spark, s"$ivf/vectors.parquet")
      .where(col("cl").isin(probes: _*) && col("label") === label && col("vec_id") =!= queryId)
      .select("vec_id")
    annPqOver(spark, Tables.embeddings(spark, dir), pqLayoutCache(spark, dir), queryId, k, shortlist, Some(cand))
  }

  /** S19P — [[annIvfPqFiltered]]'s planted twin over the union layouts:
    * filter `label = 7`, k = 3. The fixture's two CLOSEST neighbors carry
    * label 8, so the oracle answer (the three label-7 neighbors) is
    * reachable only if the predicate lands BEFORE the ADC shortlist — a
    * post-filtered quantized top-3 would return the distractors' survivors
    * — proving the s11p composition contract through the PQ stack.
    */
  def annIvfPqFilteredPlanted(
      spark: SparkSession,
      dir: String,
      k: Int = 3,
      label: Int = 7,
      nClusters: Int = -1,
      nProbe: Int = -1,
      shortlist: Int = PqShortlist
  ): DataFrame = {
    VectorFunctions.register(spark)
    val (nc, np) = resolveIvfKnobs(spark, dir, nClusters, nProbe)
    val ivf = ivfPlantedLayoutCache(spark, dir, nc)
    val centroids = loadCentroids(spark, s"$ivf/centroids.parquet")
    val qv = Tables.cachedRead(spark, annPlantFixture(spark))
      .where(col("vec_id") === PlantedQueryId)
      .select("embedding")
      .head()
      .getSeq[Float](0)
    val probes = probeIds(qv, centroids, np)
    val cand = Tables.cachedRead(spark, s"$ivf/vectors.parquet")
      .where(col("cl").isin(probes: _*) && col("label") === label && col("vec_id") =!= PlantedQueryId)
      .select("vec_id")
    val e = Tables
      .embeddings(spark, dir)
      .select("vec_id", "embedding")
      .unionByName(Tables.cachedRead(spark, annPlantFixture(spark)).select("vec_id", "embedding"))
    annPqOver(spark, e, pqPlantedLayoutCache(spark, dir), PlantedQueryId, k, shortlist, Some(cand))
  }

  private def annPqOver(
      spark: SparkSession,
      e: DataFrame,
      layout: String,
      queryId: Long,
      k: Int,
      shortlist: Int,
      candidates: Option[DataFrame] = None
  ): DataFrame = {
    VectorFunctions.register(spark)
    val allCodes = Tables.cachedRead(spark, s"$layout/pq.parquet")
    val codes = candidates match {
      case Some(c) => allCodes.join(c, Seq("vec_id"), "left_semi")
      case None    => allCodes
    }
    val cbs: Array[Array[Seq[Float]]] = loadCodebooks(spark, s"$layout/codebooks.parquet")
    val qv = e.where(col("vec_id") === queryId).select("embedding").head().getSeq[Float](0)
    val sub = qv.length / cbs.length
    val qnorm = math.sqrt(qv.map(v => v.toDouble * v).sum)
    // ADC table: exact subspace dots between the float query and every
    // codeword — M×K doubles, driver-built, literal in the plan
    val table: Seq[Seq[Double]] = cbs.toIndexedSeq.zipWithIndex.map { case (book, s) =>
      val qs = qv.slice(s * sub, (s + 1) * sub)
      book.toIndexedSeq.map(c => qs.zip(c).map { case (a, b) => a.toDouble * b }.sum)
    }
    val tblSql = table
      .map(row => "array(" + row.map(v => s"cast($v as double)").mkString(",") + ")")
      .mkString("array(", ",", ")")
    val short = codes
      .where(col("vec_id") =!= queryId && col("norm") > 0)
      .select(
        col("vec_id"),
        (expr(
          s"aggregate(zip_with(codes, $tblSql, (c, t) -> element_at(t, c + 1)), cast(0.0 as double), (a, x) -> a + x)"
        ) / (col("norm") * qnorm)).as("acos")
      )
      .orderBy(col("acos").desc, col("vec_id"))
      .limit(shortlist)
      .select("vec_id")
    val q = e.where(col("vec_id") === queryId).select(col("embedding").as("qv"))
    rankTopK(
      e.join(broadcast(short), "vec_id")
        .crossJoin(broadcast(q))
        .select(col("vec_id"), expr("cosine_sim(embedding, qv)").as("cos")),
      k
    )
  }
}
