package graft

import graft.functions.{TopKByScore, VectorFunctions}
import graft.sources.LayoutCache
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Edge-input behavior the sf corpora never exercise but a 100 TB corpus
  * will: nulls, empties, short documents, degenerate vectors, k larger than
  * the input. The contract: degrade (null out / drop / return fewer rows),
  * never throw.
  */
class RobustnessSpec extends SparkSpec {

  private lazy val messyDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_messy").toString
    Seq(
      (1L, "a normal little document here", "en", "t", 29L),
      (2L, null.asInstanceOf[String], "en", "t", 0L), // null text
      (3L, "", "en", "t", 0L),                        // empty text
      (4L, "two words", "en", "t", 9L)                // below shingle width
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("text analysis tolerates null/empty/short docs") {
    val tc = graft.operators.TextAnalysis.tokenCount(spark, messyDir).collect()
    assert(tc.length == 4)
    val byId = tc.map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).isNullAt(1))              // null text -> null count
    assert(byId(3L).getLong(1) == 1L)         // split("") == [""] on both engines
    assert(graft.operators.TextAnalysis.fingerprint(spark, messyDir).collect().length == 4)
    assert(graft.operators.TextAnalysis.langId(spark, messyDir).collect().length == 4)
  }

  test("dedup drops null/short docs instead of throwing") {
    val pairs = graft.operators.Dedup.ngramJaccardPairs(spark, messyDir).collect()
    assert(pairs.isEmpty) // no doc reaches shingle width with a partner
    val sh = graft.operators.Dedup.shingles(
      spark.read.parquet(s"$messyDir/documents.parquet")
    ).collect()
    assert(sh.forall(_.getLong(0) == 1L)) // only the normal doc shingles
  }

  test("cosine_sim: zero vector scores 0.0, null array scores null") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val df = Seq(
      (1L, Array(0f, 0f), Array(1f, 1f)),
      (2L, Array(1f, 0f), Array(1f, 0f))
    ).toDF("id", "a", "b")
      .withColumn("c", expr("cosine_sim(a, b)"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getDouble(3) == 0.0)
    assert(rows(1).getDouble(3) == 1.0)
    val withNull = Seq((1L, null.asInstanceOf[Array[Float]], Array(1f, 1f)))
      .toDF("id", "a", "b")
      .withColumn("c", expr("cosine_sim(a, b)"))
      .collect()
    assert(withNull(0).isNullAt(3))
    // dimension mismatch degrades to null, never a truncated-prefix score
    val mismatch = Seq((1L, Array(1f, 0f, 0f), Array(1f, 0f)))
      .toDF("id", "a", "b")
      .withColumn("c", expr("cosine_sim(a, b)"))
      .collect()
    assert(mismatch(0).isNullAt(3))
  }

  test("TopKByScore: fewer inputs than k, exact score ties broken by id") {
    val agg = new TopKByScore(5)
    val partial = Seq((3L, 1.0), (1L, 1.0), (2L, 2.0)).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(partial) == Seq(2L, 1L, 3L)) // only 3 rows; ties id-asc
    // merge respects the same total order
    val other = Seq((9L, 3.0), (8L, 1.0)).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(partial, other)) == Seq(9L, 2L, 1L, 3L, 8L))
  }

  test("TopKByScore: NaN scores never enter or poison the buffer") {
    val agg = new TopKByScore(2)
    val withNaN = Seq((1L, Double.NaN), (2L, 1.0), (3L, Double.NaN), (4L, 5.0), (5L, 2.0))
      .foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(withNaN) == Seq(4L, 5L)) // NaNs dropped, top-2 intact
    intercept[IllegalArgumentException](new TopKByScore(0))
  }

  test("LSH embedding dedup tolerates null and zero vectors") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val e = Seq(
      (1L, Array.fill(64)(0.5f)),
      (2L, Array.fill(64)(0f)),                 // zero vector: cosine 0 to all
      (3L, null.asInstanceOf[Array[Float]]),    // null embedding
      (1001L, Array.fill(64)(0.5001f))          // near-dup of 1
    ).toDF("vec_id", "embedding")
    val pairs = graft.operators.Dedup
      .embeddingDupPairsOn(e)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs == Set((1L, 1001L))) // degenerate rows degrade, never throw
  }

  test("hyperplane banding drops wrong-dimension vectors instead of co-bucketing them") {
    import spark.implicits._
    VectorFunctions.register(spark)
    // without the dim guard, every off-width vector dots to null -> sig 0 ->
    // all of them share every band bucket (candidate blowup); with it they
    // simply never band
    val e = Seq(
      (1L, Array.fill(64)(0.5f)),
      (1001L, Array.fill(64)(0.5001f)),
      (2L, Array.fill(32)(0.9f)), // identical 32-dim pair: dropped, not paired
      (3L, Array.fill(32)(0.9f))
    ).toDF("vec_id", "embedding")
    val pairs = graft.operators.Dedup
      .embeddingDupPairsOn(e)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs == Set((1L, 1001L)))
  }

  test("range search with a missing query id returns empty, not an error") {
    assert(graft.operators.Similarity.rangeSearch(spark, sf0001, queryId = -1L).collect().isEmpty)
  }

  test("stop-shingle cap leaves a no-hot-shingle corpus untouched") {
    import spark.implicits._
    val docs   = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val raw    = pairs(graft.operators.Dedup.shingles(docs))
    val capped = pairs(graft.operators.Dedup.cappedShingles(docs))
    assert(raw == capped && raw.nonEmpty)
  }

  test("corrupt blob in the folder: loud failure by default, explicit skip knob works") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_corrupt").toString
    Seq((1L, "fine"), (2L, "also fine")).toDF("id", "name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    // a garbage file alongside real parts — the failure mode a 100 TB
    // ingest WILL eventually produce (truncated upload, bitrot)
    Files.write(java.nio.file.Paths.get(s"$dir/t.parquet", "part-corrupt.parquet"),
      "this is not parquet".getBytes)
    // default: fail loudly — silent data loss is never the default
    intercept[Exception] { spark.read.parquet(s"$dir/t.parquet").count() }
    // operator-level override: skip and keep the readable parts
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try assert(spark.read.parquet(s"$dir/t.parquet").count() == 2L)
    finally spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
  }

  test("LayoutCache.contentKey tracks file content, not just the path") {
    val dir = Files.createTempDirectory("graft_key").toString
    val f   = java.nio.file.Paths.get(dir, "part-00000.parquet")
    Files.write(f, "version one".getBytes)
    val k1 = graft.sources.LayoutCache.contentKey(spark, dir, "t-v1")
    // unchanged listing -> deterministic key
    assert(graft.sources.LayoutCache.contentKey(spark, dir, "t-v1") == k1)
    // same file name, different bytes -> different key (length/mtime digest)
    Files.write(f, "version two, longer".getBytes)
    val k2 = graft.sources.LayoutCache.contentKey(spark, dir, "t-v1")
    assert(k2 != k1)
    // scheme tag is part of the key: same data, new scheme -> new key
    assert(graft.sources.LayoutCache.contentKey(spark, dir, "t-v2") != k2)
  }

  test("minhash index cache rebuilds when the corpus is regenerated in place") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stale").toString
    def writeDocs(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "an entirely different second document with other words")
    ))
    val p1 = graft.operators.Dedup.minhashIndexCache(spark, dir, 2L)
    assert(spark.read.parquet(s"$p1/docsets.parquet").count() == 2L)
    // unchanged source -> same layout, no rebuild
    assert(graft.operators.Dedup.minhashIndexCache(spark, dir, 2L) == p1)
    // regenerate UNDER THE SAME PATH: doc 1 now falls below shingle width,
    // so a correct (fresh) index holds 1 docset, a stale one 2
    writeDocs(Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "two words")
    ))
    val p2 = graft.operators.Dedup.minhashIndexCache(spark, dir, 2L)
    assert(p2 != p1, "regenerated corpus must not reuse the old index layout")
    assert(spark.read.parquet(s"$p2/docsets.parquet").count() == 1L)
  }

  test("queries on an empty events table return empty/zero, not errors") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_empty").toString
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(graft.operators.CoreQueries.q1TotalCount(spark, dir).head().getLong(0) == 0L)
    assert(graft.operators.CoreQueries.q5MaxBy(spark, dir).collect().isEmpty)
    val mm = graft.operators.CoreQueries.q4MinMax(spark, dir).head()
    assert(mm.isNullAt(0) && mm.isNullAt(1))
    // funnel over nothing is (0, 0, 0) — one row, not empty and not an error
    val f = graft.operators.Funnel.funnelStages(spark, dir).head()
    assert((f.getLong(0), f.getLong(1), f.getLong(2)) == ((0L, 0L, 0L)))
    assert(graft.streaming.EventStream.hoppingCountsBatch(spark, dir).collect().isEmpty)
  }

  test("every registered query degrades on an ALL-empty dataset — throws are an explicit, documented set") {
    val dir = Files.createTempDirectory("graft_allempty").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach { t =>
      spark.read
        .parquet(s"$sf0001/$t.parquet")
        .limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // Rows declaring `emptyInput = Throws(reason)` cannot produce their
    // derived layout from zero rows; every other row must degrade.
    val exempt = SparkEntry.registry.collect { case QuerySpec(n, _, _, _, QuerySpec.Throws(_)) => n }.toSet
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, dir).collect(); None }
      catch { case e: Throwable => Some(name -> e.toString.takeWhile(_ != '\n')) }
    }
    val unexpected = failures.filterNot { case (n, _) => exempt(n) }
    assert(unexpected.isEmpty, s"unexpected empty-input failures: $unexpected")
    // the exemptions must not go stale: every exempted op still throws
    // here, or it has learned to degrade and its row must say so
    val stale = exempt -- failures.map(_._1).toSet
    assert(stale.isEmpty, s"exempted ops that no longer fail on empty input: $stale")
  }

  test("every registered query degrades on a dataset with null/empty/short cells") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dir = Files.createTempDirectory("graft_messyfull").toString
    // full sf0.001 dataset, with hostile rows APPENDED to the mutable
    // tables: documents gain null/empty/short text, events gain null
    // props/value. Appending (not replacing) keeps every operator's normal
    // path exercised beside the hostile rows.
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "embeddings")
      .foreach { t =>
        spark.read.parquet(s"$sf0001/$t.parquet").write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    graft.sources.Tables
      .documents(spark, sf0001)
      .unionByName(
        Seq(
          (900001L, null.asInstanceOf[String], "en", "web", 0L),
          (900002L, "", "en", "web", 0L),
          (900003L, "solo", "en", "web", 4L)
        ).toDF("doc_id", "text", "lang", "source", "n_chars")
      )
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ev = graft.sources.Tables.eventsRaw(spark, sf0001)
    ev.unionByName(
      ev.limit(2)
        .withColumn("event_id", col("event_id") + lit(900000L))
        .withColumn("props", lit(null).cast("string"))
        .withColumn("value", lit(null).cast("double"))
    ).write.mode("overwrite").parquet(s"$dir/events.parquet")
    // NO exemptions: with real rows present (hostile rows are appended,
    // not substituted), every operator — layout builders included — must
    // tolerate null/empty/short cells. The round-8 staleness audit showed
    // the old layout-op exemption set (p1, q23, s4, s6, s9) had gone
    // entirely stale; an empty set keeps it that way.
    //
    // The same sweep checks each row's `layouts` declaration against the
    // layout prefixes LayoutCache sees resolved. The forcers run first, on
    // the fresh copy, so each one's touched set includes the dependencies
    // its build pulls in; the queries then read warm layouts, so each
    // one's touched set is exactly what it reads.
    def attempt(name: String)(body: => Unit): (Option[(String, String)], Set[String]) = {
      val failure =
        try { body; None }
        catch { case e: Throwable => Some(name -> e.toString.takeWhile(_ != '\n')) }
      (failure, LayoutCache.drainTouchLog())
    }
    LayoutCache.drainTouchLog()
    val forced = Layouts.forcers(spark, dir).map { case (name, force) => name -> attempt(s"layout $name")(force()) }
    val swept  = SparkEntry.registry.sortBy(_.name).map(r => r -> attempt(r.name)(r.run(spark, dir).collect()))
    val failures = (forced ++ swept).flatMap(_._2._1)
    assert(failures.isEmpty, s"unexpected messy-input failures: $failures")
    val forcerReads = forced.map { case (name, (_, touched)) => name -> touched }.toMap
    val unknown = SparkEntry.registry.flatMap(r => r.layouts.filterNot(forcerReads.contains).map(r.name -> _))
    assert(unknown.isEmpty, s"declared layouts that are not Layouts.forcers names: $unknown")
    val uncovered = swept.flatMap { case (r, (_, reads)) =>
      val missing = reads -- r.layouts.flatMap(forcerReads)
      if (missing.isEmpty) None else Some(r.name -> missing)
    }
    assert(uncovered.isEmpty, s"layouts read but covered by no declared forcer: $uncovered")
    val stale = swept.flatMap { case (r, (_, reads)) =>
      r.layouts.filter(f => (forcerReads(f) & reads).isEmpty).map(r.name -> _)
    }
    assert(stale.isEmpty, s"declared forcers the query does not read: $stale")
    val undeclared = forcerReads.keySet -- SparkEntry.registry.flatMap(_.layouts)
    assert(undeclared.isEmpty, s"forcers no row declares: $undeclared")
  }

  test("config-driven Runner: properties file selects data dir + queries, results land as parquet") {
    val out = Files.createTempDirectory("graft_runout").toString
    val cfg = Files.createTempDirectory("graft_cfg").resolve("run.conf")
    java.nio.file.Files.writeString(
      cfg,
      s"data.dir = $sf0001\nqueries = q1_total_count, q7_distinct\noutput.dir = $out\n"
    )
    val c = Runner.loadConfig(cfg.toString)
    assert(c == Runner.RunConfig(sf0001, Seq("q1_total_count", "q7_distinct"), Some(out)))
    assert(Runner.run(spark, c.dataDir, c.queries, c.outputDir) == 0)
    val q1 = spark.read.parquet(s"$out/q1_total_count.parquet").collect()
    assert(q1.length == 1 && q1.head.getLong(0) == 1000L)
    assert(spark.read.parquet(s"$out/q7_distinct.parquet").count() == 5L)
    // config hygiene: a missing data.dir and a typo'd key are loud errors,
    // never a silent run-everything
    val bad = cfg.getParent.resolve("bad.conf")
    java.nio.file.Files.writeString(bad, "queries = q1_total_count\n")
    intercept[IllegalArgumentException](Runner.loadConfig(bad.toString))
    val typo = cfg.getParent.resolve("typo.conf")
    java.nio.file.Files.writeString(typo, s"data.dir = $sf0001\nquries = q1_total_count\n")
    intercept[IllegalArgumentException](Runner.loadConfig(typo.toString))
    // unknown query NAMES report a nonzero count instead of throwing
    assert(Runner.run(spark, sf0001, Seq("no_such_query"), None) == 1)
  }

  test("schema evolution: a widened blob in the folder reads under mergeSchema with nulls backfilled") {
    // lakehouse reality: new ingest adds a column; old blobs don't have it.
    // Default read resolves the union ONLY with mergeSchema (otherwise the
    // schema is whichever file wins the listing race — pin the knob).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/t.parquet")
    // the evolved ingest APPENDS a widened blob into the same folder
    Seq((3L, "c", 99L)).toDF("id", "v", "extra").coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t.parquet")
    assert(merged.columns.sorted.toSeq == Seq("extra", "id", "v"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows.take(2).forall(_.isNullAt(rows.head.fieldIndex("extra"))), "old rows backfill null")
    assert(rows(2).getLong(rows(2).fieldIndex("extra")) == 99L)
    // queries over the evolved folder keep answering: count + filter on the
    // shared column, and a filter on the NEW column prunes old-file rows
    assert(merged.where($"v" === "b").count() == 1L)
    assert(merged.where($"extra".isNotNull).count() == 1L)
  }
}
