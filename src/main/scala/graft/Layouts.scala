package graft

import graft.operators.{Bpe, Dedup, Multimodal, Prep, Similarity, TextAnalysis}
import graft.sources.{BucketedFacts, LayoutCache}
import org.apache.spark.sql.SparkSession

/** The registry of ingest-time derived layouts — every content-fingerprinted
  * artifact the query registry reads ([[graft.sources.LayoutCache]] caches:
  * MinHash signatures/pairs/clusters, embedding pair tables, IVF and int8
  * vector copies, the BPE merge table, the day-partitioned events copy, and
  * the bucketed fact/event tables).
  *
  * [[buildAll]] exists for one reason: a benchmark (or a fresh deployment)
  * must be able to force its layouts in an EXPLICIT, separately-timed phase
  * instead of paying builds invisibly inside whichever query happens to run
  * first — the reference's cold/warm split (`QueryOrchestration.cs:425-439`)
  * applied at the layout level. Each forcer calls the same operator entry
  * points the queries use, at the session's knob operating points, so the
  * cache keys are identical to what the query phase will look up. Each
  * [[QuerySpec]] names the forcers whose layouts it reads, so a run over
  * some of the registry forces only those.
  */
object Layouts {

  final case class LayoutReport(
      name: String,
      built: Boolean,
      buildSecs: Double,       // seconds inside build closures (0 when reused)
      artifacts: Seq[String]   // layout dir/table names actually built
  )

  /** Forcing actions, one per layout family. Constructing the DataFrame is
    * enough — [[LayoutCache.getOrBuild]] writes eagerly — but cheap actions
    * (a `head()` for a batch boundary) are part of some entry points.
    */
  private[graft] def forcers(spark: SparkSession, dir: String): Seq[(String, () => Unit)] = Seq(
    "minhash_signatures" -> (() => { Dedup.minhashArtifactsCached(spark, dir); () }),
    "minhash_pairs"      -> (() => { Dedup.minhashLshPairs(spark, dir); () }),
    "minhash_batch_index" -> (() => { Dedup.incrementalNearDupPairs(spark, dir); () }),
    "simhash_pairs"      -> (() => { Dedup.simhashPairs(spark, dir); () }),
    "simhash_pairs_planted" -> (() => { Dedup.simhashPairsPlanted(spark, dir); () }),
    "dup_clusters"       -> (() => { Dedup.dupClusters(spark, dir); () }),
    "dup_clusters_incr"  -> (() => { Dedup.incrementalDupClusters(spark, dir); () }),
    "embedding_pairs"    -> (() => { Dedup.embeddingDupPairs(spark, dir); () }),
    "embedding_pairs_planted" -> (() => { Dedup.embeddingDupPairsPlanted(spark, dir); () }),
    "ivf_vectors"        -> (() => { Similarity.annIvfPartitioned(spark, dir); () }),
    "ivf_incremental"    -> (() => { Similarity.annIvfIncremental(spark, dir); () }),
    "ivf_compacted"      -> (() => { Similarity.annIvfCompactedPlanted(spark, dir); () }),
    "ivf_planted"        -> (() => { Similarity.annIvfFilteredPlanted(spark, dir); () }),
    "ivf_planted_delta"  -> (() => { Similarity.annIvfIncrementalPlanted(spark, dir); () }),
    "ivf_bitext_planted" -> (() => { Similarity.bitextMarginPairsIvfPlanted(spark, dir); () }),
    "sq8_vectors"        -> (() => { Similarity.annQuantized(spark, dir); () }),
    "pq_vectors"         -> (() => { Similarity.annPq(spark, dir); () }),
    "pq_planted"         -> (() => { Similarity.annPqPlanted(spark, dir); () }),
    "knn_graph"          -> (() => { Similarity.knnGraphLayoutCache(spark, dir, 3); () }),
    "knn_clusters"       -> (() => { Similarity.mutualKnnClusters(spark, dir); () }),
    "knn_tombstoned"     -> (() => { Similarity.knnTombstonedLayoutCache(spark, dir, 3); () }),
    "span_artifacts"     -> (() => { Dedup.spanArtifacts(spark, dir); () }),
    "lss_table"          -> (() => { Dedup.longestSharedSubstring(spark, dir); () }),
    "lss_tombstoned"     -> (() => { Dedup.longestSharedSubstringTombstoned(spark, dir); () }),
    "image_hash_ledger"  -> (() => { Multimodal.imageDhashLedger(spark, dir); () }),
    "audio_hash_ledger"  -> (() => { Multimodal.audioHashLedger(spark, dir); () }),
    "video_hash_ledger"  -> (() => { Multimodal.videoHashLedger(spark, dir); () }),
    "gram_census"        -> (() => { Dedup.gramCensusCached(spark, dir, 2, 7, 3); () }),
    "bpe_merges"         -> (() => { Bpe.bpeMerges(spark, dir); () }),
    "bpe_incremental"    -> (() => { Bpe.bpeMergesIncremental(spark, dir); () }),
    "text_postings"      -> (() => { TextAnalysis.postingsLayoutCache(spark, dir); () }),
    "text_positions"     -> (() => { TextAnalysis.positionsLayoutCache(spark, dir); () }),
    "text_trigrams"      -> (() => { TextAnalysis.trigramLayoutCache(spark, dir); () }),
    "trigram_incremental" -> (() => { TextAnalysis.substringSearchIncremental(spark, dir); () }),
    "lm_scores"          -> (() => { TextAnalysis.lmScoreLayoutCache(spark, dir); () }),
    "postings_incremental" -> (() => { TextAnalysis.bm25RankIncremental(spark, dir); () }),
    "postings_compacted" -> (() => { TextAnalysis.postingsCompactedLayoutCache(spark, dir); () }),
    "media_catalog_base" -> (() => { Multimodal.mediaDemuxIncremental(spark, dir); () }),
    "events_by_day"      -> (() => { Prep.dayPartitionedEventsCache(spark, dir); () }),
    "events_zorder"      -> (() => { Prep.zorderEventsCache(spark, dir); () }),
    "events_bloom_manifest" -> (() => { graft.sources.BloomManifest.eventsManifestCache(spark, dir); () }),
    "bucketed_facts"     -> (() => { BucketedFacts.lineitemOrders(spark, dir); () }),
    "bucketed_events"    -> (() => { BucketedFacts.eventsByUser(spark, dir); () })
  )

  /** Run the forcers named in `names` for `dir` (every forcer, for a full
    * registry run), attributing [[LayoutCache]] build events to the forcer
    * that triggered them. A reused layout reports `built = false,
    * buildSecs = 0`.
    *
    * Forcers run CONCURRENTLY on a small fixed pool
    * (`graft.layout.build.parallelism`, default 6; 1 = the old sequential
    * path): the families are independent Spark jobs (image/audio/video
    * ledgers, postings vs IVF vs bucketed tables), and a serial build
    * leaves the cluster idle during every small build's planning and tail
    * (guide §2.6 — overlap independent jobs so the next job back-fills the
    * current one's stragglers). Cross-family dependencies (lss_table →
    * span_artifacts, ivf_delta → ivf_base, ...) need no ordering here:
    * every entry point pulls its dependencies through
    * [[LayoutCache.getOrBuild]], whose per-path in-JVM lock makes the
    * loser of a race wait and reuse instead of double-building. Artifact
    * bytes and cache keys are identical to the sequential build.
    *
    * Attribution is thread-keyed ([[LayoutCache.threadBuildEvents]]): each
    * forcer's thread collects the builds IT performed (including
    * transitive dependencies it won the race for). Job descriptions are
    * thread-local in Spark, so the UI labels stay per-forcer.
    */
  def buildAll(spark: SparkSession, dir: String, names: Set[String]): Seq[LayoutReport] = {
    val par = math.max(1, graft.GraftConf.int(spark, "layout.build.parallelism", 6))
    val fcs = forcers(spark, dir).filter { case (name, _) => names(name) }
    if (par == 1) {
      LayoutCache.drainBuildLog() // start attribution from a clean slate
      fcs.map { case (name, force) =>
        force()
        val events = LayoutCache.drainBuildLog()
        LayoutReport(name, events.nonEmpty, events.map(_._2).sum, events.map(_._1))
      }
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        val tasks = fcs.map { case (name, force) =>
          pool.submit(new java.util.concurrent.Callable[LayoutReport] {
            override def call(): LayoutReport = {
              val events = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
              LayoutCache.threadBuildEvents.set(events)
              spark.sparkContext.setJobDescription(s"layout: $name")
              try force()
              finally {
                spark.sparkContext.setJobDescription(null)
                LayoutCache.threadBuildEvents.remove()
              }
              LayoutReport(name, events.nonEmpty, events.map(_._2).sum, events.map(_._1).toSeq)
            }
          })
        }
        // Collect EVERY forcer's outcome before failing (ADVICE r21): a
        // bare `.get()` chain threw on the first failure while the rest
        // kept running, losing their reports and attribution. The timeout
        // is a hang backstop, not a pacing knob — a wedged forcer must
        // surface as an error, not block the bench forever.
        val outcomes = tasks.zip(fcs.map(_._1)).map { case (t, name) =>
          name -> scala.util.Try(t.get(30, java.util.concurrent.TimeUnit.MINUTES))
        }
        LayoutCache.drainBuildLog() // events are attributed above; keep late_builds clean
        val failures = outcomes.collect { case (name, scala.util.Failure(e)) => (name, e) }
        if (failures.nonEmpty) {
          pool.shutdownNow()
          failures.foreach { case (name, e) =>
            System.err.println(s"[layouts] forcer $name failed: $e")
          }
          val (firstName, firstErr) = failures.head
          throw new RuntimeException(
            s"layout build failed for ${failures.map(_._1).mkString(", ")} " +
              s"(first: $firstName)",
            firstErr
          )
        }
        outcomes.map(_._2.get)
      } finally pool.shutdown()
    }
  }
}
