package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-call library entry point: everything a user needs to query a corpus
  * root through either API.
  *
  * {{{
  * val spark = GraftSession.open(SparkSession.builder().getOrCreate(),
  *                               "/data/corpus")
  * spark.sql("""SELECT d.doc_id, cosine_sim(e.embedding, e.embedding) AS s
  *              FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""")
  * graft.engine.LlmOps.dedupExact.build(spark, "/data/corpus")   // Column API
  * }}}
  *
  * `open` is idempotent and safe on a session the caller built with its own
  * confs: it only (1) applies the runtime-settable corpus confs
  * ([[graft.engine.Tables.prepare]] — UTC session time, the events
  * timestamp-encoding read shims), (2) registers every corpus table as a
  * temp view, and
  * (3) installs the codegen'd vector SQL functions. Sessions built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` already have the
  * functions; re-registering is a no-op.
  */
object GraftSession {
  def open(spark: SparkSession, dir: String): SparkSession = {
    engine.Tables.prepare(spark)
    engine.SqlOps.registerViews(spark, dir)
    functions.GraftFunctions.register(spark)
    spark
  }

  /** [[open]] plus the STANDING STORES as SQL-queryable views — the
    * interactive analog of a log-search engine's query API: an ad-hoc
    * `spark.sql` user answers a conjunctive search, a BM25 input scan, a
    * range quantile, a prefix completion, a near-dup decision, or an ANN
    * shortlist from the persisted indexes, with ZERO corpus scans in the
    * query plan (GraftSessionSpec pins the flagship plans; the registered
    * `log_sql_search_served` / `log_sql_sketch_served` queries put the
    * surface under the driver's DuckDB hash gate, and
    * `llm_sql_ann_served` is pinned row-identical to the programmatic
    * ADC shortlist).
    *
    * Stores build lazily on the FIRST open per corpus fingerprint (the
    * [[graft.sources.Stores]] build-once registry); every later open —
    * including a fresh session over the same unchanged corpus — attaches
    * the standing files without reading a corpus byte. Views registered:
    *
    *  - `graft_postings` (tok, doc_id, pos, tok_bucket) — positional
    *    postings, `tok_bucket`-partitioned, committed streaming segments
    *    unioned in. Prune with
    *    `tok_bucket IN (pmod(hash('<term>'), <buckets>))` — constant-folds
    *    into the scan's PartitionFilters; `<buckets>` from
    *    `graft_search_meta`.
    *  - `graft_docstats` (doc_id, dl, lang, source) — per-doc index-time
    *    metadata: BM25 length normalizer + facet dimensions.
    *  - `graft_search_meta` (n_docs, avgdl, buckets) — one-row corpus
    *    stats + the store's bucket modulus.
    *  - `graft_store_health` (current_gen, gen_seq, folded_through,
    *    visible_segments, retired_generations_on_disk, gen_retention,
    *    n_docs) — one-row operational snapshot of the posting store's
    *    [[sources.StoreLog]]: the current version's directory name and id,
    *    its fold watermark, the committed segments above it, the other
    *    version directories still on disk, and the retention window; alarm
    *    when `gen_seq` advances ≥ `gen_retention` within a probe's
    *    lifetime.
    *  - `graft_term_dict` (tok, df, cf) — vocabulary with document /
    *    collection frequencies, LSM base + delta merged at view time.
    *  - `graft_latency_sketch` (event_type, bucket, n, day) — DDSketch
    *    log-γ bucket counts, day-partitioned; a date predicate on `day`
    *    prunes whole directories.
    *  - `graft_daily_rollup` (event_type, n, sum_value, day) — the
    *    materialized daily aggregate.
    *  - `graft_shingle_pairs` (id_a, id_b, jaccard) — the standing
    *    near-dup pair set.
    *  - `graft_pq_centroids` / `graft_pq_codebook` / `graft_pq_codes` —
    *    the IVF-PQ ANN index thirds (coarse cells for probe ranking +
    *    per-subspace codebook + the cell-partitioned encoded corpus).
    */
  def openStores(spark: SparkSession, dir: String,
                 refresh: Boolean = false): SparkSession = {
    // Register once per (session, corpus): the store views snapshot the
    // standing indexes at open time (exactly like the one-row
    // graft_search_meta always did), and re-resolving all nine stores on
    // every call costs ~1 s of driver-side registry checks that an
    // interactive session pays once. After out-of-band store maintenance
    // (a delta refresh, a compaction from another process), pass
    // `refresh = true` to re-register against the current state.
    //
    // Memoized in a WeakHashMap keyed by the SESSION OBJECT: identity
    // hashes are legal to reuse after a session is GC'd (a colliding new
    // session would silently get NO views registered), and weak keys make
    // the entry die with the session instead of leaking forever. The
    // memoized VALUE is the (corpus dir, store root) the views CURRENTLY
    // point at — the nine graft_* names are one session-global namespace,
    // so only the most recent registration is live: opening a different
    // corpus (or changing spark.graft.storeRoot) re-registers rather than
    // early-returning against stale views. The value is recorded only
    // AFTER every view registers — a registration that throws partway is
    // retried on the next call, never memoized as done.
    val target = (dir, sources.Stores.storeRootBase(spark))
    if (!refresh && openedStores.synchronized {
          openedStores.get(spark) == target
        }) return spark
    open(spark, dir)
    val post = sources.Stores.postingStore(spark, dir)
    sources.Sinks.storePostings(spark, post)
      .createOrReplaceTempView("graft_postings")
    sources.Sinks.storeDocstats(spark, post)
      .createOrReplaceTempView("graft_docstats")
    // one-row (n_docs, avgdl, buckets) snapshot combined from the meta rows
    // of the current version and the visible segments at open time
    sources.Sinks.storeMeta(spark, post)
      .createOrReplaceTempView("graft_search_meta")
    // operational one-row health view (version id, fold watermark,
    // retention window) — what a monitoring query alarms on; see
    // Sinks.storeHealth for the snapshot-age rule it makes checkable.
    // LIVE, not an open-time snapshot: the view wraps the DSv2
    // `graft.store_health` table, whose scan recomputes the row per query
    // (a frozen LocalRelation here would make "alarm when gen_seq
    // advances" unsatisfiable). The catalog conf must precede the
    // spark.table call; the target-store conf is re-pointed per open.
    spark.conf.set("spark.sql.catalog.graft",
      classOf[sources.GraftProcedureCatalog].getName)
    spark.conf.set("spark.graft.health.postings", post)
    spark.table("graft.store_health")
      .createOrReplaceTempView("graft_store_health")
    val td = sources.Stores.termDict(spark, dir)
    // the probeTermDict read half of the LSM discipline — ONE shared
    // merge definition, so view and programmatic probe can never diverge
    sources.Sinks.storeTermDict(spark, td)
      .createOrReplaceTempView("graft_term_dict")
    sources.Stores.readCached(spark, sources.Stores.latencySketch(spark, dir))
      .createOrReplaceTempView("graft_latency_sketch")
    sources.Stores.readCached(spark, sources.Stores.dailyRollup(spark, dir))
      .createOrReplaceTempView("graft_daily_rollup")
    sources.Stores.readCached(spark, sources.Stores.shinglePairs(spark, dir))
      .createOrReplaceTempView("graft_shingle_pairs")
    // the WRITE half of the SQL surface — DSv2 stored procedures under
    // the same `graft` catalog (CALL graft.refresh_postings(...) et al.,
    // wired above with the health table) — is now complete too: one
    // openStores call serves reads, health, and maintenance.
    val pq = sources.Stores.pqIndex(spark, dir)
    sources.Stores.readCached(spark, s"$pq/centroids")
      .createOrReplaceTempView("graft_pq_centroids")
    sources.Stores.readCached(spark, s"$pq/codebook")
      .createOrReplaceTempView("graft_pq_codebook")
    sources.Stores.readCached(spark, s"$pq/codes")
      .createOrReplaceTempView("graft_pq_codes")
    openedStores.synchronized {
      openedStores.put(spark, target): Unit
    }
    spark
  }

  /** session → the (corpus dir, store root) its store views currently
    * point at — see the note at the top of [[openStores]]. Weak keys: an
    * entry dies with its session, and a fresh session can never collide
    * with a dead one.
    */
  private val openedStores =
    new java.util.WeakHashMap[SparkSession, (String, String)]()
}
