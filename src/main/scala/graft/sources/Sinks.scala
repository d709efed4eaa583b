package graft.sources

import graft.engine.Words
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parquet sink layouts (SURVEY.md §2.1 S5) — the write side of the 100 TB
  * storage contract in SCALE.md §1. Queries never encode layout; these
  * writers produce the layouts the scale design assumes, and
  * StorageLayoutSpec proves each one delivers its plan shape (partition
  * pruning / shuffle-free joins) by reading them back.
  */
object Sinks {

  /** Date-partitioned log sink: `path/day=YYYY-MM-DD/...` from the event-time
    * column, so time-range queries prune whole directories before any IO.
    *
    * The pre-write shuffle is the small-files control: without it every task
    * writes a sliver of every day (tasks × days files); repartitioning on
    * (day, salt) bounds output to `filesPerDay` sized files per day while
    * still spreading one hot day over that many writers. `maxRecordsPerFile`
    * is the belt-and-braces cap under row-size skew.
    */
  def writeEventsByDay(events: DataFrame, path: String,
                       filesPerDay: Int = 1,
                       maxRecordsPerFile: Long = 5_000_000L): Unit = {
    val withDay = events.withColumn("day", to_date(col("ts")))
    withDay
      .repartition(col("day"), pmod(hash(col("event_id")), lit(filesPerDay)))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("compression", "zstd")
      .partitionBy("day")
      .parquet(path)
  }

  /** Bucketed + sorted fact sink: co-locates rows by join key so fact-fact
    * joins and key-grouped aggregations run with zero exchanges (proved by
    * StorageLayoutSpec). Bucketed writes go through the catalog — parquet
    * alone has nowhere to record bucket metadata — hence the table name.
    * At 100 TB the bucket count is chosen so each bucket file stays in the
    * hundreds of MB (e.g. 4096 for a 1 TB fact).
    */
  def writeBucketedFact(df: DataFrame, table: String, path: String,
                        key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .option("compression", "zstd")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path)
      .saveAsTable(table)

  /** Plain sized-parquet sink for dimension/corpus tables: exactly
    * `numFiles` output files (a dimension stays one broadcastable file; a
    * corpus gets files sized for `maxPartitionBytes`-friendly scans).
    */
  def writeSized(df: DataFrame, path: String, numFiles: Int): Unit =
    df.repartition(numFiles).write.mode("overwrite")
      .option("compression", "zstd").parquet(path)

  /** IVF-PQ ANN index sink: the trained coarse centroids + per-subspace
    * codebook (both metadata-sized, one broadcastable file each) + the
    * encoded corpus code table — the 32×-compressed codes, replicated
    * under each vector's pqAssign coarse cells and PARTITIONED BY CELL so
    * a query's literal probe-cell IN-list prunes the scan to its
    * nprobe-of-pqCells partitions (the inverted-file structure; without
    * it every query batch scans the whole compressed corpus). This is the
    * production lifecycle the registered `llm_ann_ivfpq` query compresses
    * into one plan: build ONCE, persist, and serve every query batch from
    * the persisted index — LlmOpsSpec proves the parquet round-trip is
    * search-equivalent.
    */
  def writePqIndex(centroids: DataFrame, codebook: DataFrame,
                   codes: DataFrame, path: String): Unit = {
    writeSized(centroids, s"$path/centroids", 1)
    writeSized(codebook, s"$path/codebook", 1)
    codes
      .repartition(col("cell"))
      .write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy("cell")
      .parquet(s"$path/codes")
  }

  /** Incremental refresh of a [[writePqIndex]] store for an APPEND batch
    * of new vectors: the batch is encoded against the STANDING codebook
    * (read from the store — refresh never retrains; codebook drift is a
    * scheduled-rebuild concern) and its code rows APPEND into the code
    * table. The standing code files are never read or rewritten, so
    * refresh cost tracks the batch. Because encoding is a deterministic
    * pure function of (vector, codebook), the refreshed store is
    * row-identical to re-encoding the whole corpus with that codebook —
    * StorageLayoutSpec proves it, plus the append-only file contract.
    *
    * Replay-safe: the batch is anti-joined against the standing code
    * table's vec_ids before appending, so a re-delivered (or overlapping)
    * batch appends only its genuinely-new vectors instead of silently
    * duplicating code rows. The guard reads ONE int column of the standing
    * codes — the 32×-compressed index, not the vector corpus. Note the
    * guard's real cost: Spark can only broadcast the BUILD (right) side of
    * a LEFT ANTI join, which here is the standing vec_id set — broadcast
    * while it fits the threshold, a shuffled anti-join past it. Either
    * way the scan is of the compressed index's one int column, never the
    * 100 TB of raw vectors.
    */
  def refreshPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     newVectors: DataFrame): Unit = {
    val cb = spark.read.parquet(s"$path/codebook")
    val cents = graft.engine.LlmOps.centsOf(spark.read.parquet(s"$path/centroids"))
    val standing = spark.read.parquet(s"$path/codes").select("vec_id").distinct()
    val fresh = newVectors.join(standing, Seq("vec_id"), "left_anti")
    // cells come from the STANDING centroids (frozen, like the codebook —
    // coarse drift is the same scheduled-rebuild concern), so the batch's
    // code rows land in the same cell partitions a full rebuild would put
    // them in; the append writes only the touched cell directories
    graft.engine.LlmOps.pqEncodeWithCells(fresh, cb, cents)
      .repartition(col("cell"))
      .write.mode("append")
      .option("compression", "zstd")
      .partitionBy("cell")
      .parquet(s"$path/codes")
  }

  /** Incremental refresh of the standing shingle-Jaccard PAIR store
    * ([[graft.sources.Stores.shinglePairs]]) for an APPEND batch of new
    * documents: the batch's new pairs — batch×existing cross pairs plus
    * batch-internal pairs, computed by
    * [[graft.engine.LlmOps.shinglePairsDelta]] — APPEND as new files; the
    * standing pair files are never read for rewriting, so refresh cost
    * tracks the batch (one linear shingling pass over the existing corpus
    * plus a batch-bounded join), never the quadratic pair expansion the
    * store exists to amortize.
    *
    * Replay-safe: the delta is anti-joined against the standing pair KEYS
    * (metadata-sized — the pair set, not the corpus) before appending, so
    * a re-delivered batch appends nothing. A genuinely new batch cannot
    * lose rows to the guard: every delta pair involves at least one batch
    * doc, and standing pairs only relate pre-batch docs.
    *
    * Exactness contract (spec-proved on the fixture split): standing ∪
    * delta ≡ full rebuild whenever the df-cap keep-set is stable across
    * the append — a cap-boundary crossing changes pairs among EXISTING
    * docs, which no append-only refresh can express; that is the
    * scheduled-rebuild case, like [[refreshPqIndex]]'s frozen codebook.
    */
  def refreshShinglePairs(spark: org.apache.spark.sql.SparkSession, path: String,
                          existingDocs: DataFrame, newDocs: DataFrame): Unit = {
    val standing = spark.read.parquet(path).select("id_a", "id_b")
    graft.engine.LlmOps.shinglePairsDelta(existingDocs, newDocs)
      .join(standing, Seq("id_a", "id_b"), "left_anti")
      .repartition(1)
      .write.mode("append")
      .option("compression", "zstd")
      .parquet(path)
  }

  /** [[refreshShinglePairs]] served from the STANDING doc-side shingle
    * index instead of an existing-docs relation — the streaming pair
    * sink's per-batch step ([[graft.streaming.Streaming
    * .shinglePairsIngestBatch]] assembles the component frames). Same
    * guard (standing-key anti-join), same append-only contract, same
    * df-cap stability caveat; what changes is the delta's cost shape:
    * shard-pruned posting scans instead of a corpus re-shingle
    * ([[graft.engine.LlmOps.shinglePairsDeltaSharded]]).
    */
  def refreshShinglePairsSharded(spark: org.apache.spark.sql.SparkSession,
                                 path: String, existPostings: DataFrame,
                                 existByDoc: DataFrame, existCensus: DataFrame,
                                 newDocs: DataFrame,
                                 nShards: Int = graft.engine.LlmOps.shingleShards): Unit = {
    val standing = spark.read.parquet(path).select("id_a", "id_b")
    graft.engine.LlmOps
      .shinglePairsDeltaSharded(existPostings, existByDoc, existCensus, newDocs,
        nShards)
      .join(standing, Seq("id_a", "id_b"), "left_anti")
      .repartition(1)
      .write.mode("append")
      .option("compression", "zstd")
      .parquet(path)
  }

  /** Range-clustered event layout + FILE-LEVEL ZONE MAP: rewrites the log
    * with `repartitionByRange(ts)` + an in-file sort, so each output file
    * covers one narrow disjoint time span, then records per-file
    * (min_ts, max_ts, n) in a metadata-sized sidecar. A time-range query
    * consults the sidecar and opens ONLY the covering files — the same
    * data-skipping idea as parquet row-group stats, lifted to the file
    * level where it also saves the listing/footer-read of every skipped
    * file. Complements [[writeEventsByDay]]: day partitioning prunes by
    * directory at day granularity; the zone map prunes at file
    * granularity (sub-day spans, and no directory-per-day explosion when
    * history runs to years). At 100 TB the sidecar stays tiny: one row
    * per file, ~10⁵ rows for 100 TB of 1 GB files.
    */
  def writeRangeClustered(events: DataFrame, path: String, files: Int = 32): Unit = {
    events
      .repartitionByRange(files, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(s"$path/data")
    // zone map AFTER the data write, from the files as written — min/max
    // per file; its _SUCCESS is the store's completion marker
    events.sparkSession.read.parquet(s"$path/data")
      .groupBy(input_file_name().as("file"))
      .agg(min("ts").as("min_ts"), max("ts").as("max_ts"), count(lit(1)).as("n"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/zonemap")
  }

  /** Time-range probe of a [[writeRangeClustered]] store: resolves the
    * covering files from the zone map (a metadata-sized read — one row
    * per file), opens only those, and applies the exact predicate to the
    * survivors (zone spans are file-level; the residual filter still
    * pushes down to row groups inside each opened file).
    */
  def zonemapScan(spark: org.apache.spark.sql.SparkSession, path: String,
                  lo: String, hi: String): DataFrame = {
    val loTs = to_timestamp(lit(lo))
    val hiTs = to_timestamp(lit(hi))
    val files = Stores.readCached(spark, s"$path/zonemap")
      .filter(col("max_ts") >= loTs && col("min_ts") < hiTs)
      .select("file")
      .collect().map(_.getString(0)) // one row per COVERING file — metadata
    val base =
      if (files.isEmpty) spark.read.parquet(s"$path/data").limit(0)
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.filter(col("ts") >= loTs && col("ts") < hiTs)
  }

  /** Materialized daily rollup: the standing (day, event_type) → (n,
    * sum_value) aggregate behind `log_rollup_served`. Day-partitioned so
    * (a) report queries over a date range prune whole directories and
    * (b) [[refreshDailyRollup]] can fold an append batch in by
    * overwriting ONLY the touched day partitions. Partial sums are stored
    * at full double precision — rounding is the REPORT's job; rounding
    * partials would compound error across refreshes.
    *
    * At 100 TB this is the materialized-view contract: the raw log is
    * scanned once per ingest batch, and every dashboard query reads the
    * metadata-sized rollup instead of the corpus.
    */
  def writeDailyRollup(events: DataFrame, path: String): Unit =
    events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .repartition(col("day"))
      .write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy("day")
      .parquet(path)

  /** Incremental refresh of a [[writeDailyRollup]] store for an APPEND
    * batch: aggregates the batch, merges it with the standing partials of
    * only the touched days (sum of sums / sum of counts — the rollup's
    * aggregates are all decomposable), and dynamically overwrites just
    * those day partitions. Untouched days are never read or rewritten, so
    * refresh cost tracks the batch size, not corpus size. Exactly-once is
    * the CALLER's obligation: partials are additive, so a re-delivered
    * batch double-counts — the replay-safe ingest path is an MVCC
    * foreachBatch sink (see
    * [[graft.streaming.Streaming.startKeyedUpsertSink]]'s versioning).
    */
  def refreshDailyRollup(spark: org.apache.spark.sql.SparkSession,
                         path: String, newEvents: DataFrame): Unit =
    mergeTouchedDays(spark, path, newEvents
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value")),
      Seq("day", "event_type"), Seq("n", "sum_value"))

  /** The touched-days merge behind [[refreshDailyRollup]] and
    * [[refreshLatencySketches]]: union the aggregated `batch` with the
    * standing rows of only the days it touches, re-sum `sums` per `keys`
    * (which lead with `day`), and dynamically overwrite just those day
    * partitions of `path`.
    */
  private def mergeTouchedDays(spark: org.apache.spark.sql.SparkSession,
                               path: String, batch: DataFrame,
                               keys: Seq[String], sums: Seq[String]): Unit = {
    // touched days only: metadata-sized (≤ days in the batch)
    val days = batch.select("day").distinct().collect().map(_.getDate(0))
    val standing = spark.read.parquet(path)
      .filter(col("day").isin(days: _*))
      .select((keys ++ sums).map(col): _*)
    val summed = sums.map(c => sum(c).as(c))
    standing.unionByName(batch)
      .groupBy(keys.map(col): _*)
      .agg(summed.head, summed.tail: _*)
      .repartition(col("day"))
      // materialize BEFORE the write: the merged rows read from the same
      // path the write overwrites, and Spark (rightly) refuses a plan that
      // scans its own output. The materialized state is touched-days ×
      // keys rows — metadata-sized.
      .localCheckpoint()
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .partitionBy("day")
      .parquet(path)
  }

  /** Positional term rows `(doc_id, pos, tok)` of `docs`, pos 0-based:
    * what the store's postings hold, and the raw-scan twin of a pruned
    * posting read ([[graft.engine.Search.positions]]).
    */
  private[graft] def positionRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(Words.tokens).as(Seq("pos", "tok")))

  // The posting store is a [[StoreLog]] (`gen-*` versions, `seg/b=*`
  // segments; the module doc states the protocol) whose versions and
  // segments share one inner layout: `postings/` (tok_bucket-partitioned),
  // `docstats/` (per-doc side table) and `meta/` (one row: n_docs, sum_dl,
  // buckets). A probe unions the same components over every directory of
  // its snapshot.
  private[graft] def postingLog(path: String): StoreLog =
    new StoreLog(path, Some(s"$path/seg"))

  /** One consistent read-side snapshot of a posting store: the log
    * snapshot and its combined stats. Every probe resolves exactly one
    * and plans against its immutable directories.
    */
  private case class PostingsView(snap: StoreLog.Snapshot, buckets: Int,
                                  nDocs: Long, sumDl: Long) {
    def postingRoots: Seq[String] = snap.dirs.map(d => s"$d/postings")
    def docstatRoots: Seq[String] = snap.dirs.map(d => s"$d/docstats")
  }

  // A committed directory's meta row is immutable — version names are
  // unique, and a segment replay evicts its entry while its marker is down
  // — so the stats are memoizable for the life of the JVM. Without this
  // every probe pays 1 + |segments| driver-side parquet-read JOBS just to
  // resolve (buckets, stats); with it, a snapshot costs directory listings
  // and one marker read after first touch. Entries leave with their
  // directories' GC ([[forget]]), so an indefinitely-compacting stream
  // does not grow the map.
  private val metaCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long, Int)]

  private def forget(dirs: Seq[String]): Unit =
    dirs.foreach(d => metaCache.remove(Fs.qualify(d)): Unit)

  private def postingsView(spark: org.apache.spark.sql.SparkSession,
                           path: String, defaultBuckets: Int = 64): PostingsView = {
    val snap = postingLog(path).snapshot
    val stats = snap.dirs.map(d => metaCache.getOrElseUpdate(Fs.qualify(d), {
      // a v6 segment holds its row in `segmeta` (see StoreLog's v6 note)
      if (Fs.exists(s"$d/segmeta")) throw new IllegalStateException(s"$path is a " +
        "posting store in the v6 layout, which this version does not read; " +
        "rebuild the store into an empty path")
      val r = spark.read.parquet(s"$d/meta").select("n_docs", "sum_dl", "buckets").head()
      (r.getLong(0), r.getLong(1), r.getInt(2))
    }))
    PostingsView(snap, stats.headOption.fold(defaultBuckets)(_._3),
      stats.map(_._1).sum, stats.map(_._2).sum)
  }

  /** Index `docs` into `dir`: postings partitioned by `tok_bucket =
    * pmod(hash(tok), buckets)`, the per-doc side table in `docstatFiles`
    * files, then the meta row — the one writer behind builds and
    * segments. Meta carries exact long (n_docs, sum_dl) from the
    * just-written docstats (never a second corpus pass) and the bucket
    * modulus, which is part of the store, not a caller convention: a
    * prober hashing into a different modulus would prune to the wrong
    * directories and silently miss.
    */
  private def indexDocs(docs: DataFrame, dir: String, buckets: Int,
                        docstatFiles: Int): Unit = {
    positionRows(docs)
      .withColumn("tok_bucket", pmod(hash(col("tok")), lit(buckets)))
      .repartition(col("tok_bucket"))
      .write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy("tok_bucket")
      .parquet(s"$dir/postings")
    // per-doc side table: the BM25 length normalizer PLUS the doc-level
    // facet dimensions (lang, source) — built in the same corpus pass
    // family at index time, so ranked queries AND facet rollups never
    // touch text: hits join this metadata-per-doc table, not the corpus
    writeSized(docs.select(col("doc_id"), size(Words.tokens).cast("long").as("dl"),
      col("lang"), col("source")), s"$dir/docstats", docstatFiles)
    writeMeta(docs.sparkSession, dir, buckets)
  }

  private def writeMeta(spark: org.apache.spark.sql.SparkSession, dir: String,
                        buckets: Int): Unit =
    writeSized(spark.read.parquet(s"$dir/docstats")
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .withColumn("buckets", lit(buckets)),
      s"$dir/meta", 1)

  /** Positional posting store: the persisted form of the inverted index
    * behind `log_inverted_search` / `log_phrase_search`. Postings
    * (tok, doc_id, pos) are laid out partitioned by `tok_bucket =
    * pmod(hash(tok), buckets)` so a term query prunes to the directories
    * its terms hash into — the corpus text is read ONCE at build time and
    * never again; every subsequent search touches |terms| buckets of
    * posting rows. Bucket-by-hash (not by token) keeps directory count
    * bounded as the vocabulary grows Heaps-law-style at 100 TB; the
    * pre-write repartition is the same small-files control as
    * [[writeEventsByDay]]. A (re)build commits a new version that folds
    * through every standing segment: their docs must be part of `docs`
    * (the rebuild contract).
    */
  def writePostings(docs: DataFrame, path: String, buckets: Int = 64): Unit = {
    val log = postingLog(path)
    val folded = log.snapshot.nextSegment - 1
    forget(log.commitVersion(docs.sparkSession, log.newVersionDir(), folded)(
      indexDocs(docs, _, buckets, 8)))
  }

  /** One-row (n_docs, avgdl, buckets) corpus stats of a posting store —
    * the BM25 normalizers, combined from the meta rows of the current
    * version and the visible segments (all immutable, all metadata-sized).
    * This is the relation behind the SQL surface's `graft_search_meta`
    * view; the term-query core reads the same normalizers through
    * [[termRows]].
    */
  private[graft] def storeMeta(spark: org.apache.spark.sql.SparkSession,
                               path: String): DataFrame = {
    val v = postingsView(spark, path)
    require(v.nDocs > 0, s"posting store at $path is empty")
    import spark.implicits._
    Seq((v.nDocs, v.sumDl.toDouble / v.nDocs, v.buckets))
      .toDF("n_docs", "avgdl", "buckets")
  }

  /** One-row OPERATIONAL health snapshot of a posting store — the
    * monitoring face of the genRetention contract (`graft_store_health`
    * in [[graft.GraftSession.openStores]]). `gen_seq` is the current
    * version's id: a monitoring query records it per probe window and
    * alarms when it advances by ≥ `gen_retention` while a probe is still
    * in flight — that probe's snapshot is now outside the retention window
    * and its next read will fail with the clean FileNotFound contract
    * rather than a wrong answer. The safe-probe rule this view makes
    * checkable: max safe probe duration = (maintenance cadence) ×
    * gen_retention; raise `spark.graft.genRetention` until that product
    * covers the slowest analytical probe (README's deployment-knobs row
    * works the numbers).
    */
  private[graft] def storeHealth(spark: org.apache.spark.sql.SparkSession,
                                 path: String): DataFrame = {
    val v = postingsView(spark, path)
    val cur = v.snap.current
    val retiredOnDisk = postingLog(path).versionDirs.size - cur.size
    import spark.implicits._
    Seq((cur.fold("")(_.name), cur.fold(-1L)(_.id), v.snap.watermark,
        v.snap.segments.size.toLong, retiredOnDisk.toLong,
        StoreLog.retention(spark).toLong, v.nDocs))
      .toDF("current_gen", "gen_seq", "folded_through", "visible_segments",
        "retired_generations_on_disk", "gen_retention", "n_docs")
  }

  /** Incremental refresh of a [[writePostings]] store for an APPEND batch
    * of NEW documents: postings are additive in doc_id, so the batch
    * lands as one immutable committed SEGMENT at the next free segment id
    * via [[ingestPostingsSegment]] — the standing version is never read or
    * rewritten and refresh cost tracks the batch. The segment becomes
    * visible with its `_COMMIT` marker, so a probe racing the refresh
    * answers from the pre- or post-state, never a torn append
    * (StorageLayoutSpec's race test). StorageLayoutSpec also proves
    * refresh ≡ full rebuild for the conjunctive, ranked, and phrase
    * probes. Exactly-once is the CALLER's obligation (a re-delivered batch
    * lands a second segment with duplicate rows); batches must also hold
    * NEW doc_ids — both are the standard index-maintenance contract, and
    * the replay-safe ingest shape is the batchId-keyed
    * [[graft.streaming.Streaming.startPostingsSink]].
    */
  def refreshPostings(spark: org.apache.spark.sql.SparkSession, path: String,
                      newDocs: DataFrame): Unit =
    ingestPostingsSegment(spark, path, newDocs, postingLog(path).snapshot.nextSegment)

  /** Conjunctive-AND probe of a [[writePostings]] store: the doc_ids
    * matching ALL terms, read from the terms' pruned `tok_bucket`
    * directories only — the store source of the term-query core
    * ([[graft.engine.Search.matches]]). StorageLayoutSpec proves the
    * pruning AND that the answer equals the raw-scan `log_inverted_search`.
    */
  def probePostings(spark: org.apache.spark.sql.SparkSession, path: String,
                    terms: Seq[String]): DataFrame =
    graft.engine.Search.matches(graft.engine.Search.Store(spark, path),
      graft.engine.TermQuery(terms)).select("doc_id")

  /** BM25 top-`k` served ENTIRELY from a [[writePostings]] store — the
    * store source of [[graft.engine.Search.bm25]]: disjunctive (any-term)
    * semantics, score rounded to 4 dp with doc_id tiebreak; the corpus
    * text is never touched.
    */
  def probePostingsBm25(spark: org.apache.spark.sql.SparkSession, path: String,
                        terms: Seq[String], k: Int): DataFrame =
    graft.engine.Search.bm25(graft.engine.Search.Store(spark, path),
      graft.engine.TermQuery(Nil, should = terms), k)

  /** The query-time face of a posting store for the term-query core
    * ([[graft.engine.Search]]): positional rows `(doc_id, pos, tok)` of
    * `terms` (already normalized), with the docstats and the BM25
    * normalizers `(nDocs, avgdl)` — all from ONE resolved snapshot, or a
    * segment committing between two resolutions hands the query torn
    * normalizers (a df larger than N turns the BM25 idf negative — caught
    * by the isolation race spec).
    */
  private[graft] final case class TermRows(rows: DataFrame, docstats: () => DataFrame,
                                           nDocs: Long, avgdl: Double)

  /** [[TermRows]] of the store at `path`. The rows are pruned to the
    * terms' partitions: the bucket modulus comes from the store's own meta,
    * each term hashes with the writer's `hash`, and the filter on the
    * PARTITION column lands before the term filter. Committed streaming
    * segments ([[ingestPostingsSegment]]) union in, each pruned to the
    * same buckets (all segments share the store's modulus — it is read
    * from meta at ingest time).
    */
  private[graft] def termRows(spark: org.apache.spark.sql.SparkSession, path: String,
                              terms: Seq[String]): TermRows = {
    import spark.implicits._
    val v = postingsView(spark, path)
    val bucketIds = terms.toDF("t")
      .select(pmod(hash(col("t")), lit(v.buckets)).as("b"))
      .as[Int].collect().toSeq.distinct
    val roots = v.postingRoots
    require(roots.nonEmpty, "posting store has no postings")
    val rows = roots.map(Stores.readCached(spark, _)
        .filter(col("tok_bucket").isin(bucketIds: _*)) // partition pruning
        .filter(col("tok").isin(terms: _*)))
      .reduce(_ unionByName _)
      .select("doc_id", "pos", "tok")
    TermRows(rows, () => docstatsOf(spark, v), v.nDocs, v.sumDl.toDouble / v.nDocs)
  }

  /** Streaming-ingest step for a [[writePostings]] store: the batch lands
    * as an IMMUTABLE PER-BATCH SEGMENT `b=<batchId>` of the store's
    * [[StoreLog]] (postings partitioned by the store's own tok_bucket
    * modulus, a docstats side table, and a meta row carrying the
    * segment's exact (n_docs, sum_dl) so probe-time BM25 normalizers need
    * no store-wide rewrite) — the Lucene/LSM segment discipline. Probes
    * union the current version with every COMMITTED segment above its
    * fold watermark, so a half-written segment is invisible and NOTHING
    * is rewritten in place.
    *
    * Idempotent under at-least-once replay BY CONSTRUCTION: a
    * re-delivered batch rewrites its own segment with identical rows
    * under the log's replay rule (marker dropped first, so probes racing
    * the replay see the pre-batch state, never a half-rewritten one). The
    * log's guard rejects an id strictly below the watermark. A stream-only
    * store (no [[writePostings]] base) works: probes resolve the modulus
    * and stats from the segments alone.
    *
    * At 100 TB: segment count grows with batches — the standing answer is
    * [[compactPostings]], wired as an automatic every-N-segments fold in
    * [[graft.streaming.Streaming.startPostingsSink]]; probe cost
    * meanwhile grows only by the segments' pruned-bucket rows.
    */
  def ingestPostingsSegment(spark: org.apache.spark.sql.SparkSession, path: String,
                            newDocs: DataFrame, batchId: Long,
                            buckets: Int = 64): Unit = {
    val log = postingLog(path)
    val view = postingsView(spark, path, buckets)
    log.guard(batchId, view.snap, "postings ingest")
    log.writeSegment(batchId) { seg =>
      // a segment id CAN recur with different rows (a rebuild folds past
      // it and GC resets the id space): drop its memoized stats while the
      // marker is down — probes skip uncommitted segments, so nothing
      // re-caches until the re-commit
      forget(Seq(seg))
      indexDocs(newDocs, seg, view.buckets, 1)
    }
  }

  /** Segment COMPACTION of a [[writePostings]] store: folds every visible
    * committed segment ([[ingestPostingsSegment]]) into a NEW version —
    * the scheduled maintenance the segment contract defers to (probe cost
    * grows with segment count; compaction bounds the fan-in, the
    * Lucene/LSM merge step). The merged postings + docstats + meta are
    * written COMPLETE beside the live version and committed with the
    * folded watermark; the folded segments stay on disk for in-flight
    * readers of the old version until the log's GC retires them. A crash
    * at ANY point leaves the old version fully live. StorageLayoutSpec
    * proves probe invariance (conjunctive / BM25 / phrase identical before
    * and after, equal to a batch-built store over the union corpus) and
    * the race test proves reader isolation through a live compaction.
    *
    * At 100 TB: compaction rewrites the base — that is its definition, as
    * with any LSM merge — so it runs when segment count crosses a budget
    * ([[graft.streaming.Streaming.startPostingsSink]]'s every-N trigger),
    * not per batch; the rewrite is one shuffle-free pass per tok_bucket
    * partition.
    */
  def compactPostings(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val log = postingLog(path)
    val v = postingsView(spark, path)
    if (v.snap.segments.isEmpty) return // nothing to fold
    forget(log.commitVersion(spark, log.newVersionDir(), v.snap.segments.last._1) { gen =>
      v.postingRoots.map(spark.read.parquet(_)).reduce(_ unionByName _)
        .repartition(col("tok_bucket"))
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("tok_bucket")
        .parquet(s"$gen/postings")
      writeSized(v.docstatRoots.map(spark.read.parquet(_)).reduce(_ unionByName _),
        s"$gen/docstats", 8)
      writeMeta(spark, gen, v.buckets)
    })
  }

  /** The store's full postings relation: the current version's
    * partitions (absent in a stream-only store) unioned with every
    * visible committed segment's — the UNPRUNED view behind the SQL
    * surface's `graft_postings` ([[graft.GraftSession.openStores]]).
    * Unlike [[termRows]] no term filter is applied here; a SQL user
    * prunes with the partition column (`tok_bucket IN (pmod(hash('<term>'),
    * <buckets>))`, modulus from `graft_search_meta`) and the filter
    * distributes over the union, so each side's scan keeps directory
    * pruning.
    */
  private[graft] def storePostings(spark: org.apache.spark.sql.SparkSession,
                                   path: String): DataFrame = {
    val roots = postingsView(spark, path).postingRoots
    require(roots.nonEmpty, s"posting store at $path has no postings")
    roots.map(Stores.readCached(spark, _)).reduce(_ unionByName _)
  }

  /** The store's full docstats view: the current version's side table
    * (absent in a stream-only store) unioned with every visible committed
    * segment's.
    */
  private[graft] def storeDocstats(spark: org.apache.spark.sql.SparkSession,
                                   path: String): DataFrame =
    docstatsOf(spark, postingsView(spark, path))

  private def docstatsOf(spark: org.apache.spark.sql.SparkSession,
                         v: PostingsView): DataFrame = {
    require(v.docstatRoots.nonEmpty, "posting store has no docstats")
    v.docstatRoots.map(Stores.readCached(spark, _)).reduce(_ unionByName _)
  }

  /** Count of committed segments still visible over the current
    * version — the auto-compaction trigger input
    * ([[graft.streaming.Streaming.startPostingsSink]]).
    */
  private[graft] def visibleSegmentCount(
      spark: org.apache.spark.sql.SparkSession, path: String): Int =
    postingLog(path).snapshot.segments.size

  /** Token-SORTED term dictionary + string zone map — the layout a PREFIX
    * query (search-box autocomplete, `tok LIKE 'spar%'`) needs and the
    * hash-bucketed posting store structurally cannot provide: hashing
    * destroys prefix locality, so a prefix probe of the posting store
    * would open every bucket. The dict is one (tok, df, cf) row per
    * vocabulary term, range-clustered BY TOKEN with an in-file sort and a
    * per-file (min_tok, max_tok, n) sidecar — [[writeRangeClustered]]'s
    * zone-map idea lifted from timestamps to strings. Built with the
    * store tokenization ([[graft.engine.Words.tokens]]) so dict terms can
    * never disagree with posting terms. At 100 TB the dict is vocabulary-sized
    * (≪ corpus) and the sidecar is one row per file.
    */
  def writeTermDict(docs: DataFrame, path: String, files: Int = 8): Unit = {
    docs
      .select(col("doc_id"), explode(Words.tokens).as("tok"))
      .groupBy("tok")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("cf"))
      .repartitionByRange(files, col("tok"))
      .sortWithinPartitions("tok")
      .write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(s"$path/dict")
    // sidecar AFTER the data write, from the files as written; its
    // _SUCCESS is the store's completion marker
    docs.sparkSession.read.parquet(s"$path/dict")
      .groupBy(input_file_name().as("file"))
      .agg(min("tok").as("min_tok"), max("tok").as("max_tok"),
        count(lit(1)).as("n"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/zonemap")
  }

  /** Incremental refresh of a [[writeTermDict]] store for an APPEND batch
    * of NEW documents, via a DELTA SEGMENT: the dict layout is
    * range-clustered and sorted on token, so a blind append into the dict
    * files would break the zone map's disjointness (a new token belongs
    * INSIDE some existing file's range). Instead the batch's (tok, df, cf)
    * rows land in `$path/delta`, and [[probeTermDict]] unions the pruned
    * dict files with the delta and re-aggregates — the LSM discipline:
    * sorted base + small unsorted delta, merged at read time. df/cf are
    * additive because refresh batches hold NEW doc_ids (the
    * [[refreshPostings]] caller contract); a doc present in both base and
    * batch would double-count its df. The standing dict and zonemap files
    * are never read or rewritten, so refresh cost tracks the batch; the
    * delta stays batch-vocabulary-sized and is read whole at probe time
    * (no zone pruning — it IS the unsorted tail), with a periodic
    * compaction = full [[writeTermDict]] rebuild folding it back to zero.
    * StorageLayoutSpec proves refresh ≡ rebuild across prefix probes and
    * that untouched files stay byte-stable. Exactly-once is the CALLER's
    * obligation (a re-delivered batch lands a duplicate delta segment and
    * double-counts its dfs — the [[refreshPostings]] contract).
    */
  def refreshTermDict(spark: org.apache.spark.sql.SparkSession, path: String,
                      newDocs: DataFrame): Unit =
    newDocs
      .select(col("doc_id"), explode(Words.tokens).as("tok"))
      .groupBy("tok")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("cf"))
      .repartition(1)
      .write.mode("append")
      .option("compression", "zstd")
      .parquet(s"$path/delta")

  /** Prefix probe of a [[writeTermDict]] store: top-`k` completions of
    * `prefix` by document frequency (ties broken by token so the cut is
    * deterministic). File pruning is exact and complete: a file can hold
    * a `prefix`-led token iff `max_tok >= prefix` (its last token is not
    * before the prefix interval) AND the first `len(prefix)` chars of
    * `min_tok` are <= `prefix` (its first token is not after it) —
    * lexicographic interval logic, no residual false negatives. The
    * residual startsWith filter runs inside the opened files only. If a
    * [[refreshTermDict]] delta segment exists its rows merge in by (df,
    * cf) addition — the read half of the LSM discipline.
    */
  def probeTermDict(spark: org.apache.spark.sql.SparkSession, path: String,
                    prefix: String, k: Int): DataFrame = {
    val p = prefix.toLowerCase
    val files = Stores.readCached(spark, s"$path/zonemap")
      .filter(col("max_tok") >= p &&
        substring(col("min_tok"), 1, p.length) <= p)
      .select("file")
      .collect().map(_.getString(0)) // one row per COVERING file — metadata
    val base =
      if (files.isEmpty) spark.read.parquet(s"$path/dict").limit(0)
      else spark.read.parquet(files.toIndexedSeq: _*)
    mergeTermDictDelta(spark, path, base)
      .filter(col("tok").startsWith(p))
      .orderBy(col("df").desc, col("tok"))
      .limit(k)
  }

  /** The term-dict store's full (tok, df, cf) relation: the sorted base
    * dict merged with the LSM delta segment when one exists — the read
    * half shared by [[probeTermDict]] (over its pruned covering files)
    * and the SQL surface's `graft_term_dict` view
    * ([[graft.GraftSession.openStores]]), so the two can never disagree
    * about whether refreshed vocabulary is visible.
    */
  private[graft] def storeTermDict(spark: org.apache.spark.sql.SparkSession,
                                   path: String): DataFrame =
    mergeTermDictDelta(spark, path, Stores.readCached(spark, s"$path/dict"))

  /** Fold the delta segment (if any) into `base` by (df, cf) addition —
    * the one definition of the dict-LSM merge.
    */
  private def mergeTermDictDelta(spark: org.apache.spark.sql.SparkSession,
                                 path: String, base: DataFrame): DataFrame =
    if (!Fs.exists(s"$path/delta")) base
    else base.unionByName(Stores.readCached(spark, s"$path/delta"))
      .groupBy("tok")
      .agg(sum("df").as("df"), sum("cf").as("cf"))

  /** DDSketch latency-quantile store: persist (event_type, day, bucket, n)
    * log-γ bucket counts, day-partitioned so a range query prunes whole
    * day= directories before any IO. This is the persisted half of
    * `log_latency_sketch_range`'s lifecycle (the quantile twin of the HLL
    * sketch store below): the raw log is bucketed ONCE per ingest batch,
    * and every later "p95 over [d1, d2]" merges the pruned days' counts by
    * plain addition — associative, commutative, deterministic — then walks
    * the rank, never rescanning events. At 100 TB the store is O(days ×
    * types × buckets) rows ≈ metadata; one file per day partition.
    *
    * The bucket expression is THE shared definition
    * ([[graft.engine.LogOps.sketchBucketCol]]) — a writer-private copy
    * could drift from the rank walk and silently skew every quantile.
    */
  def writeLatencySketches(events: DataFrame, path: String): Unit =
    events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"),
        graft.engine.LogOps.sketchBucketCol.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .repartition(col("day"))
      .write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy("day")
      .parquet(path)

  /** Incremental refresh of a [[writeLatencySketches]] store for an APPEND
    * batch: bucket the batch, merge with the standing counts of only the
    * touched days (count addition — the DDSketch merge), and dynamically
    * overwrite just those day partitions. Untouched days are never read or
    * rewritten; refresh cost tracks the batch. Same discipline as
    * [[refreshDailyRollup]] — including the exactly-once contract: counts
    * are additive, so the CALLER owns not re-delivering a batch (a replay
    * double-counts). The replay-safe ingest path is the MVCC streaming
    * sink ([[graft.streaming.Streaming.startLatencySketchSink]]), which
    * re-reads its pre-state version on re-delivery instead.
    */
  def refreshLatencySketches(spark: org.apache.spark.sql.SparkSession,
                             path: String, newEvents: DataFrame): Unit =
    mergeTouchedDays(spark, path, newEvents
      .groupBy(to_date(col("ts")).as("day"), col("event_type"),
        graft.engine.LogOps.sketchBucketCol.as("bucket"))
      .agg(count(lit(1)).as("n")),
      Seq("day", "event_type", "bucket"), Seq("n"))

  /** Persisted Bloom decontamination filter: the serialized
    * `org.apache.spark.util.sketch.BloomFilter` bytes (self-describing —
    * bit width and hash count ride in the stream) under `$path/bloom.bin`,
    * with `_SUCCESS` written LAST as the completion marker. The filter is
    * ~1.2 MB regardless of corpus scale (sized from the eval-set capacity,
    * never the train side), so the store is one small binary any ingest
    * job broadcasts.
    *
    * The payload lands through [[Fs.writeAtomic]] (staged temp + the
    * strongest rename the scheme offers), so a REWRITE of a standing
    * store — [[refreshBloomFilter]], and the streaming
    * [[graft.streaming.Streaming.startBloomSink]] on every batch — can
    * never leave a truncated bloom.bin: a crash mid-rewrite leaves the
    * previous bytes fully intact, which matters on the streaming path
    * where earlier batches' bits exist nowhere else to rebuild from.
    */
  def writeBloomFilter(bf: org.apache.spark.util.sketch.BloomFilter, path: String,
                       conf: org.apache.hadoop.conf.Configuration): Unit = {
    Fs.writeAtomic(s"$path/bloom.bin")(bf.writeTo)
    Fs.touch(s"$path/_SUCCESS")
  }

  /** Deserialize a [[writeBloomFilter]] store. */
  def readBloomFilter(path: String,
                      conf: org.apache.hadoop.conf.Configuration): org.apache.spark.util.sketch.BloomFilter = {
    val p = new org.apache.hadoop.fs.Path(s"$path/bloom.bin")
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
  }

  /** Incremental refresh of a [[writeBloomFilter]] store for an APPEND
    * batch of new eval items: the batch builds its own filter with the
    * SAME sizing params (a mismatched layout cannot merge — Spark throws)
    * and bitwise ORs into the standing bits. Because the hash functions
    * are deterministic and OR is associative/commutative/idempotent, the
    * refreshed store is BYTE-identical to rebuilding over the union — and
    * uniquely among the refreshes here, a REPLAYED batch is harmless (OR
    * is idempotent), so this one needs no exactly-once contract.
    * Rewrite cost is the fixed filter size, never corpus size.
    *
    * Crash-safe WITHOUT a marker dance: the merged bytes replace
    * `bloom.bin` atomically (staged temp + rename inside
    * [[writeBloomFilter]]), so a crash at any point leaves the standing
    * bytes fully readable — strictly better than the earlier
    * delete-marker-then-rewrite protocol, whose recovery (a marker-less
    * store rebuilt from the corpus) does not exist on the streaming path
    * where only the stream ever saw the earlier batches.
    */
  def refreshBloomFilter(spark: org.apache.spark.sql.SparkSession, path: String,
                         newItems: DataFrame, itemCol: String,
                         expectedItems: Long = graft.engine.LlmOps.bloomExpectedItems,
                         fpp: Double = graft.engine.LlmOps.bloomFpp): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val standing = readBloomFilter(path, conf)
    standing.mergeInPlace(newItems.stat.bloomFilter(itemCol, expectedItems, fpp))
    writeBloomFilter(standing, path, conf)
  }

  /** HLL sketch store: persist (key…, day, sk: binary) daily Datasketches
    * HLL sketches, day-partitioned so a date-range union prunes whole
    * directories. This is the production range-query lifecycle behind
    * `agg_hll_union_daily`: sketches are built ONCE per day (~4 KB each),
    * and any "distinct users over [d1, d2]" is a union-merge over the
    * pruned sketch files — register-wise max is associative and
    * order-independent, so the merged estimate is byte-equivalent to
    * sketching the whole range (proved by SourcesAndUdafSpec's round-trip).
    */
  def writeHllSketches(sketches: DataFrame, path: String): Unit =
    sketches
      .withColumn("day_part", date_format(col("day"), "yyyy-MM-dd"))
      .repartition(col("day_part"))
      .write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy("day_part")
      .parquet(path)
}
