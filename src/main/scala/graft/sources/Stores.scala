package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once registry for PERSISTED index stores (posting store, PQ ANN
  * index). The registered `log_indexed_search` / `llm_ann_ivfpq_indexed`
  * queries exercise the real engine lifecycle — build the index ONE time,
  * then answer every query from the standing store without touching the
  * corpus — instead of re-deriving the index inside each query plan the
  * way the self-contained `log_inverted_search` / `llm_ann_ivfpq`
  * formulations do.
  *
  * Stores live under the JVM temp dir, keyed by (layout version, data
  * dir, CORPUS FINGERPRINT): the first query against a corpus builds;
  * every later query — including a benchmark's timed run after its warm
  * run — reads the standing store, which is exactly the steady state
  * worth measuring. The fingerprint folds in every source file's name,
  * length and mtime, so a REGENERATED corpus at the same path (or two
  * distinct paths whose sanitized names would collide) can never be
  * served a stale or foreign index — the store key changes and a fresh
  * build runs. The layout VERSION is part of the path so a writer-format
  * change can never probe a stale store; the completion marker is the
  * store's LAST-written component, so a crashed partial build is
  * rebuilt, never trusted. Builds are serialized under a lock: two
  * concurrent first queries must not race overwrite-mode writers onto
  * the same directory.
  */
object Stores {

  // v3: posting docstats gained (lang, source) facet columns.
  // v4: pqTrainEncode's codebook build changed (md5-sampled driver-side
  //     Lloyd replaced the distributed average), producing different
  //     codebook/code bytes for the same corpus — the version bump forces
  //     any pre-change standing pq_index (and every other store, cheaply)
  //     to rebuild instead of silently serving the old-algorithm index.
  // v5: the posting store moved to the MVCC generation layout (BASE
  //     pointer + immutable gen-* directories + per-segment segmeta); a
  //     v4 store's flat postings/docstats/meta would be invisible to the
  //     v5 readers, so the bump forces a rebuild rather than an empty
  //     probe.
  // v6: the PQ index gained its IVF half — a `centroids` component, a
  //     `cell` column on every code row (pqAssign-replicated), and a
  //     cell-PARTITIONED code layout. A v5 store has none of the three,
  //     so v6 readers would throw (missing centroids path) or scan
  //     unpruned; the bump rebuilds every store instead. It also retires
  //     any pre-r12 checksum-sidecar'd files wholesale (Fs.writeAtomic
  //     now drops stale .crc sidecars too — belt and braces).
  // v7: the posting store moved onto the shared StoreLog protocol — no
  //     BASE pointer; versions carry their own `_COMMIT` marker holding
  //     the fold watermark, and versions and segments share one `meta`
  //     row. v7 readers refuse a v6 posting store (StoreLog), so the
  //     bump rebuilds instead.
  private val VERSION = "v7"
  private val memo = scala.collection.concurrent.TrieMap.empty[String, String]
  private val buildLock = new Object

  /** Fingerprint of the source table's files: (relative name, length,
    * mtime) of every file under `dataDir/table`, order-insensitive via
    * sort, hashed. Driver-side metadata listing only.
    */
  private def fingerprint(dataDir: String, table: String): String = {
    val sig = Fs.fileSignatures(s"$dataDir/$table").sorted.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest((dataDir + "|" + sig).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** Base directory the standing stores live under — where a deployment
    * points the 9 stores at its real filesystem. Resolution order:
    * `spark.graft.storeRoot` (session conf — runtime-settable, so one
    * session can target `hdfs://…` or `s3a://…` while another tests
    * locally), then the `SPARK_GRAFT_STORE_ROOT` env var, then the JVM
    * temp dir (the sandbox default, unchanged). All store IO downstream
    * routes through the scheme-aware [[Fs]] helper, so a remote root needs
    * no other change — FsSpec proves the full store lifecycle end-to-end
    * on a non-local scheme.
    */
  private[graft] def storeRootBase(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.storeRoot")
      .orElse(sys.env.get("SPARK_GRAFT_STORE_ROOT"))
      .getOrElse(sys.props("java.io.tmpdir"))

  private def storeRoot(spark: SparkSession, dataDir: String, table: String,
                        kind: String): String = {
    val safe = dataDir.replaceAll("[^A-Za-z0-9.]+", "_")
    s"${storeRootBase(spark)}/graft_stores/$VERSION/${safe}_${fingerprint(dataDir, table)}/$kind"
  }

  private def buildOnce(key: String, done: => Boolean)(build: => Unit): String =
    memo.getOrElse(key, buildLock.synchronized {
      // re-check under the lock: a concurrent first query may have built
      // while this thread waited — getOrElseUpdate alone would run both
      // thunks and race two overwrite-mode writers onto one directory
      memo.getOrElseUpdate(key, {
        if (!done) build
        key
      })
    })

  /** Path of the standing positional posting store for `dataDir`'s
    * documents table, building it via [[Sinks.writePostings]] on first use.
    */
  def postingStore(spark: SparkSession, dataDir: String): String = {
    val path = storeRoot(spark, dataDir, "documents.parquet", "postings_store")
    // a version commits only once complete → a committed one means built
    buildOnce(path, Sinks.postingLog(path).versions.nonEmpty) {
      Sinks.writePostings(graft.engine.Tables.documents(spark, dataDir), path)
    }
  }

  /** Path of the standing materialized daily rollup for `dataDir`'s
    * events table, building it via [[Sinks.writeDailyRollup]] on first
    * use. The registered `log_rollup_served` query answers from this
    * store and never scans the raw log; appends fold in through
    * [[Sinks.refreshDailyRollup]] (refresh ≡ rebuild is spec-proved).
    */
  def dailyRollup(spark: SparkSession, dataDir: String): String = {
    val path = storeRoot(spark, dataDir, "events.parquet", "daily_rollup")
    buildOnce(path, Fs.exists(s"$path/_SUCCESS")) {
      Sinks.writeDailyRollup(graft.engine.Tables.events(spark, dataDir), path)
    }
  }

  /** Path of the standing range-clustered + zone-mapped event layout for
    * `dataDir`, building it via [[Sinks.writeRangeClustered]] on first
    * use. The registered `log_zonemap_scan` query probes it through
    * [[Sinks.zonemapScan]], opening only the files whose zone covers the
    * query's time range.
    */
  def rangeClusteredEvents(spark: SparkSession, dataDir: String): String = {
    val path = storeRoot(spark, dataDir, "events.parquet", "range_clustered")
    buildOnce(path, Fs.exists(s"$path/zonemap/_SUCCESS")) {
      Sinks.writeRangeClustered(graft.engine.Tables.events(spark, dataDir), path)
    }
  }

  /** Names of the standing BUCKETED fact tables (orders + lineitem, both
    * clustered and sorted on the order key) for `dataDir`, writing them on
    * first use via [[Sinks.writeBucketedFact]]. Bucket metadata lives in
    * the session catalog — parquet files alone cannot carry it — so unlike
    * the path-addressed stores this one re-registers the table per session
    * (`CREATE TABLE ... CLUSTERED BY ... LOCATION` over the standing
    * files) when the files already exist from an earlier build. Returns
    * `(ordersTable, lineitemTable)`.
    *
    * At 100 TB this is the layout that makes every orderkey join and
    * orderkey-grouped aggregation exchange-free: both facts are written
    * once into the same bucket count and every later query's scan already
    * satisfies the join's required distribution.
    */
  def bucketedFacts(spark: SparkSession, dataDir: String): (String, String) = (
    bucketedTable(spark, dataDir, "orders", "o_orderkey",
      () => graft.engine.Tables.orders(spark, dataDir)),
    bucketedTable(spark, dataDir, "lineitem", "l_orderkey",
      () => graft.engine.Tables.lineitem(spark, dataDir)))

  /** Name of the standing events table bucketed on `user_id` — the layout
    * behind `log_point_lookup`: an equality/IN predicate on the bucket key
    * prunes the scan to the matching buckets (SelectedBucketsCount in the
    * plan), so a per-user timeline probe reads 1/N of the files no matter
    * how large the log grows.
    */
  def bucketedEvents(spark: SparkSession, dataDir: String): String =
    bucketedTable(spark, dataDir, "events", "user_id",
      () => graft.engine.Tables.events(spark, dataDir))

  private def bucketedTable(spark: SparkSession, dataDir: String, tbl: String,
                            key: String, load: () => org.apache.spark.sql.DataFrame): String = {
    val path = storeRoot(spark, dataDir, s"$tbl.parquet", s"bucketed_$tbl")
    val name = "graft_bkt_" + tbl + "_" +
      path.split('/').takeRight(2).head.takeRight(16) // the corpus fingerprint
    buildLock.synchronized {
      if (!spark.catalog.tableExists(name)) {
        if (Fs.exists(s"$path/_SUCCESS")) {
          // files stand from an earlier JVM/session: re-attach catalog
          // bucket metadata without rewriting a byte
          val schema = load().schema.toDDL
          spark.sql(
            s"""CREATE TABLE $name ($schema) USING PARQUET
               |CLUSTERED BY ($key) SORTED BY ($key) INTO $BUCKETS BUCKETS
               |LOCATION '$path'""".stripMargin)
        } else Sinks.writeBucketedFact(load(), name, path, key, BUCKETS)
      }
    }
    name
  }

  /** Bucket count for [[bucketedFacts]]. Sized for the test corpora; at
    * 100 TB choose buckets so each file stays in the hundreds of MB
    * (Sinks.writeBucketedFact's contract) — e.g. 4096 for a 1 TB fact.
    */
  private val BUCKETS = 8

  /** Path of the standing token-sorted term dictionary for `dataDir`'s
    * documents table, building it via [[Sinks.writeTermDict]] on first
    * use. The registered `log_term_suggest` query answers prefix
    * completions from this store's pruned files and never scans the
    * corpus.
    */
  def termDict(spark: SparkSession, dataDir: String): String = {
    val path = storeRoot(spark, dataDir, "documents.parquet", "term_dict")
    buildOnce(path, Fs.exists(s"$path/zonemap/_SUCCESS")) {
      Sinks.writeTermDict(graft.engine.Tables.documents(spark, dataDir), path)
    }
  }

  /** Path of the standing shingle-Jaccard near-dup PAIR store for
    * `dataDir`'s documents table: the df-capped postings expansion — the
    * most expensive pipeline in the near-dup family — runs ONCE per corpus
    * snapshot here, and every consumer (`llm_neardup_filter`'s drop
    * decision, `llm_neardup_clusters`' transitive closure) probes the
    * metadata-sized (id_a, id_b, jaccard) rows instead of re-deriving
    * them. `llm_shingle_jaccard` itself stays raw-scan as the lifecycle's
    * build proof; the corpus fingerprint in the path guarantees a
    * regenerated corpus rebuilds rather than serving stale pairs. Append
    * batches fold in through [[Sinks.refreshShinglePairs]] (refresh ≡
    * rebuild and replay idempotence are spec-proved).
    */
  def shinglePairs(spark: SparkSession, dataDir: String): String = {
    val path = storeRoot(spark, dataDir, "documents.parquet", "shingle_pairs")
    buildOnce(path, Fs.exists(s"$path/_SUCCESS")) {
      Sinks.writeSized(graft.engine.LlmOps.shinglePairsOf(spark, dataDir), path, 4)
    }
  }

  /** Path of the standing Bloom decontamination filter for `dataDir`'s
    * documents table: the eval-set (source = src0) distinct 8-grams hashed
    * once into a persisted ~1.2 MB sketch via [[Sinks.writeBloomFilter]].
    * The registered `llm_bloom_decontaminate_indexed` query probes the
    * deserialized standing bytes; eval-set appends fold in through
    * [[Sinks.refreshBloomFilter]] (OR-merge ≡ rebuild, byte-identical,
    * spec-proved).
    */
  def bloomFilter(spark: SparkSession, dataDir: String): String = {
    val path = storeRoot(spark, dataDir, "documents.parquet", "bloom_decontam")
    buildOnce(path, Fs.exists(s"$path/_SUCCESS")) {
      Sinks.writeBloomFilter(
        graft.engine.LlmOps.evalGramsOf(spark, dataDir)
          .stat.bloomFilter("ng", graft.engine.LlmOps.bloomExpectedItems,
            graft.engine.LlmOps.bloomFpp),
        path, spark.sparkContext.hadoopConfiguration)
    }
  }

  /** Path of the standing DDSketch latency-quantile store for `dataDir`'s
    * events table, building it via [[Sinks.writeLatencySketches]] on first
    * use. The registered `log_latency_sketch_served` query merges pruned
    * daily bucket counts from this store and never scans the raw log;
    * appends fold in through [[Sinks.refreshLatencySketches]] and the
    * streaming ingest half is
    * [[graft.streaming.Streaming.startLatencySketchSink]].
    */
  def latencySketch(spark: SparkSession, dataDir: String): String = {
    val path = storeRoot(spark, dataDir, "events.parquet", "latency_sketch")
    buildOnce(path, Fs.exists(s"$path/_SUCCESS")) {
      Sinks.writeLatencySketches(graft.engine.Tables.events(spark, dataDir), path)
    }
  }

  /** Path of the standing IVF-PQ ANN index (coarse centroids + codebook +
    * cell-partitioned encoded corpus) for `dataDir`'s embeddings table,
    * training + encoding on first use via the same `pqTrainEncode` the
    * self-contained query runs.
    */
  def pqIndex(spark: SparkSession, dataDir: String): String = {
    val path = storeRoot(spark, dataDir, "embeddings.parquet", "pq_index")
    // codes is written after centroids + codebook (writePqIndex order) → marker
    buildOnce(path, Fs.exists(s"$path/codes/_SUCCESS")) {
      val (cents, cb, codes) = graft.engine.LlmOps.pqTrainEncode(spark, dataDir)
      Sinks.writePqIndex(cents, cb, codes, path)
    }
  }

  /** GENERATION-AWARE memoized parquet read of a standing-store component
    * — the catalog discipline `Tables.load` applies to fixtures (r12,
    * guide §1.2), extended to the stores it deliberately excluded: every
    * `spark.read.parquet(storePath)` runs a driver-side footer/schema
    * job per invocation, so each served query re-paid it per run. Unlike
    * fixtures, stores MUTATE (refresh/compaction/sinks), so the memo key
    * carries a SHALLOW fingerprint of the component's direct entries
    * ([[Fs.shallowSignature]] — one listStatus; a write inside a child
    * partition bumps that child's mtime, because files are never modified
    * in place): a refresh that rewrites a partition, lands a segment, or
    * swaps a generation changes the signature and the next read
    * re-resolves — a stale plan can never be served (spec-pinned by the
    * refresh-invalidation test). Only the LAZY frame
    * (schema + file index) is memoized; execution scans parquet every
    * run. The listing itself is driver-side metadata (no Spark job). An
    * empty or unreadable listing falls through to the plain read so
    * errors surface as Spark's own, not a memo artifact. The memo holds
    * ONE entry per path — a changed fingerprint replaces it, so refreshes
    * never strand old frames — and the resolution runs outside the lock;
    * two threads racing one miss both resolve, and the later replaces the
    * earlier (frames are lazy, so either is correct).
    */
  def readCached(spark: SparkSession, path: String): DataFrame = {
    val fp = try {
      val sig = Fs.shallowSignature(path).sorted.mkString("|")
      if (sig.isEmpty) null
      else java.security.MessageDigest.getInstance("MD5")
        .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    } catch { case _: Throwable => null }
    if (fp == null) return spark.read.parquet(path)
    val key = Fs.qualify(path)
    val memo = readMemo.synchronized(
      readMemo.computeIfAbsent(spark, _ => scala.collection.mutable.HashMap.empty))
    memo.synchronized(memo.get(key)).collect { case (`fp`, df) => df }.getOrElse {
      val df = spark.read.parquet(path)
      memo.synchronized(memo(key) = (fp, df))
      df
    }
  }

  /** session → (qualified store component path → (fingerprint, lazy
    * frame)); weak keys die with their session (the `Tables.loadMemo`
    * convention).
    */
  private[graft] val readMemo =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.HashMap[String, (String, org.apache.spark.sql.DataFrame)]]()
}
