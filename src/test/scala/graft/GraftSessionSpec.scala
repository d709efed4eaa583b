package graft

import org.apache.spark.sql.execution.FileSourceScanExec

/** The interactive SQL surface over the standing stores
  * ([[GraftSession.openStores]]): a SQL-only user must get index-served
  * answers — same results as the programmatic probes, with ZERO corpus
  * scans in the plan. These are the plan pins behind the registered
  * `log_sql_search_served` / `log_sql_sketch_served` queries (whose
  * VALUES the driver separately hash-proves against the raw-scan oracles).
  */
class GraftSessionSpec extends SparkSpecBase {

  private def scansOf(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }

  private def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[String] =
    scansOf(df).flatMap(_.relation.location.rootPaths.map(_.toString))

  test("SQL-only conjunctive search: answers from the index, zero corpus scans, bucket-pruned") {
    val df = engine.LogOps.sqlSearchServed.build(spark, sfDir)
    val roots = scanRoots(df)
    assert(roots.nonEmpty)
    // every scan reads standing-store files — never the corpus dir (the
    // store PATH embeds the sanitized corpus dir name, so the check is
    // "under the store root", not a substring of the corpus path)
    assert(roots.forall(_.contains("/graft_stores/")), roots.mkString("; "))
    // the constant-folded pmod(hash(term), buckets) IN-list must land in
    // PartitionFilters (directory pruning), not a post-scan filter
    val postingScan = scansOf(df)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("postings")))
      .getOrElse(fail("no postings scan in plan"))
    assert(postingScan.partitionFilters.exists(_.toString.contains("tok_bucket")),
      postingScan.partitionFilters.mkString("; "))
    // ... and actually open fewer files than the whole store
    val opened = postingScan.relation.location
      .listFiles(postingScan.partitionFilters, Nil).map(_.files.size).sum
    val store = sources.Stores.postingStore(spark, sfDir)
    val total = sources.Sinks.storePostings(spark, store).inputFiles.length
    assert(opened < total, s"SQL probe read $opened of $total files")
    // same answer as the programmatic store probe
    val got = df.collect().map(_.toString).toSeq
    val want = engine.LogOps.indexedSearch.build(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(got === want)
  }

  test("SQL-only range-p95: answers from the sketch store, zero corpus scans, day-pruned") {
    val df = engine.LogOps.sqlSketchServed.build(spark, sfDir)
    val roots = scanRoots(df)
    assert(roots.nonEmpty)
    assert(roots.forall(_.contains("/graft_stores/")), roots.mkString("; "))
    val scan = scansOf(df).head
    // the date range must prune day= directories at the scan
    assert(scan.partitionFilters.exists(_.toString.contains("day")),
      scan.partitionFilters.mkString("; "))
    val got = df.collect().map(_.toString).toSeq
    val want = engine.LogOps.latencySketchServed.build(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(got === want)
  }

  test("graft_term_dict view: LSM base+delta merge matches probeTermDict") {
    GraftSession.openStores(spark, sfDir)
    val viaSql = spark.sql(
      """SELECT tok, df FROM graft_term_dict
        |WHERE tok LIKE 'spar%' ORDER BY df DESC, tok LIMIT 10""".stripMargin)
      .collect().map(_.toString).toSeq
    val td = sources.Stores.termDict(spark, sfDir)
    val viaProbe = sources.Sinks.probeTermDict(spark, td, "spar", 10)
      .select("tok", "df").collect().map(_.toString).toSeq
    assert(viaSql === viaProbe)
    assert(viaSql.nonEmpty)
  }

  test("SQL-only ANN: ADC shortlist from the PQ index views, zero embeddings " +
    "scans, row-identical to the programmatic shortlist") {
    val df = engine.LlmOps.sqlAnnServed.build(spark, sfDir)
    val roots = scanRoots(df)
    assert(roots.nonEmpty)
    // every file scan reads the standing PQ index — the float corpus is
    // never touched (the query vectors ride in as an inline VALUES
    // relation, which plans as a LocalRelation, not a scan)
    assert(roots.forall(_.contains("/graft_stores/")), roots.mkString("; "))
    assert(!roots.exists(_.contains("embeddings")), roots.mkString("; "))
    val got = df.collect().map(_.toString).toSeq
    val path = sources.Stores.pqIndex(spark, sfDir)
    val want = engine.LlmOps.pqAdcShortlist(spark, sfDir,
        spark.read.parquet(s"$path/centroids"),
        spark.read.parquet(s"$path/codebook"),
        spark.read.parquet(s"$path/codes"),
        maxQ = engine.LlmOps.sqlAnnQueries)
      .orderBy("q_id", "arn")
      .collect().map(_.toString).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("SQL ANN pruning: a single-query request's code scan carries a literal " +
    "cell IN-list — ≤ nprobe of the pqCells partitions are read") {
    val df = engine.LlmOps.sqlAnnServedFor(spark, sfDir, 1L)
    val scans = scansOf(df).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("pq_index/codes")))
    assert(scans.nonEmpty, "no code-table scan in the served plan")
    scans.foreach { f =>
      val ins = f.partitionFilters.collect {
        case i: org.apache.spark.sql.catalyst.expressions.In => i.list.size
      }
      assert(ins.nonEmpty && ins.forall(_ <= engine.LlmOps.pqNprobe),
        s"code scan not pruned to ≤ nprobe cell partitions: ${f.partitionFilters}")
    }
    // and the pruned single-query answer is exactly the programmatic
    // shortlist's — pruning changed the scan, not the rows
    val path = sources.Stores.pqIndex(spark, sfDir)
    val want = engine.LlmOps.pqAdcShortlist(spark, sfDir,
        spark.read.parquet(s"$path/centroids"),
        spark.read.parquet(s"$path/codebook"),
        spark.read.parquet(s"$path/codes"), maxQ = 1L)
      .orderBy("q_id", "arn").collect().map(_.toString).toSeq
    val got = df.collect().map(_.toString).toSeq
    assert(got === want && got.nonEmpty)
  }

  test("term-dict view relation: a freshly written delta is visible through the " +
    "shared merge path, identically to probeTermDict") {
    // openStores registers `graft_term_dict` from Sinks.storeTermDict — the
    // SAME merge definition probeTermDict applies over its pruned files.
    // Pin that a delta written AFTER the base build is visible through both
    // faces with identical merged counts (the remote-FS hazard was exactly
    // this view silently serving the delta-less base).
    import org.apache.spark.sql.functions.{col => c}
    val dir = java.nio.file.Files.createTempDirectory("graft_dictview").toString
    val docs = engine.Tables.documents(spark, sfDir)
    sources.Sinks.writeTermDict(docs, dir)
    import spark.implicits._
    val delta = Seq(
      (900001L, "zqx zqx zqxspark", "en", "src0"),
      (900002L, "zqx other words", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
    sources.Sinks.refreshTermDict(spark, dir, delta)
    val viaView = sources.Sinks.storeTermDict(spark, dir)
      .filter(c("tok").startsWith("zqx"))
      .orderBy(c("df").desc, c("tok"))
      .select("tok", "df", "cf").collect().map(_.toString).toSeq
    val viaProbe = sources.Sinks.probeTermDict(spark, dir, "zqx", 10)
      .select("tok", "df", "cf").collect().map(_.toString).toSeq
    assert(viaView === viaProbe)
    assert(viaView.exists(_.contains("zqx")), "delta vocabulary invisible to the view")
    // merged counts, not delta-only: zqx appears in 2 delta docs, 3 times
    assert(viaView.head === "[zqx,2,3]", viaView.mkString("; "))
  }

  test("graft_store_health is LIVE: repeated SELECTs from the SAME temp view " +
    "observe gen_seq advancing across a maintenance cycle — the probe-age " +
    "alarm input (a frozen open-time snapshot could never fire it)") {
    GraftSession.openStores(spark, sfDir)
    val viewRow = spark.table("graft_store_health").collect()
    assert(viewRow.length === 1)
    // a scratch store to drive a maintenance cycle without touching the
    // shared standing store other tests probe; the VIEW follows the
    // health-target conf, so re-point it here and restore after
    val dir = java.nio.file.Files.createTempDirectory("graft_health").toString
    val docs = engine.Tables.documents(spark, sfDir)
    import org.apache.spark.sql.functions.{col => c}
    val prevTarget = spark.conf.get("spark.graft.health.postings")
    try {
      sources.Sinks.writePostings(docs.filter(c("doc_id") % 2 === 0), dir)
      spark.conf.set("spark.graft.health.postings", dir)
      // all reads below go through the ONE temp view openStores registered
      // — no re-registration, no fresh storeHealth() call: this is the
      // monitoring loop's exact shape (poll the same view, compare seqs)
      val h0 = spark.table("graft_store_health").head()
      val seq0 = h0.getAs[Long]("gen_seq")
      assert(seq0 >= 0 && h0.getAs[Long]("gen_retention") === 1L)
      // refresh + compaction = one maintenance cycle: the monitoring rule
      // is "alarm when gen_seq advances ≥ gen_retention during a probe"
      sources.Sinks.refreshPostings(spark, dir, docs.filter(c("doc_id") % 2 === 1))
      sources.Sinks.compactPostings(spark, dir)
      val h1 = spark.table("graft_store_health").head()
      assert(h1.getAs[Long]("gen_seq") > seq0,
        s"the view froze: gen_seq did not advance across a maintenance " +
          s"cycle observed through the same temp view: $h0 -> $h1")
      assert(h1.getAs[Long]("folded_through") >= h0.getAs[Long]("folded_through"))
      assert(h1.getAs[Long]("n_docs") === docs.count())
      assert(h1.getAs[Long]("visible_segments") === 0L,
        "compaction left visible segments in the health row")
      // and the view agrees with the programmatic face on the same target
      assert(h1.toString === sources.Sinks.storeHealth(spark, dir).head().toString)
    } finally spark.conf.set("spark.graft.health.postings", prevTarget)
  }

  test("CALL graft.refresh_postings: a pure-SQL refresh lands the batch — the " +
    "served probe equals a full rebuild; fresh-checkpoint misuse errors loudly") {
    GraftSession.openStores(spark, sfDir) // wires the `graft` procedure catalog
    import org.apache.spark.sql.functions.{col => c}
    val docs = engine.Tables.documents(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_callrefresh").toString
    sources.Sinks.writePostings(docs.filter(c("doc_id") % 3 =!= 0), dir)
    docs.filter(c("doc_id") % 3 === 0).createOrReplaceTempView("graft_test_batch")
    spark.sql(s"CALL graft.refresh_postings('$dir', 'graft_test_batch')").collect()
    val served = sources.Sinks.probePostingsBm25(spark, dir, Seq("spark", "join"), k = 20)
      .collect().map(_.toString).toSeq
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_callrebuild").toString
    sources.Sinks.writePostings(docs, rebuilt)
    val want = sources.Sinks.probePostingsBm25(spark, rebuilt, Seq("spark", "join"), k = 20)
      .collect().map(_.toString).toSeq
    assert(served === want && served.nonEmpty,
      "SQL-driven refresh diverged from a full rebuild")
    // misuse: run maintenance until the fold watermark passes id 0 and
    // segment b=0's directory is past its retention grace (the GC keeps a
    // segment as long as ANY retained version predates its fold), then
    // hand the ingest procedure the id — the fresh-checkpoint shape the
    // guard exists to reject, now reachable from pure SQL and still loud.
    // The second compaction's commit retires the initial version and with
    // it the folded segment; the third folds nothing.
    sources.Sinks.compactPostings(spark, dir)
    spark.sql(s"CALL graft.refresh_postings('$dir', 'graft_test_batch')").collect()
    sources.Sinks.compactPostings(spark, dir)
    sources.Sinks.compactPostings(spark, dir)
    assert(!sources.Fs.exists(s"$dir/seg/b=0"),
      "fixture setup: segment b=0 should be GC'd before the misuse probe")
    val err = intercept[Exception] {
      spark.sql(s"CALL graft.ingest_postings_segment('$dir', 'graft_test_batch', '0')")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => String.valueOf(e.getMessage) +: messages(e.getCause))
    assert(messages(err).exists(m => m.contains("watermark") || m.contains("folded_through")),
      s"misuse did not surface the guard: ${messages(err).mkString(" | ")}")
    // and an unknown procedure name lists the real ones
    val unknown = intercept[Exception] {
      spark.sql(s"CALL graft.no_such_proc('x')").collect()
    }
    assert(messages(unknown).exists(_.contains("refresh_postings")), unknown.getMessage)
  }

  test("openStores registers every documented store view") {
    GraftSession.openStores(spark, sfDir)
    val views = Seq("graft_postings", "graft_docstats", "graft_search_meta",
      "graft_store_health", "graft_term_dict", "graft_latency_sketch",
      "graft_daily_rollup", "graft_shingle_pairs", "graft_pq_centroids",
      "graft_pq_codebook", "graft_pq_codes")
    views.foreach { v =>
      assert(spark.catalog.tableExists(v), s"missing view $v")
      assert(spark.table(v).columns.nonEmpty, s"empty schema for $v")
    }
    // and the near-dup pair view answers a filter decision in one line
    assert(spark.sql(
      "SELECT count(*) FROM graft_shingle_pairs WHERE jaccard >= 0.5")
      .head.getLong(0) > 0)
  }

  test("openStores memo is per-session: a second session over the same corpus " +
    "gets its own views, and refresh re-registers") {
    GraftSession.openStores(spark, sfDir)
    assert(spark.sql("SELECT count(*) FROM graft_postings").head.getLong(0) > 0)
    // a FRESH session (separate temp-view catalog, same context) must get
    // its own registration, not be skipped by another session's memo entry
    // — the silent failure mode of a collision-prone memo key
    val s2 = spark.newSession()
    assert(!s2.catalog.tableExists("graft_postings"),
      "fresh session unexpectedly shares temp views — test premise broken")
    GraftSession.openStores(s2, sfDir)
    assert(s2.sql("SELECT count(*) FROM graft_postings").head.getLong(0) > 0)
    // memoized second call is a cheap no-op that leaves the views resolvable
    GraftSession.openStores(s2, sfDir)
    assert(s2.catalog.tableExists("graft_search_meta"))
    // the refresh escape re-registers against current store state
    GraftSession.openStores(s2, sfDir, refresh = true)
    assert(s2.sql("SELECT n_docs FROM graft_search_meta").head.getLong(0) > 0)
  }

  test("openStores follows the MOST RECENT corpus: the graft_* views are one " +
    "session namespace, so reopening an earlier dir re-registers instead of " +
    "early-returning against the other corpus's views") {
    import org.apache.spark.sql.functions.col
    val s3 = spark.newSession()
    def nDocs = s3.sql("SELECT n_docs FROM graft_search_meta").head.getLong(0)
    GraftSession.openStores(s3, sfDir)
    val aDocs = nDocs
    // corpus B: byte-identical tables except documents halved
    val bDir = java.nio.file.Files.createTempDirectory("graft-corpusB").toString
    val src = java.nio.file.Paths.get(sfDir)
    java.nio.file.Files.list(src).forEach { t =>
      if (t.getFileName.toString != "documents.parquet") {
        val dstRoot = java.nio.file.Paths.get(bDir)
        java.nio.file.Files.walk(t).forEach { p =>
          val d = dstRoot.resolve(src.relativize(p))
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(d)
          else java.nio.file.Files.copy(p, d): Unit
        }
      }
    }
    s3.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 2 === 0)
      .write.parquet(s"$bDir/documents.parquet")
    GraftSession.openStores(s3, bDir)
    val bDocs = nDocs
    assert(bDocs > 0 && bDocs < aDocs, s"corpus B not distinguishable: $bDocs vs $aDocs")
    // the regression this pins: a per-dir memo SET would early-return here
    // and leave every view pointed at corpus B
    GraftSession.openStores(s3, sfDir)
    assert(nDocs === aDocs, "reopening corpus A served corpus B's views")
  }
}
