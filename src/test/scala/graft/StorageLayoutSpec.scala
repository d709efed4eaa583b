package graft

import graft.engine.{Search, TermQuery}
import org.apache.spark.sql.functions._

/** The 100 TB storage contract: a production log table is date-partitioned
  * (time-range queries prune whole directories) and fact tables are
  * bucketed on their join key (co-located joins skip the shuffle). The
  * query code never changes — these tests prove the *layouts* deliver the
  * plans the scale design assumes, which is exactly what breaks silently
  * when someone reorganizes storage.
  */
class StorageLayoutSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("graft-layout").toString

  test("date-partitioned events: a day filter prunes partitions at the scan") {
    val dir = s"$tmp/events_by_day"
    graft.sources.Sinks.writeEventsByDay(
      graft.engine.Tables.events(spark, sfDir), dir)

    val all = spark.read.parquet(dir)
    // one file per day partition (the writer's small-files contract)
    assert(all.inputFiles.length === all.select("day").distinct().count())
    val df = all.filter(col("day") === "2024-01-05").select("event_id")
    val executed = df.queryExecution.executedPlan
    assert(executed.toString.contains("PartitionFilters: [isnotnull(day"), executed.toString)
    // run THIS plan (df.count() would build a different one whose metrics
    // we don't hold) and read the scan's numFiles metric: pruning must cut
    // the 30 day-directories down to the one matching day
    val rows = executed.execute().count()
    assert(rows > 0)
    val numFiles = executed
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .head.metrics("numFiles").value
    val totalFiles = all.inputFiles.length
    assert(numFiles >= 1 && numFiles < totalFiles, s"files=$numFiles of $totalFiles")
  }

  test("posting store: term probe prunes to the terms' hash buckets, equals raw scan") {
    val dir = s"$tmp/postings"
    val docs = graft.engine.Tables.documents(spark, sfDir)
    graft.sources.Sinks.writePostings(docs, dir, buckets = 16)

    val terms = Seq("spark", "join", "window")
    val probe = graft.sources.Sinks.probePostings(spark, dir, terms)
    // the bucket predicate must land in the scan's PartitionFilters
    // (directory pruning), not a post-scan filter; sparkPlan is the
    // pre-AQE tree where the FileSourceScanExec is directly visible
    val scan = probe.queryExecution.sparkPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
    assert(scan.partitionFilters.exists(_.toString.contains("tok_bucket")),
      scan.partitionFilters.mkString("; "))
    val got = probe.as[Long].collect().sorted.toSeq
    // fewer files listed under the pruned directories than the full store
    val numFiles = scan.relation.location
      .listFiles(scan.partitionFilters, Nil).map(_.files.size).sum
    val totalFiles = graft.sources.Sinks.storePostings(spark, dir).inputFiles.length
    assert(numFiles < totalFiles, s"probe read $numFiles of $totalFiles files")
    // the persisted-index probe answers exactly what the raw-scan
    // formulation answers
    val rawScan = graft.engine.LogOps.invertedSearch.build(spark, sfDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got === rawScan)
    assert(got.nonEmpty)
  }

  test("bucketed fact-fact join: no exchange on either side") {
    graft.sources.Sinks.writeBucketedFact(
      graft.engine.Tables.orders(spark, sfDir),
      "orders_b", s"$tmp/orders_b", "o_orderkey", buckets = 8)
    graft.sources.Sinks.writeBucketedFact(
      graft.engine.Tables.lineitem(spark, sfDir),
      "lineitem_b", s"$tmp/lineitem_b", "l_orderkey", buckets = 8)
    // pin a shuffle-based join: at test scale AQE would broadcast instead,
    // hiding exactly the exchange this layout exists to elide
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      // co-located buckets: the join happens with zero shuffles; the only
      // exchange allowed is the one under the final small aggregation
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey") &&
             !plan.contains("Exchange hashpartitioning(l_orderkey"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("bucketed-facts store: build once, re-attach from standing files, answers equal raw join") {
    // First call builds (or finds) the standing bucketed layout.
    val (ordersT, lineitemT) = graft.sources.Stores.bucketedFacts(spark, sfDir)
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $ordersT")
      .filter(col("col_name") === "Location").select("data_type").head.getString(0)
    val mtimesBefore = new java.io.File(new java.net.URI(loc))
      .listFiles().map(f => f.getName -> f.lastModified).toMap
    // Simulate a NEW session against standing files: catalog entry gone,
    // parquet + _SUCCESS still on disk. The store must re-attach bucket
    // metadata via DDL without rewriting a byte.
    spark.sql(s"DROP TABLE $ordersT")
    spark.sql(s"DROP TABLE $lineitemT")
    val (o2, l2) = graft.sources.Stores.bucketedFacts(spark, sfDir)
    assert(o2 === ordersT && l2 === lineitemT)
    val mtimesAfter = new java.io.File(new java.net.URI(loc))
      .listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(mtimesAfter === mtimesBefore, "re-attach rewrote the standing files")
    // re-attached metadata still yields a bucketed scan
    val scan = spark.table(o2).queryExecution.sparkPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
    assert(scan.relation.bucketSpec.exists(_.numBuckets === 8), scan.relation.bucketSpec.toString)
    // and the registered query's answers equal the raw-table join
    val served = graft.engine.Relational.joinBucketed.build(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val raw = graft.engine.Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .join(graft.engine.Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toString).sorted.toSeq
    assert(served === raw)
    assert(served.nonEmpty)
  }

  test("daily rollup: incremental refresh of an append batch equals a full rebuild") {
    import spark.implicits._
    val events = graft.engine.Tables.events(spark, sfDir)
    // split MID-DAY so the cutoff day exists on both sides — the refresh
    // must MERGE standing partials with batch partials, not just add a
    // new partition
    val cutoff = events.selectExpr("percentile(ts_ns, 0.8)").head.getDouble(0).toLong
    val incrDir = s"$tmp/rollup_incr"
    graft.sources.Sinks.writeDailyRollup(events.filter(col("ts_ns") <= cutoff), incrDir)
    assert(spark.read.parquet(incrDir).count() > 0)
    def fileSig(dir: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .groupBy(_.getParentFile.getName)
        .map { case (d, fs) => d -> fs.map(f => (f.getName, f.lastModified)).sortBy(_._1) }
    }
    val sigBefore = fileSig(incrDir)
    graft.sources.Sinks.refreshDailyRollup(spark, incrDir, events.filter(col("ts_ns") > cutoff))

    val fullDir = s"$tmp/rollup_full"
    graft.sources.Sinks.writeDailyRollup(events, fullDir)
    def snap(dir: String) = spark.read.parquet(dir)
      .select(col("day").cast("string"), col("event_type"), col("n"),
        round(col("sum_value"), 6).as("sv"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(snap(incrDir) === snap(fullDir))
    // dynamic overwrite rewrote ONLY the batch's day partitions: every
    // pre-cutoff-only day directory still holds its original files
    val batchDays = events.filter(col("ts_ns") > cutoff)
      .select(to_date(col("ts")).cast("string")).distinct().as[String].collect()
      .map(d => s"day=$d").toSet
    val sigAfter = fileSig(incrDir)
    val untouchedDays = sigBefore.keySet -- batchDays
    assert(untouchedDays.nonEmpty, "fixture split left no untouched day — move the cutoff")
    for (d <- untouchedDays)
      assert(sigAfter.get(d) === sigBefore.get(d), s"refresh rewrote untouched partition $d")
  }

  test("store read memo: refresh invalidates the cached frame, stable listings reuse it") {
    import spark.implicits._
    val events = graft.engine.Tables.events(spark, sfDir)
    val cutoff = events.selectExpr("percentile(ts_ns, 0.8)").head.getDouble(0).toLong
    val dir = s"$tmp/rollup_memo"
    graft.sources.Sinks.writeDailyRollup(events.filter(col("ts_ns") <= cutoff), dir)
    val first = graft.sources.Stores.readCached(spark, dir)
    val nBefore = first.count()
    // unchanged listing → the SAME lazy frame instance (the memo memoizes)
    assert(graft.sources.Stores.readCached(spark, dir) eq first)
    // refresh rewrites the touched day partitions → listing fingerprint
    // changes → the next read resolves fresh (no stale plan)
    graft.sources.Sinks.refreshDailyRollup(spark, dir, events.filter(col("ts_ns") > cutoff))
    val second = graft.sources.Stores.readCached(spark, dir)
    assert(!(second eq first), "refresh must invalidate the memoized frame")
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(col("day").cast("string"), col("event_type"), col("n"),
        round(col("sum_value"), 6).as("sv"))
      .as[(String, String, Long, Double)].collect().toSet
    val fullDir = s"$tmp/rollup_memo_full"
    graft.sources.Sinks.writeDailyRollup(events, fullDir)
    assert(snap(second) === snap(spark.read.parquet(fullDir)),
      "post-refresh cached read must see the refreshed store")
    assert(second.count() >= nBefore)
  }

  test("store read memo: N refreshes of one store leave one memo entry for its path") {
    val events = graft.engine.Tables.events(spark, sfDir)
    val cuts = events.selectExpr("percentile(ts_ns, array(0.4, 0.6, 0.8))").head().getSeq[Double](0)
      .map(_.toLong)
    val dir = s"$tmp/rollup_memo_n"
    graft.sources.Sinks.writeDailyRollup(events.filter(col("ts_ns") <= cuts.head), dir)
    val frames = graft.sources.Stores.readCached(spark, dir) +:
      (cuts :+ Long.MaxValue).sliding(2).map { case Seq(lo, hi) =>
        graft.sources.Sinks.refreshDailyRollup(spark, dir,
          events.filter(col("ts_ns") > lo && col("ts_ns") <= hi))
        graft.sources.Stores.readCached(spark, dir)
      }.toSeq
    assert(frames.map(System.identityHashCode).distinct.size === frames.size,
      "every refresh must resolve a fresh frame")
    val key = graft.sources.Fs.qualify(dir)
    val entries = graft.sources.Stores.readMemo.synchronized(graft.sources.Stores.readMemo.get(spark))
      .keys.count(_.startsWith(key))
    assert(entries === 1, s"$entries memo entries for one store path after ${frames.size - 1} refreshes")
  }

  test("latency sketch store: incremental refresh of an append batch equals a full rebuild") {
    import spark.implicits._
    val events = graft.engine.Tables.events(spark, sfDir)
    // split MID-DAY (the daily-rollup pattern): the cutoff day exists on
    // both sides, so refresh must MERGE standing bucket counts with batch
    // counts, not just land a new partition
    val cutoff = events.selectExpr("percentile(ts_ns, 0.8)").head.getDouble(0).toLong
    val incrDir = s"$tmp/sketch_incr"
    graft.sources.Sinks.writeLatencySketches(events.filter(col("ts_ns") <= cutoff), incrDir)
    assert(spark.read.parquet(incrDir).count() > 0)
    def fileSig(dir: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .groupBy(_.getParentFile.getName)
        .map { case (d, fs) => d -> fs.map(f => (f.getName, f.lastModified)).sortBy(_._1) }
    }
    val sigBefore = fileSig(incrDir)
    graft.sources.Sinks.refreshLatencySketches(spark, incrDir, events.filter(col("ts_ns") > cutoff))

    val fullDir = s"$tmp/sketch_full"
    graft.sources.Sinks.writeLatencySketches(events, fullDir)
    def snap(dir: String) = spark.read.parquet(dir)
      .select(col("day").cast("string"), col("event_type"), col("bucket"), col("n"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(snap(incrDir) === snap(fullDir))
    // dynamic overwrite rewrote ONLY the batch's day partitions
    val batchDays = events.filter(col("ts_ns") > cutoff)
      .select(to_date(col("ts")).cast("string")).distinct().as[String].collect()
      .map(d => s"day=$d").toSet
    val sigAfter = fileSig(incrDir)
    val untouchedDays = sigBefore.keySet -- batchDays
    assert(untouchedDays.nonEmpty, "fixture split left no untouched day — move the cutoff")
    for (d <- untouchedDays)
      assert(sigAfter.get(d) === sigBefore.get(d), s"refresh rewrote untouched partition $d")
  }

  test("zone map: a narrow time range opens a strict subset of files, equals raw scan") {
    val store = graft.sources.Stores.rangeClusteredEvents(spark, sfDir)
    val totalFiles = spark.read.parquet(s"$store/data").inputFiles.length
    val (lo, hi) = ("2024-01-05 00:00:00", "2024-01-09 00:00:00")
    val probe = graft.sources.Sinks.zonemapScan(spark, store, lo, hi)
    // file-level skipping is the whole point: a 4-day window over a
    // 30-day range-clustered log must open only the covering files
    val opened = probe.inputFiles.length
    assert(opened >= 1 && opened < totalFiles, s"opened $opened of $totalFiles files")
    val got = probe.select("event_id").as[Long].collect().sorted.toSeq
    val raw = graft.engine.Tables.events(spark, sfDir)
      .filter(col("ts") >= to_timestamp(lit(lo)) && col("ts") < to_timestamp(lit(hi)))
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got === raw)
    assert(got.nonEmpty)
    // zones are genuinely disjoint: the clustered write produced files
    // whose [min, max] spans do not overlap (this is what makes skipping
    // effective rather than merely correct)
    val zones = spark.read.parquet(s"$store/zonemap")
      .select(col("min_ts").cast("long"), col("max_ts").cast("long"))
      .as[(Long, Long)].collect().sortBy(_._1)
    for (Array((_, hi1), (lo2, _)) <- zones.sliding(2).filter(_.length == 2))
      assert(hi1 <= lo2, "overlapping zone spans — range clustering broke")
    // a probe entirely outside the data range is empty, not an error
    assert(graft.sources.Sinks.zonemapScan(spark, store,
      "2030-01-01 00:00:00", "2030-01-02 00:00:00").count() === 0)
  }

  test("posting store: incremental refresh of appended docs equals a full rebuild") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val cut = docs.selectExpr("percentile(doc_id, 0.7)").head.getDouble(0).toLong
    val incrDir = s"$tmp/postings_incr"
    graft.sources.Sinks.writePostings(docs.filter(col("doc_id") <= cut), incrDir, buckets = 16)
    // record the standing generation's files: refresh must land the batch
    // as a NEW segment and leave the generation byte-identical
    def genFiles = graft.sources.Sinks.storePostings(spark, incrDir)
      .inputFiles.filter(_.contains("/gen-")).toSet
    val before = genFiles
    graft.sources.Sinks.refreshPostings(spark, incrDir, docs.filter(col("doc_id") > cut))
    val all = graft.sources.Sinks.storePostings(spark, incrDir).inputFiles.toSet
    assert(genFiles === before, "refresh rewrote the standing generation")
    assert(all.exists(_.contains("/seg/")), "refresh did not land a segment")

    val fullDir = s"$tmp/postings_full"
    graft.sources.Sinks.writePostings(docs, fullDir, buckets = 16)
    // all three probe shapes answer identically from either store
    val terms = Seq("spark", "join", "window")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def phrase(p: String) = Search.phrase(Search.Store(spark, p), Seq("slow", "join"))
    def anyTerm(p: String) = Search.matches(Search.Store(spark, p), TermQuery(Nil, should = terms))
    assert(rows(graft.sources.Sinks.probePostings(spark, incrDir, terms)) ===
           rows(graft.sources.Sinks.probePostings(spark, fullDir, terms)))
    assert(rows(graft.sources.Sinks.probePostingsBm25(spark, incrDir, terms, k = 20)) ===
           rows(graft.sources.Sinks.probePostingsBm25(spark, fullDir, terms, k = 20)))
    assert(rows(phrase(incrDir)) === rows(phrase(fullDir)))
    assert(rows(anyTerm(incrDir)) === rows(anyTerm(fullDir)))
    // facet side table: generation + segment docstats equal a full rebuild's
    assert(rows(graft.sources.Sinks.storeDocstats(spark, incrDir)) ===
           rows(graft.sources.Sinks.storeDocstats(spark, fullDir)))
    // corpus stats (the BM25 normalizers) combined over the whole store
    assert(rows(graft.sources.Sinks.storeMeta(spark, incrDir)) ===
           rows(graft.sources.Sinks.storeMeta(spark, fullDir)))
  }

  test("shingle-pair store: incremental refresh of appended docs equals a full " +
    "rebuild, leaves standing files byte-stable, and a replayed batch is a no-op") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val exist = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val dir = s"$tmp/shingle_pairs_incr"
    graft.sources.Sinks.writeSized(
      graft.engine.LlmOps.shinglePairsOfDocs(exist), dir, 2)
    def sig() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).sorted.toSeq
    val before = sig()
    graft.sources.Sinks.refreshShinglePairs(spark, dir, exist, batch)
    // standing pair files untouched, new delta files appended
    val after = sig()
    assert(before.toSet.subsetOf(after.toSet) && after.size > before.size,
      "refresh rewrote or dropped standing pair files")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // refresh ≡ rebuild over the union corpus
    assert(rows(spark.read.parquet(dir)) ===
      rows(graft.engine.LlmOps.shinglePairsOfDocs(docs)),
      "refreshed store diverged from a full rebuild")
    // replay: the anti-join guard appends nothing for a re-delivered batch
    graft.sources.Sinks.refreshShinglePairs(spark, dir, exist, batch)
    assert(rows(spark.read.parquet(dir)) ===
      rows(graft.engine.LlmOps.shinglePairsOfDocs(docs)),
      "replayed refresh changed the pair rows")
  }

  test("term dict: prefix probe prunes to covering files and equals the raw scan") {
    import org.apache.spark.sql.functions.{countDistinct, desc, explode, lower, split}
    val dir = s"$tmp/term_dict"
    val docs = graft.engine.Tables.documents(spark, sfDir)
    graft.sources.Sinks.writeTermDict(docs, dir)
    // the probe must open fewer dict files than the store holds
    val zm = spark.read.parquet(s"$dir/zonemap")
    val covering = zm.filter(col("max_tok") >= "s" &&
      org.apache.spark.sql.functions.substring(col("min_tok"), 1, 1) <= "s").count()
    assert(covering < zm.count(), s"no pruning: $covering of ${zm.count()} files")
    val got = graft.sources.Sinks.probeTermDict(spark, dir, "s", 10)
      .collect().map(_.toString).toSeq
    val raw = docs
      .select(col("doc_id"), explode(filter(split(lower(col("text")), " "),
        t => t =!= "")).as("tok"))
      .filter(col("tok").startsWith("s"))
      .groupBy("tok")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("cf"))
      .orderBy(desc("df"), col("tok")).limit(10)
      .collect().map(_.toString).toSeq
    assert(got === raw)
    // a prefix beyond the vocabulary is empty, not an error
    assert(graft.sources.Sinks.probeTermDict(spark, dir, "zzzz", 10).count() === 0)
  }

  test("term dict: delta-segment refresh equals a full rebuild across prefix probes; " +
    "standing dict files never rewritten") {
    import org.apache.spark.sql.functions.{col => c}
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val cut = docs.selectExpr("percentile(doc_id, 0.7)").head.getDouble(0).toLong
    val incrDir = s"$tmp/term_dict_incr"
    graft.sources.Sinks.writeTermDict(docs.filter(c("doc_id") <= cut), incrDir)
    def dictSig = new java.io.File(s"$incrDir/dict").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified)).sortBy(_._1).toSeq
    val sigBefore = dictSig
    graft.sources.Sinks.refreshTermDict(spark, incrDir, docs.filter(c("doc_id") > cut))
    assert(dictSig === sigBefore, "refresh rewrote standing dict files")
    assert(new java.io.File(s"$incrDir/delta").exists(), "no delta segment written")

    val fullDir = s"$tmp/term_dict_full"
    graft.sources.Sinks.writeTermDict(docs, fullDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // sweep prefixes hitting base-only, merged, and out-of-vocabulary paths
    for (p <- Seq("s", "sp", "jo", "w", "zzzz"))
      assert(rows(graft.sources.Sinks.probeTermDict(spark, incrDir, p, 10)) ===
             rows(graft.sources.Sinks.probeTermDict(spark, fullDir, p, 10)),
        s"prefix '$p' diverged after delta refresh")
    // a SECOND refresh batch stacks another delta and still agrees: split
    // the batch and refresh twice against a two-segment delta
    val incr2 = s"$tmp/term_dict_incr2"
    val mid = docs.selectExpr("percentile(doc_id, 0.85)").head.getDouble(0).toLong
    graft.sources.Sinks.writeTermDict(docs.filter(c("doc_id") <= cut), incr2)
    graft.sources.Sinks.refreshTermDict(spark, incr2,
      docs.filter(c("doc_id") > cut && c("doc_id") <= mid))
    graft.sources.Sinks.refreshTermDict(spark, incr2, docs.filter(c("doc_id") > mid))
    for (p <- Seq("s", "jo"))
      assert(rows(graft.sources.Sinks.probeTermDict(spark, incr2, p, 10)) ===
             rows(graft.sources.Sinks.probeTermDict(spark, fullDir, p, 10)),
        s"prefix '$p' diverged after stacked delta refreshes")
  }

  test("pq index: incremental refresh encodes the batch with the standing codebook " +
    "and equals a whole-corpus re-encode; standing code files never rewritten") {
    import org.apache.spark.sql.functions.{col => c}
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
    val cut = emb.selectExpr("percentile(vec_id, 0.7)").head.getDouble(0).toLong
    val dir = s"$tmp/pq_incr"
    // a standing codebook (the invariant holds for ANY given codebook —
    // refresh never retrains, so which corpus trained it is immaterial);
    // initial store holds codes for the first 70% of vectors only
    val standing = graft.sources.Stores.pqIndex(spark, sfDir)
    val cb = spark.read.parquet(s"$standing/codebook")
    val centsDf = spark.read.parquet(s"$standing/centroids")
    val cents = graft.engine.LlmOps.centsOf(centsDf)
    graft.sources.Sinks.writePqIndex(
      centsDf, cb,
      graft.engine.LlmOps.pqEncodeWithCells(emb.filter(c("vec_id") <= cut), cb, cents),
      dir)
    val before = spark.read.parquet(s"$dir/codes").inputFiles.toSet
    graft.sources.Sinks.refreshPqIndex(spark, dir, emb.filter(c("vec_id") > cut))
    val after = spark.read.parquet(s"$dir/codes").inputFiles.toSet
    assert(before.subsetOf(after) && after.size > before.size,
      "refresh rewrote or dropped standing code files")
    // refresh == re-encoding the WHOLE corpus against the same codebook +
    // centroids (cells included — select-ordered because the partitioned
    // read appends `cell` last)
    val standingCb = spark.read.parquet(s"$dir/codebook")
    val whole = graft.engine.LlmOps.pqEncodeWithCells(emb, standingCb,
        graft.engine.LlmOps.centsOf(spark.read.parquet(s"$dir/centroids")))
      .select("vec_id", "codes", "cell")
      .collect().map(_.toString).sorted.toSeq
    val refreshed = spark.read.parquet(s"$dir/codes")
      .select("vec_id", "codes", "cell")
      .collect().map(_.toString).sorted.toSeq
    assert(refreshed === whole)
    // replay safety: re-delivering the SAME batch appends nothing — the
    // vec_id anti-join guard makes refresh idempotent under at-least-once
    graft.sources.Sinks.refreshPqIndex(spark, dir, emb.filter(c("vec_id") > cut))
    val replayed = spark.read.parquet(s"$dir/codes")
      .select("vec_id", "codes", "cell")
      .collect().map(_.toString).sorted.toSeq
    assert(replayed === whole, "replayed refresh duplicated code rows")
  }

  test("bloom filter store: OR-merge refresh is byte-identical to a rebuild over " +
    "the union, and replaying a batch changes nothing") {
    import org.apache.spark.sql.functions.{col => c}
    val conf = spark.sparkContext.hadoopConfiguration
    def bytesOf(path: String): Seq[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.Sinks.readBloomFilter(path, conf).writeTo(bos)
      bos.toByteArray.toSeq
    }
    // item sets: a split of distinct tokens playing eval grams
    val toks = graft.engine.Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("ng"))
      .filter(c("ng") =!= "").distinct()
    val a = toks.filter(md5(c("ng")) < "8")
    val b = toks.filter(md5(c("ng")) >= "8")
    val incrDir = s"$tmp/bloom_incr"
    graft.sources.Sinks.writeBloomFilter(
      a.stat.bloomFilter("ng", graft.engine.LlmOps.bloomExpectedItems,
        graft.engine.LlmOps.bloomFpp), incrDir, conf)
    graft.sources.Sinks.refreshBloomFilter(spark, incrDir, b, "ng")
    val fullDir = s"$tmp/bloom_full"
    graft.sources.Sinks.writeBloomFilter(
      toks.stat.bloomFilter("ng", graft.engine.LlmOps.bloomExpectedItems,
        graft.engine.LlmOps.bloomFpp), fullDir, conf)
    assert(bytesOf(incrDir) === bytesOf(fullDir),
      "OR-merge refresh diverged from a union rebuild")
    // replay: OR is idempotent — re-delivering batch b changes no byte
    graft.sources.Sinks.refreshBloomFilter(spark, incrDir, b, "ng")
    assert(bytesOf(incrDir) === bytesOf(fullDir), "replayed refresh changed the filter")
  }

  test("salted aggregation equals direct aggregation") {
    import spark.implicits._
    val salted = graft.engine.LogOps.saltedAgg.build(spark, sfDir)
      .as[(String, Long, Double, Double)].collect().toSet
    val direct = graft.engine.Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"),
        round(sum("value") / count(lit(1)), 4).as("avg_value"))
      .as[(String, Long, Double, Double)].collect().toSet
    assert(salted === direct)
  }

  test("posting store READ ISOLATION: probes racing a refresh, a compaction, and " +
    "a rebuild each observe the pre- or post-state, never a torn union") {
    // The MVCC contract under test: a maintenance op flips visibility with
    // ONE atomic event (a segment's or a version's _COMMIT create), so a
    // concurrent reader's snapshot is always exactly one of the two
    // adjacent states — no half-appended postings, no
    // base-without-segments window, no double count mid-fold.
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val cut = docs.selectExpr("percentile(doc_id, 0.7)").head.getDouble(0).toLong
    val dir = s"$tmp/postings_race"
    graft.sources.Sinks.writePostings(docs.filter(col("doc_id") <= cut), dir, buckets = 16)
    val terms = Seq("spark", "join", "window")
    // (conjunctive doc set, BM25 ranking) — the second exercises the
    // docstats + meta paths, where a torn state would skew normalizers
    def answer(): (Seq[String], Seq[String]) = (
      graft.sources.Sinks.probePostings(spark, dir, terms)
        .collect().map(_.toString).sorted.toSeq,
      graft.sources.Sinks.probePostingsBm25(spark, dir, terms, k = 20)
        .collect().map(_.toString).sorted.toSeq)
    val before = answer()

    def race(op: () => Unit): Seq[(Seq[String], Seq[String])] = {
      val results = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Seq[String])]()
      val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      @volatile var stop = false
      val prober = new Thread(() =>
        try while (!stop) results.add(answer())
        catch { case t: Throwable => failed.set(t) })
      prober.start()
      try op() finally { stop = true; prober.join() }
      if (failed.get() != null) throw failed.get()
      import scala.jdk.CollectionConverters._
      results.asScala.toSeq
    }

    // 1) REFRESH: every racing answer is the pre-state or the post-state
    val seen1 = race(() =>
      graft.sources.Sinks.refreshPostings(spark, dir, docs.filter(col("doc_id") > cut)))
    val after = answer()
    assert(after !== before, "refresh changed nothing — vacuous race")
    // the two probes in `answer()` are separate snapshots — the commit may
    // land between them — so each is checked against {pre, post} on its own
    seen1.foreach { a =>
      assert(a._1 === before._1 || a._1 === after._1,
        s"torn conjunctive read during refresh: ${a._1.size} hits " +
          s"(before ${before._1.size}, after ${after._1.size})")
      assert(a._2 === before._2 || a._2 === after._2,
        "torn BM25 read during refresh")
    }
    assert(seen1.nonEmpty, "prober sampled nothing — vacuous race")

    // 2) COMPACTION: pre ≡ post, so every racing answer equals `after`
    val seen2 = race(() => graft.sources.Sinks.compactPostings(spark, dir))
    assert(answer() === after, "compaction changed the store's answers")
    seen2.foreach(a => assert(a === after, "torn read during compaction"))

    // 3) REBUILD over the full corpus: pre ≡ post again (same doc set)
    val seen3 = race(() => graft.sources.Sinks.writePostings(docs, dir, buckets = 16))
    assert(answer() === after, "rebuild changed the store's answers")
    seen3.foreach(a => assert(a === after, "torn read during rebuild"))
  }

  test("shingle-pair store READ ISOLATION: probes racing an incremental refresh " +
    "see the pre- or post-state pair set, never a partial delta") {
    // refreshShinglePairs lands its delta as ONE file (repartition(1)),
    // so the append's visibility is a single atomic file commit
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val exist = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val dir = s"$tmp/shingle_pairs_race"
    graft.sources.Sinks.writeSized(
      graft.engine.LlmOps.shinglePairsOfDocs(exist), dir, 2)
    def pairs(): Set[String] =
      spark.read.parquet(dir).collect().map(_.toString).toSet
    val before = pairs()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]()
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    @volatile var stop = false
    val prober = new Thread(() =>
      try while (!stop) results.add(pairs())
      catch { case t: Throwable => failed.set(t) })
    prober.start()
    try graft.sources.Sinks.refreshShinglePairs(spark, dir, exist, batch)
    finally { stop = true; prober.join() }
    if (failed.get() != null) throw failed.get()
    val after = pairs()
    assert(before.subsetOf(after) && after.size > before.size,
      "refresh added no pairs — vacuous race")
    import scala.jdk.CollectionConverters._
    results.asScala.foreach(p => assert(p === before || p === after,
      s"torn pair read: ${p.size} pairs (before ${before.size}, after ${after.size})"))
    assert(!results.isEmpty, "prober sampled nothing — vacuous race")
  }

  test("posting store: segment ids allocate above the fold watermark — a refresh " +
    "after rebuild+compaction stays visible, and a fresh-checkpoint id is rejected") {
    // The hazard sequence (ADVICE r10): build → refresh (seg b=0) →
    // compact (folded=0) → REBUILD (recomputes folded=0 from the still-on-
    // disk superseded segment) → compact (GC deletes b=0, early-returns,
    // both watermarks stay 0). A next refresh allocating from committed
    // segments alone would land b=0 — committed but INVISIBLE (visibility
    // is id > folded_through) and silently deleted by the next GC.
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val d1 = docs.filter(col("doc_id") % 3 === 0)
    val d2 = docs.filter(col("doc_id") % 3 === 1)
    val d3 = docs.filter(col("doc_id") % 3 === 2)
    val dir = s"$tmp/postings_watermark"
    graft.sources.Sinks.writePostings(d1, dir, buckets = 16)
    graft.sources.Sinks.refreshPostings(spark, dir, d2)
    graft.sources.Sinks.compactPostings(spark, dir)
    graft.sources.Sinks.writePostings(d1.unionByName(d2), dir, buckets = 16)
    graft.sources.Sinks.compactPostings(spark, dir) // GC only: nothing to fold
    val before = graft.sources.Sinks.storeDocstats(spark, dir).count()
    // LIVENESS of a genuine replay whose segment the GC already retired
    // (crash before the checkpoint commit, maintenance while down): b=0
    // is gone and folded_through == 0, so batchId == watermark — this
    // must proceed as a harmless invisible rewrite, never wedge the
    // stream. Fresh-checkpoint misuse is only ids STRICTLY below.
    graft.sources.Sinks.ingestPostingsSegment(spark, dir, d2, batchId = 0L)
    assert(graft.sources.Sinks.storeDocstats(spark, dir).count() === before,
      "replayed-at-watermark segment leaked into visibility")
    graft.sources.Sinks.refreshPostings(spark, dir, d3)
    // the refreshed docs are VISIBLE now…
    assert(graft.sources.Sinks.storeDocstats(spark, dir).count() ===
      before + d3.count(), "refreshed segment is invisible — allocated at/below the watermark")
    // …and survive the next maintenance op's GC (the silent-loss window)
    graft.sources.Sinks.compactPostings(spark, dir)
    assert(graft.sources.Sinks.storeDocstats(spark, dir).count() ===
      before + d3.count(), "refreshed docs lost to GC")
    // a restarted sink with a FRESH checkpoint (batchId reset to 0) against
    // this positive-watermark store must fail loudly, not silently drop
    val err = intercept[IllegalArgumentException] {
      graft.sources.Sinks.ingestPostingsSegment(spark, dir, d3, batchId = 0L)
    }
    assert(err.getMessage.contains("folded_through"))
  }

  test("posting store GENERATION RETENTION: genRetention=2 keeps a held snapshot " +
    "readable across two maintenance cycles; an expired snapshot fails cleanly, " +
    "never answers wrong") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
    def part(k: Int) = docs.filter(col("doc_id") % 8 === k)
    val dir = s"$tmp/postings_retention"
    val terms = Seq("spark", "join")
    graft.sources.Sinks.writePostings(part(0), dir, buckets = 16)
    def cycle(k: Int): Unit = {
      graft.sources.Sinks.refreshPostings(spark, dir, part(k))
      graft.sources.Sinks.compactPostings(spark, dir)
    }
    def snap() = graft.sources.Sinks.probePostingsBm25(spark, dir, terms, k = 20)
    val expect = snap().collect().map(_.toString).toSeq
    try {
      spark.conf.set("spark.graft.genRetention", "2")
      val held = snap() // resolves the initial generation NOW
      cycle(1); cycle(2) // two full refresh+compaction cycles
      // the held snapshot's immutable files are retained → same answer
      assert(held.collect().map(_.toString).toSeq === expect,
        "held snapshot diverged or died inside the retention window")
      // store has moved on: the live probe sees the appended docs
      assert(snap().collect().map(_.toString).toSeq !== expect,
        "maintenance cycles changed nothing — vacuous retention test")
    } finally spark.conf.unset("spark.graft.genRetention")
    // DEFAULT retention (1): a snapshot that outlives the window fails with
    // a clean missing-file error on read — generations are immutable and
    // deleted whole, so expiry can never yield a silently wrong answer
    val expired = snap()
    cycle(3); cycle(4); cycle(5)
    val err = intercept[Throwable] { expired.collect() }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(err).exists(t =>
      t.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(t.getMessage).contains("does not exist")),
      s"expected a clean missing-file failure, got: $err")
  }

  test("posting store CROSS-PROCESS BUILD RACE: two concurrent writers converge " +
    "to one valid complete store (highest committed version wins)") {
    // Stores serializes builds in-process; across JVMs both writers can
    // pass the missing-marker check. Version directories carry a unique
    // suffix, so the two builds never collide on disk, and whichever
    // committed version sorts highest is a complete store.
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val dir = s"$tmp/postings_build_race"
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (1 to 2).map(_ => new Thread(() =>
      try graft.sources.Sinks.writePostings(docs, dir, buckets = 16)
      catch { case t: Throwable => errs.add(t) }))
    writers.foreach(_.start()); writers.foreach(_.join())
    assert(errs.isEmpty, s"racing build threw: ${errs.peek()}")
    // the converged store answers exactly like an uncontended build
    val ref = s"$tmp/postings_build_ref"
    graft.sources.Sinks.writePostings(docs, ref, buckets = 16)
    def rows(p: String) = graft.sources.Sinks
      .probePostingsBm25(spark, p, Seq("spark", "join", "window"), k = 20)
      .collect().map(_.toString).toSeq
    assert(rows(dir) === rows(ref))
    assert(rows(dir).nonEmpty)
  }
}
