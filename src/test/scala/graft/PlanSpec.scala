package graft

import graft.engine.{CurationOps, LlmOps, LogOps, Relational}

/** Physical-plan assertions — the scale contract. Correctness tests prove
  * the answers; these prove the *plans* are the ones that survive a 100×
  * scale-up: filters reach the parquet scan, projections prune the read
  * schema, dimension joins broadcast instead of shuffling, top-k never
  * materializes a global sort, and the vector kernels stay inside
  * whole-stage codegen. A regression here is invisible at sf0.001 and
  * fatal at 100 TB, which is why it is pinned in CI rather than left to
  * manual `.explain` inspection.
  */
class PlanSpec extends SparkSpecBase {

  /** Post-EnsureRequirements plan — exchanges are visible here (sparkPlan
    * is the pre-preparation plan and shows no shuffles at all).
    */
  private def planOf(q: graft.engine.Q): String =
    q.build(spark, sfDir).queryExecution.executedPlan.toString

  private def formatted(q: graft.engine.Q): String = {
    val df = q.build(spark, sfDir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("filter predicates are pushed down to the parquet scan") {
    val plan = formatted(Relational.filterPredicates)
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("IsNotNull(o_orderstatus)") ||
           plan.contains("EqualTo(o_orderstatus,F)"), plan)
  }

  test("projection prunes the scan to referenced columns only") {
    val plan = formatted(Relational.selProject)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_discount"), readSchema)
    // the 7 untouched lineitem columns must not be read
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_returnflag"), readSchema)
  }

  test("dimension joins broadcast; no sort-merge join appears") {
    val plan = planOf(Relational.joinBroadcastDim)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("global top-k plans TakeOrderedAndProject, not a full sort") {
    val plan = planOf(Relational.topkGlobal)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("pricing summary partial-aggregates map-side before the exchange") {
    val plan = planOf(Relational.aggPricingSummary)
    // two HashAggregate nodes (partial + final) around one shuffle
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("Exchange hashpartitioning"), plan)
  }

  test("knn keeps the corpus side unshuffled under a broadcast join") {
    val plan = planOf(LlmOps.knnCosine)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("cosine_sim"), plan)
    // the corpus scan feeds the join directly — no exchange between them
    val beforeWindow = plan.split("Window").head
    assert(!beforeWindow.contains("Exchange hashpartitioning"), plan)
  }

  test("neardup cosine runs as a banded equi-join, never corpus×corpus") {
    // The registered (banded) form joins on (table, band, ci, cj); a
    // BroadcastNestedLoopJoin or CartesianProduct here means the whole
    // corpus crosses itself on one node — impossible at 100 TB (the
    // pre-fix shape this test exists to keep out).
    val plan = planOf(LlmOps.nearDupCosine)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
           plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("cosine_sim"), plan)
    // The spec-level exact oracle keeps the same discipline: block-grid
    // equi-join, no corpus×corpus, so the ground-truth computation is
    // itself distributable at fixture scale.
    val exact = LlmOps.exactCosinePairs(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!exact.contains("BroadcastNestedLoopJoin"), exact)
    assert(!exact.contains("CartesianProduct"), exact)
  }

  test("levenshtein pair scan repartitions the probe side before the kernel") {
    // The block-capped side broadcasts, so without an explicit round-robin
    // exchange the whole O(len²) kernel runs inside the single task a
    // one-file scan produces (measured 48 s vs 2.4 s at sf0.1). The
    // explicit count makes the exchange AQE-coalesce-exempt.
    val plan = planOf(graft.engine.TextOps.levenshteinPairs)
    assert(plan.contains("RoundRobinPartitioning"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("multi-pattern grep evaluates all patterns in one scan") {
    // The operator's whole point: N saved-search regexes cost ONE pass over
    // the corpus. Two scans would mean someone split the count_if stack.
    val simple = planOf(LogOps.grepMulti)
    val scans = "Scan parquet".r.findAllIn(simple).size
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$simple")
    // and the counts partial-aggregate map-side before the single-row final
    assert("HashAggregate".r.findAllIn(simple).size >= 2)
    val plan = formatted(LogOps.grepMulti)
    // only the text column is read — the grep never drags the full row
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text") && !readSchema.contains("doc_id"), readSchema)
  }

  test("column profile reads the corpus exactly once") {
    // The operator's claim is ANALYZE-TABLE stats in ONE scan. The builder
    // makes that structural (explode over the single agg row, not a
    // 5-branch union relying on ReuseExchange); this pin keeps it so.
    val plan = planOf(Relational.metaColumnProfile)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$plan")
  }

  test("indexed search serves from the posting store: pruned bucket scan, corpus never read") {
    // The registered log_indexed_search must run the ENGINE lifecycle:
    // answer from the standing index's pruned tok_bucket directories and
    // never re-tokenize the corpus. A documents.parquet scan appearing
    // here means the query regressed to the raw-scan formulation.
    val df = LogOps.indexedSearch.build(spark, sfDir)
    val scans = df.queryExecution.sparkPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val roots = scans.map(_.relation.location.rootPaths.mkString(","))
    assert(!roots.exists(_.contains("documents.parquet")),
      s"indexed search read the corpus: $roots")
    val store = scans.find(_.output.exists(_.name == "tok"))
      .getOrElse(fail(s"no posting-store scan found in: $roots"))
    assert(store.partitionFilters.exists(_.toString.contains("tok_bucket")),
      store.partitionFilters.mkString("; "))
  }

  test("store-served BM25, phrase, boolean, and facet search never read the corpus") {
    // The whole point of the standing index: ranked retrieval, phrase
    // matching, boolean algebra, facet rollups, and prefix completion
    // answer from their store artifacts (posting buckets + docstats +
    // meta, or the token-sorted term dict) only.
    for (q <- Seq(LogOps.indexedSearchRanked, LogOps.indexedPhrase,
                  LogOps.booleanSearchIndexed, LogOps.searchFacetsIndexed,
                  LogOps.termSuggest)) {
      val roots = q.build(spark, sfDir).queryExecution.sparkPlan
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .map(_.relation.location.rootPaths.mkString(","))
      assert(!roots.exists(_.contains("documents.parquet")),
        s"${q.name} read the corpus: $roots")
      assert(roots.exists(r => r.contains("postings") || r.contains("term_dict")),
        s"${q.name}: no store scan in $roots")
    }
  }

  test("bm25 ranked retrieval: map-side tf, broadcast stats, TakeOrdered top-k") {
    val plan = planOf(LogOps.searchRanked)
    // top-20 must be a TakeOrdered, never a global sort of all matches
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // per-doc tf/dl never explode/shuffle tokens: no Generate (explode)
    // node anywhere — tfs come from size(filter(ts)) inside the scan
    assert(!plan.contains("Generate"), plan)
    // corpus stats ride in as a broadcast, not a shuffled join
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("raw-scan searches plan no more shuffle exchanges than their hand-written spellings") {
    // Exchanges of the plan as prepared, before AQE re-plans its stages.
    // The bounds are the counts of the per-query spellings the term-query
    // core replaced; the conjunctive and boolean searches now find hits
    // map-side (no Generate, no term-row shuffle) and keep only the sort.
    val bounds = Map("log_inverted_search" -> 3, "log_boolean_search" -> 3,
      "log_search_facets" -> 2, "log_search_ranked" -> 1, "log_proximity_search" -> 2,
      "log_phrase_search" -> 2)
    for ((name, bound) <- bounds) {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
      assert(shuffles <= bound, s"$name: $shuffles shuffle exchanges > $bound\n$plan")
      if (Set("log_inverted_search", "log_boolean_search")(name))
        assert(!plan.toString.contains("Generate"), s"$name explodes tokens\n$plan")
    }
  }

  test("store-served searches read each posting root once per term relation") {
    // A pivot search reads the pruned buckets once; BM25 also reads them
    // for its |terms|-row df relation, and the phrase once per side of its
    // adjacency join. The hand-written conjunctive probe read them twice.
    val reads = Map("log_indexed_search" -> 1, "log_boolean_search_indexed" -> 1,
      "log_search_facets_indexed" -> 1, "log_indexed_search_ranked" -> 2,
      "log_indexed_phrase" -> 2)
    for ((name, bound) <- reads) {
      val roots = SparkEntry.queries(name)(spark, sfDir).queryExecution.sparkPlan
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .map(_.relation.location.rootPaths.mkString(","))
        .filter(_.endsWith("/postings"))
      assert(roots.nonEmpty, s"$name: no posting scan")
      val most = roots.groupBy(identity).map { case (r, n) => r -> n.size }
      assert(most.values.max <= bound, s"$name: posting reads $most > $bound")
    }
  }

  test("rollup-served report reads the standing rollup, never the raw log") {
    // The materialized-view contract: log_rollup_served answers from the
    // (day, event_type) partials. An events.parquet scan here means the
    // query regressed to re-aggregating the corpus per report.
    val scans = LogOps.rollupServed.build(spark, sfDir).queryExecution.sparkPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val roots = scans.map(_.relation.location.rootPaths.mkString(","))
    assert(!roots.exists(_.contains("events.parquet")),
      s"rollup-served report read the raw log: $roots")
    assert(roots.exists(_.contains("daily_rollup")), s"no rollup scan in: $roots")
  }

  test("sketch-served quantile report reads the standing sketch store, never the raw log") {
    // The persisted-sketch contract: log_latency_sketch_served answers
    // from the (event_type, day, bucket, n) counts. An events.parquet scan
    // here means the query regressed to re-bucketing the corpus per report.
    val df = LogOps.latencySketchServed.build(spark, sfDir)
    val scans = df.queryExecution.sparkPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val roots = scans.map(_.relation.location.rootPaths.mkString(","))
    assert(!roots.exists(_.contains("events.parquet")),
      s"sketch-served report read the raw log: $roots")
    assert(roots.exists(_.contains("latency_sketch")), s"no sketch scan in: $roots")
    // the date range prunes whole day= directories BEFORE any IO
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.toString.contains("day")),
      scan.partitionFilters.mkString("; "))
  }

  test("near-dup filter probes the standing pair store, never re-shingling the corpus") {
    // The pair-store contract: the postings expansion ran once at store
    // build; the registered consumer's PLAN must hold no Generate (explode)
    // node — a re-shingle here means the store is being bypassed and the
    // most expensive near-dup pipeline runs per consumer again.
    val df = graft.engine.LlmOps.nearDupFilter.build(spark, sfDir)
    val roots = df.queryExecution.sparkPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .map(_.relation.location.rootPaths.mkString(","))
    assert(roots.exists(_.contains("shingle_pairs")), s"no pair-store scan in: $roots")
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("Generate"), s"consumer re-shingled the corpus:\n$plan")
  }

  test("point lookup prunes to the probed users' buckets") {
    // The user-bucketed layout's contract: an IN predicate on the bucket
    // key cuts the scan to the matching buckets BEFORE any IO. All 8
    // buckets selected means bucket pruning silently stopped (key or
    // layout drifted) — correct answers, 100 TB scan.
    val df = LogOps.pointLookup.build(spark, sfDir)
    val scan = df.queryExecution.sparkPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
    assert(scan.bucketedScan, "not a bucketed scan")
    val selected = scan.optionalBucketSet
      .getOrElse(fail("no bucket pruning set in the scan")).cardinality()
    assert(selected >= 1 && selected <= 3, s"selected $selected of 8 buckets")
  }

  test("zonemap-served range report reads the clustered store, never the raw log") {
    val scans = LogOps.zonemapScan.build(spark, sfDir).queryExecution.sparkPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val roots = scans.map(_.relation.location.rootPaths.mkString(","))
    assert(!roots.exists(_.contains("events.parquet")),
      s"zonemap report read the raw log: $roots")
    assert(roots.exists(_.contains("range_clustered")), s"no store scan in: $roots")
    // the residual ts predicate still pushes down inside the opened files
    val fmt = formatted(LogOps.zonemapScan)
    assert(fmt.contains("PushedFilters: [IsNotNull(ts)") || fmt.contains("GreaterThanOrEqual(ts"), fmt)
  }

  test("bucketed-store join runs with zero exchanges on either fact") {
    // The registered join_bucketed serves from Stores.bucketedFacts: both
    // scans already satisfy the join's required distribution, so the ONLY
    // exchange in the whole plan is the one under the final few-row
    // (l_returnflag, l_linestatus) aggregation. An Exchange on either order key means the
    // layout stopped being honored (catalog metadata lost, bucket counts
    // diverged) — invisible at test scale, fatal at 100 TB.
    val plan = planOf(Relational.joinBucketed)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey") &&
           !plan.contains("Exchange hashpartitioning(l_orderkey"), plan)
    // both sides come off a bucketed scan, not a plain parquet read
    val scans = Relational.joinBucketed.build(spark, sfDir).queryExecution.sparkPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.length === 2 && scans.forall(_.bucketedScan), plan)
  }

  test("interval overlap joins on the time bucket — equi-join, never nested-loop") {
    // The operator has NO shared equi-key; the bucket binning must be what
    // the planner joins on. A BNLJ here means the rewrite regressed to the
    // every-session×every-incident scan that dies at scale.
    val plan = planOf(LogOps.joinIntervalOverlap)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    assert(
      plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
        || plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("bucket"), plan)
  }

  test("template mine is one events scan feeding a partial-aggregated rollup") {
    val plan = planOf(LogOps.templateMine)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 events scan, got $scans\n$plan")
    // min(sample_line) is a string agg → Spark picks SortAggregate (strings
    // have no mutable hash buffer); what matters is the map-side partial
    // stage collapsing lines onto template-cardinality keys before the wire
    assert(plan.contains("partial_count"), plan)
    assert("(Hash|Sort)Aggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("gopher repetition shuffles the corpus once; gram rows never cross the wire") {
    // doc_id partitioning up front satisfies the gram count, the (doc, n)
    // window, and the per-doc rollup — three exchanges collapse to one
    // (measured 31.1 → 5.4 s at the ×10 soak)
    val plan = planOf(graft.engine.TextOps.gopherRepetition)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles\n$plan")
  }

  test("gopher doc filter is map-only: no hash exchange anywhere in the plan") {
    // Every rule — including the trigram repetition fraction — computes
    // row-local with array functions, so the whole gate fuses into the
    // scan. The only exchange allowed is the dump ORDER BY's range sort.
    val plan = planOf(graft.engine.TextOps.gopherDocFilter)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("decontamination broadcasts the eval n-grams; train side joins without sorting") {
    val plan = planOf(LlmOps.decontaminate)
    // the scale contract: the (tiny) benchmark side broadcasts, the
    // (enormous) train side is scan → explode → hash probe, never a
    // sort-merge of training text
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("events time-range predicates push down on the raw ts column") {
    import org.apache.spark.sql.functions._
    // The fixture's µs parquet is read as a raw TimestampType column (see
    // Tables.prepare: inferTimestampNTZ=false), so a timestamp predicate —
    // the shape every engine query uses — reaches the parquet scan.
    val df = graft.engine.Tables.events(spark, sfDir)
      .filter(col("ts") >= lit("2024-01-01 00:00:00").cast("timestamp"))
      .select("event_id")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"), plan)
  }

  test("as-of merge runs on a single user_id hash exchange, no pair join") {
    val plan = planOf(LogOps.joinAsofEvents)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles\n$plan")
    assert(!plan.contains("Join"), plan)  // the fanout formulation is gone
  }

  test("forward as-of keeps the same merge discipline: one exchange, no pair join") {
    val plan = planOf(LogOps.joinAsofForward)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("event runs: both windows and the island groupBy share one user_id exchange") {
    val plan = planOf(LogOps.eventRuns)
    // hashpartitioning(user_id) satisfies the finer (user_id, event_type)
    // window clustering AND the (user, type, island) aggregation — Spark
    // plans all three on one exchange; a regression to per-key exchanges
    // would triple the shuffle volume of the hottest log-table pattern
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles\n$plan")
  }

  test("bigram vocab top-k is a TakeOrdered over a partial-aggregated count") {
    val plan = planOf(CurationOps.bigramVocab)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // map-side combine: the shuffle carries one row per distinct bigram
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("split assignment never shuffles rows before the profile aggregation") {
    val plan = planOf(CurationOps.trainTestSplit)
    // exactly one exchange: the 3-group final aggregation; the hash-split
    // itself is a stateless per-row map
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles\n$plan")
    // and the scan reads only the columns the split profile needs
    val f = formatted(CurationOps.trainTestSplit)
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"), readSchema)
  }

  test("sessionize shuffles once on user_id, reused by both window passes") {
    val plan = planOf(LogOps.winSessionize)
    val shuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 user_id shuffle, got $shuffles\n$plan")
  }

  test("compaction: row_number and version count share one key exchange") {
    val plan = planOf(LogOps.compactLatest)
    val shuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 key shuffle, got $shuffles\n$plan")
  }

  test("peak concurrency: user_id exchange (sessions) + day exchange (sweep), nothing more") {
    val plan = planOf(LogOps.peakConcurrency)
    val user = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
    val day = "Exchange hashpartitioning\\(day".r.findAllIn(plan).size
    assert(user == 1 && day >= 1, s"expected 1 user_id + day exchanges\n$plan")
    // the sweep itself must never collapse to a single partition
    assert(!plan.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"), plan)
  }

  /** Queries whose plan legitimately contains a CartesianProduct or
    * BroadcastNestedLoopJoin, each with the reason the unbounded-join rule
    * does not apply. Everything else in the registry must plan without
    * either node — the single most common way a query that passes at
    * sf0.01 dies at 100 TB is an accidental cartesian (a typo'd join key,
    * a non-equi condition Spark can't hash) that nobody looked at. An
    * entry whose query plans neither node is stale and fails the test, so
    * the list cannot outlive the plans it excuses.
    */
  private val unboundedJoinAllowlist: Map[String, String] = Map(
    "join_cross"            -> "the operator IS a cartesian (5-row region × 25-row nation dims)",
    "llm_knn_cosine"        -> "100-row query side broadcast over the corpus — corpus never shuffles",
    "llm_hard_negatives"    -> "100-row anchor side broadcast over the corpus (knn discipline); label inequality rides the join",
    // llm_ann_ivfpq / _indexed / llm_sql_ann_served left the allowlist in
    // r12: the IVF probe stage turned the ADC-table BNLJ into a broadcast
    // HASH join on the coarse cell, so their plans now clear the rule
    // outright.
    "log_search_ranked"     -> ("single-row corpus-stats aggregate (N, avgdl, dfs) cross-joined " +
                                "into the BM25 score — metadata rebase"),
    "log_trending_templates"-> ("single-row day-census aggregate cross-joined into the lift " +
                                "denominator — metadata rebase over (day, template) counts"),
    "llm_dataset_card"      -> "single-row corpus-total aggregate cross-joined into pct_corpus",
    "llm_tfidf"             -> "single-row corpus-count aggregate cross-joined into idf",
    "filter_scalar_subquery"-> "single-row scalar aggregate broadcast as the filter bound",
    "llm_domain_mix"        -> "single-row totals aggregate cross-joined into the weights",
    "llm_temperature_mix"   -> ("single-row (Σ tokens, Σ √tokens) aggregate cross-joined " +
                                "into the α-scaled shares — metadata rebase over source rows"),
    "text_unigram_logprob"  -> "single-row corpus-total aggregate cross-joined into log2 N",
    "log_retention_policy"  -> "single-row max-ts aggregate cross-joined into the age tiers",
    "log_drift_daily"       -> "single-row global min/max and bin-total aggregates cross-joined into the binning and the KL normalizer",
    "stream_drift_1h"       -> "single-row baseline bounds + 1-row baseline histogram broadcast into the per-window KL projection (streaming-legal single aggregation)",
    "log_type_affinity"     -> "single-row session-count aggregate cross-joined into the lift",
    "text_quality_classifier" -> ("per-round single-row weight and gradient aggregates " +
                                "cross-joined back as explicit broadcasts — 4-key shuffle, never documents"),
    "log_resample_fill"     -> ("hour spine (exploded 1-row min/max agg) × ≤5-row distinct " +
                                "type dim — both post-aggregation metadata-sized"),
    "sql_not_in_nulls"      -> ("null-aware anti join is Spark's only NOT IN implementation — " +
                                "the query exists to pin NOT IN's NULL semantics; the scale " +
                                "rewrite is NOT EXISTS (covered by join_anti), and the outer " +
                                "cross join is two single-row aggregates"),
    "log_schema_infer"      -> ("single-row corpus-total aggregate cross-joined into the " +
                                "coverage percentage — metadata rebase over key-cardinality rows"),
    "agg_equidepth_histogram" -> ("single-row quantile-cutpoint aggregate broadcast into the " +
                                "bin-assignment scan — metadata rebase"),
    "log_corr_matrix"       -> ("hour spine × ≤5-row distinct type dim, both post-aggregation " +
                                "metadata-sized (the log_resample_fill zero-fill-grid shape)"),
    "meta_benford_digits"   -> ("single-row digit-count total cross-joined into the observed " +
                                "percentage — metadata rebase over ≤9 digit rows"),
    "meta_schema_drift"     -> ("single-row two-period totals aggregate cross-joined into the " +
                                "coverage percentages — metadata rebase over key-cardinality rows"),
    "sql_dormant_customers" -> ("single-row balance-stats scalar aggregate cross-joined as " +
                                "the above-average bound (TPC-H Q22 shape) — metadata rebase; " +
                                "the order probe itself is a hashed LEFT ANTI join"))

  test("no query in the registry plans an unbounded cartesian or nested-loop join") {
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try Right(fn(spark, sfDir).queryExecution.executedPlan.toString)
               catch { case e: Throwable => Left(e.getMessage) })
    }
    // a query that fails to PLAN is itself a failure — swallowing it would
    // let a broken no-oracle query (with no other registry-wide coverage)
    // ship green
    val broken = results.collect { case (name, Left(msg)) => s"$name: $msg" }
    assert(broken.isEmpty, s"queries failed to plan: $broken")
    val offenders = results.collect {
      case (name, Right(plan))
        if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin")) &&
           !unboundedJoinAllowlist.contains(name) => name
    }
    assert(offenders.isEmpty,
      s"queries with un-allowlisted cartesian/BNLJ plans: $offenders")
    val planned = results.collect { case (name, Right(plan)) => name -> plan }.toMap
    val stale = unboundedJoinAllowlist.keys.filterNot { name =>
      planned.get(name).exists(p => p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
    }
    assert(stale.isEmpty, s"allowlisted queries that plan no cartesian/BNLJ: $stale")
  }

  /** Registered queries whose returned plan holds a `Window` with no
    * PARTITION BY — one task sorts and scans every row that reaches it —
    * each with the size of that input. The inventory is pinned both ways:
    * a query that gains such a window fails until it is listed, and an
    * entry whose query no longer plans one is stale and fails.
    */
  private val unpartitionedWindowAllowlist: Map[String, String] = Map(
    "log_cumulative_users"      -> "running sum over the day rows of the (user → first day) aggregate",
    "log_cusum_changepoint"     -> "global stats and prefix sums over the day-count rows",
    "log_outage_windows_merged" -> "phase-2 sweep over the per-day outage pieces, not events",
    "log_seasonality"           -> "load factor over the ≤ 168 (dow, hour) cells",
    "log_sla_burn"              -> "trailing RANGE frame over the hour-count rows",
    "log_value_histogram"       -> "grand total over the ≤ 10 bin-count rows",
    "text_zipf_ranks"           -> "row_number over the top-30 token counts",
    "win_moving_avg"            -> "7-row frame over the day-count rows",
    "win_running_sum"           -> "running sum over the daily-revenue rows")

  test("registry inventory: every unpartitioned window is listed") {
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try Right(helper.collectWithSubqueries(fn(spark, sfDir).queryExecution.executedPlan) {
        case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
      }.nonEmpty) catch { case e: Throwable => Left(e.getMessage) })
    }
    val broken = results.collect { case (name, Left(msg)) => s"$name: $msg" }
    assert(broken.isEmpty, s"queries failed to plan: $broken")
    val found = results.collect { case (name, Right(true)) => name }.toSet
    val unlisted = found.filterNot(unpartitionedWindowAllowlist.contains).toSeq.sorted
    assert(unlisted.isEmpty, s"queries with unlisted unpartitioned windows: $unlisted")
    val stale = unpartitionedWindowAllowlist.keySet.diff(found).toSeq.sorted
    assert(stale.isEmpty, s"listed queries that plan no unpartitioned window: $stale")
  }

  test("k-means E-step plans no window and moves no embedding through an exchange") {
    val plan = LlmOps.kmeansEmbed.build(spark, sfDir).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.isEmpty, s"llm_kmeans plans a Window:\n$plan")
    val carriers = plan.collect {
      case x: org.apache.spark.sql.execution.exchange.Exchange
        if x.output.exists(_.name == "embedding") => x.nodeName
    }
    assert(carriers.isEmpty, s"exchanges carrying embedding: $carriers\n$plan")
  }

  // ---- r12 optimization pins (OPTIMIZATION_r12.md) -------------------------

  test("r12: text_repetition builds its trigram array exactly once per row") {
    // the pushed n_tri > 0 filter must not inline the trigram build into
    // the scan predicate (the MaterializeOnce barrier's whole job): the
    // concat_ws gram constructor appears in ONE operator, not two
    val plan = planOf(graft.engine.TextOps.repetition)
    val sites = "concat_ws".r.findAllIn(plan).size
    assert(sites == 1, s"expected 1 trigram-build site, got $sites\n$plan")
  }

  test("r12: gopher repetition tokenizes each row once") {
    val plan = planOf(graft.engine.TextOps.gopherRepetition)
    val splits = "split\\(lower\\(".r.findAllIn(plan).size
    assert(splits == 1, s"expected 1 tokenize site, got $splits\n$plan")
  }

  test("r12: dense-grid jaccard evaluates the popcount kernel once per pair") {
    // drive densePairs directly (the registered query routes by census);
    // 2-term vocab → 1 mask word → the kernel is a single bit_count term,
    // and it must appear once (in the projection), never in the join
    import spark.implicits._
    val postings = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "b"))
      .toDF("doc_id", "sh")
    val df = LlmOps.densePairs(postings, Array("a", "b"), 0.5)
    val plan = df.queryExecution.executedPlan.toString
    val sites = "bit_count".r.findAllIn(plan).size
    assert(sites == 1, s"expected 1 popcount site, got $sites\n$plan")
    val joinLines = plan.linesIterator.filter(_.contains("Join")).toSeq
    assert(!joinLines.exists(_.contains("bit_count")),
      s"popcount leaked into the join condition:\n${joinLines.mkString("\n")}")
  }

  test("r12: minhash pairs read the corpus once (signature table reused)") {
    val plan = planOf(LlmOps.minhashPairs)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 1, s"expected <=1 documents scan, got $scans\n$plan")
  }

  test("r12: dup-span fraction reads the corpus once (gram table reused)") {
    val plan = planOf(LlmOps.dupSpanFraction)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 1, s"expected <=1 documents scan, got $scans\n$plan")
  }

  test("r12: type affinity sessionizes once (basket table reused)") {
    val plan = planOf(LogOps.typeAffinity)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 1, s"expected <=1 events scan, got $scans\n$plan")
  }

  test("r12: recursive reach keeps the edge derivation out of the loop") {
    val plan = planOf(graft.engine.SqlOps.recursiveReach)
    assert(plan.contains("UnionLoop"), plan)
    assert(!plan.contains("Window"),
      s"edge derivation (lag window) re-entered the recursive loop:\n$plan")
  }

  test("r12: semdedup scores each candidate pair's cosine exactly once") {
    // the cluster-assignment fan-out is deliberately NOT checkpointed (the
    // frame carries the vectors — see the source note), but the verify
    // kernel must never re-enter the join residual
    val plan = planOf(LlmOps.semDedup)
    val joinLines = plan.linesIterator.filter(_.contains("Join")).toSeq
    assert(!joinLines.exists(_.contains("cosine_sim")),
      s"pair cosine leaked into a join condition:\n${joinLines.mkString("\n")}")
  }

  test("r12: banded near-dup scores each candidate pair's cosine exactly once") {
    val plan = planOf(LlmOps.nearDupCosine)
    val joinLines = plan.linesIterator.filter(_.contains("Join")).toSeq
    assert(!joinLines.exists(_.contains("cosine_sim")),
      s"pair cosine leaked into a join condition:\n${joinLines.mkString("\n")}")
  }

  test("r12: table loads memoize per (session, path) and invalidate on change") {
    val a = graft.engine.Tables.load(spark, sfDir, "orders")
    val b = graft.engine.Tables.load(spark, sfDir, "orders")
    assert(a eq b, "same session+path must return the memoized lazy frame")
    // a DIFFERENT path must miss the memo (no stale plan across corpora)
    val other = graft.engine.Tables.load(spark, "/root/testdata/sf0.01", "orders")
    assert(!(a eq other), "different corpus root must not share the memo entry")
    // and execution still computes from parquet: the memoized frame counts
    assert(a.count() > 0)
  }
}
