package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The plan-dump tool: `.explain("formatted")` of registered queries.
  *
  * With no arguments it writes PLANS.md (ignored by git, not committed):
  * the formatted physical plan of every headline query plus the
  * structurally interesting operators, annotated with what to look for.
  * This is the artifact behind the scale claims — broadcast pins, single exchanges, pushed filters, codegen
  * spans — regenerated on demand so the documented plans can never
  * silently drift from the code.
  *
  * With `<out_dir> <suffix> <q1,q2,...>` it writes
  * `<out_dir>/<query>_<suffix>.txt` per listed query — the evidence
  * artifact behind each optimization round's
  * `plans/rNN/<query>_{before,after}.txt` files:
  * `sbt "runMain graft.Plans plans/r13 before llm_semdedup,llm_tfidf"`.
  *
  * Both modes share one session (local[4], 4 shuffle partitions, UTC) so
  * dumps are comparable across rounds; `SPARK_GRAFT_SF_DIR` picks the
  * fixture (default sf0.001).
  */
object Plans {
  private val annotated: Seq[(String, String)] = Seq(
    "sel_project" -> "pruned ReadSchema: the scan reads only the projected columns",
    "filter_predicates" -> "PushedFilters reach the parquet scan",
    "agg_pricing_summary" -> "two HashAggregates: map-side partial before the exchange",
    "join_broadcast_dim" -> "dimension side pinned BroadcastHashJoin — never SMJ as dims grow",
    "join_fact_fact" -> "both fact sides shuffle on the join key (bucketing removes this at rest)",
    "win_topk" -> "rank filter over one window exchange",
    "win_sessionize" -> "both window passes + groupBy share a single user_id exchange",
    "join_asof_events" -> "single user_id exchange for the merge window — no pair fanout join",
    "log_time_buckets" -> "ts predicate pushed to the scan; bucket agg is partial-aggregated",
    "log_grep_regex" -> "rlike filter inside WholeStageCodegen directly over the scan",
    "log_json_extract" -> "get_json_object in the scan pipeline, no shuffle before the agg",
    "llm_dedup_exact" -> "shuffle carries the 16-byte digest, text never moves",
    "llm_knn_cosine" -> "100-row query side broadcast; corpus scan never shuffles; codegen'd cosine",
    "llm_neardup_cosine" -> "banded LSH equi-join on (table, band, ci, cj), no BNLJ, no corpus broadcast",
    "llm_semdedup" -> "map-side centroid assignment (the nearest-centroid kernel over the driver-collected k centroids), then (c_id, ci, cj) equi-join pair scan",
    "llm_tfidf" -> "tf/df join unhinted (vocabulary-sized side must not broadcast at scale)",
    "llm_decontaminate" -> "eval n-grams broadcast; train side is scan + hash probe, no sort",
    "topk_global" -> "TakeOrderedAndProject: per-partition top-k, never a global sort",
    "log_event_runs" -> "both row_numbers and the island groupBy derive from one user_id sort order",
    "log_rolling_wau" -> "rolling distinct via map-side x7 fanout — no self-join, no per-window rescan",
    "log_type_affinity" -> "session-basket pair join partial-aggs onto <=C(types,2) keys; marginals broadcast",
    "llm_embed_corr_pairs" -> "typed co-moment aggregator (CorrComomentAgg): each vector folds PIVOT-CENTERED co-moments (n, pivot p, Σ(x−p), Σ(x−p)ᵢ(x−p)ⱼ — layout 1+2d+d(d+1)/2 = 2209 doubles at d=64, centered so offset dims cannot cancel catastrophically) into one flat per-partition buffer — no row fanout, corpus never shuffles, partitions × one 2209-double buffer move; the 2016 Pearson values are a driver-side loop over the single result row, so the dumped plan is the metadata-sized rank over a LocalTableScan (the distributed half is the co-moment job, same shape as llm_embed_pca_cov)",
    "text_bigram_logprob" -> "bigram-count and prefix-count joins unhinted (bigram vocabulary must not broadcast at scale); occurrences partial-agg before the doc_id exchange",
    "agg_hll_union_daily" -> "both HLL aggregations partial-combine map-side: sketches merge in the combiner, raw events never reach the per-type union",
    "llm_bloom_decontaminate" -> "eval grams compressed into a driver-built Bloom sketch; train side is one scan + map-side membership probe, no shuffle of training text",
    "llm_ann_ivfpq" -> "index build: codes and coarse cells come from the nearest-centroid kernel in one codegen'd projection over the embeddings scan (no join, no exchange); query: probe cells and ADC tables are built on the driver, the one distributed pass is the encode + code scan filtered to the probed cells, each partition returning a bounded per-query top-k for the driver to merge; the re-rank fetch reads only shortlist vec_ids — the dumped plan is the answer's LocalTableScan",
    "llm_kmeans" -> "Lloyd E-step is the nearest-centroid kernel inside the corpus scan against the driver-collected k centroids: no join, no window, no exchange carries an embedding; the only shuffles are the M-step (c_id, pos) partial sums and the k-key profile",
    "log_grep_multi" -> "all N rlike predicates evaluate in ONE codegen'd pass over a single text scan; adding a pattern adds a count column, never a scan",
    "llm_jaccard_pairs" -> "the adaptive exact pair scan (exactJaccardPairs) over the df-capped src0 token sets: the closed token vocabulary (≤ 4096 capped keys) takes the dense path — per-doc bitmask words from a codegen'd bit_or aggregate, a block-grid ShuffledHashJoin on the cell with the popcount evaluated once per pair; no candidate pair set is materialized",
    "text_winnow_pairs" -> "the exact pair scan's expansion path over the census-capped fingerprints: postings group by fingerprint once, the C(df, 2) pairs expand map-side into a partially-aggregated count, and both size relations join the count verify (the open fingerprint vocabulary's adaptive route, prefix filter + array verify, measured slower)",
    "llm_minhash_pairs" -> "signature table checkpointed once (tokenize, 4 md5 digests, 16 min slots); the band-bucket pair scan (bandPairs): a bucket census drops buckets over 50 docs, one (band_idx, band_key) equi self-join with id_a < id_b, one row per pair; est_jaccard from the two carried signatures",
    "text_simhash_pairs" -> "per-doc simhash from one token aggregate; the band-bucket pair scan (bandPairs, uncapped) over four 8-bit bands: one (b, band_val) equi self-join, one row per pair, then the hamming <= 3 confirm",
    "llm_dup_span_fraction" -> "one corpus scan: word-5-grams explode map-side into the gram-df relation (a (doc, gram) aggregate, then a COUNT(*) window over the gram partition) — no df census table, no join back; per-doc sums over its rows",
    "llm_dup_span_removal" -> "positional 5-grams; the gram-df relation's grams with df >= 2 semi-join the gram starts on gram; one doc-ordered 4-preceding window max marks covered tokens — no document pair is ever compared",
    "text_boilerplate_ngrams" -> "one corpus scan: trigrams feed the gram-df relation, and per-doc sums of occurrences and of boilerplate occurrences (df >= 5) read its rows — no broadcast join back to a second tokenize of the corpus",
    "llm_incremental_dedup" -> "digest probe ships 16-byte hashes; the near-dup postings join is batch x existing (small x large) — the standing corpus never self-joins",
    "join_interval_overlap" -> "no shared equi-key, yet NO BNLJ: time-bucket binning turns the interval predicate into a SortMergeJoin on bucket + in-bucket range filter; the census-salt guard (broadcast hot-bucket list, salt sub-keys) bounds a storm hour's pairing per task",
    "log_template_mine" -> "mask + hash-agg in one codegen'd scan pipeline; partial agg collapses onto template-cardinality keys map-side",
    "text_gopher_docfilter" -> "entirely map-side: every rule (incl. trigram repetition via array ops) fuses into the parquet scan — no exchange at all",
    "log_inverted_search" -> "the term-query core's raw source: per-term counts size(filter(ts, _ === t)) inside the scan (no Generate), the must predicate per row — no term row shuffles; the one exchange is the ORDER BY",
    "text_gopher_repetition" -> "one corpus-sized doc_id exchange up front; the gram count, (doc,n) window and per-doc rollup all reuse it — gram rows never cross the wire (was 3 exchanges, 31.1->5.4 s at x10)",
    "text_cdc_chunks" -> "one doc_id exchange orders tokens for the boundary cumsum; chunk digests partial-agg; the digest-df join is unhinted (chunk vocabulary scales with the corpus)",
    "log_proximity_search" -> "NEAR/k as an equi-join over the core's raw positional rows (the store writer's posexplode): positions bin into width-k buckets, one side explodes +-1 neighbors — frequent terms pair per bucket neighborhood, never per document",
    "log_drift_daily" -> "two scans total: bounds agg + binned counts; the global profile and all totals re-aggregate the checkpointed (day, bin) table — broadcast metadata rebases, no third scan",
    "stream_drift_1h" -> "streaming-legal single aggregation: the 10-bin histogram is ten conditional counts in ONE groupBy; KL folds statelessly against the broadcast baseline row",
    "meta_column_profile" -> "ANALYZE TABLE in one scan: a single aggregation row carries every column's stats; the per-column reshape EXPLODES that one row (structurally one scan, PlanSpec-pinned), never rescans",
    "log_indexed_search" -> "the standing-index lifecycle: ONE partition-pruned posting-store scan (PartitionFilters on tok_bucket = the query terms' hash buckets) pivoted to per-doc tfs in one aggregation, then the must predicate; the documents corpus appears nowhere in the plan",
    "log_phrase_search" -> "phrase as the core's adjacency join over raw positional rows (the store writer's posexplode): exact (doc_id, start) equi-keys, non-matching documents never pair",
    "log_indexed_phrase" -> "the same adjacency join over the two terms' pruned posting rows — zero corpus reads",
    "log_search_ranked" -> "BM25 with zero token shuffles: per-term tf and dl via size(filter(ts)) inside the scan (no Generate node), corpus stats (N, avgdl, dfs) as a single-row broadcast, the core's one BM25 term expression summed per row, TakeOrderedAndProject top-20",
    "log_indexed_search_ranked" -> "ranked retrieval with ZERO corpus reads from ONE store snapshot: pruned posting buckets -> (doc, tok) tfs, the |terms|-row df relation broadcast-hash-joined on tok, docstats join for dl, (N, avgdl) from the snapshot's meta; the core's BM25 term summed per doc",
    "llm_ann_ivfpq_indexed" -> "ANN served from the persisted index: one pass over the PERSISTED code-table scan, pruned to the probed cell partitions, returns a bounded per-query top-k; ADC tables are built on the driver from the parquet codebook — no training job; the dumped plan is the answer's LocalTableScan",
    "llm_sql_ann_served" -> "the plain-SQL ANN face: the request's ADC distance tables (index metadata — queries × pqM × k doubles, computed driver-side from the codebook view with the identical float fold) ride in the inline VALUES LocalRelation, so the served plan is ONE broadcast join over the PQ code-table scan + the top-k window — the only file scan is the code store; embeddings.parquet appears nowhere (GraftSessionSpec-pinned)",
    "text_levenshtein_pairs" -> "blocked pair scan with kernel discipline: block-cap semi-join, kernel-free id/length prunes, then the Myers bit-parallel distance (O(n·m/64) vs the banded built-in's O(n·band)) evaluated ONCE per pair behind MaterializeOnce — the optimizer would otherwise inline it into the join condition 2-3x",
    "log_outage_windows_merged" -> "two-phase interval union: day-partitioned running-max sweep at corpus scale, then a single-partition sweep over the metadata-sized per-day outage rows to glue midnight-crossing pieces",
    "log_schema_infer" -> "schema discovery in one explode+hash-agg scan onto key-cardinality rows; the corpus row total joins back as a single-row broadcast (allowlisted metadata rebase)",
    "agg_equidepth_histogram" -> "no global sort, no ntile: the quantile-cut single-row aggregate broadcasts over the bin-assignment scan; every row folds the 7 cuts map-side in an exact integer domain",
    "meta_fk_orphans" -> "each FK edge folds its left join straight into a count-only aggregate — orphan ROWS never leave the join; dim parents broadcast, the fact edge shuffles on its join key (bucketing removes that at rest)",
    "log_sla_burn" -> "corpus collapses to hour-cardinality rows in one partial-aggregated scan; the trailing-6h RANGE window runs over metadata-sized rows only",
    "sql_order_priority" -> "correlated EXISTS decorrelated to a LEFT SEMI join on l_orderkey — the probe stops at an order's first late lineitem, the subquery never materializes per row",
    "sql_customer_distribution" -> "two hash aggregates around ONE fact exchange; the zero-order bucket survives via LEFT JOIN + COUNT(o_orderkey); inner groupBy key = join key, so bucketing elides the exchange at rest",
    "stream_alert_rules" -> "streaming-legal alerting: the rule table broadcast-joins the RAW stream (map-side, stateless) BEFORE the day-window count, so state per key is one bounded count; the threshold is a stateless post-agg filter",
    "log_new_templates" -> "one corpus scan collapses to (template, min day) — template-cardinality rows; the per-day debut rollup runs on metadata",
    "log_corr_matrix" -> "ONE corpus scan partial-aggregates to (hour, type) counts; zero-fill grid, pair self-join, and the 10-key exact-co-moment agg all run on metadata-sized rows; Pearson is ONE double expression over exact BIGINTs",
    "llm_seq_length_buckets" -> "map-side 6-arm CASE bucket over an exact BIGINT token count; partial agg onto ≤6 keys — the shuffle carries six rows per partition",
    "llm_embed_pca_cov" -> "typed co-moment aggregator: each vector folds its 2080 products into a flat per-partition Array[Long] (no row fanout at all); the shuffle carries ONE 2145-long array per partition; co-moments are exact BIGINTs on 1e-5-quantized values",
    "llm_embed_pca" -> "corpus touched once (the distributed co-moment scan, same aggregator as _cov); the 2080 covariance cells are metadata and the 16 power-iteration rounds run driver-side — the dumped plan is the co-moment job's LocalTableScan result",
    "join_asof_forward" -> "forward merge mirror of join_asof_events: one user_id exchange, first_value over a following frame — no pair fanout join",
    "agg_mode" -> "mode as count→rank: the fact scan partial-aggregates onto (nation × priority); the tie-pinned rank window runs over ≤125 metadata rows",
    "log_boolean_search" -> "boolean query algebra in the core's map-side lens: the 4 term counts come from the one scan and must/should/must-not evaluate per row — no term row shuffles; the one exchange is the ORDER BY",
    "log_search_facets" -> "map-side array-lens hit test (no shuffle to find hits); each hit emits its (facet, value) structs in-row and the core's ONE facet rollup aggregates every dimension in a single facet-cardinality exchange",
    "log_boolean_search_indexed" -> "the boolean counts served from the standing index: ONE partition-pruned posting-bucket scan (4 terms' hash buckets) pivoted per doc in one aggregation, no intersection filter — the predicate decides membership from the counts; documents.parquet appears nowhere",
    "log_search_facets_indexed" -> "facet rollup with ZERO corpus reads: the pruned-bucket pivot finds hits, (doc_id, lang, source) joins from the store's docstats side table, then the core's facet rollup; shared oracle with the raw-scan formulation",
    "meta_benford_digits" -> "digit histogram partial-aggregates the fact scan onto ≤9 keys; the single-row total cross-joins back as an allowlisted metadata rebase; chi² terms are one double expression per digit row",
    "log_cusum_changepoint" -> "corpus collapses to (day, type) counts in one partial-aggregated scan; the CUSUM fold is a sorted-array aggregate over ≤days rows per type — the change-point never sees raw events",
    "sql_returned_items" -> "TPC-H Q10 shape: returned-lineitem scan joins orders + broadcast nation dims; top-20 is TakeOrderedAndProject on the exact BIGINT revenue with custkey tiebreak, never a global sort",
    "sql_top_supplier" -> "TPC-H Q15 shape: revenue partial-aggregates onto supplier keys before the max-revenue single-row broadcast rebase; supplier dim broadcasts",
    "sql_large_orders" -> "TPC-H Q18 shape: the quantity-sum HAVING filter runs as a partial-aggregated groupBy on l_orderkey BEFORE joining customer/orders — the big fact collapses first",
    "sql_dormant_customers" -> "TPC-H Q22 shape: single-row balance-stats scalar aggregate cross-joined as the above-average bound (allowlisted metadata rebase); the no-recent-order probe is a hashed LEFT ANTI join, never a correlated re-scan",
    "log_latency_sketch_range" -> "DDSketch-style quantile store: ONE corpus scan partial-aggregates to (type, day, log-bucket) counts; the range merge and rank walk run over metadata-sized bucket rows — range percentiles without rescanning events",
    "log_latency_sketch_served" -> "persisted-sketch serve path: no events scan anywhere — the day= partition filter prunes the standing sketch store's directories and the rank walk runs over the pruned bucket rows",
    "meta_schema_drift" -> "two-period key profile in ONE scan: the period flag rides the key explode and a single hash agg emits both sides as conditional counts; the 1-row totals aggregate broadcasts back (allowlisted metadata rebase)",
    "log_term_suggest" -> "prefix autocomplete from the token-SORTED dict store: the string zone map prunes to covering files (prefix-interval logic), df top-k is a TakeOrdered over vocabulary-sized rows; documents.parquet appears nowhere",
    "sql_discounted_revenue" -> "TPC-H Q19 shape: ONE part⋈lineitem hash join with the OR-of-ANDs evaluated as a residual post-join disjunction — never three unioned scans, never a nested loop",
    "sql_waiting_suppliers" -> "TPC-H Q21 shape: EXISTS and NOT EXISTS against the same fact decorrelate to a hashed LEFT SEMI and LEFT ANTI join on l_orderkey with the supplier-inequality and lateness predicates riding the joins — no per-row subquery, no BNLJ",
    "sql_min_cost_supplier" -> "TPC-H Q2 shape: the correlated scalar-MIN subquery decorrelates to a per-part aggregate joined back on p_partkey; per-row division + fold-order-free MIN keep the equality ulp-safe across engines",
    "sql_parts_supplier_count" -> "TPC-H Q16 shape: NOT IN over null-free supplier keys plans as a plain LEFT ANTI join (never the null-aware form); the count-distinct rollup partial-aggregates onto (brand, type, size) keys",
    "sql_excess_volume_suppliers" -> "TPC-H Q20 shape: nested IN-chain — part filter broadcasts into the fact scan, the HAVING rollup partial-aggregates onto (supp, part) keys, and both IN levels decorrelate to semi joins",
    "llm_neardup_filter" -> "served from the standing shingle-pair store: no Generate (explode) node anywhere — the postings expansion ran once at store build; the plan is a pair-store scan + distinct + one cheap documents pass for the per-source stats",
    "llm_neardup_clusters" -> "pair set read from the standing store (no re-shingle); the size-adaptive gate then union-finds ≤100k measured pairs driver-side or runs the pointer-jumping loop — the dumped plan is the cluster-size rollup over the labels",
    "llm_bloom_decontaminate_indexed" -> "decontamination served from the persisted filter: the standing ~1.2 MB bytes deserialize and broadcast; the plan is ONE train-gram scan + map-side membership probe — no eval tokenize, no filter-build stages",
    "llm_eval_contamination" -> "reversed decontamination: eval grams broadcast into the train scan, train collapses to DISTINCT hit grams, and the per-eval-doc rollup runs over eval-sized rows — train text never shuffles",
    "sql_product_profit" -> "TPC-H Q9 shape: the part-name filter prunes the fact first, dims broadcast, and the mixed price/cost profit expression folds as exact BIGINTs before the (nation, year) rollup",
    "sql_value_concentration" -> "TPC-H Q11 shape: the HAVING's global total is a single-row broadcast over the reused (supp, part) rollup — never a re-scan; the fraction test is an integer cross-product",
    "log_sql_search_served" -> "the SQL-surface conjunctive search (plain spark.sql over GraftSession.openStores' graft_postings view): the constant-folded pmod(hash(term), buckets) IN-list lands in the scan's PartitionFilters — same pruned-directory plan as the programmatic probe, documents.parquet appears nowhere",
    "log_sql_sketch_served" -> "the SQL-surface range-quantile report (plain spark.sql over graft_latency_sketch): day= partition filter prunes the standing store's directories, rank walk over pruned bucket rows, zero events scans")

  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length == 3,
      "usage: Plans [<out_dir> <suffix> <q1,q2,...>]")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
    if (args.isEmpty) {
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of the structural queries\n\n")
      sb.append(s"Generated by `graft.Plans` against `$sfDir`. Each section notes\n")
      sb.append("the property the plan must exhibit; PlanSpec asserts the same\n")
      sb.append("properties in CI so they cannot drift.\n")
      annotated.foreach { case (name, note) =>
        sb.append(s"\n## $name\n\n*$note*\n\n```\n${plan(name)}```\n")
      }
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println(s"PLANS.md written (${annotated.size} queries)")
    } else {
      val Array(outDir, suffix, list) = args
      Files.createDirectories(Paths.get(outDir))
      list.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan(name))
        println(s"dumped $name")
      }
    }
    spark.stop()
  }
}
