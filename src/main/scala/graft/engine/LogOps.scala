package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Log-analytics operators (SURVEY.md §2.2 P3, §2.5 W1–W6, §2.7 F1–F3/F6/F9,
  * §2.3 J6–J7): the reference's core use-case — grep, parse, time bucketing,
  * JSON field extraction, ranking/lag/frame windows, sessionization, range
  * and as-of joins — expressed as declarative Spark plans over the `events`
  * log table and the `documents` corpus.
  *
  * Scale notes (100 TB): every window here partitions by `user_id` (or is a
  * post-aggregation window over a small keyspace like days), so state is
  * bounded per key and Spark hash-partitions it across executors. The two
  * self-joins carry the `user_id` equi-key so they plan as real hash/sort
  * joins, never BroadcastNestedLoop. At cluster scale the events table
  * would be date-partitioned (pruning) and bucketed by user_id (co-located
  * windows + self-joins); the query code is unchanged either way.
  */
object LogOps {

  private val gapUs = 1800000000L // 30 min session gap, in microseconds

  /** Flagship (S1+S2+F3+A6): daily event volume + error rate. Exercises the
    * nanosecond-timestamp read path and conditional aggregation.
    */
  val errorRateDaily = Q(
    "log_error_rate_daily",
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
      |  ROUND(AVG(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END), 4) AS error_rate
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"),
        round(avg(when(col("event_type") === "error", 1.0).otherwise(0.0)), 4).as("error_rate"))
      .orderBy("day")
  }

  /** P3: regex grep — the reference's bread-and-butter query. The rlike
    * filter runs inside WholeStageCodegen directly over the scan.
    */
  val grepRegex = Q(
    "log_grep_regex",
    """SELECT doc_id, lang, source FROM documents
      |WHERE regexp_matches(text, 'merge.*join') ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .filter(col("text").rlike("merge.*join"))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** P3 at the batched grain: MULTI-pattern grep — N regexes evaluated in
    * ONE scan with per-pattern hit counts plus the any-of total, the way a
    * log engine serves a saved-search dashboard (one pass over 100 TB for
    * the whole pattern set, not one scan per pattern). Each `count_if`
    * rides the same codegen'd projection over the single text read; adding
    * a pattern adds a column, never a scan. Patterns stay in the
    * RE2 ∩ Java regex subset (alternation + classes, no backrefs) so both
    * engines match identically — the PII-scrubber convention.
    */
  val grepMulti: Q = {
    val pats = Seq(
      "n_merge_join" -> "merge.*join",
      "n_hash_scan_agg" -> "hash (scan|agg)",
      "n_slow_q_sort" -> "slow (query|sort)",
      "n_stream_window" -> "stream.*window")
    Q(
      "log_grep_multi",
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,\n" +
        pats.map { case (a, p) =>
          s"  CAST(count_if(regexp_matches(text, '$p')) AS BIGINT) AS $a,\n"
        }.mkString +
        s"  CAST(count_if(${pats.map(p => s"regexp_matches(text, '${p._2}')")
          .mkString(" OR ")}) AS BIGINT) AS n_any\n" +
        "FROM documents")) { (s, dir) =>
      Tables.documents(s, dir).agg(
        count(lit(1)).as("n_docs"),
        pats.map { case (a, p) => count_if(col("text").rlike(p)).as(a) } :+
          count_if(pats.map(p => col("text").rlike(p._2)).reduce(_ || _)).as("n_any"): _*)
    }
  }

  /** F2: regex field extraction (parse-pattern → column, schema-on-read). */
  val regexExtract = Q(
    "log_regex_extract",
    """SELECT regexp_extract(text, 'scan (\w+)', 1) AS after_scan, COUNT(*) AS n
      |FROM documents
      |WHERE regexp_extract(text, 'scan (\w+)', 1) <> ''
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(regexp_extract(col("text"), "scan (\\w+)", 1).as("after_scan"))
      .filter(col("after_scan") =!= "")
      .groupBy("after_scan")
      .agg(count(lit(1)).as("n"))
      .orderBy("after_scan")
  }

  /** F1: string function family over the document corpus. */
  val stringFuncs = Q(
    "log_string_funcs",
    """SELECT doc_id, upper(lang) AS lang_u, CAST(length(text) AS INTEGER) AS n_len,
      |  substr(text, 1, 15) AS prefix, concat(source, ':', lang) AS src_lang
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        upper(col("lang")).as("lang_u"),
        length(col("text")).as("n_len"),
        substring(col("text"), 1, 15).as("prefix"),
        concat(col("source"), lit(":"), col("lang")).as("src_lang"))
      .orderBy("doc_id")
  }

  /** S3/F9: raw-line parsing — first token + token count per line (the
    * spark.read.text ingest path applies exactly this projection).
    */
  val parseFields = Q(
    "log_parse_fields",
    """SELECT doc_id, regexp_extract(text, '^(\w+)', 1) AS first_tok,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        regexp_extract(col("text"), "^(\\w+)", 1).as("first_tok"),
        size(split(col("text"), " ")).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** F3: time bucketing — hourly count + value sum per event type. */
  val timeBuckets = Q(
    "log_time_buckets",
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_bucket, event_type,
      |  COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("hour_bucket", "event_type")
  }

  /** F6/S4: JSON field extraction out of the semi-structured `props` tail —
    * schema-on-read, exactly logdb's parse-at-query-time model.
    */
  val jsonExtract = Q(
    "log_json_extract",
    """SELECT CAST(CAST(props->>'$.k' AS INT) // 10 AS INT) AS k_bucket,
      |  COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(
        expr("CAST(get_json_object(props, '$.k') AS INT) div 10").cast("int").as("k_bucket"),
        col("value"))
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
      .orderBy("k_bucket")
  }

  /** F9/D5: tokenize (Generate/explode) → vocabulary frequency table. */
  val tokenize = Q(
    "log_tokenize",
    """SELECT tok, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents) t
      |WHERE tok <> '' GROUP BY tok ORDER BY tok""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy("tok")
  }

  /** F2 (rewrite form): regex masking — the PII-scrub shape of log
    * processing. Digits in the JSON props are masked; the pattern stays in
    * the POSIX subset both regex engines (Java util.regex, RE2) agree on.
    */
  val regexReplace = Q(
    "log_regex_replace",
    """SELECT event_id, regexp_replace(props, '[0-9]', '#', 'g') AS props_masked
      |FROM events WHERE event_id <= 1000 ORDER BY event_id""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .filter(col("event_id") <= 1000)
      .select(
        col("event_id"),
        regexp_replace(col("props"), "[0-9]", "#").as("props_masked"))
      .orderBy("event_id")
  }

  /** W2 (relative rank): percent_rank / cume_dist — identical interpolation
    * definitions in both engines; rounded because they divide doubles.
    */
  val winPctRank = Q(
    "win_pct_rank",
    """SELECT s_nationkey, s_suppkey,
      |  ROUND(percent_rank() OVER w, 4) AS pct_rank,
      |  ROUND(cume_dist() OVER w, 4) AS cume
      |FROM supplier
      |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
      |ORDER BY s_nationkey, s_suppkey""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    Tables.supplier(s, dir)
      .select(
        col("s_nationkey"), col("s_suppkey"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cume"))
      .orderBy("s_nationkey", "s_suppkey")
  }

  /** A1 (skew-resistant form): two-phase salted aggregation. Phase 1
    * groups on (key, salt) so a hot key's rows spread over 16 reducers;
    * phase 2 merges the 16 partials per key. Same result as a direct
    * groupBy — the oracle is the plain GROUP BY — but the worst reducer
    * holds 1/16th of the hot key at any scale. SUM/COUNT re-aggregate
    * losslessly; AVG is derived from them after the merge, never averaged
    * across salts.
    */
  val saltedAgg = Q(
    "agg_salted_skew",
    """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value,
      |  ROUND(SUM(value) / COUNT(*), 4) AS avg_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val salted = Tables.events(s, dir)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pn"), sum("value").as("psum"))
    salted
      .groupBy("event_type")
      .agg(sum("pn").as("n"), round(sum("psum"), 4).as("sum_value"),
        round(sum("psum") / sum("pn"), 4).as("avg_value"))
      .orderBy("event_type")
  }

  /** W1: top-k per group with a unique tiebreaker (rank determinism). */
  val winTopk = Q(
    "win_topk",
    """SELECT user_id, event_id, value,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INTEGER) AS rn
      |FROM events
      |QUALIFY rn <= 3
      |ORDER BY user_id, rn""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy(desc("value"), asc("event_id"))
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("user_id", "event_id", "value", "rn")
      .orderBy("user_id", "rn")
  }

  /** W2: rank / dense_rank / ntile over suppliers within a nation. */
  val winRankNtile = Q(
    "win_rank_ntile",
    """SELECT s_nationkey, s_suppkey, s_acctbal,
      |  CAST(rank() OVER w AS INTEGER) AS rnk,
      |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
      |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
      |FROM supplier
      |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
      |ORDER BY s_nationkey, s_suppkey""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("s_nationkey").orderBy(desc("s_acctbal"), asc("s_suppkey"))
    Tables.supplier(s, dir)
      .select(
        col("s_nationkey"), col("s_suppkey"), col("s_acctbal"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"))
      .orderBy("s_nationkey", "s_suppkey")
  }

  /** W3: lag — microsecond gap to the previous event of the same user. */
  val winLagGap = Q(
    "win_lag_gap",
    """SELECT user_id, event_id,
      |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |FROM events ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .select(
        col("user_id"), col("event_id"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
      .orderBy("user_id", "event_id")
  }

  /** W4: running aggregate — cumulative daily revenue. The window is
    * unpartitioned but runs over ~2.4k post-aggregation rows, not the fact
    * table, so the single-partition sort is bounded at any scale factor.
    */
  val winRunningSum = Q(
    "win_running_sum",
    """SELECT day, daily_rev,
      |  ROUND(SUM(daily_rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_rev
      |FROM (SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
      |             ROUND(SUM(o_totalprice), 2) AS daily_rev
      |      FROM orders GROUP BY 1) t
      |ORDER BY day""".stripMargin) { (s, dir) =>
    val daily = Tables.orders(s, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(round(sum("o_totalprice"), 2).as("daily_rev"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_rev", round(sum("daily_rev").over(w), 2))
      .orderBy("day")
  }

  /** W5: sliding frame — 7-day moving average of daily event counts. */
  val winMovingAvg = Q(
    "win_moving_avg",
    """SELECT day, n,
      |  ROUND(AVG(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
      |FROM (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, COUNT(*) AS n
      |      FROM events GROUP BY 1) t
      |ORDER BY day""".stripMargin) { (s, dir) =>
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("ma7", round(avg("n").over(w), 4))
      .orderBy("day")
  }

  /** W2 (frame navigation): first/last/nth value over a full-partition
    * frame — first, latest and second event value per user. The frame must
    * be UNBOUNDED..UNBOUNDED on both sides or last_value degenerates to
    * the current row.
    */
  val winFirstLast = Q(
    "win_first_last",
    """SELECT user_id, event_id,
      |  first_value(value) OVER w AS first_val,
      |  last_value(value) OVER w AS last_val,
      |  nth_value(value, 2) OVER w AS second_val
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, dir)
      .select(
        col("user_id"), col("event_id"),
        first("value").over(w).as("first_val"),
        last("value").over(w).as("last_val"),
        nth_value(col("value"), 2).over(w).as("second_val"))
      .orderBy("user_id", "event_id")
  }

  /** W6 flagship: sessionization — a gap > 30 min starts a new session;
    * lag → boundary flag → running sum = session id → per-session stats.
    * Composition of W3 + W4 + A1; the streaming twin is session_window
    * (graft.streaming).
    */
  val winSessionize = Q(
    "win_sessionize",
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
    sessionTable(s, dir).orderBy("user_id", "session_id")
  }

  /** Per-event frame with its gap-session id — the pre-aggregation stage
    * of [[sessionTable]], shared by [[typeAffinity]] (which needs the
    * event_type column the session rollup discards). Same single user_id
    * exchange.
    */
  private def sessionizedEvents(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > gapUs, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
  }

  /** The sessionized table (user_id, session_id, n_events, session_start,
    * session_end) — shared by [[winSessionize]] and [[peakConcurrency]];
    * both window passes and the final groupBy ride ONE user_id exchange.
    */
  private def sessionTable(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame =
    sessionizedEvents(s, dir)
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"))

  /** Session-duration profile — the summary a session table exists to
    * answer (how long do sessions run, how many events do they carry, per
    * day): p50/p95 duration and mean event count over [[sessionTable]]'s
    * output, grouped by session-start day. Adds ONE aggregation over the
    * (already tiny relative to events) session rows on top of sessionize's
    * single user_id exchange; the exact per-group quantile sort is over
    * sessions-per-day, the approx-sketch family is the documented
    * beyond-that path.
    */
  val sessionDurations = Q(
    "log_session_durations",
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged),
      |sessions AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |    MIN(ts) AS session_start, MAX(ts) AS session_end
      |  FROM sess GROUP BY user_id, session_id)
      |SELECT date_trunc('day', session_start) AS day,
      |  COUNT(*) AS n_sessions,
      |  ROUND(quantile_cont((epoch_us(session_end) - epoch_us(session_start))
      |    / 1000000.0, 0.5), 4) AS p50_dur_s,
      |  ROUND(quantile_cont((epoch_us(session_end) - epoch_us(session_start))
      |    / 1000000.0, 0.95), 4) AS p95_dur_s,
      |  ROUND(AVG(n_events), 4) AS avg_events
      |FROM sessions GROUP BY 1 ORDER BY day""".stripMargin) { (s, dir) =>
    sessionTable(s, dir)
      .groupBy(date_trunc("day", col("session_start")).as("day"))
      .agg(
        count(lit(1)).as("n_sessions"),
        round(expr(
          "percentile((unix_micros(session_end) - unix_micros(session_start)) / 1000000.0d, 0.5)"),
          4).as("p50_dur_s"),
        round(expr(
          "percentile((unix_micros(session_end) - unix_micros(session_start)) / 1000000.0d, 0.95)"),
          4).as("p95_dur_s"),
        round(avg("n_events"), 4).as("avg_events"))
      .orderBy("day")
  }

  /** Event-type affinity — market-basket association over sessions: for
    * every type pair, how many sessions contain both, and the lift
    * (co-rate over the independence prediction — lift > 1 means the pair
    * travels together). The classic recommendation/analytics primitive,
    * here at its natural log-table grain (session = basket, type = item).
    *
    * Scale shape: the distinct (session, type) frame rides sessionize's
    * user_id exchange; the pair self-join is |sessions| ×
    * C(types-per-session, 2) rows feeding a partial aggregation on
    * ≤ C(|types|, 2) keys, and the marginals broadcast back. The
    * types-per-session factor is BOUNDED by [[maxAffinityItems]]: each
    * basket keeps only its lexicographically-first cap items (both
    * engines, same deterministic order), so one hot basket of B items
    * generates ≤ C(cap, 2) co-occurrence rows, never C(B, 2) — the
    * basket-grain analogue of jaccardPairs' df-cap. The cap never binds
    * on the fixture's 5-type vocabulary (PropertySpec proves it binds on
    * a saturated synthetic basket); marginals and the session count are
    * computed AFTER the cap so lift stays internally consistent.
    */
  val maxAffinityItems = 32

  /** Cap a distinct (user_id, session_id, event_type) basket frame at the
    * lexicographically-first `maxItems` item types per basket. The
    * row_number window partitions on (user_id, session_id), which the
    * upstream user_id exchange already clusters — no new shuffle. */
  def affinityBaskets(st: DataFrame, maxItems: Int): DataFrame = {
    val w = Window.partitionBy("user_id", "session_id").orderBy("event_type")
    st.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxItems)
      .drop("rn")
  }

  /** Lift matrix from a capped basket frame — split out so PropertySpec
    * can drive it with a hand-built saturated basket. */
  def affinityFromBaskets(st: DataFrame): DataFrame = {
    val n = st.select("user_id", "session_id").distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val marg = st.groupBy(col("event_type")).agg(count(lit(1)).as("m"))
    val co = st.as("a")
      .join(st.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_id") === col("b.session_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_co"))
    co
      .join(broadcast(marg.select(col("event_type").as("type_a"), col("m").as("ma"))), "type_a")
      .join(broadcast(marg.select(col("event_type").as("type_b"), col("m").as("mb"))), "type_b")
      .crossJoin(broadcast(n))
      .select(col("type_a"), col("type_b"), col("n_co"),
        round(col("n_co").cast("double") * col("n_sessions") / (col("ma") * col("mb")), 4)
          .as("lift"))
      .orderBy("type_a", "type_b")
  }

  val typeAffinity = Q(
    "log_type_affinity",
    s"""WITH flagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_type,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged),
      |stc AS (
      |  SELECT user_id, session_id, event_type,
      |    row_number() OVER (PARTITION BY user_id, session_id
      |                       ORDER BY event_type) AS rn
      |  FROM (SELECT DISTINCT user_id, session_id, event_type FROM sess) d),
      |st AS (SELECT user_id, session_id, event_type FROM stc
      |       WHERE rn <= $maxAffinityItems),
      |n AS (SELECT COUNT(*) AS n_sessions FROM
      |        (SELECT DISTINCT user_id, session_id FROM st) t),
      |marg AS (SELECT event_type, COUNT(*) AS m FROM st GROUP BY 1),
      |co AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_co
      |  FROM st a JOIN st b
      |    ON a.user_id = b.user_id AND a.session_id = b.session_id
      |   AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_co,
      |  ROUND(CAST(n_co AS DOUBLE) * n.n_sessions
      |    / (ma.m * mb.m), 4) AS lift
      |FROM co
      |JOIN marg ma ON co.type_a = ma.event_type
      |JOIN marg mb ON co.type_b = mb.event_type
      |CROSS JOIN n
      |ORDER BY type_a, type_b""".stripMargin) { (s, dir) =>
    val st = sessionizedEvents(s, dir)
      .select("user_id", "session_id", "event_type").distinct()
    // localCheckpoint before the fan-out (r12, guide §2.4): the capped
    // basket frame feeds the session count, the marginals, and BOTH sides
    // of the co-occurrence self-join — the before-plan re-ran the
    // two-window sessionize over raw events for every consumer (5 events
    // scans, 20 Window nodes). Basket rows are (session × ≤cap types) —
    // orders of magnitude below the event stream they summarize.
    affinityFromBaskets(
      affinityBaskets(st, maxAffinityItems).localCheckpoint())
  }

  /** Event-type transition matrix — the first-order Markov view of user
    * behavior (from each type, where do users go next, with what
    * probability). Complements [[topPaths]] (whole-session sequences) and
    * [[typeAffinity]] (unordered co-occurrence) with the ordered pairwise
    * view. One lag window on the user_id exchange, a ≤|types|² aggregate,
    * and a window-over-aggregate for the row-normalized probabilities —
    * nothing data-sized moves after the partial agg.
    */
  val typeTransitions = Q(
    "log_type_transitions",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events)
      |SELECT prev_type, event_type AS next_type, COUNT(*) AS n,
      |  ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY prev_type), 4) AS p
      |FROM seq WHERE prev_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wNorm = Window.partitionBy("prev_type")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        lag("event_type", 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") * lit(1.0) / sum("n").over(wNorm), 4))
      .orderBy("prev_type", "next_type")
  }

  /** PageRank damping factor and fixed iteration count shared by the Spark
    * build and the generated oracle SQL (one source of truth — the two
    * engines must run the identical recurrence). 12 iterations fully
    * converges the fixture graph (iter-11 → iter-12 delta is 0 at the
    * 6-decimal report precision, pinned in LogOpsSpec); the base term is a
    * named constant so both engines see the literal 0.15, not an
    * engine-evaluated `1 − 0.85` with its own floating-point identity.
    */
  private val prDamping = 0.85
  private val prBase = 0.15
  private val prIters = 12

  /** DuckDB oracle for [[pagerankTypes]]: the same power iteration unrolled
    * as a chain of MATERIALIZED CTEs (pr0 … pr12). MATERIALIZED is
    * load-bearing: each iteration references its predecessor twice (dangling
    * mass + contribution sum), so the default inlining would expand the
    * chain 2^12-fold and the oracle would never finish.
    */
  private def pagerankOracle: String = {
    val sb = new StringBuilder(
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |e AS (SELECT prev_type AS src, event_type AS dst, COUNT(*) AS n
        |      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |p AS MATERIALIZED (
        |  SELECT src, dst, n * 1.0 / SUM(n) OVER (PARTITION BY src) AS p FROM e),
        |nodes AS MATERIALIZED (SELECT DISTINCT event_type AS node FROM events),
        |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
        |pr0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)""".stripMargin)
    for (k <- 1 to prIters) sb.append(
      s""",
         |d$k AS (SELECT COALESCE(SUM(rank), 0) AS dm FROM pr${k - 1}
         |        WHERE node NOT IN (SELECT src FROM p)),
         |pr$k AS MATERIALIZED (
         |  SELECT n.node,
         |    $prBase / nn.n + $prDamping * (COALESCE(c.s, 0) + d$k.dm / nn.n) AS rank
         |  FROM nodes n CROSS JOIN nn CROSS JOIN d$k
         |  LEFT JOIN (SELECT p.dst AS node, SUM(r.rank * p.p) AS s
         |             FROM pr${k - 1} r JOIN p ON r.node = p.src GROUP BY 1) c USING (node))""".stripMargin)
    sb.append(s"\nSELECT node, ROUND(rank, 6) AS rank FROM pr$prIters ORDER BY node")
    sb.toString
  }

  /** PageRank over the event-type transition graph — the stationary
    * importance of each node under the first-order Markov chain that
    * [[typeTransitions]] tabulates, with the full Brin–Page treatment:
    * damping 0.85, uniform teleport, and dangling mass (nodes with no
    * out-edges) redistributed uniformly each round, so Σ rank = 1 is an
    * exact invariant (spec-pinned).
    *
    * This is the standard distributed power iteration, written so the SAME
    * code scales to a billion-node graph even though the fixture graph has
    * |event types| nodes: edge weights aggregate once and localCheckpoint
    * (computed-once, lineage truncated — the CC precedent); each round is
    * rank ⋈ edges on the node key → partial-agg groupBy(dst) → rebase, all
    * node-keyed shuffles, nothing driver-side anywhere. The per-round
    * single-row aggregates (node count, dangling mass) cross-join back in
    * as explicit broadcasts — metadata, not data. At fixture scale AQE
    * collapses the tiny exchanges; at web scale the node-keyed
    * hash-partitioning is exactly GraphX/Pregel's layout. 12 fixed rounds
    * rather than a convergence test keeps the oracle expressible (the
    * unrolled-CTE chain) — the delta-based stop is what
    * `llm_neardup_clusters` demonstrates.
    */
  val pagerankTypes = Q(
    "log_pagerank_types",
    pagerankOracle) { (s, dir) =>
    pagerankRanks(s, dir, prIters)
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .orderBy("node")
  }

  /** The power-iteration loop behind [[pagerankTypes]], split out at an
    * explicit iteration count so the spec can pin convergence (iters-1 vs
    * iters delta) and the Σ rank = 1 invariant independently of the
    * registered 6-decimal rounding.
    */
  private[graft] def pagerankRanks(s: SparkSession, dir: String, iters: Int): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val p = Tables.events(s, dir)
      .select(col("event_type"), lag("event_type", 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
      .select(col("src"), col("dst"),
        (col("n") * lit(1.0) / sum("n").over(Window.partitionBy("src"))).as("p"))
      .localCheckpoint()
    val nodes = Tables.events(s, dir).select(col("event_type").as("node"))
      .distinct().localCheckpoint()
    val nn = nodes.agg(count(lit(1)).as("nn"))
    val srcs = p.select(col("src").as("node")).distinct()
    var ranks = nodes.crossJoin(broadcast(nn))
      .select(col("node"), (lit(1.0) / col("nn")).as("rank"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val dm = ranks.join(srcs, Seq("node"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
      val contrib = ranks.join(p, col("node") === col("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") * col("p")).as("contrib"))
      ranks = nodes.crossJoin(broadcast(nn)).crossJoin(broadcast(dm))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(prBase) / col("nn") + lit(prDamping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dm") / col("nn"))).as("rank"))
        .localCheckpoint()
    }
    ranks
  }

  /** Seasonality profile — the (day-of-week × hour-of-day) load matrix
    * every capacity planner and anomaly baseline starts from: per-cell
    * event count, the cell's share of its day, and the load factor vs the
    * uniform-cell mean (the "how hot is Tuesday 9am vs average" number;
    * [[anomalyZscore]] is the outlier view over daily volumes, this is the
    * periodic-structure view). Day-of-week is computed as
    * floor(epoch-seconds / 86400) mod 7 — pure integer arithmetic both
    * engines evaluate identically, sidestepping the Sunday=0-vs-1
    * convention split between engines' dayofweek(). One partial-agg
    * shuffle onto ≤ 168 cells; the windows run over the post-agg cell
    * table (the unpartitioned one is over those ≤ 168 rows, not data).
    */
  val seasonality = Q(
    "log_seasonality",
    """WITH cell AS (
      |  SELECT CAST(floor(epoch(ts) / 86400) % 7 AS INTEGER) AS dow,
      |         CAST(hour(ts) AS INTEGER) AS hr, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT dow, hr, n,
      |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY dow), 4) AS day_share,
      |  ROUND(CAST(n AS DOUBLE) / (SUM(n) OVER () / COUNT(*) OVER ()), 4) AS load_factor
      |FROM cell ORDER BY dow, hr""".stripMargin) { (s, dir) =>
    val wDay = Window.partitionBy("dow")
    val wAll = Window.partitionBy()
    Tables.events(s, dir)
      .groupBy(
        (floor(unix_timestamp(col("ts")) / lit(86400)) % 7).cast("int").as("dow"),
        hour(col("ts")).cast("int").as("hr"))
      .agg(count(lit(1)).as("n"))
      .select(col("dow"), col("hr"), col("n"),
        round(col("n").cast("double") / sum("n").over(wDay), 4).as("day_share"),
        round(col("n").cast("double")
          / (sum("n").over(wAll) / count(lit(1)).over(wAll)), 4).as("load_factor"))
      .orderBy("dow", "hr")
  }

  /** Rolling 7-day active users + DAU/WAU stickiness — the growth metric
    * whose distributed form is genuinely non-obvious: a rolling DISTINCT
    * does not decompose from daily distinct counts (users active on many
    * days would double-count), so the scale-out formulation fans each
    * (user, day) row out to the ≤ 7 windows it participates in map-side
    * and lets ONE distinct aggregation per window day do the dedup. The
    * shuffle carries user-days × 7 rows — linear in activity, not in
    * users × days — and no self-join or per-window rescan exists anywhere.
    * (The approx variant swaps the distinct for mergeable HLL sketches per
    * day, union-merged over the window — `agg_approx_distinct` is the
    * registered sketch.) Windows are reported only for observed days (the
    * dau join prunes the fanout's tail beyond the last day).
    */
  val rollingWau = Q(
    "log_rolling_wau",
    """WITH ud AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
      |dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY 1),
      |expanded AS (
      |  SELECT user_id, d + i * INTERVAL '1 day' AS wd
      |  FROM ud CROSS JOIN range(0, 7) t(i)),
      |wau AS (SELECT wd AS d, COUNT(DISTINCT user_id) AS wau FROM expanded GROUP BY 1)
      |SELECT dau.d AS day, dau.dau, wau.wau,
      |  ROUND(dau.dau * 1.0 / wau.wau, 4) AS stickiness
      |FROM dau JOIN wau ON dau.d = wau.d
      |ORDER BY day""".stripMargin) { (s, dir) =>
    val ud = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d")).distinct()
    val dau = ud.groupBy("d").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("i"), col("d"))
      .select(col("user_id"), expr("timestampadd(DAY, i, d)").as("d"))
      .groupBy("d")
      .agg(countDistinct("user_id").as("wau"))
    dau.join(wau, "d")
      .select(col("d").as("day"), col("dau"), col("wau"),
        round(col("dau") * lit(1.0) / col("wau"), 4).as("stickiness"))
      .orderBy("day")
  }

  /** J6: range join — error within 1 h after a purchase, same user. The
    * user_id equi-key keeps this a real hash join (band predicate applied
    * post-match) rather than a nested-loop cross product.
    */
  val joinRangeEvents = Q(
    "join_range_events",
    """SELECT a.event_id AS purchase_id, b.event_id AS error_id
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_type = 'purchase' AND b.event_type = 'error'
      | AND b.ts > a.ts AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
      |ORDER BY purchase_id, error_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val a = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("a_ts"))
    val b = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("b_user"), col("event_id").as("error_id"), col("ts").as("b_ts"))
    a.join(b,
        col("user_id") === col("b_user") &&
        col("b_ts") > col("a_ts") &&
        unix_micros(col("b_ts")) <= unix_micros(col("a_ts")) + 3600000000L)
      .select("purchase_id", "error_id")
      .orderBy("purchase_id", "error_id")
  }

  /** J7: as-of join — for each error event, the user's most recent purchase
    * at or before it.
    *
    * Formulated as a merge, not a join: union both event kinds into one
    * per-user stream, sort it once, and carry the latest purchase forward
    * with `last_value(..., ignoreNulls)` over a rows-preceding frame. This
    * is one shuffle on user_id and O(n_events) intermediate rows per user.
    * The obvious join-then-rank alternative (e ⋈ p ON p.ts <= e.ts, rn=1)
    * fans out n_errors × n_purchases per user BEFORE the rank prunes it — a
    * power user with 10⁴ of each makes 10⁸ intermediate rows on a single
    * key, which is how an as-of join dies at 100 TB.
    *
    * Within the merged sort, purchases order before errors at equal ts
    * (inclusive `p.ts <= e.ts` bound), and equal-ts purchases order by
    * event_id ascending so the carried value is the max-event_id purchase —
    * the same deterministic winner the rank formulation picked.
    */
  val joinAsofEvents = Q(
    "join_asof_events",
    """WITH merged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN event_type = 'purchase' THEN event_id END AS purchase_marker
      |  FROM events WHERE event_type IN ('error', 'purchase')),
      |filled AS (
      |  SELECT user_id, event_id, event_type,
      |    last_value(purchase_marker IGNORE NULLS) OVER (
      |      PARTITION BY user_id
      |      ORDER BY ts, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_id
      |  FROM merged)
      |SELECT event_id, user_id, purchase_id FROM filled
      |WHERE event_type = 'error' AND purchase_id IS NOT NULL
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val merged = ev.filter(col("event_type").isin("error", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        when(col("event_type") === "purchase", col("event_id")).as("purchase_marker"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), (col("event_type") === "error").cast("int"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged
      .withColumn("purchase_id", last(col("purchase_marker"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error" && col("purchase_id").isNotNull)
      .select("event_id", "user_id", "purchase_id")
      .orderBy("event_id")
  }

  /** J7 forward variant: for each error event, the user's NEXT purchase
    * strictly after it, plus the wait in seconds — the "did the user come
    * back after the failure" join. Same single-pass merge discipline as
    * [[joinAsofEvents]] (one user_id shuffle, no pair fanout), mirrored:
    * `first_value(..., ignoreNulls)` over a current-to-following frame.
    * At equal ts, purchases sort BEFORE errors, which both makes the
    * backward bound inclusive and this forward bound STRICT (a same-ts
    * purchase falls outside the error's following frame); equal-ts future
    * purchases resolve to the min event_id — deterministic on both
    * engines. wait_s subtracts exact µs BIGINTs, no float time math.
    */
  val joinAsofForward = Q(
    "join_asof_forward",
    """WITH merged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN event_type = 'purchase' THEN event_id END AS purchase_marker,
      |    CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS pts_marker
      |  FROM events WHERE event_type IN ('error', 'purchase')),
      |filled AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ets,
      |    first_value(purchase_marker IGNORE NULLS) OVER (
      |      PARTITION BY user_id
      |      ORDER BY ts, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END, event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_id,
      |    first_value(pts_marker IGNORE NULLS) OVER (
      |      PARTITION BY user_id
      |      ORDER BY ts, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END, event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS pts
      |  FROM merged)
      |SELECT event_id, user_id, next_purchase_id,
      |  CAST(FLOOR((pts - ets) / 1000000.0) AS BIGINT) AS wait_s
      |FROM filled
      |WHERE event_type = 'error' AND next_purchase_id IS NOT NULL
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val merged = ev.filter(col("event_type").isin("error", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        when(col("event_type") === "purchase", col("event_id")).as("purchase_marker"),
        when(col("event_type") === "purchase", unix_micros(col("ts"))).as("pts_marker"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), (col("event_type") === "error").cast("int"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    merged
      .withColumn("next_purchase_id", first(col("purchase_marker"), ignoreNulls = true).over(w))
      .withColumn("pts", first(col("pts_marker"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error" && col("next_purchase_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("next_purchase_id"),
        // both engines: exact-µs BIGINT diff, ONE double division, floor —
        // Spark's long-cast truncates where DuckDB's rounds, so the floor
        // must be explicit on both sides
        floor((col("pts") - unix_micros(col("ts"))) / lit(1000000.0)).cast("long")
          .as("wait_s"))
      .orderBy("event_id")
  }

  /** S3 round-trip: synthesize `src [lang] text…` log lines, then recover
    * the fields with the LogSource parse pattern — proves the
    * schema-on-read projection (the ingest path for raw log files, see
    * [[graft.sources.LogSource]]) against the oracle.
    */
  val parseLines = Q(
    "log_parse_lines",
    """SELECT doc_id,
      |  regexp_extract(line, '^(\S+) \[(\w+)\] (.*)$', 1) AS component,
      |  regexp_extract(line, '^(\S+) \[(\w+)\] (.*)$', 2) AS level,
      |  substr(regexp_extract(line, '^(\S+) \[(\w+)\] (.*)$', 3), 1, 20) AS head
      |FROM (SELECT doc_id, concat(source, ' [', lang, '] ', text) AS line
      |      FROM documents) t
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val pat = "^(\\S+) \\[(\\w+)\\] (.*)$"
    Tables.documents(s, dir)
      .select(col("doc_id"),
        concat(col("source"), lit(" ["), col("lang"), lit("] "), col("text")).as("line"))
      .select(
        col("doc_id"),
        regexp_extract(col("line"), pat, 1).as("component"),
        regexp_extract(col("line"), pat, 2).as("level"),
        substring(regexp_extract(col("line"), pat, 3), 1, 20).as("head"))
      .orderBy("doc_id")
  }

  /** Sequential funnel: users reaching view → click-after-view →
    * purchase-after-click, counted per stage. Each stage is a per-user MIN
    * over one hash shuffle on user_id; stage joins are user-keyed equi-joins
    * on already-aggregated (one-row-per-user) sides, so at 100 TB the fact
    * table is scanned once per stage type filter and nothing ever crosses.
    */
  val funnel = Q(
    "log_funnel",
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |  JOIN v ON e.user_id = v.user_id AND e.ts > v.t
      |  WHERE e.event_type = 'click' GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |  JOIN c ON e.user_id = c.user_id AND e.ts > c.t
      |  WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT step, n_users FROM (
      |  SELECT 'step1_view' AS step, COUNT(*) AS n_users FROM v
      |  UNION ALL SELECT 'step2_click', COUNT(*) FROM c
      |  UNION ALL SELECT 'step3_purchase', COUNT(*) FROM p) u
      |ORDER BY step""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    def firstAfter(step: String, prev: org.apache.spark.sql.DataFrame) =
      ev.filter(col("event_type") === step)
        .join(prev.select(col("user_id").as("p_user"), col("t").as("p_t")),
          col("user_id") === col("p_user") && col("ts") > col("p_t"))
        .groupBy("user_id").agg(min("ts").as("t"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t"))
    val c = firstAfter("click", v)
    val p = firstAfter("purchase", c)
    def stage(name: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("step"), col("n_users"))
    stage("step1_view", v)
      .unionByName(stage("step2_click", c))
      .unionByName(stage("step3_purchase", p))
      .orderBy("step")
  }

  /** Day-7 retention cohorts: of the users active on day D, how many were
    * also active on D+7. The distinct (user, day) activity set is tiny
    * relative to the log (one row per user-day), so the self-join runs on
    * the aggregated activity table, never the raw events.
    */
  val retention = Q(
    "log_retention",
    """WITH act AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      |  FROM events)
      |SELECT a.day AS cohort_day,
      |  COUNT(*) AS n_day0,
      |  CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_day7
      |FROM act a LEFT JOIN act b
      |  ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 7 DAY
      |GROUP BY a.day ORDER BY a.day""".stripMargin) { (s, dir) =>
    val act = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val b = act.select(col("user_id").as("b_user"), col("day").as("b_day"))
    act.join(b,
        col("user_id") === col("b_user") &&
        col("b_day") === col("day") + expr("INTERVAL 7 DAY"), "left")
      .groupBy(col("day").as("cohort_day"))
      .agg(
        count(lit(1)).as("n_day0"),
        sum(when(col("b_user").isNotNull, 1L).otherwise(0L)).as("n_day7"))
      .orderBy("cohort_day")
  }

  /** Top session paths: sessionize (30-min gap), concatenate each session's
    * event types in (ts, event_id) order, count the most common sequences.
    * The path build is ONE user_id shuffle (both windows + the session
    * groupBy share it); the path count shuffles one row per distinct path
    * string with map-side combine; top-k is a TakeOrdered. The event_id
    * tiebreak makes the concatenation order engine-independent.
    */
  val topPaths = Q(
    "log_top_paths",
    """WITH lagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    SUM(CASE WHEN prev IS NULL
      |             OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess_no
      |  FROM lagged),
      |paths AS (
      |  SELECT user_id, sess_no,
      |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      |  FROM sess GROUP BY 1, 2)
      |SELECT path, COUNT(*) AS n_sessions FROM paths
      |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 15""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val newSess = when(col("prev").isNull ||
      unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1).otherwise(0)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag("ts", 1).over(w))
      .withColumn("sess_no", sum(newSess).over(w))
      .groupBy("user_id", "sess_no")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          e => e.getField("event_type")),
        ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(15)
  }

  /** Volume-anomaly detection: daily counts per event type, z-scored
    * against that type's own mean/stddev, keeping |z| > 1 days. The window
    * runs over the tiny (type × day) aggregate, so at 100 TB the cost is
    * the first groupBy; the z-score pass touches ~150 rows.
    */
  val anomalyZscore = Q(
    "log_anomaly_zscore",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, day, n,
      |    AVG(n) OVER (PARTITION BY event_type) AS mu,
      |    STDDEV_SAMP(n) OVER (PARTITION BY event_type) AS sd
      |  FROM daily)
      |SELECT event_type, day, n, ROUND((n - mu) / sd, 4) AS z
      |FROM stats WHERE ABS((n - mu) / sd) > 1
      |ORDER BY event_type, day""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("event_type")
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val z = (col("n") - avg("n").over(w)) / stddev_samp(col("n")).over(w)
    daily
      .withColumn("z", z)
      .filter(abs(col("z")) > 1)
      .select(col("event_type"), col("day"), col("n"), round(col("z"), 4).as("z"))
      .orderBy("event_type", "day")
  }

  /** W5 time-range frame: per-user trailing-1-hour event count and value
    * sum by EVENT TIME (RANGE frame on epoch-µs), not row count — the
    * "activity in the last hour as of each event" primitive rate limiting
    * and alerting build on. One user_id shuffle; the frame scan is ordered
    * within partition.
    */
  val winTimeRange = Q(
    "win_time_range_sum",
    """SELECT event_id, user_id,
      |  COUNT(*) OVER w AS n_1h,
      |  ROUND(SUM(value) OVER w, 4) AS sum_1h
      |FROM (SELECT event_id, user_id, value, epoch_us(ts) AS us FROM events) t
      |WINDOW w AS (PARTITION BY user_id ORDER BY us
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-3600000000L, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      .select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_1h"),
        round(sum("value").over(w), 4).as("sum_1h"))
      .orderBy("event_id")
  }

  /** One staged copy of orders per (fixture, format) per JVM. A fixed path
    * keyed only on the fixture would race across processes (a Verify dump
    * and a Bench warm loop building against the same fixture concurrently —
    * one's overwrite deletes the directory the other is reading back), so
    * the root stays a per-process temp dir; memoizing inside the process
    * stops every build() (Bench warm+timed passes, PlanSpec's registry-wide
    * plan scan) from rewriting the full table and leaking a fresh dir. The
    * shutdown hook reclaims the staging on JVM exit.
    */
  private val stagedRoundtrip =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def stageOrders(s: org.apache.spark.sql.SparkSession, dir: String,
                          format: String): String =
    stagedRoundtrip.computeIfAbsent((dir, format), { _ =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-$format-roundtrip")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        catch { case _: Throwable => () }
      }))
      val out = root.resolve("orders").toString
      val w = Tables.orders(s, dir).write.mode("overwrite")
      format match {
        case "csv"  => w.option("header", "true").csv(out)
        case "json" => w.json(out)
        case _      => w.orc(out)
      }
      out
    })

  /** S-family (CSV): a real codec round-trip — orders is written out as
    * headered CSV and read back through
    * [[graft.sources.LogSource.readCsv]] with an explicit schema, then
    * profiled per status. The oracle computes the same profile straight
    * from the parquet view, so anything the CSV writer/parser mangles —
    * quoting, the timestamp format, double text round-trip — breaks the
    * hash. The write is a tiny local staging step; the graded path is the
    * reader, which splits on line boundaries across executors like any
    * text source at 100 TB.
    */
  val csvRoundtrip = Q(
    "csv_roundtrip",
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  ROUND(SUM(o_totalprice), 2) AS total,
      |  CAST(MIN(o_orderdate) AS TIMESTAMP) AS first_ts,
      |  CAST(MAX(o_orderdate) AS TIMESTAMP) AS last_ts
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val out = stageOrders(s, dir, "csv")
    graft.sources.LogSource.readCsv(s, out,
      org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"),
        min("o_orderdate").as("first_ts"),
        max("o_orderdate").as("last_ts"))
      .orderBy("o_orderstatus")
  }

  /** S-family (ORC): the other columnar lake format a switching user brings
    * along. Orders round-trips through an ORC write/read (predicate
    * pushdown, stripe stats and column pruning all work as with parquet —
    * it is the same DataSource V1 file-scan machinery), profiled per
    * priority bucket; the oracle computes the identical profile from the
    * parquet view, so any type mangling in the ORC codec path breaks the
    * hash. Same staging rationale as [[csvRoundtrip]].
    */
  val orcRoundtrip = Q(
    "orc_roundtrip",
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  ROUND(SUM(o_totalprice), 2) AS total,
      |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
      |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val out = stageOrders(s, dir, "orc")
    s.read.orc(out)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"))
      .orderBy("o_orderpriority")
  }

  /** JSON-lines round-trip (S-family, completing parquet/CSV/ORC/JSON):
    * write orders as JSON lines, read back with an explicit schema (ISO
    * timestamps re-parse losslessly at the corpus's millisecond
    * precision), profile against the parquet original in the oracle. Same
    * shared staging as the CSV/ORC twins.
    */
  val jsonRoundtrip = Q(
    "json_roundtrip",
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  ROUND(AVG(o_totalprice), 2) AS avg_price,
      |  CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
      |  CAST(MAX(o_orderdate) AS TIMESTAMP) AS last_ts
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val out = stageOrders(s, dir, "json")
    s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"))
      .json(out)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        round(avg("o_totalprice"), 2).as("avg_price"),
        min("o_custkey").as("min_cust"),
        max("o_orderdate").as("last_ts"))
      .orderBy("o_orderpriority")
  }

  /** Log compaction (CDC/upsert semantics): latest-record-wins per
    * (user_id, event_type) key, plus how many superseded versions the
    * compaction would discard. The canonical shape behind `MERGE INTO` /
    * changelog materialization: one shuffle on the compaction key, then a
    * per-key window — no join, no second pass for the version count (both
    * window frames share the one exchange).
    *
    * Ordering is on the RAW nanosecond column (`ts_ns`), not the
    * µs-truncated timestamp: two versions of a key landing in the same
    * microsecond but different nanoseconds must pick the same winner here
    * and in the oracle (which orders by the parquet TIMESTAMP_NS natively);
    * event_id breaks exact-tie nanos deterministically.
    *
    * 100 TB: hash-partitioned by key like any compaction job; with the
    * events table bucketed by user_id the exchange disappears entirely.
    */
  val compactLatest = Q(
    "log_compact_latest",
    """SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS last_ts,
      |  value AS last_value, event_id AS last_event_id, n_versions
      |FROM (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_versions
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    val key = Window.partitionBy("user_id", "event_type")
    val ord = key.orderBy(col("ts_ns").desc, col("event_id").desc)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("value"),
        col("event_id"), col("ts_ns"))
      .withColumn("rn", row_number().over(ord))
      .withColumn("n_versions", count(lit(1)).over(key))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("ts").as("last_ts"),
        col("value").as("last_value"), col("event_id").as("last_event_id"),
        col("n_versions"))
      .orderBy("user_id", "event_type")
  }

  /** Peak concurrent sessions per day — the classic interval sweep-line as
    * a window plan: each session emits (+1 at start, −1 at end), the
    * running sum over (ts, +1-before-−1) is instantaneous concurrency, and
    * the daily max is the peak. Ordering −1 after +1 at the same instant
    * gives closed-interval overlap semantics (a session ending at T and
    * one starting at T overlap); the default RANGE frame makes tied
    * deltas order-invariant (peers share one running value).
    *
    * Sessions are swept within their START day (a session crossing
    * midnight doesn't carry into the next day's count) — that keeps the
    * sweep partitioned by day, so each day's scan is independent and the
    * operator scales by day-count, not corpus size. The unbounded-carry
    * variant adds a per-day carry-in join (sessions spanning the boundary)
    * on top of the same sweep; at a 30-minute gap cap the difference is at
    * most the handful of midnight-straddling sessions.
    *
    * 100 TB: two exchanges total — user_id (shared with sessionize) then
    * day; within a day the sweep is a single sorted pass. For
    * million-session days, sub-partition by hour with hour-boundary
    * carry-ins (same shape, one more prefix-sum level).
    */
  val peakConcurrency = Q(
    "log_peak_concurrency",
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id, ts
      |  FROM flagged),
      |sessions AS (
      |  SELECT user_id, session_id,
      |    MIN(ts) AS session_start, MAX(ts) AS session_end
      |  FROM sess GROUP BY user_id, session_id),
      |deltas AS (
      |  SELECT CAST(date_trunc('day', session_start) AS TIMESTAMP) AS day,
      |    session_start AS ts, 1 AS delta FROM sessions
      |  UNION ALL
      |  SELECT CAST(date_trunc('day', session_start) AS TIMESTAMP) AS day,
      |    session_end AS ts, -1 AS delta FROM sessions),
      |run AS (
      |  SELECT day, delta,
      |    SUM(delta) OVER (PARTITION BY day ORDER BY ts, delta DESC) AS conc
      |  FROM deltas)
      |SELECT day,
      |  CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  CAST(MAX(conc) AS BIGINT) AS peak_concurrent
      |FROM run GROUP BY day ORDER BY day""".stripMargin) { (s, dir) =>
    // both deltas explode from ONE pass over the session table — a UNION
    // of two selects would duplicate the whole sessionize subtree (and its
    // user_id exchange) instead of reusing it
    val deltas = sessionTable(s, dir)
      .select(date_trunc("day", col("session_start")).as("day"),
        explode(array(
          struct(col("session_start").as("ts"), lit(1).as("delta")),
          struct(col("session_end").as("ts"), lit(-1).as("delta")))).as("d"))
      .select(col("day"), col("d.ts").as("ts"), col("d.delta").as("delta"))
    val sweep = Window.partitionBy("day").orderBy(col("ts").asc, col("delta").desc)
    deltas
      .withColumn("conc", sum("delta").over(sweep))
      .groupBy("day")
      .agg(sum(when(col("delta") === 1, 1L).otherwise(0L)).as("n_sessions"),
        max("conc").cast("long").as("peak_concurrent"))
      .orderBy("day")
  }

  /** Equal-width numeric histogram of the value column (50-unit bins):
    * bin id by one IEEE-exact division + floor, so both engines bucket
    * every edge case identically; the pct column normalizes by the grand
    * total via a window over the ALREADY-AGGREGATED ≤ 10 bin rows — the
    * unpartitioned window runs over bin-count rows, never event rows.
    * 100 TB: one partial+final hash agg on a 10-value key.
    */
  val valueHistogram = Q(
    "log_value_histogram",
    """SELECT bin, CAST(bin * 50 AS DOUBLE) AS lo,
      |  CAST(bin * 50 + 50 AS DOUBLE) AS hi, COUNT(*) AS n,
      |  ROUND(100.0 * COUNT(*) / SUM(COUNT(*)) OVER (), 4) AS pct
      |FROM (SELECT CAST(floor(value / 50) AS BIGINT) AS bin FROM events) t
      |GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
    val all = Window.partitionBy()
    Tables.events(s, dir)
      .select(floor(col("value") / 50).cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"))
      .select(col("bin"), (col("bin") * 50).cast("double").as("lo"),
        (col("bin") * 50 + 50).cast("double").as("hi"), col("n"),
        round(lit(100.0) * col("n") / sum("n").over(all), 4).as("pct"))
      .orderBy("bin")
  }

  /** Cumulative distinct users by day — audience growth: each user counts
    * on the day of their FIRST event, and the running sum over days is the
    * lifetime distinct-user curve. Two hash aggs (user → first day, day →
    * new users) and a running window over the ≤ day-count rows; the
    * distinct-by-user work is the per-user min, so no count-distinct state
    * grows with history. 100 TB: user agg shuffles on user_id (bucketing
    * removes it), day spine is metadata-sized.
    */
  val cumulativeUsers = Q(
    "log_cumulative_users",
    """WITH firstd AS (
      |  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS day
      |  FROM events GROUP BY user_id),
      |daily AS (SELECT day, COUNT(*) AS new_users FROM firstd GROUP BY day)
      |SELECT day, new_users,
      |  CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
      |FROM daily ORDER BY day""".stripMargin) { (s, dir) =>
    val run = Window.orderBy("day")
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(date_trunc("day", col("ts"))).as("day"))
      .groupBy("day")
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum("new_users").over(run).cast("long"))
      .orderBy("day")
  }

  /** Linear-regression aggregates (A-family): value-vs-hour-of-day trend
    * per event type via the SQL-standard regr_* family — slope, intercept,
    * r², support count. Both engines implement the same closed-form
    * co-moment formulas; results round to 4 dp (`+ 0` normalizes a
    * negative zero on the near-zero slopes random data produces). One
    * partial+final hash agg; co-moments are mergeable, so this is
    * map-combined like any sum.
    */
  val regression = Q(
    "log_regression",
    """SELECT event_type,
      |  CAST(regr_count(value, hour) AS BIGINT) AS n,
      |  ROUND(regr_slope(value, hour), 4) + 0 AS slope,
      |  ROUND(regr_intercept(value, hour), 4) + 0 AS icept,
      |  ROUND(regr_r2(value, hour), 4) + 0 AS r2
      |FROM (SELECT event_type, CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS hour,
      |  value FROM events) t
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_type"), hour(col("ts")).cast("double").as("hour"), col("value"))
      .groupBy("event_type")
      .agg(
        expr("regr_count(value, hour)").cast("long").as("n"),
        (round(expr("regr_slope(value, hour)"), 4) + lit(0.0)).as("slope"),
        (round(expr("regr_intercept(value, hour)"), 4) + lit(0.0)).as("icept"),
        (round(expr("regr_r2(value, hour)"), 4) + lit(0.0)).as("r2"))
      .orderBy("event_type")
  }

  /** Retention/downsampling policy — the log-database housekeeping job:
    * events in the last 14 days (relative to the corpus high-water mark)
    * are hot and kept in full; older events keep all errors but sample
    * low-value types at ~10% via the deterministic id-hash coin (no
    * rand() — reruns and the oracle agree on exact membership). Emitted
    * as the per-(type, tier) keep profile an operator reviews before the
    * policy deletes anything. Plan shape: single-row max-ts aggregate
    * broadcast into a map-only classification, then one small groupBy —
    * the full log is scanned once, nothing wide shuffles.
    */
  val retentionPolicy = Q(
    "log_retention_policy",
    """WITH mx AS (SELECT MAX(ts) AS mts FROM events),
      |cls AS (
      |  SELECT event_type,
      |    CASE WHEN ts >= mts - INTERVAL 14 DAY THEN 'hot' ELSE 'cold' END AS tier,
      |    CASE WHEN event_type = 'error' THEN 1
      |         WHEN ts >= mts - INTERVAL 14 DAY THEN 1
      |         WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 2))::BIGINT < 26 THEN 1
      |         ELSE 0 END AS kept
      |  FROM events CROSS JOIN mx)
      |SELECT event_type, tier, COUNT(*) AS n_total,
      |  CAST(SUM(kept) AS BIGINT) AS n_kept,
      |  ROUND(CAST(SUM(kept) AS DOUBLE) / COUNT(*), 4) AS kept_frac
      |FROM cls GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val mx = Tables.events(s, dir).agg(max("ts").as("mts"))
    val h = CurationOps.hashByte(col("event_id"))
    val isHot = col("ts") >= col("mts") - expr("INTERVAL 14 DAYS")
    val kept = when(col("event_type") === "error", 1)
      .when(isHot, 1)
      .when(h < 26, 1)
      .otherwise(0)
    Tables.events(s, dir)
      .crossJoin(broadcast(mx))
      .select(col("event_type"),
        when(isHot, "hot").otherwise("cold").as("tier"),
        kept.as("kept"))
      .groupBy("event_type", "tier")
      .agg(
        count(lit(1)).as("n_total"),
        sum("kept").as("n_kept"),
        round(sum("kept").cast("double") / count(lit(1)), 4).as("kept_frac"))
      .orderBy("event_type", "tier")
  }

  /** Time-series gap fill (resample): hourly count + volume per event type
    * over the full [min, max] hour range of the corpus, with missing
    * (hour, type) cells emitted as explicit zeros — the dashboard/alerting
    * staple where a silent hour must plot as 0, not vanish. Plan shape:
    * the only data-sized pass is the per-(hour, type) groupBy over events
    * (one shuffle, partial-aggregated); the hour spine is exploded from a
    * single-row min/max aggregate and crossed with the ≤5-row distinct
    * type dim — both metadata-sized and broadcast, so the fill join costs
    * nothing at any corpus size. At 100 TB the spine is still just
    * hours × types (a year ≈ 9k rows × types).
    */
  val resampleFill = Q(
    "log_resample_fill",
    """WITH agg AS (
      |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type,
      |    COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
      |  FROM events GROUP BY 1, 2),
      |b AS (
      |  SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS lo,
      |         CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS hi
      |  FROM events),
      |spine AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
      |types AS (SELECT DISTINCT event_type FROM events)
      |SELECT spine.h AS h, types.event_type AS event_type,
      |  COALESCE(agg.n, 0) AS n, COALESCE(agg.sum_value, 0.0) AS sum_value
      |FROM spine CROSS JOIN types
      |LEFT JOIN agg ON agg.h = spine.h AND agg.event_type = types.event_type
      |ORDER BY h, event_type""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val agg = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
    val spine = ev
      .agg(date_trunc("hour", min("ts")).as("lo"),
           date_trunc("hour", max("ts")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 HOUR"))).as("h"))
    val types = ev.select("event_type").distinct()
    spine.crossJoin(broadcast(types))
      .join(broadcast(agg), Seq("h", "event_type"), "left")
      .select(col("h"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy("h", "event_type")
  }

  /** Gaps-and-islands: maximal runs of consecutive same-type events per
    * user (the classic "N errors in a row" alerting shape — sessionize cuts
    * on time gaps, this cuts on value change). The island key is the
    * rn − rn_per_type difference, constant exactly within a run; both
    * row_numbers share one user_id sort (the per-type one is a finer
    * partition of the same ordering), so the window pass is a single
    * user_id exchange, and the run aggregation groups on (user, type,
    * island) — bounded keys, map-combinable aggregates. Ordering ties
    * break on event_id so both engines segment identically; only runs of
    * ≥ 3 events surface (the alert-worthy ones).
    */
  val eventRuns = Q(
    "log_event_runs",
    """WITH seq AS (
      |  SELECT user_id, event_type, ts,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rnt
      |  FROM events),
      |runs AS (
      |  SELECT user_id, event_type, MIN(ts) AS run_start, MAX(ts) AS run_end,
      |    COUNT(*) AS run_len
      |  FROM seq GROUP BY user_id, event_type, rn - rnt)
      |SELECT user_id, event_type, run_start, run_end, CAST(run_len AS BIGINT) AS run_len
      |FROM runs WHERE run_len >= 3
      |ORDER BY user_id, run_start, event_type, run_end, run_len""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val wAll = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wTyp = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ev.select(col("user_id"), col("event_type"), col("ts"),
        (row_number().over(wAll) - row_number().over(wTyp)).as("island"))
      .groupBy("user_id", "event_type", "island")
      .agg(min("ts").as("run_start"), max("ts").as("run_end"),
        count(lit(1)).as("run_len"))
      .filter(col("run_len") >= 3)
      .select("user_id", "event_type", "run_start", "run_end", "run_len")
      // run_end + run_len complete the total order: with all-equal-ts
      // events, two islands of one (user, type) can share run_start (e.g.
      // A,A,A,B,A,A,A at one ts) and even run_end with differing lengths
      // (A,A,A,B,A,A,A,A) — without them row order between engines is
      // nondeterministic against the order-sensitive oracle hash.
      .orderBy("user_id", "run_start", "event_type", "run_end", "run_len")
  }

  /** Multiline record stitching — the log-ingestion step that reattaches
    * continuation lines (stack-trace frames, wrapped messages) to their
    * header line before any parsing: a record is a header plus every
    * following continuation, identified by the running count of headers in
    * file order. The corpus is synthesized deterministically from
    * `documents` (header = parseLines' `src [lang] head` shape; doc_id % 4
    * "    at token" continuation lines) so both engines stitch the same
    * stream.
    *
    * Scale shape: one shuffle on the file key (`source` stands in for the
    * file path), then a per-file ordered window and a (file, record)
    * groupBy. A single enormous file serializes onto one task under this
    * exact formulation; production splits files into blocks, stitches per
    * block the same way, and repairs the one boundary record per block pair
    * — the per-block plan is THIS query unchanged.
    */
  val multilineStitch = Q(
    "log_multiline_stitch",
    """WITH toks AS (
      |  SELECT doc_id, source, lang, text,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM documents),
      |lines AS (
      |  SELECT doc_id, source,
      |    generate_subscripts(arr, 1) - 1 AS line_no, unnest(arr) AS line
      |  FROM (
      |    SELECT doc_id, source,
      |      list_prepend(source || ' [' || lang || '] ' || substr(text, 1, 20),
      |        list_transform(list_slice(tk, 1, doc_id % 4),
      |                       t -> '    at ' || t)) AS arr
      |    FROM toks) t),
      |flagged AS (
      |  SELECT source, doc_id, line_no, line,
      |    CASE WHEN line LIKE '    at %' THEN 0 ELSE 1 END AS is_header,
      |    CAST(SUM(CASE WHEN line LIKE '    at %' THEN 0 ELSE 1 END)
      |      OVER (PARTITION BY source ORDER BY doc_id, line_no
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS record_id
      |  FROM lines)
      |SELECT source, record_id, COUNT(*) AS n_lines,
      |  MIN(CASE WHEN is_header = 1 THEN line END) AS header,
      |  CAST(SUM(len(line)) AS BIGINT) AS n_chars
      |FROM flagged GROUP BY source, record_id
      |ORDER BY source, record_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val tk = filter(split(col("text"), " "), x => x =!= "")
    val arr = concat(
      array(concat(col("source"), lit(" ["), col("lang"), lit("] "),
        substring(col("text"), 1, 20))),
      transform(slice(tk, lit(1), pmod(col("doc_id"), lit(4)).cast("int")),
        t => concat(lit("    at "), t)))
    val lines = docs.select(col("doc_id"), col("source"),
      posexplode(arr).as(Seq("line_no", "line")))
    val isHeader = when(col("line").startsWith("    at "), 0).otherwise(1)
    val w = Window.partitionBy("source").orderBy("doc_id", "line_no")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lines.withColumn("is_header", isHeader)
      .withColumn("record_id", sum(isHeader).over(w))
      .groupBy("source", "record_id")
      .agg(count(lit(1)).as("n_lines"),
        min(when(col("is_header") === 1, col("line"))).as("header"),
        sum(length(col("line"))).cast("bigint").as("n_chars"))
      .orderBy("source", "record_id")
  }

  /** Hourly latency percentiles — the observability staple (p50/p95/p99 of
    * a measured value per time bucket per event type). Exact interpolated
    * percentiles here so the DuckDB oracle can hash-match
    * (`percentile` ≡ `quantile_cont`); at 100 TB the per-(hour, type)
    * groups are what make the exact sort affordable — each group sorts
    * independently after one partial-aggregated shuffle — and the
    * registered approx family (`agg_approx_percentile`, mergeable sketch)
    * is the drop-in when even that is too much.
    */
  val latencyPercentiles = Q(
    "log_latency_percentiles",
    """SELECT date_trunc('hour', ts) AS h, event_type,
      |  COUNT(*) AS n,
      |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(value, 0.95), 4) AS p95,
      |  ROUND(quantile_cont(value, 0.99), 4) AS p99
      |FROM events WHERE event_type IN ('view', 'click', 'purchase')
      |GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy("h", "event_type")
  }

  /** The synthetic raw-line CASE shared by [[templateMine]] and the
    * streaming twin's oracle ([[StreamOps]]) — one source of truth so the
    * batch and stream formulations can never mask different lines. */
  private[engine] val lineCaseSql: String =
    """CASE event_type
      |      WHEN 'error' THEN
      |        'svc-' || CAST(user_id % 5 AS VARCHAR) || ' ERROR code=' ||
      |        CAST(props->>'$.k' AS VARCHAR) || ' failed after ' ||
      |        CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) || 'ms'
      |      WHEN 'purchase' THEN
      |        'svc-' || CAST(user_id % 5 AS VARCHAR) || ' INFO purchase user=' ||
      |        CAST(user_id AS VARCHAR) || ' amount=' ||
      |        CAST(CAST(floor(value) AS BIGINT) AS VARCHAR)
      |      WHEN 'click' THEN
      |        'svc-' || CAST(user_id % 5 AS VARCHAR) || ' DEBUG click user=' ||
      |        CAST(user_id AS VARCHAR) || ' pos=' || CAST(props->>'$.k' AS VARCHAR)
      |      ELSE
      |        'svc-' || CAST(user_id % 5 AS VARCHAR) || ' INFO ' || event_type ||
      |        ' user=' || CAST(user_id AS VARCHAR) || ' k=' ||
      |        CAST(props->>'$.k' AS VARCHAR)
      |    END""".stripMargin

  /** Spark side of [[lineCaseSql]]. */
  private[graft] def syntheticLine: org.apache.spark.sql.Column = {
    val svc = concat(lit("svc-"), (col("user_id") % 5).cast("string"))
    val k = expr("CAST(get_json_object(props, '$.k') AS BIGINT)").cast("string")
    val amt = floor(col("value")).cast("long").cast("string")
    when(col("event_type") === "error",
        concat(svc, lit(" ERROR code="), k, lit(" failed after "), amt, lit("ms")))
      .when(col("event_type") === "purchase",
        concat(svc, lit(" INFO purchase user="), col("user_id").cast("string"),
          lit(" amount="), amt))
      .when(col("event_type") === "click",
        concat(svc, lit(" DEBUG click user="), col("user_id").cast("string"),
          lit(" pos="), k))
      .otherwise(
        concat(svc, lit(" INFO "), col("event_type"),
          lit(" user="), col("user_id").cast("string"), lit(" k="), k))
  }

  /** Log template mining (the Drain/He et al. 2017 family, done the
    * Spark-declarative way): raw lines → variable tokens masked to `<*>`
    * → group by the resulting template. This is THE log-analytics
    * compression step — millions of distinct lines collapse to dozens of
    * templates, each with volume, user reach, first/last-seen, and an
    * exemplar for the on-call engineer. Lines are synthesized from
    * `events` with per-type formats (the [[parseLines]] convention) so
    * the masking actually has integers/ids/durations to erase.
    *
    * Tree-based online parsers (Drain's prefix tree) exist for when the
    * template set must be learned incrementally; for batch over a data
    * lake, masking + hash-agg IS the scalable formulation: one scan,
    * map-side partial aggregation onto a template-cardinality key space
    * (dozens), no state, no driver structure. The regex stays in the
    * RE2 ∩ Java subset. template_id is the first 8 hex of md5 — the
    * stable join key for alert rules and round-over-round diffs.
    */
  val templateMine = Q(
    "log_template_mine",
    raw"""WITH lines AS (
      |  SELECT user_id, ts,
      |    $lineCaseSql AS line
      |  FROM events),
      |templ AS (
      |  SELECT user_id, ts, line,
      |    regexp_replace(line, '[0-9]+', '<*>', 'g') AS template
      |  FROM lines)
      |SELECT substr(md5(template), 1, 8) AS template_id, template,
      |  regexp_extract(template, '^\S+ (\S+)', 1) AS level,
      |  COUNT(*) AS n_lines,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  MIN(epoch_us(ts)) AS first_us,
      |  MAX(epoch_us(ts)) AS last_us,
      |  MIN(line) AS sample_line
      |FROM templ GROUP BY template ORDER BY template""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), syntheticLine.as("line"))
      .withColumn("template", regexp_replace(col("line"), "[0-9]+", "<*>"))
      .groupBy("template")
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct("user_id").as("n_users"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"),
        min("line").as("sample_line"))
      .select(
        substring(md5(col("template")), 1, 8).as("template_id"),
        col("template"),
        regexp_extract(col("template"), "^\\S+ (\\S+)", 1).as("level"),
        col("n_lines"), col("n_users"), col("first_us"), col("last_us"),
        col("sample_line"))
      .orderBy("template")
  }

  /** The incident definition shared by [[joinIntervalOverlap]] and
    * [[outageWindows]] — one source of truth for the severity threshold
    * and the ±pad, in both the Spark builders and the oracle SQL, so the
    * two faces of the interval algebra can never silently diverge when
    * either constant is tuned. (Declared before both uses: object vals
    * initialize in order.)
    */
  private val incidentsCteSql: String =
    """incidents AS (
      |  SELECT event_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    epoch_us(ts) - 120000000 AS i_start,
      |    epoch_us(ts) + 120000000 AS i_end
      |  FROM events WHERE event_type = 'error' AND value > 150)""".stripMargin

  private def incidentWindows(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "error" && col("value") > 150)
      .select(col("event_id"), date_trunc("day", col("ts")).as("day"),
        (unix_micros(col("ts")) - 120000000L).as("i_start"),
        (unix_micros(col("ts")) + 120000000L).as("i_end"))

  /** J6b: interval-overlap join with NO shared equi-key — "which sessions
    * were live during each incident window", across ALL users. The naive
    * formulation (`s.start <= i.end AND i.start <= s.end` alone) has no
    * equi-conjunct, so Spark would plan a broadcast-nested-loop scan of
    * every session for every incident — the classic range-join death at
    * scale. The scalable rewrite BINS the time axis: each interval
    * explodes to the 1-hour epoch buckets it touches, the join becomes an
    * equi-join on bucket, the exact overlap predicate filters within the
    * bucket, and a distinct collapses intervals that met in several
    * buckets. Shuffle volume is O(intervals × avg buckets per interval),
    * keyed by time bucket — uniform by construction, skew-free, and the
    * plan is a plain SortMergeJoin ([[joinRangeEvents]] covers the easier
    * case where a user_id equi-key already bounds the pairing).
    *
    * Incidents = high-value error events ± 2 min; sessions = the standing
    * 30-min-gap session table ([[sessionTable]] — shares its one user_id
    * exchange). Bucket width trades fan-out (wide intervals touch more
    * buckets) against in-bucket selectivity; 1 h >> the 4-min incident
    * width keeps incident fan-out at ~1-2 buckets.
    */
  val joinIntervalOverlap = Q(
    "join_interval_overlap",
    s"""WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged),
      |sessions AS (
      |  SELECT user_id, session_id,
      |    epoch_us(MIN(ts)) AS s_start, epoch_us(MAX(ts)) AS s_end
      |  FROM sess GROUP BY user_id, session_id),
      |$incidentsCteSql
      |SELECT i.event_id AS incident_id, COUNT(*) AS n_sessions,
      |  COUNT(DISTINCT s.user_id) AS n_users
      |FROM incidents i JOIN sessions s
      |  ON s.s_start <= i.i_end AND i.i_start <= s.s_end
      |GROUP BY i.event_id ORDER BY incident_id""".stripMargin) { (s, dir) =>
    val bucketUs = 3600000000L
    val sessions = sessionTable(s, dir)
      .select(col("user_id"), col("session_id"),
        unix_micros(col("session_start")).as("s_start"),
        unix_micros(col("session_end")).as("s_end"))
      .withColumn("bucket",
        explode(sequence(expr(s"s_start div $bucketUs"), expr(s"s_end div $bucketUs"))))
    val incidents = incidentWindows(s, dir)
      .select(col("event_id").as("incident_id"), col("i_start"), col("i_end"))
      .withColumn("bucket",
        explode(sequence(expr(s"i_start div $bucketUs"), expr(s"i_end div $bucketUs"))))
    // hot-bucket guard: a storm hour concentrates one bucket key and its
    // whole sessions×incidents pairing would run in one task; the census
    // salt splits a hot bucket's sessions over 8 sub-keys and replicates
    // only that bucket's incidents (identical results — SkewSpec pins the
    // storm case; cold buckets join exactly as before)
    Skew.censusSaltedJoin(sessions, incidents, Seq("bucket"),
        saltBy = xxhash64(col("user_id"), col("session_id")))
      .filter(col("s_start") <= col("i_end") && col("i_start") <= col("s_end"))
      .select("incident_id", "user_id", "session_id")
      .distinct()
      .groupBy("incident_id")
      .agg(count(lit(1)).as("n_sessions"), countDistinct("user_id").as("n_users"))
      .orderBy("incident_id")
  }

  /** The conjunctive-search oracle SQL — ONE source of truth shared by the
    * raw-scan [[invertedSearch]], the store-served [[indexedSearch]], and
    * the SQL-surface [[sqlSearchServed]]: all three formulations must be
    * answer-identical, and the driver hash-proves each against this.
    */
  private val conjunctiveSearchSql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(ts, t -> t = 'spark')) AS BIGINT) AS tf_spark,
      |    CAST(len(list_filter(ts, t -> t = 'join')) AS BIGINT) AS tf_join,
      |    CAST(len(list_filter(ts, t -> t = 'window')) AS BIGINT) AS tf_window
      |  FROM toks)
      |SELECT doc_id, tf_spark, tf_join, tf_window
      |FROM tf WHERE tf_spark > 0 AND tf_join > 0 AND tf_window > 0
      |ORDER BY doc_id""".stripMargin

  private val conjunctive = TermQuery(Seq("spark", "join", "window"))

  /** Conjunctive term search `spark AND join AND window` over the raw
    * corpus, with per-doc term frequencies for ranking: the term-query
    * core's map-side lens ([[Search.Raw]]) counts each term in the
    * tokenized row and the predicate keeps the docs holding all three —
    * no token row is exploded or shuffled, the one exchange is the
    * ORDER BY. Contrast [[grepRegex]]/[[grepMulti]]: those match patterns
    * per line; this is the tokenized term query a log-search engine
    * answers.
    */
  val invertedSearch = Q("log_inverted_search", conjunctiveSearchSql) { (s, dir) =>
    Search.matches(Search.raw(s, dir), conjunctive).orderBy("doc_id")
  }

  /** The PERSISTED-index lifecycle behind [[invertedSearch]] — the form a
    * log-search engine actually runs in steady state: the positional
    * posting store is built ONCE from the corpus
    * (`Sinks.writePostings`, via the build-once `Stores` registry), and
    * every query after that prunes to the `tok_bucket` partitions its
    * terms hash into and pivots the posting rows to per-doc tfs in one
    * aggregation — the corpus text is never read again. Same answer as
    * the raw-scan formulation (the oracle IS that raw-scan SQL, and
    * StorageLayoutSpec proves probe ≡ raw scan independently); what
    * changes is the plan: a partition-pruned scan of |terms| bucket
    * directories instead of a full-corpus tokenize. At 100 TB that is the
    * difference between a search engine and Spark-over-parquet: query cost
    * scales with the query terms' posting sizes, not the corpus.
    */
  val indexedSearch = Q("log_indexed_search", conjunctiveSearchSql) { (s, dir) =>
    Search.matches(Search.store(s, dir), conjunctive).orderBy("doc_id")
  }

  /** The BM25 oracle SQL, shared by the raw-scan [[searchRanked]] and the
    * store-served [[indexedSearchRanked]] — the two formulations must be
    * answer-identical, so they share one source of truth.
    */
  private val searchRankedSql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, len(ts) AS dl,
      |    len(list_filter(ts, t -> t = 'spark')) AS tf1,
      |    len(list_filter(ts, t -> t = 'hash')) AS tf2,
      |    len(list_filter(ts, t -> t = 'scan')) AS tf3
      |  FROM toks),
      |stats AS (
      |  SELECT COUNT(*) AS n, AVG(dl) AS avgdl,
      |    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
      |    SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
      |  FROM base)
      |SELECT doc_id, bm25 FROM (
      |  SELECT doc_id,
      |    ROUND(
      |      ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |    + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |    + ln(1 + (n - df3 + 0.5) / (df3 + 0.5)) * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl)),
      |    4) AS bm25
      |  FROM base, stats
      |  WHERE tf1 > 0 OR tf2 > 0 OR tf3 > 0) t
      |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  private val ranked = TermQuery(Nil, should = Seq("spark", "hash", "scan"))

  /** BM25 ranked retrieval — the ranked search page on top of the term
    * machinery: disjunctive multi-term query, docs scored with the
    * Robertson/Lucene BM25 (k1 = 1.2, b = 0.75, idf = ln(1 + (N − df +
    * 0.5)/(df + 0.5))), top-20 by score ([[Search.bm25]]). Everything
    * per-doc (dl and each term's tf) is computed MAP-SIDE in the one corpus
    * scan — no token ever shuffles; the corpus-level stats (N, avgdl,
    * per-term dfs) are ONE single-row aggregate broadcast back (the
    * metadata-rebase pattern), and the top-k is a TakeOrdered, never a
    * global sort. Docs are ranked on the 4-dp-rounded score with doc_id
    * tiebreak so the cut is deterministic cross-engine.
    */
  val searchRanked = Q("log_search_ranked", searchRankedSql) { (s, dir) =>
    Search.bm25(Search.raw(s, dir), ranked, k = 20)
  }

  /** [[searchRanked]] served ENTIRELY from the standing posting store —
    * the completion of the index lifecycle for the ranked search page:
    * tfs and dfs from the pruned term buckets, document lengths from the
    * store's docstats side table, (N, avgdl) from its meta. Zero corpus
    * reads at query time; the oracle is the raw-scan BM25 SQL, so
    * store-served ranking is proven answer-identical to scanning.
    */
  val indexedSearchRanked = Q("log_indexed_search_ranked", searchRankedSql) { (s, dir) =>
    Search.bm25(Search.store(s, dir), ranked, k = 20)
  }

  /** Phrase oracle SQL, shared by the raw-scan [[phraseSearch]] and the
    * store-served [[indexedPhrase]].
    */
  private val phraseSearchSql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(list_filter(range(1, CAST(len(ts) AS INTEGER)),
      |    i -> ts[i] = 'hash' AND ts[i+1] = 'join')) AS BIGINT) AS n_matches
      |FROM toks
      |WHERE len(list_filter(range(1, CAST(len(ts) AS INTEGER)),
      |    i -> ts[i] = 'hash' AND ts[i+1] = 'join')) > 0
      |ORDER BY doc_id""".stripMargin

  /** Phrase search via POSITIONAL postings — the adjacency join that
    * makes `"hash join"` different from `hash AND join` ([[Search.phrase]]).
    * Each query term keeps its (doc, position) posting rows; the phrase
    * match is an equi-join on (doc_id, pos+1). This is the standard
    * positional-inverted-index formulation: the join keys are exact, the
    * planner hashes them, and non-matching documents never pair. The
    * oracle cross-checks with a direct per-row adjacency scan — same
    * answer, scan-shaped; the postings shape is the one that works when
    * the index is persisted and the query should not re-read every
    * document.
    */
  val phraseSearch = Q("log_phrase_search", phraseSearchSql) { (s, dir) =>
    Search.phrase(Search.raw(s, dir), Seq("hash", "join")).orderBy("doc_id")
  }

  /** [[phraseSearch]] served from the standing posting store: positional
    * rows from the two terms' pruned buckets, adjacency equi-join on
    * (doc, pos+1). Same oracle as the raw scan.
    */
  val indexedPhrase = Q("log_indexed_phrase", phraseSearchSql) { (s, dir) =>
    Search.phrase(Search.store(s, dir), Seq("hash", "join")).orderBy("doc_id")
  }

  /** Trending templates — "what is new in today's logs": each template's
    * per-day line volume against its OWN corpus-wide daily baseline
    * (total lines / observed days), ranked by lift. The on-call question
    * after template mining ("which log shapes exist") is always "which
    * shape is suddenly loud"; lift against a per-template baseline
    * surfaces a template that doubled even when absolute volumes differ
    * by orders of magnitude across templates. All ratios derive from
    * integer counts (lines × days / total), so cross-engine parity is
    * exact under round(4).
    *
    * Scale: the corpus scans once into (day, template) counts —
    * partial-aggregated onto days × templates keys (metadata-sized);
    * template totals re-aggregate those counts (never the corpus) and
    * broadcast back; the day census is a single-row broadcast; top-20 is
    * a TakeOrdered.
    */
  val trendingTemplates = Q(
    "log_trending_templates",
    raw"""WITH lines AS (
      |  SELECT ts, $lineCaseSql AS line FROM events),
      |templ AS (
      |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    regexp_replace(line, '[0-9]+', '<*>', 'g') AS template
      |  FROM lines),
      |d AS (SELECT day, template, COUNT(*) AS n FROM templ GROUP BY 1, 2),
      |t AS (SELECT template, SUM(n) AS total FROM d GROUP BY 1),
      |nd AS (SELECT COUNT(DISTINCT day) AS n_days FROM d)
      |SELECT day, substr(md5(template), 1, 8) AS template_id,
      |  CAST(n AS BIGINT) AS n_lines,
      |  ROUND(n * n_days / CAST(total AS DOUBLE), 4) AS lift
      |FROM d JOIN t USING (template) CROSS JOIN nd
      |ORDER BY lift DESC, day, template_id LIMIT 20""".stripMargin) { (s, dir) =>
    val d = Tables.events(s, dir)
      .select(date_trunc("day", col("ts")).as("day"), syntheticLine.as("line"))
      .withColumn("template", regexp_replace(col("line"), "[0-9]+", "<*>"))
      .groupBy("day", "template").agg(count(lit(1)).as("n"))
      .localCheckpoint() // 3 consumers; days×templates rows — metadata
    val t = d.groupBy("template").agg(sum("n").as("total"))
    val nd = d.agg(countDistinct("day").as("n_days"))
    d.join(broadcast(t), "template").crossJoin(broadcast(nd))
      .select(col("day"),
        substring(md5(col("template")), 1, 8).as("template_id"),
        col("n").cast("long").as("n_lines"),
        round(col("n") * col("n_days") / col("total").cast("double"), 4).as("lift"))
      .orderBy(col("lift").desc, col("day"), col("template_id"))
      .limit(20)
  }

  /** grep -C: every line matching the pattern plus its ±1 neighbor lines
    * within the same source file — THE log-reading workflow (a match
    * without its surrounding lines is rarely diagnosable). One window
    * pass: the match flag is computed map-side in the scan, and a
    * per-source ordered `max(m) over (±1 rows)` marks covered lines —
    * the same coverage-window idea as dup-span removal, one level
    * simpler. No self-join, no per-match re-scan; a line between two
    * matches appears exactly once. Cost at 100 TB: one source-keyed
    * exchange (files are the natural partition; a production layout
    * sorted by (source, line_no) makes even that exchange free).
    */
  val grepContext = Q(
    "log_grep_context",
    """WITH lines AS (
      |  SELECT doc_id, source, text,
      |    CASE WHEN regexp_matches(text, 'slow (join|scan)') THEN 1 ELSE 0 END AS m
      |  FROM documents),
      |cov AS (
      |  SELECT doc_id, source, text, m,
      |    MAX(m) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS covered
      |  FROM lines)
      |SELECT doc_id, source, CAST(m AS BIGINT) AS is_match,
      |  substr(text, 1, 30) AS snippet
      |FROM cov WHERE covered = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(-1, 1)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"),
        when(col("text").rlike("slow (join|scan)"), 1).otherwise(0).as("m"))
      .withColumn("covered", max("m").over(w))
      .filter(col("covered") === 1)
      .select(col("doc_id"), col("source"), col("m").cast("long").as("is_match"),
        substring(col("text"), 1, 30).as("snippet"))
      .orderBy("doc_id")
  }

  /** Proximity (NEAR/k) search: documents where two terms occur within
    * k = 4 tokens of each other, either order — the search-engine
    * feature between AND-search (no position constraint,
    * [[invertedSearch]]) and phrase search (exact adjacency,
    * [[phraseSearch]]). The position join uses the SAME binning rewrite
    * as [[joinIntervalOverlap]], one level down: positions bin into
    * width-k buckets, one side explodes to its ±1 neighbor buckets, the
    * join is an equi-join on (doc, bucket), and the |pa−pb| ≤ k filter
    * runs within the bucket. A frequent-term document thus pairs its
    * postings per bucket neighborhood, never per document — the per-doc
    * positions cartesian the naive `ON doc` join would do is exactly
    * what dies on stopword-frequency terms at scale. Each qualifying
    * pair matches exactly once (pa's bucket is unique; pb meets it in
    * one of its three exploded buckets), so no dedup step is needed.
    * No hot-key salt is needed here (unlike [[joinIntervalOverlap]]'s
    * census guard): the join key includes doc_id AND a width-k position
    * bucket, so a (doc, bucket) key holds at most k = 4 left rows and
    * 3k right rows BY CONSTRUCTION — the key itself bounds the pairing,
    * no matter how frequent the term.
    */
  val proximitySearch = Q(
    "log_proximity_search",
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id,
      |    list_filter(range(1, CAST(len(ts) AS INTEGER) + 1), i -> ts[i] = 'spark') AS pa,
      |    list_filter(range(1, CAST(len(ts) AS INTEGER) + 1), i -> ts[i] = 'vector') AS pb
      |  FROM toks),
      |d AS (
      |  SELECT doc_id,
      |    list_filter(flatten(list_transform(pa,
      |      x -> list_transform(pb, y -> abs(x - y)))), z -> z <= 4) AS hits
      |  FROM pos)
      |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_pairs,
      |  CAST(list_min(hits) AS BIGINT) AS min_dist
      |FROM d WHERE len(hits) > 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val k = 4
    val postings = Search.positions(Search.raw(s, dir), Seq("spark", "vector"))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("tok"))
    val a = postings.filter(col("tok") === "spark")
      .select(col("doc_id"), col("pos").as("pa"))
      .withColumn("bucket", expr(s"pa div $k"))
    val b = postings.filter(col("tok") === "vector")
      .select(col("doc_id").as("b_id"), col("pos").as("pb"))
      .withColumn("bucket",
        explode(sequence(expr(s"pb div $k - 1"), expr(s"pb div $k + 1"))))
    a.join(b, col("doc_id") === col("b_id") && a("bucket") === b("bucket"))
      .filter(abs(col("pa") - col("pb")) <= k)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("pa") - col("pb"))).cast("long").as("min_dist"))
      .orderBy("doc_id")
  }

  /** Per-day distribution-drift score — the data-drift monitor a
    * training pipeline runs on every feature: KL(day ‖ global) over a
    * 10-bin equal-width histogram of `value`. A drifting day (sensor
    * recalibration, a client rollout changing the value mix) scores high
    * even when volumes look normal; KL is the standard drift statistic
    * (PSI is the same sum with a symmetrizing term).
    *
    * Distribution: global min/max and the global bin profile are
    * single-row / ≤10-row aggregates broadcast back (the metadata-rebase
    * pattern — PlanSpec-allowlisted); the per-(day, bin) counts
    * partial-agg onto ≤ days×10 keys. Every ratio derives from integer
    * counts, and the final sum is ≤10 doubles per day, so round(4)
    * absorbs summation-order drift (the token-entropy precedent).
    * day-partition p(bin) > 0 implies global p(bin) > 0 (subset), so the
    * log never sees a zero denominator.
    */
  val driftDaily = Q(
    "log_drift_daily",
    """WITH bounds AS (
      |  SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM events),
      |binned AS (
      |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    CASE WHEN vmax > vmin
      |         THEN LEAST(9, CAST(floor((value - vmin) / (vmax - vmin) * 10) AS INTEGER))
      |         ELSE 0 END AS bin
      |  FROM events CROSS JOIN bounds),
      |d AS (SELECT day, bin, COUNT(*) AS cd FROM binned GROUP BY day, bin),
      |g AS (SELECT bin, CAST(SUM(cd) AS BIGINT) AS cg FROM d GROUP BY bin),
      |gn AS (SELECT CAST(SUM(cg) AS BIGINT) AS ng FROM g),
      |dn AS (SELECT day, CAST(SUM(cd) AS BIGINT) AS nd FROM d GROUP BY day)
      |SELECT d.day, dn.nd AS n_events,
      |  ROUND(SUM((CAST(cd AS DOUBLE) / nd)
      |    * ln((CAST(cd AS DOUBLE) * ng) / (CAST(nd AS DOUBLE) * cg))), 4) + 0 AS kl
      |FROM d JOIN dn ON d.day = dn.day JOIN g ON d.bin = g.bin CROSS JOIN gn
      |GROUP BY d.day, dn.nd ORDER BY d.day""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("value"))
    val bounds = ev.agg(min("value").as("vmin"), max("value").as("vmax"))
    val binned = ev.crossJoin(broadcast(bounds))
      .select(col("day"),
        when(col("vmax") > col("vmin"),
          least(lit(9),
            floor((col("value") - col("vmin")) / (col("vmax") - col("vmin")) * 10)
              .cast("int")))
          .otherwise(0).as("bin"))
    // the global bin profile and both totals all RE-AGGREGATE the per-
    // (day, bin) counts — integer sums, so byte-identical to recounting
    // from binned, but the corpus is scanned once for d instead of once
    // per derived relation; localCheckpoint pins that (d has four
    // consumers and is days×10 rows — the usual fan-out rule)
    val d = binned.groupBy("day", "bin").agg(count(lit(1)).as("cd")).localCheckpoint()
    val g = d.groupBy("bin").agg(sum("cd").as("cg"))
    val gn = g.agg(sum("cg").as("ng"))
    val dn = d.groupBy("day").agg(sum("cd").as("nd"))
    d.join(dn, "day").join(broadcast(g), "bin").crossJoin(broadcast(gn))
      .groupBy(col("day"), col("nd"))
      // `+ 0`: KL is mathematically >= 0 but the float sum of a
      // near-identical day can land at -1e-17, and the engines disagree on
      // rendering the resulting rounded -0.0 (the Funcs first_val/corr
      // precedent — found at sf0.1 there, guarded structurally here)
      .agg((round(sum((col("cd").cast("double") / col("nd"))
        * log((col("cd").cast("double") * col("ng"))
          / (col("nd").cast("double") * col("cg")))), 4) + lit(0.0)).as("kl"))
      .select(col("day"), col("nd").as("n_events"), col("kl"))
      .orderBy("day")
  }

  /** Interval UNION (merge-overlapping) — the classic incident→outage
    * rollup: individual ±2-min incident windows that overlap or touch
    * collapse into one outage with a span and an incident count. The
    * sweep is a running max of interval ends: a window starts a NEW
    * outage iff its start exceeds every previous end (closed-interval
    * touch merges, matching [[joinIntervalOverlap]]'s convention).
    * Partitioned by day so the window state is day-bounded at 100 TB
    * (an outage crossing midnight reports as two rows — the documented
    * trade for a partitionable sweep; [[peakConcurrency]] made the same
    * call). One day-keyed exchange, post-agg rows = outages.
    */
  val outageWindows = Q(
    "log_outage_windows",
    s"""WITH $incidentsCteSql,
      |flagged AS (
      |  SELECT day, event_id, i_start, i_end,
      |    CASE WHEN max(i_end) OVER (PARTITION BY day ORDER BY i_start, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |           OR i_start > max(i_end) OVER (PARTITION BY day ORDER BY i_start, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |         THEN 1 ELSE 0 END AS new_outage
      |  FROM incidents),
      |numbered AS (
      |  SELECT day, event_id, i_start, i_end,
      |    CAST(SUM(new_outage) OVER (PARTITION BY day ORDER BY i_start, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS outage_id
      |  FROM flagged)
      |SELECT day, outage_id, COUNT(*) AS n_incidents,
      |  MIN(i_start) AS start_us, MAX(i_end) AS end_us,
      |  ROUND(CAST(MAX(i_end) - MIN(i_start) AS DOUBLE) / 1000000, 4) AS duration_s
      |FROM numbered GROUP BY day, outage_id
      |ORDER BY day, outage_id""".stripMargin) { (s, dir) =>
    dayOutages(s, dir)
      .withColumn("duration_s",
        round((col("end_us") - col("start_us")).cast("double") / 1000000L, 4))
      .select("day", "outage_id", "n_incidents", "start_us", "end_us", "duration_s")
      .orderBy("day", "outage_id")
  }

  /** Phase 1 of the outage rollup, shared by [[outageWindows]] and
    * [[outageWindowsMerged]]: the day-partitioned running-max sweep over
    * incident windows → one row per (day, outage_id) with its incident
    * count and span. Day partitioning keeps window state bounded at
    * 100 TB; what it costs — an outage crossing midnight appears once per
    * day it touches — is exactly what phase 2 repairs.
    */
  private def dayOutages(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    val order = Window.partitionBy("day").orderBy(col("i_start"), col("event_id"))
    val prevMax = max("i_end").over(order.rowsBetween(Window.unboundedPreceding, -1))
    incidentWindows(s, dir)
      .withColumn("new_outage",
        when(prevMax.isNull || col("i_start") > prevMax, 1).otherwise(0))
      .withColumn("outage_id",
        sum("new_outage").over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy("day", "outage_id")
      .agg(
        count(lit(1)).as("n_incidents"),
        min("i_start").as("start_us"),
        max("i_end").as("end_us"))
  }

  /** [[outageWindows]] with the midnight seam repaired — the two-phase
    * interval union: phase 1 is the SAME day-partitioned sweep (corpus-
    * scale work, window state bounded per day), phase 2 re-runs the
    * identical running-max sweep over phase 1's OUTAGE rows in one global
    * window to glue boundary-touching pieces back together. Outage rows
    * are post-aggregation metadata (thousands, not billions — bounded by
    * days × outages/day), so the single-partition second pass costs
    * nothing at any corpus size; this is the standard "sweep within
    * partitions, then sweep the partition summaries" repair, and the
    * reason phase 1's midnight split was an acceptable trade. `n_spans`
    * reports how many per-day pieces merged (1 = within-day outage,
    * ≥ 2 = crossed midnight).
    */
  val outageWindowsMerged = Q(
    "log_outage_windows_merged",
    s"""WITH $incidentsCteSql,
      |flagged AS (
      |  SELECT day, event_id, i_start, i_end,
      |    CASE WHEN max(i_end) OVER (PARTITION BY day ORDER BY i_start, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |           OR i_start > max(i_end) OVER (PARTITION BY day ORDER BY i_start, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |         THEN 1 ELSE 0 END AS new_outage
      |  FROM incidents),
      |numbered AS (
      |  SELECT day, event_id, i_start, i_end,
      |    CAST(SUM(new_outage) OVER (PARTITION BY day ORDER BY i_start, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS outage_id
      |  FROM flagged),
      |day_outages AS (
      |  SELECT day, outage_id, COUNT(*) AS n_incidents,
      |    MIN(i_start) AS start_us, MAX(i_end) AS end_us
      |  FROM numbered GROUP BY day, outage_id),
      |mflag AS (
      |  SELECT day, outage_id, n_incidents, start_us, end_us,
      |    CASE WHEN max(end_us) OVER (ORDER BY start_us, day, outage_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |           OR start_us > max(end_us) OVER (ORDER BY start_us, day, outage_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |         THEN 1 ELSE 0 END AS new_m
      |  FROM day_outages),
      |mnum AS (
      |  SELECT day, outage_id, n_incidents, start_us, end_us,
      |    CAST(SUM(new_m) OVER (ORDER BY start_us, day, outage_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m_id
      |  FROM mflag)
      |SELECT m_id AS outage_id,
      |  CAST(SUM(n_incidents) AS BIGINT) AS n_incidents,
      |  CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  MIN(start_us) AS start_us, MAX(end_us) AS end_us,
      |  ROUND(CAST(MAX(end_us) - MIN(start_us) AS DOUBLE) / 1000000, 4) AS duration_s
      |FROM mnum GROUP BY m_id ORDER BY outage_id""".stripMargin) { (s, dir) =>
    val order = Window.orderBy(col("start_us"), col("day"), col("outage_id"))
    val prevMax = max("end_us").over(order.rowsBetween(Window.unboundedPreceding, -1))
    dayOutages(s, dir)
      .withColumn("new_m",
        when(prevMax.isNull || col("start_us") > prevMax, 1).otherwise(0))
      .withColumn("m_id",
        sum("new_m").over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy("m_id")
      .agg(
        sum("n_incidents").cast("long").as("n_incidents"),
        count(lit(1)).as("n_spans"),
        min("start_us").as("start_us"),
        max("end_us").as("end_us"),
        round((max("end_us") - min("start_us")).cast("double") / 1000000L, 4).as("duration_s"))
      .select(col("m_id").as("outage_id"), col("n_incidents"), col("n_spans"),
        col("start_us"), col("end_us"), col("duration_s"))
      .orderBy("outage_id")
  }

  /** Weekly traffic report served from the STANDING MATERIALIZED ROLLUP
    * ([[graft.sources.Stores.dailyRollup]]): the raw log was aggregated to
    * (day, event_type) partials ONCE at build time; this query reads only
    * the metadata-sized rollup — never events — and re-aggregates partials
    * to weeks (count/sum are decomposable, so partial-of-partials is
    * exact for counts and FP-stable to the 2dp the report rounds to).
    * Appends fold in via [[graft.sources.Sinks.refreshDailyRollup]],
    * which rewrites only the touched day partitions (refresh ≡ rebuild is
    * spec-proved in StorageLayoutSpec). The oracle reads the raw events —
    * the materialized-view contract is exactly that the two agree.
    * PlanSpec pins that no events scan appears in this plan.
    */
  val rollupServed = Q(
    "log_rollup_served",
    """SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, event_type,
      |  COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY week, event_type""".stripMargin) { (s, dir) =>
    val path = graft.sources.Stores.dailyRollup(s, dir)
    graft.sources.Stores.readCached(s, path)
      .groupBy(date_trunc("week", col("day")).as("week"), col("event_type"))
      .agg(sum("n").as("n_events"), round(sum("sum_value"), 2).as("total_value"))
      .orderBy("week", "event_type")
  }

  /** Time-range report served through the ZONE-MAPPED range-clustered
    * store ([[graft.sources.Stores.rangeClusteredEvents]]): the log was
    * rewritten ONCE clustered on ts with a per-file (min_ts, max_ts)
    * sidecar; this query resolves the covering files from the sidecar and
    * opens only those — at 100 TB a 4-day window over years of history
    * touches a few files out of ~10⁵, and the skipped files are never
    * listed, opened, or footer-read. The oracle scans the raw log with
    * the same predicate — the data-skipping contract is exactly that the
    * two agree. StorageLayoutSpec pins files-opened < store files;
    * PlanSpec pins that no raw events.parquet scan appears.
    */
  val zonemapScan = Q(
    "log_zonemap_scan",
    """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      |  AND ts <  TIMESTAMP '2024-01-09 00:00:00'
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val store = graft.sources.Stores.rangeClusteredEvents(s, dir)
    graft.sources.Sinks.zonemapScan(s, store, "2024-01-05 00:00:00", "2024-01-09 00:00:00")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** Per-user timeline probe through the USER-BUCKETED store
    * ([[graft.sources.Stores.bucketedEvents]]): the log was written once
    * bucketed on user_id, so an IN predicate on the key prunes the scan
    * to the matching buckets before any IO — the plan shows
    * SelectedBucketsCount < total (PlanSpec pins it). This is the
    * point-lookup shape of a log engine ("show me this user/host/request
    * id's history"): at 100 TB with 4096 buckets, a 3-user probe opens
    * 3/4096 of the files; the alternative full scan is exactly what makes
    * naive Spark-over-parquet unusable for interactive lookups. The
    * oracle scans the raw log with the same predicate.
    */
  val pointLookup = Q(
    "log_point_lookup",
    """SELECT user_id, event_type, COUNT(*) AS n,
      |  CAST(MIN(ts) AS TIMESTAMP) AS first_ts,
      |  CAST(MAX(ts) AS TIMESTAMP) AS last_ts,
      |  ROUND(SUM(value), 2) AS sum_value
      |FROM events WHERE user_id IN (1, 2, 3)
      |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    val t = graft.sources.Stores.bucketedEvents(s, dir)
    s.table(t)
      .filter(col("user_id").isin(1L, 2L, 3L))
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"), min("ts").as("first_ts"), max("ts").as("last_ts"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("user_id", "event_type")
  }

  /** Exponentially-weighted moving average of the per-type daily volume —
    * the classic monitoring smoother (s_1 = x_1; s_t = α·x_t + (1−α)·s_{t−1},
    * α = 0.3). The recurrence is inherently sequential, so it runs as an
    * `aggregate` higher-order fold over each type's day-ordered series —
    * but ONLY after the corpus has been partial-aggregated down to
    * (event_type, day) counts, so the collect_list and the fold touch a
    * metadata-sized series (days × types rows) at any corpus scale; the
    * corpus-sized work is one map-side-combined count. No closed-form
    * (1−α)^−k prefix trick: that overflows double past ~700 days, while
    * the fold is exact for any history length. Cross-engine FP
    * determinism: both engines fold the same exact BIGINT counts in the
    * same day order with the same `α·x + (1−α)·s` arithmetic, so the
    * unrounded doubles are bit-identical — but ROUND(x, 4) itself is
    * implementation-defined at a midpoint (Spark rounds the double's
    * exact decimal expansion via BigDecimal; DuckDB multiplies by 10⁴ in
    * floats first), and sf0.1 produces one value close enough to a .00005
    * boundary to split them. The display rounding is therefore spelled
    * floor(x·10⁴ + 0.5)/10⁴ VERBATIM on both sides: every step is a
    * deterministic IEEE op on identical inputs, so the rounded value is
    * bit-identical by construction (counts are non-negative, so the
    * +0.5/floor form is exactly round-half-up).
    */
  val ewmaDaily = Q(
    "log_ewma_daily",
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, day, n,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k
      |  FROM daily),
      |rec AS (
      |  SELECT event_type, day, n, k, CAST(n AS DOUBLE) AS ewma
      |  FROM idx WHERE k = 1
      |  UNION ALL
      |  SELECT i.event_type, i.day, i.n, i.k, 0.3 * i.n + 0.7 * r.ewma
      |  FROM idx i JOIN rec r ON i.event_type = r.event_type AND i.k = r.k + 1)
      |SELECT event_type, day, n, FLOOR(ewma * 10000 + 0.5) / 10000 AS ewma
      |FROM rec ORDER BY event_type, day""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("xs"))
      .select(col("event_type"), expr(
        """aggregate(xs,
          |  cast(array() as array<struct<day:timestamp,n:bigint,ewma:double>>),
          |  (acc, x) -> acc || array(named_struct(
          |    'day', x.day, 'n', x.n,
          |    'ewma', CASE WHEN size(acc) = 0 THEN cast(x.n AS double)
          |                 ELSE 0.3 * x.n + 0.7 * element_at(acc, -1).ewma END)))
          |""".stripMargin).as("ser"))
      .select(col("event_type"), explode(col("ser")).as("e"))
      .select(col("event_type"), col("e.day").as("day"), col("e.n").as("n"),
        (floor(col("e.ewma") * 10000 + 0.5) / 10000).as("ewma"))
      .orderBy("event_type", "day")
  }

  /** Dynamic schema discovery over the semi-structured `props` JSON tail —
    * logdb-style schema-on-read made explicit: one scan explodes each row's
    * key set and profiles every key's presence, value typing (int / decimal
    * / bool / null / other-string, decided by ONE regex family shared
    * verbatim with the oracle), distinct-value count, and integer range.
    * The corpus-sized work is a single map-side explode + hash agg onto
    * key-cardinality groups; the row total joins back as a broadcast
    * single-row aggregate (metadata rebase). 100 TB: output rows = |key
    * space|, so the plan's reduce side is metadata no matter the corpus.
    * Keys are assumed JSON-path-safe (no quotes/dots) — true of machine
    * -emitted log props; a hostile key set would need the map-entries form.
    */
  val schemaInfer = Q(
    "log_schema_infer",
    """WITH kv AS (
      |  SELECT unnest(json_keys(props)) AS key, props FROM events),
      |vals AS (
      |  SELECT key, json_extract_string(props, '$.' || key) AS v FROM kv),
      |tot AS (SELECT COUNT(*) AS n_total FROM events)
      |SELECT key,
      |  COUNT(*) AS n_present,
      |  ROUND(100.0 * COUNT(*) / MAX(n_total), 4) AS coverage_pct,
      |  CAST(count_if(v IS NULL) AS BIGINT) AS n_null,
      |  CAST(count_if(regexp_matches(v, '^-?[0-9]+$')) AS BIGINT) AS n_int,
      |  CAST(count_if(regexp_matches(v, '^-?[0-9]*\.[0-9]+$')) AS BIGINT) AS n_num,
      |  CAST(count_if(v IN ('true', 'false')) AS BIGINT) AS n_bool,
      |  CAST(COUNT(DISTINCT v) AS BIGINT) AS n_values,
      |  MIN(CASE WHEN regexp_matches(v, '^-?[0-9]+$') THEN CAST(v AS BIGINT) END) AS min_int,
      |  MAX(CASE WHEN regexp_matches(v, '^-?[0-9]+$') THEN CAST(v AS BIGINT) END) AS max_int
      |FROM vals, tot
      |GROUP BY key ORDER BY key""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val tot = ev.agg(count(lit(1)).as("n_total"))
    val isInt = col("v").rlike("^-?[0-9]+$")
    ev.select(explode(expr("from_json(props, 'map<string,string>')")).as(Seq("key", "v")))
      .groupBy("key")
      .agg(
        count(lit(1)).as("n_present"),
        count_if(col("v").isNull).as("n_null"),
        count_if(isInt).as("n_int"),
        count_if(col("v").rlike("^-?[0-9]*\\.[0-9]+$")).as("n_num"),
        count_if(col("v").isin("true", "false")).as("n_bool"),
        countDistinct(col("v")).as("n_values"),
        min(when(isInt, col("v").cast("long"))).as("min_int"),
        max(when(isInt, col("v").cast("long"))).as("max_int"))
      .crossJoin(broadcast(tot))
      .select(col("key"), col("n_present"),
        round(lit(100.0) * col("n_present") / col("n_total"), 4).as("coverage_pct"),
        col("n_null"), col("n_int"), col("n_num"), col("n_bool"), col("n_values"),
        col("min_int"), col("max_int"))
      .orderBy("key")
  }

  /** P6+: search-box AUTOCOMPLETE — top-k completions of a prefix by
    * document frequency, served from the standing token-SORTED term
    * dictionary ([[graft.sources.Sinks.writeTermDict]] via the build-once
    * Stores registry). This is the one search shape the hash-bucketed
    * posting store cannot serve (hashing destroys prefix locality — a
    * prefix probe there would open every bucket); the dict's string zone
    * map prunes to the files whose [min_tok, max_tok] span intersects the
    * prefix interval, which StorageLayoutSpec measures and PlanSpec pins
    * corpus-scan-free. The oracle IS the raw-scan formulation, so the
    * driver proves dict ≡ scan. Ties in df break by token — the top-k cut
    * line is deterministic cross-engine.
    */
  val termSuggest = Q(
    "log_term_suggest",
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
      |  FROM documents)
      |SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
      |  CAST(COUNT(*) AS BIGINT) AS cf
      |FROM toks WHERE tok LIKE 's%'
      |GROUP BY tok ORDER BY df DESC, tok LIMIT 10""".stripMargin) { (s, dir) =>
    val store = graft.sources.Stores.termDict(s, dir)
    graft.sources.Sinks.probeTermDict(s, store, "s", 10)
  }

  /** Schema DRIFT between two corpus periods — the monitoring face of
    * [[schemaInfer]]: per props key, presence counts and coverage in the
    * first vs second half of the month, the coverage delta, and a status
    * flag (`new` = absent early, `gone` = absent late, else `stable`).
    * This is the check a schema-on-read pipeline runs per release: a key
    * that vanishes or appears signals an upstream emitter change before
    * any consumer breaks. ONE corpus scan: the period flag rides the key
    * explode and a single hash agg produces both sides as conditional
    * counts (no self-join of two profiles); the two period totals are a
    * single-row aggregate broadcast back (metadata rebase, allowlisted).
    * nullif guards make an empty period audit as NULL coverage, not a
    * division error. 100 TB: reduce side = |key space| rows.
    */
  val schemaDrift = Q(
    "meta_schema_drift",
    """WITH kv AS (
      |  SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
      |              THEN 'a' ELSE 'b' END AS period,
      |    unnest(json_keys(props)) AS key
      |  FROM events),
      |tot AS (
      |  SELECT CAST(count_if(ts < TIMESTAMP '2024-01-16 00:00:00') AS BIGINT) AS tot_a,
      |         CAST(count_if(ts >= TIMESTAMP '2024-01-16 00:00:00') AS BIGINT) AS tot_b
      |  FROM events),
      |prof AS (
      |  SELECT key,
      |    CAST(count_if(period = 'a') AS BIGINT) AS n_a,
      |    CAST(count_if(period = 'b') AS BIGINT) AS n_b
      |  FROM kv GROUP BY key)
      |SELECT key, n_a, n_b,
      |  ROUND(1e2 * n_a / nullif(tot_a, 0), 4) AS cov_a_pct,
      |  ROUND(1e2 * n_b / nullif(tot_b, 0), 4) AS cov_b_pct,
      |  ROUND(1e2 * n_b / nullif(tot_b, 0) - 1e2 * n_a / nullif(tot_a, 0), 4)
      |    AS delta_pct,
      |  CASE WHEN n_a = 0 THEN 'new' WHEN n_b = 0 THEN 'gone'
      |       ELSE 'stable' END AS status
      |FROM prof, tot ORDER BY key""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val isA = col("ts") < lit("2024-01-16")
    val tot = ev.agg(count_if(isA).as("tot_a"), count_if(!isA).as("tot_b"))
    val covA = lit(100.0) * col("n_a") / nullif(col("tot_a"), lit(0L))
    val covB = lit(100.0) * col("n_b") / nullif(col("tot_b"), lit(0L))
    ev.select(when(isA, lit("a")).otherwise(lit("b")).as("period"),
        explode(map_keys(expr("from_json(props, 'map<string,string>')"))).as("key"))
      .groupBy("key")
      .agg(count_if(col("period") === "a").as("n_a"),
        count_if(col("period") === "b").as("n_b"))
      .crossJoin(broadcast(tot))
      .select(col("key"), col("n_a"), col("n_b"),
        round(covA, 4).as("cov_a_pct"),
        round(covB, 4).as("cov_b_pct"),
        round(covB - covA, 4).as("delta_pct"),
        when(col("n_a") === 0, lit("new"))
          .when(col("n_b") === 0, lit("gone"))
          .otherwise(lit("stable")).as("status"))
      .orderBy("key")
  }

  /** Multi-window SLO burn-rate alerting (the SRE-workbook pattern): per
    * hour, the error-budget burn at the 1 h grain and over the trailing
    * 6 h, firing only when BOTH exceed 1.0 — the fast window gives
    * response time, the slow window suppresses blips. Budget = 25%
    * allowed error rate. The corpus collapses to hour-cardinality rows in
    * one partial-aggregated scan; the trailing window is a RANGE frame
    * over the integer hour index so missing hours genuinely widen the
    * lookback (a ROWS frame would silently span gaps). Burn ratios are
    * integer-count ratios → bit-identical across engines. The global
    * hour-ordered window runs single-partition by construction — hours
    * are metadata-cardinality at any corpus scale (100 TB ≈ 10⁵ hour
    * rows), the same discipline as the daily EWMA/rollup sweeps.
    */
  val slaBurn = Q(
    "log_sla_burn",
    """WITH hourly AS (
      |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
      |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hid,
      |    COUNT(*) AS n,
      |    CAST(count_if(event_type = 'error') AS BIGINT) AS n_err
      |  FROM events GROUP BY 1, 2)
      |SELECT hour, n, n_err,
      |  ROUND((CAST(n_err AS DOUBLE) / n) / 0.25, 4) AS burn_1h,
      |  ROUND((CAST(SUM(n_err) OVER w AS DOUBLE) / SUM(n) OVER w) / 0.25, 4) AS burn_6h,
      |  ((CAST(n_err AS DOUBLE) / n) / 0.25 >= 1.0 AND
      |   (CAST(SUM(n_err) OVER w AS DOUBLE) / SUM(n) OVER w) / 0.25 >= 1.0) AS firing
      |FROM hourly
      |WINDOW w AS (ORDER BY hid RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
      |ORDER BY hour""".stripMargin) { (s, dir) =>
    val w = Window.orderBy("hid").rangeBetween(-5, 0)
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"), count_if(col("event_type") === "error").as("n_err"))
      .withColumn("hid", expr("cast(hour as long) div 3600"))
      .withColumn("burn_1h", round(col("n_err").cast("double") / col("n") / lit(0.25), 4))
      .withColumn("e6", sum("n_err").over(w))
      .withColumn("t6", sum("n").over(w))
      .withColumn("burn_6h", round(col("e6").cast("double") / col("t6") / lit(0.25), 4))
      .withColumn("firing",
        (col("n_err").cast("double") / col("n") / lit(0.25) >= 1.0) &&
          (col("e6").cast("double") / col("t6") / lit(0.25) >= 1.0))
      .select("hour", "n", "n_err", "burn_1h", "burn_6h", "firing")
      .orderBy("hour")
  }

  /** CUSUM change-point detection on the daily error count — the classic
    * sequential drift detector (Page 1954): S_t = max(0, S_{t-1} + x_t −
    * μ − k), alert when S_t > h. The recurrence has the closed form
    * S_t = P_t − min(0, min_{j≤t} P_j) with P the prefix sum of
    * (x − μ − k), so it runs as two ordinary running windows — no
    * sequential fold. Everything is computed in an INTEGER domain scaled
    * by n_days (x integer; μ = Σx/n rational, so n·P is integer; k and h
    * are rounded to integers from the population σ), which makes the
    * whole detector exact and engine-order-independent — only the final
    * display division produces a double. Corpus work is one scan to
    * day-cardinality counts; stats come from a global window over those
    * metadata-sized rows, not a second scan.
    */
  val cusumChangepoint = Q(
    "log_cusum_changepoint",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    CAST(count_if(event_type = 'error') AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |stats AS (
      |  SELECT day, x,
      |    SUM(x) OVER () AS sx, SUM(x * x) OVER () AS sxx,
      |    COUNT(*) OVER () AS nd
      |  FROM daily),
      |scaled AS (
      |  SELECT day, x, nd,
      |    CAST(ROUND(0.5 * SQRT(CAST(sxx AS DOUBLE) / nd
      |      - (CAST(sx AS DOUBLE) / nd) * (CAST(sx AS DOUBLE) / nd)), 0) AS BIGINT) AS k,
      |    CAST(ROUND(4.0 * SQRT(CAST(sxx AS DOUBLE) / nd
      |      - (CAST(sx AS DOUBLE) / nd) * (CAST(sx AS DOUBLE) / nd)), 0) AS BIGINT) AS h,
      |    sx
      |  FROM stats),
      |pref AS (
      |  SELECT day, x, nd, h,
      |    SUM(nd * x - sx - nd * k) OVER (ORDER BY day) AS p
      |  FROM scaled)
      |SELECT day, x,
      |  ROUND(CAST(p - LEAST(MIN(p) OVER (ORDER BY day), 0) AS DOUBLE) / nd, 4) AS cusum,
      |  (p - LEAST(MIN(p) OVER (ORDER BY day), 0) > nd * h) AS alert
      |FROM pref ORDER BY day""".stripMargin) { (s, dir) =>
    val all = Window.partitionBy()
    val run = Window.orderBy("day")
    val sd = sqrt(col("sxx").cast("double") / col("nd")
      - (col("sx").cast("double") / col("nd")) * (col("sx").cast("double") / col("nd")))
    Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count_if(col("event_type") === "error").as("x"))
      .withColumn("sx", sum("x").over(all))
      .withColumn("sxx", sum(col("x") * col("x")).over(all))
      .withColumn("nd", count(lit(1)).over(all))
      .withColumn("k", round(lit(0.5) * sd, 0).cast("long"))
      .withColumn("h", round(lit(4.0) * sd, 0).cast("long"))
      .withColumn("p", sum(col("nd") * col("x") - col("sx") - col("nd") * col("k")).over(run))
      .withColumn("floor0", least(min("p").over(run), lit(0L)))
      .select(col("day"), col("x"),
        round((col("p") - col("floor0")).cast("double") / col("nd"), 4).as("cusum"),
        (col("p") - col("floor0") > col("nd") * col("h")).as("alert"))
      .orderBy("day")
  }

  /** The canonical saved-alert fixture, shared with the streaming twin
    * (`stream_alert_rules`) so both engines evaluate the SAME rule table.
    * Rule 4's absurd threshold pins the no-fire path.
    */
  private[engine] val alertRuleRows: Seq[(Long, String, Long)] =
    Seq((1L, "error", 5L), (2L, "purchase", 8L), (3L, "click", 10L),
      (4L, "signup", 1000000L))

  /** One oracle for both the batch and streaming formulations: alert
    * firings are (rule, day) facts, independent of whether the day volume
    * was counted in one pass or folded incrementally.
    */
  private[engine] val alertRulesSql: String =
    """WITH rules(rule_id, rule_type, min_n) AS (
      |  VALUES (CAST(1 AS BIGINT), 'error', CAST(5 AS BIGINT)),
      |         (CAST(2 AS BIGINT), 'purchase', CAST(8 AS BIGINT)),
      |         (CAST(3 AS BIGINT), 'click', CAST(10 AS BIGINT)),
      |         (CAST(4 AS BIGINT), 'signup', CAST(1000000 AS BIGINT))),
      |daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT rule_id, day, event_type, n, min_n
      |FROM daily JOIN rules ON event_type = rule_type AND n >= min_n
      |ORDER BY rule_id, day""".stripMargin

  /** Alerting rules as DATA: a rule table (rule_id, event_type, daily
    * threshold) evaluated against per-day type volumes in ONE corpus
    * scan — the way a log engine serves hundreds of saved alerts without
    * one query per rule. The rule set broadcasts (it is human-authored,
    * therefore tiny); the join carries the event_type equi-key so the
    * threshold predicate rides a BroadcastHashJoin, never a nested loop.
    * Rule 4's absurd threshold pins the no-fire path. Adding a rule at
    * 100 TB changes the broadcast payload, not the scan count.
    */
  val alertRules: Q = {
    Q("log_alert_rules", alertRulesSql) { (s, dir) =>
      import s.implicits._
      val rulesDf = alertRuleRows.toDF("rule_id", "rule_type", "min_n")
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .join(broadcast(rulesDf),
          col("event_type") === col("rule_type") && col("n") >= col("min_n"))
        .select("rule_id", "day", "event_type", "n", "min_n")
        .orderBy("rule_id", "day")
    }
  }

  /** One oracle for both the batch and streaming formulations: a debut is a
    * (template, first_day) fact, independent of whether first sight was
    * found by a corpus-wide MIN or a stateful first-sighting fold.
    */
  private[engine] val newTemplatesSql: String =
    raw"""WITH lines AS (
      |  SELECT ts, $lineCaseSql AS line FROM events),
      |firsts AS (
      |  SELECT regexp_replace(line, '[0-9]+', '<*>', 'g') AS template,
      |    MIN(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS first_day
      |  FROM lines GROUP BY 1)
      |SELECT first_day AS day, COUNT(*) AS n_new,
      |  string_agg(substr(md5(template), 1, 8), ',' ORDER BY template) AS first_ids
      |FROM firsts GROUP BY first_day ORDER BY first_day""".stripMargin

  /** Emerging log shapes: per day, how many TEMPLATES appeared for the
    * first time — the "is the system speaking a new language today"
    * monitor that catches a deploy introducing novel error classes even
    * when total volume is flat (volume monitors like
    * `log_trending_templates` miss a brand-new shape with modest count).
    * One corpus scan collapses to (template, first_day) — template
    * cardinality is dozens — and the per-day rollup then runs on those
    * metadata-sized rows; `first_ids` carries a deterministic sample of
    * the day's debut templates for the on-call reader. At 100 TB the
    * incremental form is the same plan over the ingest batch anti-joined
    * against the standing template registry (the `llm_incremental_dedup`
    * pattern); the batch query here IS the registry build.
    */
  val newTemplates = Q("log_new_templates", newTemplatesSql) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("ts"), syntheticLine.as("line"))
      .select(date_trunc("day", col("ts")).as("day"),
        regexp_replace(col("line"), "[0-9]+", "<*>").as("template"))
      .groupBy("template")
      .agg(min("day").as("day"))
      .withColumn("tid", substring(md5(col("template")), 1, 8))
      .groupBy("day")
      .agg(count(lit(1)).as("n_new"),
        array_join(array_sort(collect_list(struct(col("template"), col("tid"))))
          .getField("tid"), ",").as("first_ids"))
      .orderBy("day")
  }

  /** Co-failure / co-movement matrix: Pearson correlation between every
    * pair of event types' hourly volume series — the incident-review
    * question "when errors spike, what else moves with them". The series
    * are zero-filled over the (hours-with-traffic × types) grid, because
    * a type silent in a busy hour is a real 0, not a missing point —
    * without the fill, correlations bias toward hours where both types
    * fired.
    *
    * Determinism: Pearson is assembled from EXACT integer co-moments
    * (n, Σx, Σy, Σxy, Σx², Σy² — all BIGINT over integer counts), then
    * ONE double expression per pair, rounded 4dp — a double `corr()`
    * aggregate would fold in engine-specific order and split at the ulp.
    * The BIGINT intermediates stay below 2⁵³ through sf0.1 (≈3.6e11), so
    * the final double conversion is itself exact; the 100 TB form swaps
    * the co-moments to DECIMAL(38,0).
    *
    * Plan: ONE corpus scan partial-aggregates to (hour, type) counts;
    * everything downstream (spine × ≤5-type dim, pair self-join, 10-key
    * agg) runs on metadata-sized rows.
    */
  val corrMatrix = Q(
    "log_corr_matrix",
    """WITH c AS (
      |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT hs.h, t.event_type, COALESCE(c.n, 0) AS n
      |  FROM (SELECT DISTINCT h FROM c) hs
      |  CROSS JOIN (SELECT DISTINCT event_type FROM c) t
      |  LEFT JOIN c ON c.h = hs.h AND c.event_type = t.event_type),
      |p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_hours, SUM(a.n) AS sx, SUM(b.n) AS sy,
      |    SUM(a.n * b.n) AS sxy, SUM(a.n * a.n) AS sxx, SUM(b.n * b.n) AS syy
      |  FROM grid a JOIN grid b ON a.h = b.h AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, CAST(n_hours AS BIGINT) AS n_hours,
      |  CASE WHEN n_hours * sxx - sx * sx > 0 AND n_hours * syy - sy * sy > 0
      |    THEN ROUND(CAST(n_hours * sxy - sx * sy AS DOUBLE)
      |      / sqrt(CAST(n_hours * sxx - sx * sx AS DOUBLE)
      |        * CAST(n_hours * syy - sy * sy AS DOUBLE)), 4) + 0
      |  END AS corr_v
      |FROM p ORDER BY type_a, type_b""".stripMargin) { (s, dir) =>
    val c = Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val grid = c.select("h").distinct()
      .crossJoin(broadcast(c.select("event_type").distinct()))
      .join(c, Seq("h", "event_type"), "left")
      .select(col("h"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
    val a = grid.select(col("h"), col("event_type").as("type_a"), col("n").as("xa"))
    val b = grid.select(col("h"), col("event_type").as("type_b"), col("n").as("xb"))
    val num = (col("n_hours") * col("sxy") - col("sx") * col("sy")).cast("double")
    val dx = col("n_hours") * col("sxx") - col("sx") * col("sx")
    val dy = col("n_hours") * col("syy") - col("sy") * col("sy")
    a.join(b, Seq("h")).filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_hours"), sum("xa").as("sx"), sum("xb").as("sy"),
        sum(col("xa") * col("xb")).as("sxy"),
        sum(col("xa") * col("xa")).as("sxx"),
        sum(col("xb") * col("xb")).as("syy"))
      .select(col("type_a"), col("type_b"), col("n_hours"),
        when(dx > 0 && dy > 0,
          round(num / sqrt(dx.cast("double") * dy.cast("double")), 4) + lit(0.0))
          .as("corr_v"))
      .orderBy("type_a", "type_b")
  }

  /** The boolean-search oracle SQL, shared by the raw-scan
    * [[booleanSearch]] and the store-served [[booleanSearchIndexed]] —
    * the two formulations must be answer-identical, so they share one
    * source of truth (the [[searchRankedSql]] pattern).
    */
  private val booleanSearchSql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(ts, t -> t = 'spark')) AS BIGINT) AS tf_spark,
      |    CAST(len(list_filter(ts, t -> t = 'join')) AS BIGINT) AS tf_join,
      |    CAST(len(list_filter(ts, t -> t = 'window')) AS BIGINT) AS tf_window,
      |    CAST(len(list_filter(ts, t -> t = 'shuffle')) AS BIGINT) AS tf_shuffle
      |  FROM toks)
      |SELECT doc_id, tf_spark, tf_join, tf_window
      |FROM tf
      |WHERE tf_spark > 0 AND (tf_join > 0 OR tf_window > 0) AND tf_shuffle = 0
      |ORDER BY doc_id""".stripMargin

  private val boolean =
    TermQuery(Seq("spark"), should = Seq("join", "window"), mustNot = Seq("shuffle"))

  /** P6+: boolean search — `spark AND (join OR window) AND NOT shuffle`,
    * the full query algebra a search box needs beyond conjunction
    * ([[invertedSearch]]) and phrases: the term-query core's must, should
    * and must-not terms. The four term counts come from the map-side lens
    * in the one corpus scan and the predicate evaluates per row — no token
    * row shuffles. NOT is the subtle clause: a doc holding the negative
    * term carries a non-zero count and is filtered, with no second corpus
    * pass. Served from the standing posting store, the same counts come
    * from the pruned term buckets ([[booleanSearchIndexed]]).
    */
  val booleanSearch = Q("log_boolean_search", booleanSearchSql) { (s, dir) =>
    Search.matches(Search.raw(s, dir), boolean).orderBy("doc_id")
  }

  /** The facet-rollup oracle SQL, shared by the raw-scan [[searchFacets]]
    * and the store-served [[searchFacetsIndexed]].
    */
  private val searchFacetsSql =
    """WITH toks AS (
      |  SELECT doc_id, lang, source,
      |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
      |  FROM documents),
      |hits AS (
      |  SELECT doc_id, lang, source FROM toks
      |  WHERE len(list_filter(ts, t -> t = 'spark')) > 0
      |    AND len(list_filter(ts, t -> t = 'join')) > 0)
      |SELECT 'lang' AS facet, lang AS value, COUNT(*) AS n_docs
      |FROM hits GROUP BY 2
      |UNION ALL
      |SELECT 'source' AS facet, source AS value, COUNT(*) AS n_docs
      |FROM hits GROUP BY 2
      |ORDER BY facet, value""".stripMargin

  private val faceted = TermQuery(Seq("spark", "join"))

  /** P6+: search-page facets — for the conjunctive query `spark AND join`,
    * hit counts by language and by source (the sidebar next to the result
    * list). The hit test is the map-side array lens (no explode, no
    * shuffle to FIND hits); each hit row then emits its two
    * (facet, value) structs in-row and ONE aggregation rolls both facet
    * dimensions up in a single exchange of facet-cardinality rows — not
    * one scan or shuffle per facet ([[Search.facets]]). (The oracle spells
    * the same rollup as UNION ALL of two GROUP BYs; only the values must
    * match.)
    */
  val searchFacets = Q("log_search_facets", searchFacetsSql) { (s, dir) =>
    Search.facets(Search.raw(s, dir), faceted)
  }

  /** DDSketch zero-sentinel bucket id: sits below every positive bucket so
    * the rank walk orders zero/negative values first. Shared by the batch
    * query, the persisted store writer ([[graft.sources.Sinks.writeLatencySketches]])
    * and the streaming ingest ([[graft.streaming.Streaming.hourlySketchCounts]]).
    */
  private[graft] val sketchZeroBucket = -1000000L

  /** DDSketch γ — THE accuracy parameter. Every producer (bucket index),
    * every estimator (midpoint), and every SQL face (the oracle text and
    * the `graft_latency_sketch` view query) interpolates from this val
    * and [[sketchGammaDiv]]; a γ change is a two-val edit, never a hunt
    * for stray literals that would silently fork the SQL surface from
    * the store.
    */
  private[graft] val sketchGamma = 1.02

  /** γ + 1, the midpoint divisor — kept as its own DECIMAL literal (not
    * computed as `sketchGamma + 1`) so the Spark-side double is
    * bit-identical to what DuckDB parses from the same interpolated text.
    */
  private[graft] val sketchGammaDiv = 2.02

  /** The canonical log-γ bucket index over `value` — ONE definition
    * shared by every sketch producer so a persisted bucket can never
    * disagree with the query-side rank walk.
    */
  private[graft] def sketchBucketCol =
    when(col("value") <= 0, lit(sketchZeroBucket))
      .otherwise(ceil(log(col("value")) / log(lit(sketchGamma))).cast("long"))

  /** Midpoint value estimate for a bucket id: 2γᵇ/(γ+1); 0 for the zero
    * sentinel. */
  private def sketchEstCol =
    when(col("bucket") === sketchZeroBucket, lit(0.0))
      .otherwise(lit(2.0) * pow(lit(sketchGamma), col("bucket")) / lit(sketchGammaDiv))

  /** Range merge + rank walk over (event_type, day, bucket, n) sketch rows:
    * prune to the report's date range, SUM counts per (type, bucket) —
    * DDSketch merge is plain count addition — then walk the cumulative rank
    * to the p50/p95/p99 midpoint estimates. Shared by the self-contained
    * [[latencySketchRange]] (which derives the daily rows in-query) and the
    * store-served [[latencySketchServed]] (which reads them from the
    * standing store); the two must stay one implementation or the
    * shared-oracle proof of store ≡ rescan silently weakens.
    */
  private def sketchRangeReport(daily: DataFrame): DataFrame = {
    val merged = daily
      .filter(col("day") >= lit("2024-01-08") && col("day") < lit("2024-01-22"))
      .groupBy("event_type", "bucket")
      .agg(sum("n").as("n"))
    val byBucket = Window.partitionBy("event_type").orderBy("bucket")
    val whole = Window.partitionBy("event_type")
    val ranked = merged
      .withColumn("cum", sum("n").over(byBucket))
      .withColumn("total", sum("n").over(whole))
      .withColumn("est", sketchEstCol)
    def qEst(p: Int, nm: String) =
      (round(min(when(col("cum") * 100 >= col("total") * p, col("est"))), 4)
        + lit(0.0)).as(nm)
    ranked.groupBy("event_type")
      .agg(max("total").as("n_events"),
        qEst(50, "p50_est"), qEst(95, "p95_est"), qEst(99, "p99_est"))
      .orderBy("event_type")
  }

  /** Shared oracle for [[latencySketchRange]] and [[latencySketchServed]]:
    * the raw-events derivation — the store-served twin passing the SAME SQL
    * is the driver-level proof that the standing store answers exactly what
    * a full rescan would.
    */
  private val latencySketchRangeSql =
    s"""WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    CASE WHEN value <= 0 THEN $sketchZeroBucket
      |         ELSE CAST(CEILING(ln(value) / ln($sketchGamma)) AS BIGINT) END AS bucket,
      |    COUNT(*) AS n
      |  FROM events
      |  GROUP BY 1, 2, 3),
      |merged AS (
      |  SELECT event_type, bucket, CAST(SUM(n) AS BIGINT) AS n FROM daily
      |  WHERE day >= TIMESTAMP '2024-01-08 00:00:00'
      |    AND day < TIMESTAMP '2024-01-22 00:00:00'
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT event_type, bucket, n,
      |    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS cum,
      |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS total,
      |    CASE WHEN bucket = $sketchZeroBucket THEN 0.0
      |         ELSE 2 * power($sketchGamma, bucket) / $sketchGammaDiv END AS est
      |  FROM merged)
      |SELECT event_type, MAX(total) AS n_events,
      |  ROUND(MIN(CASE WHEN cum * 100 >= total * 50 THEN est END), 4) + 0 AS p50_est,
      |  ROUND(MIN(CASE WHEN cum * 100 >= total * 95 THEN est END), 4) + 0 AS p95_est,
      |  ROUND(MIN(CASE WHEN cum * 100 >= total * 99 THEN est END), 4) + 0 AS p99_est
      |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin

  /** A4 at the PERSISTED-QUANTILE grain — "p95 latency over any date
    * range" served from standing daily sketches, the percentile twin of
    * `agg_hll_union_daily`'s distinct-count story. The sketch is the
    * DDSketch design (Masson, Lee & Rhodes, VLDB 2019): log-γ value
    * buckets (γ = 1.02 ⇒ ≤ (γ−1)/(γ+1) ≈ 0.99% relative error), one
    * (event_type, day, bucket, n) count row per bucket — and UNLIKE a
    * KLL/GK sketch the merge is plain count ADDITION: associative,
    * commutative, and fully deterministic (Datasketches KLL compaction
    * flips a shared java.util.Random coin, which would break both the
    * registry determinism gate and cross-run dump identity — measured,
    * not assumed). A range query SUMs the pruned days' bucket rows and
    * walks the cumulative rank — raw events are never rescanned, cost is
    * O(days × buckets) ≈ metadata at any corpus scale.
    *
    * Exactness across engines: the bucket index ceil(ln v/ln γ) is the
    * one float hazard — LogOpsSpec sweeps every fixture and asserts no
    * value's log-ratio sits within 1e-9 of an integer (the two exact
    * hits, v = 1.0 (ln 1 = 0) and v = 1.02 (x/x = 1), are identical by
    * IEEE construction on both engines; the nearest other value is
    * 4.1e-5 away, 8 orders above cross-libm ulp drift). Rank selection is
    * integer arithmetic (100·cum ≥ p·total); the midpoint estimate
    * 2γᵇ/(γ+1) is ≥ 9.9e-8 from every 4dp rounding boundary over the
    * reachable bucket range. Zero values live in a sentinel bucket below
    * all positives (the DDSketch zero counter), so quantiles rank over
    * ALL values.
    */
  val latencySketchRange = Q(
    "log_latency_sketch_range", latencySketchRangeSql) { (s, dir) =>
    // the persisted grain: one count row per (event_type, day, bucket) —
    // what a deployment writes once per day (the writeDailyRollup shape);
    // this self-contained form derives it in-query as the store's BUILD
    // proof, the store-served twin below is the production read path
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        sketchBucketCol.as("bucket"))
      .groupBy("event_type", "day", "bucket")
      .agg(count(lit(1)).as("n"))
    sketchRangeReport(daily)
  }

  /** [[latencySketchRange]] served from the STANDING sketch store
    * ([[graft.sources.Stores.latencySketch]]): the raw log was bucketed to
    * (event_type, day, bucket, n) counts ONCE at build time; this query
    * reads only the metadata-sized, day-partitioned sketch rows — never
    * events — and the range merge is count addition over the pruned days
    * (the date filter prunes whole day= directories before any IO).
    * Appends fold in via [[graft.sources.Sinks.refreshLatencySketches]]
    * (refresh ≡ rebuild spec-proved); the streaming ingest half is
    * [[graft.streaming.Streaming.startLatencySketchSink]]. SHARED oracle
    * with the raw-scan formulation, so the driver proves store ≡ rescan;
    * PlanSpec pins the no-events-scan plan. At 100 TB a year of p95-range
    * dashboards costs O(days × buckets) rows per query, zero event rescans.
    */
  val latencySketchServed = Q(
    "log_latency_sketch_served", latencySketchRangeSql) { (s, dir) =>
    val path = graft.sources.Stores.latencySketch(s, dir)
    sketchRangeReport(
      graft.sources.Stores.readCached(s, path).select("event_type", "day", "bucket", "n"))
  }

  /** P6+: [[booleanSearch]] served from the standing posting store — the
    * four term counts come from the pruned `tok_bucket` directories,
    * pivoted per doc in one aggregation with no intersection filter (the
    * boolean predicate decides membership from the counts), and the
    * corpus text is never read. SHARED oracle with the raw-scan
    * formulation, so the driver proves scan ≡ index; PlanSpec pins the
    * no-corpus-scan plan. At 100 TB the cost is the four terms' posting
    * sizes, not a corpus tokenize.
    */
  val booleanSearchIndexed = Q("log_boolean_search_indexed", booleanSearchSql) { (s, dir) =>
    Search.matches(Search.store(s, dir), boolean).orderBy("doc_id")
  }

  /** P6+: [[searchFacets]] served from the standing posting store: hits
    * come from the pruned-bucket pivot and the facet dimensions from the
    * store's (doc_id, dl, lang, source) docstats side table — zero corpus
    * reads (the reason docstats carries the facet columns at all; they
    * are written in the same index-time pass as dl). SHARED oracle with
    * the raw-scan formulation. At 100 TB both join sides are index
    * artifacts that scale with docs, not bytes of text.
    */
  val searchFacetsIndexed = Q("log_search_facets_indexed", searchFacetsSql) { (s, dir) =>
    Search.facets(Search.store(s, dir), faceted)
  }

  /** The INTERACTIVE SQL SURFACE over the standing search index
    * ([[graft.GraftSession.openStores]]): the same conjunctive search as
    * [[indexedSearch]], but expressed as plain `spark.sql` text over the
    * `graft_postings` view — what an ad-hoc user types at a SQL prompt.
    * The bucket modulus is read from `graft_search_meta` (one metadata
    * row — the documented two-step an interactive user performs), and the
    * IN-list of constant-folded `pmod(hash(term), buckets)` literals lands
    * in the scan's PartitionFilters, so the SQL user gets the SAME
    * pruned-directory plan as the programmatic probe and the corpus text
    * is never read (GraftSessionSpec pins both). SHARED oracle with the
    * raw-scan formulation: the driver hash-proves SQL surface ≡ raw scan.
    */
  val sqlSearchServed = Q(
    "log_sql_search_served", conjunctiveSearchSql) { (s, dir) =>
    graft.GraftSession.openStores(s, dir)
    val buckets = s.table("graft_search_meta").select("buckets").head.getInt(0)
    val terms = Seq("spark", "join", "window")
    val bucketIn = terms.map(t => s"pmod(hash('$t'), $buckets)").mkString(", ")
    val termIn = terms.map(t => s"'$t'").mkString(", ")
    // pivot columns derive from `terms` (the indexedSearch discipline)
    val pivots = terms.map(t => s"MAX(IF(tok = '$t', tf, NULL)) AS tf_$t").mkString(",\n        ")
    s.sql(
      s"""WITH tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf
         |  FROM graft_postings
         |  WHERE tok_bucket IN ($bucketIn) AND tok IN ($termIn)
         |  GROUP BY doc_id, tok)
         |SELECT doc_id,
         |        $pivots
         |FROM tf GROUP BY doc_id HAVING COUNT(1) = ${terms.length}
         |ORDER BY doc_id""".stripMargin)
  }

  /** SQL surface over the standing DDSketch store: the same range-quantile
    * report as [[latencySketchServed]], expressed as plain `spark.sql`
    * text over the `graft_latency_sketch` view — merge is SUM over the
    * date-pruned day partitions, then the cumulative rank walk, exactly
    * the DataFrame pipeline's arithmetic (same γ, zero sentinel, midpoint
    * estimate, ROUND + 0.0 sign normalization) so all three formulations
    * stay bit-identical. SHARED oracle with the raw-scan formulation; the
    * events table never appears in the plan (GraftSessionSpec pins it).
    */
  val sqlSketchServed = Q(
    "log_sql_sketch_served", latencySketchRangeSql) { (s, dir) =>
    graft.GraftSession.openStores(s, dir)
    s.sql(
      s"""WITH merged AS (
         |  SELECT event_type, bucket, SUM(n) AS n
         |  FROM graft_latency_sketch
         |  WHERE day >= DATE'2024-01-08' AND day < DATE'2024-01-22'
         |  GROUP BY event_type, bucket),
         |ranked AS (
         |  SELECT event_type, bucket, n,
         |    SUM(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         |    SUM(n) OVER (PARTITION BY event_type) AS total,
         |    CASE WHEN bucket = $sketchZeroBucket THEN 0.0D
         |         ELSE 2.0D * power(${sketchGamma}D, bucket) / ${sketchGammaDiv}D END AS est
         |  FROM merged)
         |SELECT event_type, MAX(total) AS n_events,
         |  ROUND(MIN(CASE WHEN cum * 100 >= total * 50 THEN est END), 4) + 0.0D AS p50_est,
         |  ROUND(MIN(CASE WHEN cum * 100 >= total * 95 THEN est END), 4) + 0.0D AS p95_est,
         |  ROUND(MIN(CASE WHEN cum * 100 >= total * 99 THEN est END), 4) + 0.0D AS p99_est
         |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val all: Seq[Q] = Seq(
    errorRateDaily, grepRegex, grepMulti, regexExtract, regexReplace, stringFuncs,
    parseFields, timeBuckets, jsonExtract, tokenize, saltedAgg,
    winTopk, winRankNtile, winPctRank, winLagGap, winRunningSum, winMovingAvg,
    winFirstLast, winSessionize,
    joinRangeEvents, joinAsofEvents, joinAsofForward, parseLines, funnel, retention, topPaths,
    anomalyZscore, winTimeRange, csvRoundtrip, retentionPolicy, resampleFill,
    orcRoundtrip, compactLatest, peakConcurrency, valueHistogram,
    cumulativeUsers, jsonRoundtrip, regression, eventRuns, multilineStitch,
    latencyPercentiles, sessionDurations, typeAffinity, typeTransitions,
    rollingWau, pagerankTypes, seasonality, templateMine, joinIntervalOverlap,
    invertedSearch, phraseSearch, outageWindows, proximitySearch, driftDaily,
    indexedSearch, searchRanked, outageWindowsMerged,
    indexedSearchRanked, indexedPhrase, grepContext, trendingTemplates,
    rollupServed, ewmaDaily, zonemapScan, pointLookup,
    schemaInfer, slaBurn, cusumChangepoint, alertRules, newTemplates, corrMatrix,
    booleanSearch, searchFacets, booleanSearchIndexed, searchFacetsIndexed,
    latencySketchRange, latencySketchServed, schemaDrift, termSuggest,
    sqlSearchServed, sqlSketchServed)
}
