package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators a training-data pipeline runs after cleaning:
  * deterministic splits and samples, canonical-duplicate mapping, sequence
  * packing, vocabulary building, and length profiling (SURVEY.md §2.9
  * north-star, beyond the reference's own surface).
  *
  * Determinism is the design center: every "random" choice here is a hash of
  * a stable key (first md5 byte → 0..255), never `rand()`. That is what makes
  * splits reproducible across reruns AND lets DuckDB compute the identical
  * answer for the oracle gate.
  *
  * Scale notes (100 TB): split/sample/histogram are per-row maps feeding a
  * partial-aggregating groupBy — the shuffle carries one row per group, and
  * the text column never moves. Canonical-dedup shuffles (digest, doc_id)
  * pairs only. Packing windows partition by `lang`, which at real scale
  * would be (lang, shard) to bound any one reducer; the query code is
  * unchanged because the window key is an expression.
  */
object CurationOps {

  /** First byte of md5(doc_id) as an integer 0..255 — the shared
    * deterministic "coin" for splits and samples. Identical on both engines
    * because md5 of the decimal string is engine-independent.
    */
  private[engine] def hashByte(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 2), 16, 10).cast("long")

  private[engine] val hashByteSql =
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT"

  /** Deterministic 80/10/10 train/valid/test split by content-independent
    * id-hash, profiled per split. A rerun (or a different engine) assigns
    * every doc to the same split — no seed, no shuffle of the text column.
    */
  val trainTestSplit = Q(
    "llm_train_test_split",
    s"""SELECT split, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS est_tokens
       |FROM (
       |  SELECT CASE WHEN h < 205 THEN 'train' WHEN h < 230 THEN 'valid'
       |              ELSE 'test' END AS split, n_chars, text
       |  FROM (SELECT $hashByteSql AS h, n_chars, text FROM documents) t1) t2
       |GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
    val h = hashByte(col("doc_id"))
    Tables.documents(s, dir)
      .select(
        when(h < 205, "train").when(h < 230, "valid").otherwise("test").as("split"),
        col("n_chars"),
        ceil(length(col("text")) / 4.0).as("est_tokens"))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum("est_tokens").as("est_tokens"))
      .orderBy("split")
  }

  /** Per-stratum sampling rates: keep half the English corpus, a fifth of
    * everything else (a typical rebalancing curation step). Thresholds are
    * out of 256 to match [[hashByte]].
    */
  private val strataThresholds: Map[String, Int] = Map("en" -> 128).withDefaultValue(51)

  /** Deterministic stratified sample: per-language keep-rates applied via
    * the id-hash coin. Emits the surviving rows, so downstream stages (and
    * the oracle) see the exact sampled membership, not just counts.
    */
  val stratifiedSample = Q(
    "llm_stratified_sample",
    s"""SELECT doc_id, lang, source FROM (
       |  SELECT doc_id, lang, source, $hashByteSql AS h FROM documents) t
       |WHERE h < CASE WHEN lang = 'en' THEN 128 ELSE 51 END
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val h = hashByte(col("doc_id"))
    val threshold = when(col("lang") === "en", strataThresholds("en"))
      .otherwise(strataThresholds("other"))
    Tables.documents(s, dir)
      .filter(h < threshold)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** D1 follow-through: map every doc to the canonical (minimum) doc_id of
    * its exact-content group, so downstream joins rewrite references instead
    * of merely dropping rows. Grouping key is the 16-byte md5 digest — at
    * 100 TB only (digest, doc_id) pairs shuffle, never the text.
    */
  val dedupCanonical = Q(
    "llm_dedup_canonical",
    """SELECT doc_id,
      |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
      |  doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(md5(col("text")))
    val canonical = min(col("doc_id")).over(w)
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        canonical.as("canonical_id"),
        (col("doc_id") =!= canonical).as("is_dup"))
      .orderBy("doc_id")
  }

  /** Context-window budget for [[packSequences]], in chars/4 token
    * estimates.
    */
  private val packBudget = 2048

  /** Sequence packing: assign docs (per language, in stable doc_id order) to
    * fixed-token-budget packs by exclusive running token count, then profile
    * each pack. This is the deterministic bin-assignment form of greedy
    * packing — the window is one shuffle on the partition key and the
    * assignment is a running sum, so it scales as any W4 running total.
    */
  val packSequences = Q(
    "llm_pack_sequences",
    s"""WITH toks AS (
       |  SELECT doc_id, lang, CAST(ceil(length(text) / 4.0) AS BIGINT) AS tok
       |  FROM documents),
       |packed AS (
       |  SELECT lang, tok,
       |    CAST(floor(COALESCE(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / $packBudget.0) AS BIGINT)
       |      AS pack_id
       |  FROM toks)
       |SELECT lang, pack_id, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS pack_tokens
       |FROM packed GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), ceil(length(col("text")) / 4.0).as("tok"))
      .withColumn("pack_id",
        floor(coalesce(sum(col("tok")).over(w), lit(0L)) / lit(packBudget.toDouble)).cast("long"))
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("pack_tokens"))
      .orderBy("lang", "pack_id")
  }

  /** Vocabulary building: corpus-wide top-20 bigrams. Bigram generation is the
    * per-row word-n-gram generator ([[Words.grams]], no self-join); the count shuffles one row per
    * distinct bigram with map-side partial aggregation, and the top-k is a
    * TakeOrdered, not a global sort.
    */
  val bigramVocab = Q(
    "text_bigram_vocab",
    """WITH toks AS (
      |  SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
      |  FROM documents),
      |grams AS (
      |  SELECT unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1]))
      |    AS bigram
      |  FROM toks)
      |SELECT bigram, COUNT(*) AS freq FROM grams
      |GROUP BY bigram ORDER BY freq DESC, bigram LIMIT 20""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(Words.tokens.as("ts"))
      .select(explode(Words.grams(2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("bigram"))
      .limit(20)
  }

  /** Curation (domain mixing): per-source resampling weights to reach a
    * uniform target mixture — weight = target_frac / actual_frac, the
    * number every data-mixture stage multiplies its per-domain sampling
    * rate by (weight > 1 ⇒ upsample/repeat epochs, < 1 ⇒ downsample).
    * One count-shuffle on `source` plus two single-row aggregates that
    * broadcast; nothing touches the text column, so the plan is identical
    * at 100 TB.
    */
  val domainMix = Q(
    "llm_domain_mix",
    """WITH per AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
      |tot AS (SELECT SUM(n_docs) AS total, COUNT(*) AS n_sources FROM per)
      |SELECT source, n_docs,
      |  ROUND(CAST(n_docs AS DOUBLE) / tot.total, 4) AS actual_frac,
      |  ROUND((1.0 / tot.n_sources) / (CAST(n_docs AS DOUBLE) / tot.total), 4) AS weight
      |FROM per CROSS JOIN tot ORDER BY source""".stripMargin) { (s, dir) =>
    val per = Tables.documents(s, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(sum("n_docs").as("total"), count(lit(1)).as("n_sources"))
    val actual = col("n_docs").cast("double") / col("total")
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(actual, 4).as("actual_frac"),
        round((lit(1.0) / col("n_sources")) / actual, 4).as("weight"))
      .orderBy("source")
  }

  /** D-mix at the SAMPLING-POLICY grain: temperature-scaled domain
    * weights, the mT5/GPT-3 recipe — sample domain i proportional to
    * pᵢ^α (α = 0.5 here), which upweights small domains without letting
    * any one dominate; [[domainMix]] is the α → 0 (equal-weight) extreme
    * of the same family. Output per source: size, raw corpus share, the
    * α-scaled share, and the uplift — the numbers a data-mix review
    * actually reads. One partial-aggregated scan onto source keys; the
    * single-row Σ totals broadcast back (metadata rebase, allowlisted).
    * Cross-engine: sqrt is IEEE-correctly-rounded (identical both sides)
    * and the Σ over ≤ source-cardinality doubles sits far inside the 4dp
    * rounding; the shares use the house 1e2 double literal.
    */
  val temperatureMix = Q(
    "llm_temperature_mix",
    """WITH d AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |  FROM documents GROUP BY source),
      |t AS (SELECT SUM(n_chars) AS tot, SUM(sqrt(n_chars)) AS wsum FROM d)
      |SELECT source, n_docs, n_chars,
      |  ROUND(1e2 * n_chars / tot, 4) AS raw_pct,
      |  ROUND(1e2 * sqrt(n_chars) / wsum, 4) AS alpha05_pct,
      |  ROUND(1e2 * sqrt(n_chars) / wsum - 1e2 * n_chars / tot, 4) AS uplift_pct
      |FROM d, t ORDER BY source""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
    val t = d.agg(sum("n_chars").as("tot"),
      sum(sqrt(col("n_chars"))).as("wsum"))
    val raw = lit(1e2) * col("n_chars") / col("tot")
    val temp = lit(1e2) * sqrt(col("n_chars")) / col("wsum")
    d.crossJoin(broadcast(t))
      .select(col("source"), col("n_docs"), col("n_chars"),
        round(raw, 4).as("raw_pct"),
        round(temp, 4).as("alpha05_pct"),
        round(temp - raw, 4).as("uplift_pct"))
      .orderBy("source")
  }

  /** The nightly curation pipeline, end to end as ONE composed plan:
    * exact dedup (keep min doc_id per content digest) → quality gate
    * (≥ 20 non-empty tokens) → deterministic 80/10/10 split → per
    * (split, lang) profile. This is the query a training-data team runs
    * over each crawl drop; registering the composition (not just the
    * stages) proves the operators chain without materialization barriers.
    * Plan shape at 100 TB: one digest-keyed semi-join (16-byte keys — the
    * text never shuffles for dedup), then map-only gate + split, then one
    * partial-aggregated groupBy over a (3 splits × langs) keyspace.
    */
  val curationPipeline = Q(
    "llm_curation_pipeline",
    s"""WITH keep AS (
       |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |ded AS (
       |  SELECT d.doc_id, d.lang, d.text FROM documents d JOIN keep USING (doc_id)),
       |gated AS (
       |  SELECT * FROM ded
       |  WHERE len(list_filter(string_split(lower(text), ' '), t -> t <> '')) >= 20),
       |sp AS (
       |  SELECT CASE WHEN h < 205 THEN 'train' WHEN h < 230 THEN 'valid'
       |              ELSE 'test' END AS split,
       |    lang, CAST(ceil(length(text) / 4.0) AS BIGINT) AS est
       |  FROM (SELECT $hashByteSql AS h, lang, text FROM gated) t)
       |SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(est) AS BIGINT) AS est_tokens
       |FROM sp GROUP BY split, lang ORDER BY split, lang""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val keepers = docs
      .groupBy(md5(col("text")).as("digest"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val nTokens = size(Words.tokens)
    val h = hashByte(col("doc_id"))
    docs.join(keepers, Seq("doc_id"), "left_semi")
      .filter(nTokens >= 20)
      .select(
        when(h < 205, "train").when(h < 230, "valid").otherwise("test").as("split"),
        col("lang"),
        ceil(length(col("text")) / 4.0).as("est"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("est").as("est_tokens"))
      .orderBy("split", "lang")
  }

  /** Length profiling: fixed-width histogram over n_chars (100-char bins)
    * with per-bin bounds — the curation dashboard's length distribution.
    */
  val histogramChars = Q(
    "text_histogram_chars",
    """SELECT CAST(floor(n_chars / 100.0) AS BIGINT) AS bin,
      |  COUNT(*) AS n_docs,
      |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
      |FROM documents GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(floor(col("n_chars") / 100.0).cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .orderBy("bin")
  }

  /** Exact-quota sample: precisely k docs per stratum (vs
    * [[stratifiedSample]]'s Bernoulli coin, whose per-stratum count is only
    * k in expectation) — the op behind fixed-size eval/dev sets. The
    * "random" order is the md5 of the id, so the chosen k are reproducible
    * across reruns and engines, yet uncorrelated with id order or any
    * content attribute. Plan shape: identical to win_topk — one shuffle on
    * the stratum key, rank, filter; at real scale the stratum key would
    * widen to (lang, shard) to bound any one reducer, with a second
    * k-of-k·shards pass (the standard distributed top-k two-step).
    */
  private val quotaK = 20

  val quotaSample = Q(
    "llm_quota_sample",
    s"""SELECT lang, doc_id, rn FROM (
       |  SELECT lang, doc_id,
       |    CAST(row_number() OVER (
       |      PARTITION BY lang
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rn
       |  FROM documents) t
       |WHERE rn <= $quotaK ORDER BY lang, rn""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), row_number().over(w).as("rn"))
      .filter(col("rn") <= quotaK)
      .orderBy("lang", "rn")
  }

  /** Weighted sample: top-5 docs per source under Duffield–Lund–Thorup
    * priority sampling — priority q = w/u with weight w = n_chars and
    * u ∈ (0,1] a deterministic uniform from the id hash, so longer docs
    * are proportionally likelier to be drawn and a rerun (or the other
    * engine) draws the identical sample. u uses the first 8 md5 hex chars
    * (32 bits) and the priority is ONE IEEE division — division is
    * correctly rounded, so both engines rank on bit-identical doubles
    * (never ln/pow, which are only faithfully rounded and may disagree in
    * the last ulp across libm implementations).
    *
    * 100 TB: map-side hash + one per-source top-k window — the win_topk
    * shape; no global sort, no driver state.
    */
  val weightedSample = Q(
    "llm_weighted_sample",
    """SELECT source, doc_id, n_chars, ROUND(priority, 4) AS priority, rn FROM (
      |  SELECT source, doc_id, n_chars,
      |    CAST(n_chars AS DOUBLE) * 4294967296.0 /
      |      (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
      |      AS priority,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY
      |      CAST(n_chars AS DOUBLE) * 4294967296.0 /
      |        (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
      |      DESC, doc_id) AS INTEGER) AS rn
      |  FROM documents) t
      |WHERE rn <= 5 ORDER BY source, rn""".stripMargin) { (s, dir) =>
    val h32 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val priority = col("n_chars").cast("double") * lit(4294967296.0) / (h32 + lit(1))
    val w = Window.partitionBy("source").orderBy(col("priority").desc, col("doc_id"))
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"),
        priority.as("priority"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("source"), col("doc_id"), col("n_chars"),
        round(col("priority"), 4).as("priority"), col("rn"))
      .orderBy("source", "rn")
  }

  /** Sliding-window text chunking (RAG / context-window prep): split each
    * doc into 50-token chunks on a 40-token stride (10-token overlap), the
    * shape every retrieval and long-context pipeline needs. Map-side only:
    * tokenize once into a materialized column (the O(len²) inline-lambda
    * trap — see [[Words.grams]]), explode chunk indices, slice. Both
    * engines clamp a trailing short slice identically; docs with zero
    * tokens emit no chunks on both sides (guarded explicitly — DuckDB's
    * `//` truncates toward zero, so its unguarded range(0, (-1//40)+1)
    * would emit one empty chunk).
    */
  val chunkText = Q(
    "llm_chunk_text",
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
      |  FROM documents)
      |SELECT doc_id, u.i AS chunk_idx,
      |  CAST(len(ts[(u.i*40+1):(u.i*40+50)]) AS BIGINT) AS n_toks,
      |  array_to_string(ts[(u.i*40+1):(u.i*40+50)], ' ') AS chunk_text
      |FROM toks, UNNEST(range(0, ((len(ts)-1)//40)+1)) AS u(i)
      |WHERE len(ts) >= 1
      |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    val chunk = slice(col("ts"), col("chunk_idx").cast("int") * 40 + 1, lit(50))
    Tables.documents(s, dir)
      .select(col("doc_id"), Words.tokens.as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(when(size(col("ts")) >= 1,
            sequence(lit(0L), ((size(col("ts")) - 1) / 40).cast("long")))
          .otherwise(array().cast("array<bigint>"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        size(chunk).cast("long").as("n_toks"),
        concat_ws(" ", chunk).as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Dataset card: the per-source summary table published next to a
    * training corpus (doc counts, language spread, size stats, exact-dup
    * contamination, corpus share) — the first artifact anyone asks for
    * before mixing a source into a run.
    *
    * 100 TB: one digest-keyed aggregation finds duplicated digests (16-byte
    * shuffle rows, text never moves), re-joined to the doc set WITHOUT a
    * broadcast hint — the dup-digest set grows with the corpus, so the
    * planner must pick the strategy from observed sizes (same lesson as
    * tfidf's df side). Everything else is one map-combinable groupBy on
    * ~20 source keys plus a single-row total broadcast.
    */
  val datasetCard = Q(
    "llm_dataset_card",
    """WITH dig AS (
      |  SELECT source, lang, n_chars, md5(text) AS dig FROM documents),
      |dup AS (SELECT dig FROM dig GROUP BY dig HAVING COUNT(*) > 1),
      |tot AS (SELECT COUNT(*) AS n_total FROM documents)
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  ROUND(AVG(n_chars), 2) AS avg_chars,
      |  CAST(SUM(CASE WHEN dig.dig IN (SELECT dig FROM dup) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  ROUND(COUNT(*) * 100.0 / (SELECT n_total FROM tot), 2) AS pct_corpus
      |FROM dig GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val d = docs.select(col("source"), col("lang"), col("n_chars"),
      md5(col("text")).as("dig"))
    val dup = d.groupBy("dig").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select(col("dig"), lit(1).as("is_dup"))
    val tot = docs.agg(count(lit(1)).as("n_total"))
    d.join(dup, Seq("dig"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        sum("n_chars").as("total_chars"),
        round(avg("n_chars"), 2).as("avg_chars"),
        sum(when(col("is_dup") === 1, 1L).otherwise(0L)).as("n_dup"))
      .crossJoin(broadcast(tot))
      .withColumn("pct_corpus", round(col("n_docs") * lit(100.0) / col("n_total"), 2))
      .drop("n_total")
      .orderBy("source")
  }

  /** Padding-efficiency report: assign each doc to the power-of-two token
    * bucket a fixed-shape trainer would pad it into (floor 64, ceiling
    * [[packBudget]]; longer docs are truncated at the ceiling), and price
    * the waste — padded tokens per bucket and the bucket's pad share.
    * This is the report that decides between fixed-shape batching and
    * sequence packing ([[packSequences]] is the alternative it prices
    * against). The bucket map is a 6-arm CASE on an exact BIGINT token
    * count — no float log2, whose libm rounding at exact powers of two
    * differs across engines. One scan, partial agg onto ≤6 keys; the only
    * double (pad_pct) is one division of exact BIGINTs, rounded 4dp.
    */
  val seqLengthBuckets: Q = {
    val edges = Seq(64L, 128L, 256L, 512L, 1024L)
    val bucketSql = edges.map(e => s"WHEN tok <= $e THEN $e")
      .mkString("CASE ", " ", s" ELSE $packBudget END")
    Q(
      "llm_seq_length_buckets",
      s"""WITH toks AS (
        |  SELECT CAST(ceil(length(text) / 4.0) AS BIGINT) AS tok FROM documents),
        |b AS (
        |  SELECT tok, CAST($bucketSql AS BIGINT) AS bucket FROM toks)
        |SELECT bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(LEAST(tok, bucket)) AS BIGINT) AS kept_tokens,
        |  CAST(SUM(bucket - LEAST(tok, bucket)) AS BIGINT) AS pad_tokens,
        |  ROUND(100.0 * SUM(bucket - LEAST(tok, bucket)) / SUM(bucket), 4) AS pad_pct,
        |  CAST(SUM(CASE WHEN tok > bucket THEN tok - bucket ELSE 0 END) AS BIGINT)
        |    AS trunc_tokens,
        |  CAST(SUM(CASE WHEN tok > bucket THEN 1 ELSE 0 END) AS BIGINT) AS n_trunc
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      val bucket = edges.foldRight(lit(packBudget.toLong)) { (e, acc) =>
        when(col("tok") <= e, lit(e)).otherwise(acc)
      }
      val kept = least(col("tok"), col("bucket"))
      Tables.documents(s, dir)
        .select(ceil(length(col("text")) / 4.0).cast("long").as("tok"))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(kept).as("kept_tokens"),
          sum(col("bucket") - kept).as("pad_tokens"),
          round(lit(100.0) * sum(col("bucket") - kept) / sum(col("bucket")), 4)
            .as("pad_pct"),
          sum(when(col("tok") > col("bucket"), col("tok") - col("bucket"))
            .otherwise(0L)).as("trunc_tokens"),
          sum(when(col("tok") > col("bucket"), 1L).otherwise(0L)).as("n_trunc"))
        .orderBy("bucket")
    }
  }

  val all: Seq[Q] = Seq(
    trainTestSplit, stratifiedSample, dedupCanonical, packSequences,
    bigramVocab, histogramChars, domainMix, curationPipeline, quotaSample,
    weightedSample, chunkText, datasetCard, seqLengthBuckets, temperatureMix)
}
