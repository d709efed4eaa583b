package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis operators for training-data curation (SURVEY.md §2.9 +
  * north-star): language identification, quality scoring, token counting,
  * and document fingerprinting over the `documents` corpus.
  *
  * Scale notes (100 TB): every operator here is a per-row map or a
  * token-explode followed by a partial-aggregating groupBy — no operator
  * shuffles document text except the explode paths, whose shuffle keys are
  * single tokens. The language-ID lexicon joins as an explicit broadcast,
  * so the corpus side stays shuffle-free.
  */
object TextOps {

  /** D7: per-language/source corpus profile. */
  val langProfile = Q(
    "text_lang_profile",
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        round(avg(col("n_chars").cast("double")), 4).as("avg_chars"))
      .orderBy("lang", "source")
  }

  /** Marker-word lexicon for the n-gram language-ID heuristic. Tiny by
    * design: it broadcasts to every executor and the score join never
    * shuffles the corpus.
    */
  private val lexicon: Seq[(String, String)] = Seq(
    "the" -> "en", "a" -> "en", "and" -> "en", "of" -> "en",
    "der" -> "de", "die" -> "de", "und" -> "de", "ist" -> "de",
    "el" -> "es", "los" -> "es", "una" -> "es", "que" -> "es",
    "le" -> "fr", "les" -> "fr", "est" -> "fr", "dans" -> "fr",
    "的" -> "zh", "是" -> "zh", "在" -> "zh", "了" -> "zh")

  private def lexiconValuesSql: String =
    lexicon.map { case (t, l) => s"('$t', '$l')" }.mkString(", ")

  /** Language-ID: count marker-word hits per candidate language, pick the
    * argmax (ties → lexicographically first language; zero hits → 'und').
    * The heuristic itself is validated on real multilingual text in
    * TextOpsSpec; here the oracle pins the join/argmax machinery.
    */
  val langId = Q(
    "text_lang_id",
    s"""WITH lex(tok, cand) AS (VALUES $lexiconValuesSql),
       |tok AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
       |    FROM documents) t WHERE tok <> ''),
       |scores AS (
       |  SELECT tok.doc_id, lex.cand, COUNT(*) AS score
       |  FROM tok JOIN lex ON tok.tok = lex.tok
       |  GROUP BY 1, 2),
       |best AS (
       |  SELECT doc_id, cand, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
       |  FROM scores)
       |SELECT d.doc_id,
       |  coalesce(b.cand, 'und') AS pred_lang,
       |  CAST(coalesce(b.score, 0) AS BIGINT) AS score
       |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val lex = lexicon.toDF("ltok", "cand")
    val tok = docs
      .select(col("doc_id"), explode(Words.raw).as("tok"))
      .filter(col("tok") =!= "")
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cand").asc)
    val best = tok.join(broadcast(lex), col("tok") === col("ltok"))
      .groupBy("doc_id", "cand").agg(count(lit(1)).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id").as("b_id"), col("cand"), col("score"))
    docs.select("doc_id")
      .join(best, col("doc_id") === col("b_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("cand"), lit("und")).as("pred_lang"),
        coalesce(col("score"), lit(0L)).as("score"))
      .orderBy("doc_id")
  }

  /** Quality scoring: token stats + stopword ratio → a single comparable
    * score. All arithmetic double, identical term order both sides. Docs
    * with zero non-empty tokens are excluded rather than divided by zero —
    * Spark and DuckDB disagree on double x/0 rendering, so an unguarded
    * ratio is a latent oracle divergence (none in the fixtures, which is
    * exactly why the guard must be structural, not assumed).
    */
  val qualityScore = Q(
    "text_quality_score",
    """SELECT doc_id, n_tokens, ROUND(stop_ratio, 4) AS stop_ratio,
      |  ROUND(0.3 * ln(1.0 + n_tokens) + 0.5 * stop_ratio + 0.2 * (avg_tok_len / 10.0), 4) AS quality
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(list_filter(toks, t -> t <> '')) AS INTEGER) AS n_tokens,
      |    CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'value', 'data'))) AS DOUBLE)
      |      / len(list_filter(toks, t -> t <> '')) AS stop_ratio,
      |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |      / len(list_filter(toks, t -> t <> '')) AS avg_tok_len
      |  FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents) t1) t2
      |WHERE n_tokens > 0
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val stopHits = filter(Words.raw, t => t.isin("the", "a", "value", "data"))
    val nTokens = size(Words.tokens)
    val stopRatio = size(stopHits).cast("double") / nTokens
    val avgTokLen = length(regexp_replace(col("text"), " ", "")).cast("double") / nTokens
    Tables.documents(s, dir)
      .filter(nTokens > 0)
      .select(
        col("doc_id"),
        nTokens.as("n_tokens"),
        round(stopRatio, 4).as("stop_ratio"),
        round(lit(0.3) * log(lit(1.0) + nTokens) + lit(0.5) * stopRatio
          + lit(0.2) * (avgTokLen / lit(10.0)), 4).as("quality"))
      .orderBy("doc_id")
  }

  /** Token counting three ways: whitespace, BPE-ish regex pieces, and the
    * chars/4 LLM-token estimate.
    */
  val tokenCount = Q(
    "text_token_count",
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INTEGER) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS bpe_tokens,
      |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_llm_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(filter(split(col("text"), " "), t => t =!= "")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
          .as("bpe_tokens"),
        ceil(length(col("text")) / 4.0).as("est_llm_tokens"))
      .orderBy("doc_id")
  }

  /** Fingerprinting: md5 content digest + a 31-polynomial rolling hash over
    * token lengths (fold kept in modular range so both engines stay in
    * 64-bit integers).
    */
  val fingerprint = Q(
    "text_fingerprint",
    """SELECT doc_id,
      |  md5(lower(trim(text))) AS fp_md5,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_filter(string_split(lower(text), ' '), t -> t <> ''),
      |                     t -> CAST(length(t) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fp_poly
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        md5(lower(trim(col("text")))).as("fp_md5"),
        aggregate(Words.tokens, lit(0L),
          (acc, t) => (acc * 31 + length(t).cast("long")) % 1000000007L).as("fp_poly"))
      .orderBy("doc_id")
  }

  /** Winnowing parameters: word-[[winnowK]]-gram hashes, one fingerprint
    * selected per sliding window of [[winnowW]] consecutive gram hashes. */
  private val winnowK = 3
  private val winnowW = 4

  /** Winnowing fingerprint set per document (Schleimer, Wilkerson, Aiken,
    * SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    * positional word-k-gram, slide a w-window over the hash sequence, keep
    * each window's MINIMUM hash, dedup. The winnowing guarantee: any
    * shared run of ≥ w+k−1 tokens between two documents yields at least
    * one shared fingerprint, while only ~2/(w+1) of gram hashes are kept —
    * the locality property that lets plagiarism/near-dup detection index
    * a bounded fingerprint set instead of every shingle. (The classic
    * rightmost-min tie-break only affects which POSITION is recorded; the
    * selected hash set — all this operator keeps — is tie-free.)
    *
    * Scale shape: grams ride ONE doc_id exchange; the min-window pass and
    * the per-doc aggregation reuse the same partitioning, and only
    * (doc_id, fp-hash) pairs survive the window — linear in corpus size,
    * ~|grams|/[(w+1)/2] output rows. Docs with < k tokens (no grams) or
    * < w+k−1 tokens (no full window) emit nothing, identically in both
    * engines. Gram hash = first 8 md5 hex chars as unsigned 32-bit — the
    * proven cross-engine conversion the simhash operator established.
    */
  def winnowFps(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"), Words.tokens.as("ts"))
      .select(col("doc_id"), explode(Words.posGrams(winnowK)).as("u"))
      .select(col("doc_id"), col("u.p").as("p"),
        conv(substring(md5(col("u.gram")), 1, 8), 16, 10).cast("long").as("gh"))
    val w = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.currentRow, winnowW - 1)
    grams
      .select(col("doc_id"),
        min("gh").over(w).as("fp"),
        count(lit(1)).over(w).as("cnt"))
      .filter(col("cnt") === winnowW) // full windows only
      .select("doc_id", "fp").distinct()
  }

  /** Shared oracle-SQL CTE chain deriving the distinct winnowing
    * fingerprint set `fps(doc_id, fp)` — one source of truth for
    * [[winnowFingerprints]] and [[winnowPairs]] (same lockstep discipline
    * as LlmOps' shinglePairCtes; and same double-stripMargin rule: no
    * content line may start with `|`). */
  private val winnowCtes =
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
       |  FROM documents),
       |grams0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ts) - ${winnowK - 2}),
       |    i -> struct_pack(pos := i,
       |                     g := array_to_string(ts[i:i+${winnowK - 1}], ' ')))) AS u
       |  FROM toks WHERE len(ts) >= $winnowK),
       |grams AS (
       |  SELECT doc_id, u.pos AS pos,
       |    ('0x' || substr(md5(u.g), 1, 8))::BIGINT AS gh
       |  FROM grams0),
       |win AS (
       |  SELECT doc_id, min(gh) OVER w AS fp, COUNT(*) OVER w AS cnt
       |  FROM grams
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
       |               ROWS BETWEEN CURRENT ROW AND ${winnowW - 1} FOLLOWING)),
       |fps AS (
       |  SELECT DISTINCT doc_id, fp FROM win WHERE cnt = $winnowW)""".stripMargin

  val winnowFingerprints = Q(
    "text_winnow_fingerprints",
    s"""WITH $winnowCtes
       |SELECT doc_id,
       |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fp,
       |  MIN(fp) AS fp_min,
       |  CAST(SUM(DISTINCT fp % 1000003) AS BIGINT) AS fp_checksum
       |FROM fps
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // Per-doc profile of the fingerprint set: count + min + a checksum
    // over the DISTINCT set (mod keeps the sum in BIGINT range on both
    // engines), so the oracle hash pins the selected set itself, not just
    // its size.
    winnowFps(Tables.documents(s, dir))
      .groupBy("doc_id")
      .agg(
        countDistinct("fp").as("n_fp"),
        min("fp").as("fp_min"),
        sum_distinct(col("fp") % 1000003L).as("fp_checksum"))
      .orderBy("doc_id")
  }

  /** D2 via winnowing: near-dup pairs from the FINGERPRINT inverted index
    * — the use winnowing exists for. Identical pipeline to
    * [[graft.engine.LlmOps.shingleJaccard]] (df-cap → postings pair
    * expansion → Jaccard ≥ 0.5 over the per-doc sets) but the postings
    * are the winnowed fingerprints, ~(w+1)/2 ≈ 2.5× sparser than the
    * full shingle set for the same shared-run guarantee — at 100 TB
    * that factor multiplies straight through the Σdf² pair expansion
    * (the quadratic term), so winnowing is the cheaper first-pass pair
    * generator with shingle/MinHash as refinement. On the fixtures it
    * finds the same 25 near-dup pairs as the full shingle scan.
    *
    * The pair scan is the expansion path of the exact pair scan
    * ([[graft.engine.LlmOps.expandedPairs]]), not its adaptive route:
    * the fingerprint vocabulary is open (18 957 capped keys at 1.0×sf0.1,
    * pair volume P = Σ C(df, 2) ≈ 3.5 × the 102 841 postings), so the
    * route would pick the prefix filter + array verify, measured 2.07 →
    * 2.55 s there against this expansion.
    */
  val winnowPairs = Q(
    "text_winnow_pairs",
    s"""WITH $winnowCtes,
       |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM fps),
       |dfc AS (SELECT fp, COUNT(*) AS df FROM fps GROUP BY 1),
       |fpc AS (
       |  SELECT f.doc_id, f.fp FROM fps f JOIN dfc USING (fp) CROSS JOIN nd
       |  WHERE dfc.df <= least(0.1 * nd.n_docs, 2000)),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM fpc GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
       |  FROM fpc a JOIN fpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS fp_jaccard
       |FROM inter
       |JOIN sz sa ON inter.id_a = sa.doc_id
       |JOIN sz sb ON inter.id_b = sb.doc_id
       |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    // localCheckpoint before the fan-out: the capped postings feed the
    // sizes and both pair-expansion passes
    val fps = winnowFps(Tables.documents(s, dir)).select(col("doc_id"), col("fp").as("sh"))
    val capped = fps.join(LlmOps.capCensus(fps, "sh", 0.1, 2000L).select("sh"),
      Seq("sh"), "left_semi").localCheckpoint()
    LlmOps.expandedPairs(capped, 0.5)
      .select(col("id_a"), col("id_b"), col("jaccard").as("fp_jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** SimHash document fingerprint (32-bit): per-bit majority vote over
    * md5-derived token hashes. The per-bit votes are 32 conditional sums in
    * one aggregate pass — no per-bit shuffle. Token hash = first 8 md5 hex
    * chars so Spark and DuckDB agree exactly.
    */
  private val simhashBits = 32

  /** Shared simhash builder: (doc_id, simhash) for every doc. */
  private def simhashOf(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(Words.raw).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("h"))
    val simhashCol = (0 until simhashBits).map { b =>
      when(sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1) > 0,
        shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce[Column](_ + _)
    tok.groupBy("doc_id").agg(simhashCol.as("simhash"))
  }

  /** The matching DuckDB CTEs producing sh(doc_id, simhash). */
  private def simhashSqlCtes: String = {
    val terms = (0 until simhashBits).map { b =>
      s"(CASE WHEN SUM(((h >> $b) & 1) * 2 - 1) > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)"
    }.mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
       |    FROM documents) t WHERE tok <> ''),
       |sh AS (SELECT doc_id, $terms AS simhash FROM tok GROUP BY doc_id)""".stripMargin
  }

  val simhash = Q(
    "text_simhash",
    s"""WITH $simhashSqlCtes
       |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin) { (s, dir) =>
    simhashOf(s, dir).orderBy("doc_id")
  }

  /** D2 completion for simhash: near-dup PAIRS via band-bucket candidate
    * generation — docs sharing any of the four 8-bit bands meet, then the
    * full 32-bit hamming distance (≤ [[hammingMax]]) confirms. The banding
    * is what scales: candidates come from equi-joins on (band, value)
    * buckets — the corpus is never crossed with itself, exactly the
    * MinHash-LSH shape but over simhash bands.
    */
  private val hammingMax = 3

  val simhashPairs = Q(
    "text_simhash_pairs",
    s"""WITH $simhashSqlCtes,
       |bands AS (
       |  SELECT doc_id, simhash, b, (simhash >> (8 * b)) & 255 AS band_val
       |  FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) t),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
       |    a.simhash AS ha, c.simhash AS hb
       |  FROM bands a JOIN bands c
       |    ON a.b = c.b AND a.band_val = c.band_val AND a.doc_id < c.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= $hammingMax
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val bands = simhashOf(s, dir).select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(lit): _*)).as("b"))
      .withColumn("band_val", expr("shiftright(simhash, 8 * b) & 255"))
    LlmOps.bandPairs(bands, None, "b", "band_val")
      .withColumn("hamming", bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("hamming") <= hammingMax)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  /** Zipf rank-frequency profile: top-30 tokens with rank and the
    * rank×frequency product (≈constant under Zipf's law — the vocabulary
    * sanity check corpus curation runs). Scale shape: the top-30 cut is a
    * TakeOrdered over the partially-aggregated term counts; the rank window
    * then runs on 30 rows, never the vocabulary.
    */
  val zipfRanks = Q(
    "text_zipf_ranks",
    """WITH tf AS (
      |  SELECT tok, COUNT(*) AS freq FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents) t
      |  WHERE tok <> '' GROUP BY tok),
      |top AS (SELECT tok, freq FROM tf ORDER BY freq DESC, tok LIMIT 30)
      |SELECT tok, freq,
      |  row_number() OVER (ORDER BY freq DESC, tok) AS rank,
      |  CAST(freq * row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS zipf_product
      |FROM top ORDER BY rank""".stripMargin) { (s, dir) =>
    val w = Window.orderBy(col("freq").desc, col("tok"))
    Tables.documents(s, dir)
      .select(explode(Words.raw).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok"))
      .limit(30)
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("zipf_product", (col("freq") * col("rank")).cast("long"))
      .orderBy("rank")
  }

  /** Quality (repetition): fraction of intra-doc word-trigrams that are
    * repeats — 1 − distinct/total — the Gopher-style "repeated n-gram"
    * signal that catches boilerplate and degenerate loops which
    * length/stopword ratios miss. Pure per-row array math: no shuffle, no
    * join, embarrassingly parallel at any corpus size; the one output row
    * per doc carries the counts a downstream threshold filter needs.
    */
  val repetition = Q(
    "text_repetition",
    """SELECT doc_id, n_tri,
      |  ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_tri, 4) AS rep_frac
      |FROM (
      |  SELECT doc_id,
      |    len(tris) AS n_tri,
      |    len(list_distinct(tris)) AS n_distinct
      |  FROM (
      |    SELECT doc_id, list_transform(
      |        range(1, len(string_split(lower(text), ' ')) - 1),
      |        i -> array_to_string(string_split(lower(text), ' ')[i:i+2], ' ')) AS tris
      |    FROM documents) t) t2
      |WHERE n_tri > 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // `tris` is consumed twice below, so it is a column of its own.
    // MaterializeOnce (r12, guide §4.4 applied to JVM expressions): the
    // pushed n_tri > 0 filter otherwise INLINES the whole
    // split → transform → concat_ws trigram build into the scan predicate
    // (the before-plan's Filter(2) re-derives tris from raw text), so every
    // row tokenized + built its trigram array TWICE. The barrier keeps the
    // filter above the projection; evaluation semantics are untouched.
    Tables.documents(s, dir)
      .select(col("doc_id"), Words.raw.as("ts"))
      .select(col("doc_id"), graft.functions.MaterializeOnce(Words.grams(3)).as("tris"))
      .select(col("doc_id"),
        size(col("tris")).cast("long").as("n_tri"),
        size(array_distinct(col("tris"))).cast("long").as("n_distinct"))
      .filter(col("n_tri") > 0)
      .select(col("doc_id"), col("n_tri"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tri"), 4).as("rep_frac"))
      .orderBy("doc_id")
  }

  /** PII patterns shared by the scrub query and its oracle. Written in the
    * common subset of Java regex (Spark) and RE2 (DuckDB): character
    * classes, bounded repetition and ASCII `\b` behave identically in both
    * engines — no backreferences or lookaround, which RE2 lacks.
    */
  private val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val ipv4Re  = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private val phoneRe = """\b\d{3}-\d{3,4}-\d{4}\b"""

  /** PII scrub: detect-and-redact emails / IPv4s / phone numbers — the
    * compliance pass every training-data pipeline runs before anything else
    * ships. Pure per-row regex map: no shuffle, no join, embarrassingly
    * parallel; the redacted text replaces the original in place so payload
    * bytes cross the wire exactly once (here hashed to md5 so the oracle
    * hash-checks the full redacted string without dumping megabytes).
    *
    * The fixture corpus is synthetic word salad with zero organic PII, so
    * the query plants one email / IP / phone per document, derived
    * deterministically from doc_id on BOTH sides — the redaction machinery
    * is exercised on real hits and the hash check stays engine-independent.
    * Redaction order (email → IP → phone) is fixed: email bodies contain
    * dots and digits, so the narrower patterns run after emails are gone.
    */
  val piiScrub = Q(
    "text_pii_scrub",
    s"""WITH raw AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@mail.example.com from 10.' ||
       |    (doc_id % 200) || '.0.' || (doc_id % 250) || ' tel 555-' ||
       |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-1234' AS raw
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(raw, '$emailRe')) AS INTEGER) AS n_email,
       |  CAST(len(regexp_extract_all(raw, '$ipv4Re')) AS INTEGER) AS n_ip,
       |  CAST(len(regexp_extract_all(raw, '$phoneRe')) AS INTEGER) AS n_phone,
       |  md5(regexp_replace(regexp_replace(regexp_replace(raw,
       |    '$emailRe', '<EMAIL>', 'g'),
       |    '$ipv4Re', '<IP>', 'g'),
       |    '$phoneRe', '<PHONE>', 'g')) AS red_md5
       |FROM raw ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val raw = concat(
      col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com from 10."), (col("doc_id") % 200).cast("string"),
      lit(".0."), (col("doc_id") % 250).cast("string"), lit(" tel 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit("-1234"))
    Tables.documents(s, dir)
      .select(col("doc_id"), raw.as("raw"))
      .select(
        col("doc_id"),
        regexp_count(col("raw"), lit(emailRe)).as("n_email"),
        regexp_count(col("raw"), lit(ipv4Re)).as("n_ip"),
        regexp_count(col("raw"), lit(phoneRe)).as("n_phone"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("raw"),
          emailRe, "<EMAIL>"),
          ipv4Re, "<IP>"),
          phoneRe, "<PHONE>")).as("red_md5"))
      .orderBy("doc_id")
  }

  /** Boilerplate phrase detection (CCNet/RefinedWeb-style): a token
    * trigram occurring in ≥ [[boilerDf]] distinct documents is boilerplate
    * (headers, footers, licence blurbs); each document reports how much of
    * it is boilerplate. One corpus scan: the trigrams feed the gram-df
    * relation ([[Words.gramDf]]), whose (doc, trigram) rows carry the
    * occurrence count and df the per-doc sums need — no broadcast join
    * back to a second tokenize of the corpus. The shuffles are keyed on
    * short trigram strings (at 100 TB the key would be xxhash64(trigram),
    * the same digest-not-payload trick the dedup family uses; kept as the
    * raw string here so the DuckDB oracle is bit-exact).
    */
  private val boilerDf = 5

  val boilerplateNgrams = Q(
    "text_boilerplate_ngrams",
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
       |  FROM documents),
       |tri AS (
       |  SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS g
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM toks) t),
       |boiler AS (
       |  SELECT g FROM tri GROUP BY g HAVING COUNT(DISTINCT doc_id) >= $boilerDf)
       |SELECT tri.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tri,
       |  CAST(COUNT(boiler.g) AS BIGINT) AS n_boiler,
       |  ROUND(CAST(COUNT(boiler.g) AS DOUBLE) / COUNT(*), 4) AS boiler_frac
       |FROM tri LEFT JOIN boiler ON tri.g = boiler.g
       |GROUP BY tri.doc_id ORDER BY tri.doc_id""".stripMargin) { (s, dir) =>
    val tri = Tables.documents(s, dir)
      .select(col("doc_id"), Words.tokens.as("ts"))
      .select(col("doc_id"), explode(Words.grams(3)).as("gram"))
    Words.gramDf(tri)
      .groupBy("doc_id")
      .agg(
        sum(col("n_occ")).as("n_tri"),
        sum(when(col("df") >= boilerDf, col("n_occ")).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_tri"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_tri"), 4).as("boiler_frac"))
      .orderBy("doc_id")
  }

  /** Fuzzy near-dup pairs by blocked edit distance — the record-linkage
    * classic: block on (lang, exact token count), compare only within a
    * block, report pairs whose normalized similarity
    * `1 − lev(a,b) / max(len)` clears [[levSimMin]]. Char-level Levenshtein
    * catches the typo/OCR-noise duplicates that token-set Jaccard
    * (llm_jaccard_pairs) and SimHash miss. Plan shape: one equi-join on the
    * block key — never all-pairs — and blocks larger than [[levBlockCap]]
    * docs are dropped via a broadcast anti join before pairing (same
    * hot-key discipline as the Jaccard df-cap): worst-case work is
    * cap²/2 per block times the key cardinality, independent of corpus
    * size. The cap is deliberately tight (100): (lang, token count) is a
    * ~450-key demo key chosen for oracle expressibility, so block density
    * grows linearly with the corpus and pair work quadratically — measured
    * in the 10× soak, where verbatim replicas push every block past the
    * cap and the anti-join (correctly) drops them. A production deployment
    * swaps in a high-cardinality blocking key — a SimHash band or MinHash
    * bucket, as text_simhash_pairs/llm_minhash_pairs build — and keeps
    * this pairing stage unchanged. The O(len²) per-pair kernel runs inside
    * codegen on the candidate set only.
    *
    * The fixture's word-soup corpus tops out at sim ≈ 0.37 (no organic
    * typo-dups), so the reporting floor sits at 0.3 to exercise the
    * machinery; a production dedup pass would raise it to ≈ 0.8.
    */
  private val levSimMin = 0.3
  private val levBlockCap = 100

  val levenshteinPairs = Q(
    "text_levenshtein_pairs",
    s"""WITH t AS (
       |  SELECT doc_id, lang, text,
       |    len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tok
       |  FROM documents),
       |ok AS (
       |  SELECT lang, n_tok FROM t GROUP BY lang, n_tok
       |  HAVING COUNT(*) <= $levBlockCap)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
       |  ROUND(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
       |    greatest(len(a.text), len(b.text)), 4) AS sim
       |FROM t a
       |JOIN t b ON a.lang = b.lang AND a.n_tok = b.n_tok AND a.doc_id < b.doc_id
       |JOIN ok ON ok.lang = a.lang AND ok.n_tok = a.n_tok
       |WHERE greatest(len(a.text), len(b.text)) > 0
       |  AND 1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
       |    greatest(len(a.text), len(b.text)) >= $levSimMin
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir).select(
      col("doc_id"), col("lang"), col("text"),
      size(Words.tokens).as("n_tok"))
    val ok = t.groupBy("lang", "n_tok").count()
      .filter(col("count") <= levBlockCap).drop("count")
    val blocked = t.join(broadcast(ok), Seq("lang", "n_tok"), "left_semi")
    // Explicit-count round-robin repartition of the probe side (same
    // load-bearing trick as LlmOps.pairCounts): the block-capped b-side
    // broadcasts, so WITHOUT this the whole plan is shuffle-free and the
    // O(len²) kernel runs inside the single task a one-file parquet scan
    // produces — measured 48 s single-threaded vs ~2 s spread over the 32
    // slots at sf0.1. An explicit numPartitions is exempt from AQE
    // coalescing; per-row probe work is bounded by the block cap.
    val n = s.sessionState.conf.numShufflePartitions
    val a = blocked.repartition(n).select(col("lang"), col("n_tok"),
      col("doc_id").as("id_a"), col("text").as("text_a"),
      length(col("text")).as("len_a"))
    val b = blocked.select(col("lang"), col("n_tok"),
      col("doc_id").as("id_b"), col("text").as("text_b"),
      length(col("text")).as("len_b"))
    val mx = greatest(col("len_a"), col("len_b"))
    // Banded kernel: Spark's 3-arg levenshtein bails out (-1) once the
    // distance provably exceeds the threshold, turning the O(len²) kernel
    // into O(threshold·len) for the dissimilar majority. The +1 slack makes
    // the integer-truncated band a strict superset of the sim floor, so the
    // exact confirm below — the same `1 − d/mx ≥ floor` double arithmetic
    // the oracle runs — decides every boundary case, never the band.
    val tSlack = (lit(1.0 - levSimMin) * mx).cast("int") + lit(1)
    // mx > 0 is structural: two empty-text docs give sim = 0/0 = NaN, which
    // Spark's NaN-is-greatest ordering would pass through `>= levSimMin`
    // while the oracle's NULL division filters the row. The length-
    // difference bound (lev ≥ |len_a − len_b|, so a pair outside the band
    // by lengths alone can never clear the sim floor) prunes KERNEL-FREE —
    // every conjunct here is integer arithmetic on precomputed lengths.
    val cheap = a.join(b, Seq("lang", "n_tok"))
      .filter(col("id_a") < col("id_b") && mx > 0 &&
        mx - least(col("len_a"), col("len_b")) <= tSlack)
    // The O(threshold·len) kernel must run ONCE per surviving pair — see
    // [[graft.functions.MaterializeOnce]]: without it the optimizer
    // inlines the alias into the filter (and from there into the join
    // condition), re-running the kernel 2-3× per pair and BEFORE the
    // cheap id/length prunes (measured 2.8 → 5 s at sf0.1).
    val sim = lit(1.0) - col("dist_raw").cast("double") / mx.cast("double")
    cheap
      .withColumn("dist_raw", graft.functions.MaterializeOnce(
        graft.functions.LevenshteinMyers(col("text_a"), col("text_b"), tSlack)))
      .filter(col("dist_raw") >= 0 && sim >= levSimMin)
      .select(col("id_a"), col("id_b"),
        col("dist_raw").cast("long").as("dist"), round(sim, 4).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** Per-source token Shannon entropy — the diversity signal that separates
    * a rich natural-language source from templated/boilerplate spam (low
    * entropy) in corpus triage. Computed as H = log2(n) − Σ c·log2(c) / n
    * rather than −Σ p·log2(p): algebraically identical, but it avoids the
    * −0.0-vs-0.0 drift a negated zero sum can produce across engines for a
    * degenerate single-token source, and it never materializes tiny p
    * ratios. Plan shape: token explode → (source, token) partial-agg
    * groupBy (the only data-sized shuffle, same key discipline as the
    * vocab ops), then per-source totals (≤ |sources| rows) re-join as an
    * explicit broadcast.
    */
  val tokenEntropy = Q(
    "text_token_entropy",
    """WITH tok AS (
      |  SELECT source, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS t
      |  FROM documents),
      |cnt AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY source, t),
      |tot AS (SELECT source, SUM(c) AS n FROM cnt GROUP BY source)
      |SELECT cnt.source AS source,
      |  CAST(MAX(tot.n) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_distinct,
      |  ROUND(log2(MAX(tot.n)) -
      |    SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) / MAX(tot.n), 4)
      |    AS entropy_bits
      |FROM cnt JOIN tot ON cnt.source = tot.source
      |GROUP BY cnt.source ORDER BY source""".stripMargin) { (s, dir) =>
    val cnt = Tables.documents(s, dir)
      .select(col("source"),
        explode(Words.tokens).as("t"))
      .groupBy("source", "t")
      .agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("source").agg(sum("c").as("n"))
    cnt.join(broadcast(tot), "source")
      .groupBy("source")
      .agg(
        max("n").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(log2(max("n")) -
          sum(col("c").cast("double") * log2(col("c").cast("double"))) / max("n"), 4)
          .as("entropy_bits"))
      .orderBy("source")
  }

  /** D7 (statistical quality): per-document mean unigram log-probability
    * under the corpus's own unigram distribution — the cheap stand-in for a
    * KenLM-style perplexity filter. A doc made of common corpus tokens
    * scores near the corpus mean; a doc of rare/garbled tokens scores far
    * more negative, and the tails are what a quality gate drops.
    *
    * avg log2 p(tok) = avg(log2 c_tok) − log2 N, computed in that split
    * form so the single-row corpus total N joins in AFTER the per-doc
    * aggregate (one broadcast row) instead of riding every token
    * occurrence. Token frequencies join occurrences on the token key — a
    * vocab-sized equi-join, linear at any corpus size; no driver-side
    * collect anywhere.
    */
  val unigramLogprob = Q(
    "text_unigram_logprob",
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
      |    t -> t <> '')) AS tok
      |  FROM documents),
      |freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_total FROM freq)
      |SELECT t.doc_id, COUNT(*) AS n_tok,
      |  ROUND(AVG(log2(CAST(freq.c AS DOUBLE))) - log2(tot.n_total), 4)
      |    AS avg_log2p
      |FROM toks t JOIN freq USING (tok) CROSS JOIN tot
      |GROUP BY t.doc_id, tot.n_total ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val occ = Tables.documents(s, dir).select(col("doc_id"), explode(Words.tokens).as("tok"))
    val freq = occ.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = freq.agg(sum("c").cast("double").as("n_total"))
    occ.join(freq, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        avg(log2(col("c").cast("double"))).as("avg_log_c"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tok"),
        round(col("avg_log_c") - log2(col("n_total")), 4).as("avg_log2p"))
      .orderBy("doc_id")
  }

  /** D7 (statistical quality): per-document mean bigram conditional
    * log-probability under the corpus's own bigram model — one rung up the
    * n-gram-LM ladder from [[unigramLogprob]] toward the KenLM perplexity
    * gates production pipelines run (CCNet-style bucketing). The model is
    * the MLE conditional p(b|a) = c(a,b) / Σ_b' c(a,b'), so the prefix
    * normalizer is the token's count in NON-final positions — every bigram
    * observed in a document exists in the self-trained counts, which is why
    * no smoothing term is needed (and why both engines agree bit-for-bit:
    * there is no smoothing constant to drift).
    *
    * Plan shape: bigram explode → (tok_a, tok_b) partial-agg groupBy (the
    * only data-sized shuffle), prefix counts fold out of the bigram counts
    * (vocab-sized, no second pass over occurrences), then occurrences join
    * the two count tables on their token keys. Neither join carries a
    * broadcast hint: bigram vocabulary grows ~quadratically in the unigram
    * vocab (Heaps' law squared — far past executor memory at 100 TB), so
    * the planner must decide from observed sizes, exactly as llm_tfidf's
    * tf⋈df join documents. Docs shorter than 2 tokens have no bigrams and
    * drop out in both engines (inner-join semantics).
    */
  val bigramLogprob = Q(
    "text_bigram_logprob",
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
      |    t -> t <> '') AS ts
      |  FROM documents),
      |occ AS (
      |  SELECT doc_id, bg.a AS tok_a, bg.b AS tok_b FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(ts)),
      |      i -> struct_pack(a := ts[i], b := ts[i+1]))) AS bg
      |    FROM toks WHERE len(ts) >= 2) t),
      |bfreq AS (SELECT tok_a, tok_b, COUNT(*) AS cb FROM occ GROUP BY 1, 2),
      |pfreq AS (SELECT tok_a, SUM(cb) AS cp FROM bfreq GROUP BY 1)
      |SELECT o.doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(AVG(log2(CAST(bf.cb AS DOUBLE) / pf.cp)), 4) AS avg_log2p
      |FROM occ o
      |JOIN bfreq bf ON o.tok_a = bf.tok_a AND o.tok_b = bf.tok_b
      |JOIN pfreq pf ON o.tok_a = pf.tok_a
      |GROUP BY o.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val occ = Tables.documents(s, dir)
      .select(col("doc_id"), Words.tokens.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ts")) - 1),
        i => struct(
          element_at(col("ts"), i).as("tok_a"),
          element_at(col("ts"), i + 1).as("tok_b")))).as("bg"))
      .select(col("doc_id"), col("bg.tok_a"), col("bg.tok_b"))
    val bfreq = occ.groupBy("tok_a", "tok_b").agg(count(lit(1)).as("cb"))
    val pfreq = bfreq.groupBy("tok_a").agg(sum("cb").as("cp"))
    occ.join(bfreq, Seq("tok_a", "tok_b"))
      .join(pfreq, Seq("tok_a"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log2(col("cb").cast("double") / col("cp"))), 4).as("avg_log2p"))
      .orderBy("doc_id")
  }

  /** Number of BPE merge rounds [[bpeMerges]] learns. Shared with the
    * spec's pure-Scala reference implementation.
    */
  val bpeRounds = 6

  /** The shared BPE-training CTE chain (one source of truth for BOTH
    * `text_bpe_merges` and `text_bpe_apply`, the shinglePairCtes
    * convention): v0 = word counts with chr(31)-delimited symbol strings;
    * each round r adds best$r (the argmax pair) and v$r (the rewritten
    * vocabulary).
    */
  private val bpeOracleCtes: String = {
    val D = "chr(31)"
    def roundCtes(r: Int): String = {
      val prev = s"v${r - 1}"
      s""",
         |best$r AS MATERIALIZED (
         |  SELECT a AS ma, b AS mb, CAST(SUM(freq) AS BIGINT) AS score
         |  FROM (
         |    SELECT freq, z[1] AS a, z[2] AS b
         |    FROM $prev, unnest(list_zip(string_split(s, $D), string_split(s, $D)[2:])) AS u(z)
         |    WHERE z[2] IS NOT NULL)
         |  GROUP BY a, b
         |  ORDER BY score DESC, a ASC, b ASC
         |  LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT tok, freq,
         |    CASE WHEN ma IS NULL THEN s
         |         ELSE replace(s, ma || $D || mb, ma || mb) END AS s
         |  FROM $prev LEFT JOIN best$r ON TRUE)""".stripMargin
    }
    s"""v0 AS MATERIALIZED (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
       |    array_to_string(string_split(tok, ''), $D) AS s
       |  FROM (SELECT unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
       |        FROM documents)
       |  GROUP BY tok)""".stripMargin +
      (1 to bpeRounds).map(roundCtes).mkString
  }

  /** D5/D9 (tokenizer training): byte-pair-encoding merge learning — the
    * algorithm behind every production tokenizer (GPT-2 BPE, SentencePiece
    * BPE mode), distributed the way industrial trainers actually scale it:
    * the 100 TB corpus is scanned ONCE, in one job, into the (word, freq,
    * symbols) table, and every merge round thereafter runs over that
    * VOCABULARY-sized state only, never the corpus again. The table is
    * collected and the rounds run on the driver, which holds one row per
    * distinct word (Heaps' law: ~10⁷ for a web corpus). Each round: (a)
    * adjacent symbol pairs score by summed word freq; (b) the argmax pair
    * ranks by score DESC, then sym_a and sym_b in Spark's string order
    * (UTF-8 bytes, unsigned); (c) a left-to-right non-overlapping fold —
    * the classic BPE merge pass — rewrites every word's symbol array. An
    * exhausted round learns no merge and leaves the vocabulary unchanged.
    *
    * Oracled via the PageRank precedent (MATERIALIZED-CTE unroll): the
    * training loop is fully deterministic — integer pair counts with a
    * lexicographic tiebreak — so each round unrolls as a best_r/v_r CTE
    * pair. The oracle's key trick is representing each word's symbol
    * array as a chr(31)-DELIMITED STRING, because SQL `replace()` scans
    * left-to-right without rescanning replaced text — exactly the
    * single-pass non-overlapping BPE merge fold the Spark side computes
    * with `aggregate` (e.g. "aaa" + merge(a,a) → [aa, a] in both). The
    * delimiter is safe: tokens come from splitting text on spaces and the
    * corpus has no control characters. One PRECONDITION applies: the
    * unanchored replace() pattern could also match a symbol FRAGMENT (a
    * symbol merely ending in ma before mb, or ma before a symbol merely
    * starting with mb), where the whole-symbol fold would not merge.
    * TextOpsSpec replays the trainer over every oracle corpus and pins
    * that no learned merge round ever creates such an adjacency — a
    * corpus regeneration that violated it would fail the spec loudly
    * instead of silently hash-mismatching. AS MATERIALIZED is load-bearing —
    * DuckDB inlines plain CTEs and a 6-round chain of inlined v_r would
    * blow up 2^6. TextOpsSpec additionally re-runs the identical
    * algorithm in pure Scala and asserts equal merge sequences — stronger
    * than the hash, since it pins every rank's pair and score.
    */
  val bpeMerges: Q = {
    val sql = s"WITH $bpeOracleCtes" +
      "\nSELECT * FROM (\n" +
      (1 to bpeRounds).map(r =>
        s"SELECT $r AS rank, ma AS sym_a, mb AS sym_b, ma || mb AS new_sym, score FROM best$r")
        .mkString("\nUNION ALL\n") +
      "\n) ORDER BY rank"
    Q("text_bpe_merges", sql) { (s, dir) =>
      bpeTrain(s, dir, bpeRounds)._1.orderBy("rank")
    }
  }

  /** The BPE training loop behind [[bpeMerges]] and [[bpeApply]]: returns
    * (learned merges, final vocabulary with each word's post-merge symbol
    * array) so the apply op reuses the trained state instead of re-deriving
    * its own.
    */
  private[graft] def bpeTrain(s: SparkSession, dir: String,
                              rounds: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(Words.tokens).as("tok"))
    // The one distributed job: the corpus scan to (word, freq, symbols).
    val words = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(col("tok"), col("freq"),
        transform(sequence(lit(1), length(col("tok"))),
          i => col("tok").substr(i, lit(1))).as("syms"))
      .as[(String, Long, Array[String])].collect()
    val syms = words.map(_._3)
    // Spark's string order: UTF-8 bytes, unsigned (not String.compareTo).
    def utf8(x: String, y: String): Int =
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    for (r <- 1 to rounds) {
      val scores = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for (w <- words.indices; i <- 0 until syms(w).length - 1) {
        val pair = (syms(w)(i), syms(w)(i + 1))
        scores(pair) = scores.getOrElse(pair, 0L) + words(w)._2
      }
      // An exhausted round (no pairs left) learns nothing and leaves the
      // vocabulary as it is.
      if (scores.nonEmpty) {
        val ((ma, mb), score) = scores.reduce { (x, y) =>
          val c = if (x._2 != y._2) java.lang.Long.compare(y._2, x._2)
            else if (x._1._1 != y._1._1) utf8(x._1._1, y._1._1)
            else utf8(x._1._2, y._1._2)
          if (c <= 0) x else y
        }
        merges += ((r, ma, mb, ma + mb, score))
        for (w <- words.indices) syms(w) = bpeMerge(syms(w), ma, mb)
      }
    }
    (merges.toSeq.toDF("rank", "sym_a", "sym_b", "new_sym", "score"),
      words.indices.map(w => (words(w)._1, words(w)._2, syms(w).toSeq)).toDF("tok", "freq", "syms"))
  }

  /** One BPE merge pass over a word's symbols: left to right, holding one
    * pending symbol; (pending, next) == (ma, mb) emits the merged symbol and
    * clears pending, so a merged symbol never re-merges in the same pass —
    * standard BPE single-pass semantics.
    */
  private def bpeMerge(syms: Array[String], ma: String, mb: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var p: String = null
    for (sym <- syms) {
      if (p == null) p = sym
      else if (p == ma && sym == mb) { out += ma + mb; p = null }
      else { out += p; p = sym }
    }
    if (p != null) out += p
    out.toArray
  }

  /** D5/D9 (tokenizer application): encode the corpus with the merges
    * [[bpeMerges]] learned — per-document whitespace-word count, BPE token
    * count, and tokens-per-word. The shape every token-budget computation
    * runs at 100 TB: the TRAINED VOCABULARY carries each word's
    * tokenization (vocab-sized, one row per distinct word), and documents
    * join it on the word key — the corpus is tokenized by a vocab join, the
    * per-word merge fold never re-runs per occurrence. Tokens-per-word > 1
    * is exactly the compression deficit the merge budget controls; on real
    * corpora this is the statistic that prices a training run in tokens.
    */
  val bpeApply = Q(
    "text_bpe_apply",
    s"""WITH $bpeOracleCtes,
      |vocab AS (SELECT tok, len(string_split(s, chr(31))) AS n_bpe FROM v$bpeRounds),
      |occ AS (
      |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
      |  ROUND(CAST(SUM(n_bpe) AS DOUBLE) / COUNT(*), 4) AS tokens_per_word
      |FROM occ JOIN vocab USING (tok)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val vocab = bpeTrain(s, dir, bpeRounds)._2
      .select(col("tok"), size(col("syms")).as("n_bpe"))
    val occ = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(Words.tokens).as("tok"))
    occ.join(vocab, Seq("tok"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum("n_bpe").as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 4)
          .as("tokens_per_word"))
      .orderBy("doc_id")
  }

  /** Learning rate / full-batch GD rounds for [[qualityClassifier]].
    * Shared with the spec's convergence assertions.
    */
  val qcLr = 0.5
  val qcRounds = 8

  /** Numerically-stable per-row log-loss term. Clamps p into
    * [eps, 1-eps] before the log terms: on a strongly separable corpus
    * the sigmoid saturates to exactly 1.0 (z ≳ 37 in double), and the
    * unclamped form evaluates 0·log(0) = NaN, silently poisoning the
    * loss average. eps = 1e-12 keeps the clamp below any loss value the
    * spec's 1e-9 monotonicity tolerance can see.
    */
  private def logLoss(y: Column, p: Column): Column = {
    val eps = 1e-12
    val pc = greatest(lit(eps), least(lit(1.0 - eps), p))
    -(y * log(pc) + (lit(1.0) - y) * log(lit(1.0) - pc))
  }

  /** Per-doc feature vector [bias, ln(1+tokens), stopword ratio,
    * avg-token-length/10] and the src0-membership label — the same
    * features [[qualityScore]] combines with HAND-PICKED weights.
    */
  private[graft] def qcFeatures(s: SparkSession, dir: String): DataFrame = {
    val stopHits = filter(Words.raw, t => t.isin("the", "a", "value", "data"))
    val nTokens = size(Words.tokens)
    Tables.documents(s, dir)
      .filter(nTokens > 0)
      .select(col("doc_id"),
        array(lit(1.0), log(lit(1.0) + nTokens),
          size(stopHits).cast("double") / nTokens,
          length(regexp_replace(col("text"), " ", "")).cast("double") / nTokens
            / lit(10.0)).as("x"),
        when(col("source") === "src0", 1.0).otherwise(0.0).as("y"))
  }

  /** Full-batch logistic-regression GD behind [[qualityClassifier]]:
    * returns (trained weight row, per-round loss curve) at an explicit
    * round count so the spec can pin monotone loss descent and train a
    * longer separable-corpus run.
    */
  private[graft] def qcTrain(s: SparkSession, dir: String,
                             rounds: Int): (DataFrame, DataFrame) = {
    val (w, losses, _) = qcTrainFeats(s, dir, rounds)
    (w, losses)
  }

  /** [[qcTrain]] that also returns the CHECKPOINTED feature frame it
    * trained on, so the registered query's final report scores the same
    * materialized (doc_id, x, y) rows instead of re-tokenizing the corpus
    * a ninth time (r13, guide §2.4 — the rows are identical by
    * construction: one checkpoint, two consumers).
    */
  private[graft] def qcTrainFeats(s: SparkSession, dir: String,
                                  rounds: Int): (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val feats = qcFeatures(s, dir).localCheckpoint()
    // The weight vector iterates DRIVER-SIDE (r12, guide §1.2) — the
    // PCA-power-iteration / Lloyd convention for index-metadata-sized
    // state: 4 doubles per round ride into the scan as a typed literal
    // instead of a checkpointed 1-row frame, cutting each round from
    // (gradient job + weight-checkpoint job + two broadcasts) to ONE
    // gradient job. Every float op is unchanged — the same
    // aggregate(zip_with(...)) dot-product fold with the same doubles,
    // the same avg gradient, and the same wi − lr·gi IEEE update (now in
    // plain Scala) — so the weight trajectory the unrolled-CTE oracle
    // walks is bit-identical. Isolated sf0.1 local[32]: 2.07 → ~1.1 s.
    var w = Seq(0.0, 0.0, 0.0, 0.0)
    var losses = Seq.empty[DataFrame]
    for (r <- 1 to rounds) {
      val scored = feats
        .withColumn("z",
          aggregate(zip_with(col("x"), typedlit(w), _ * _), lit(0.0), _ + _))
        .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("z"))))
      losses = losses :+ scored.agg(
        round(avg(logLoss(col("y"), col("p"))), 6).as("loss"))
        .select(lit(r).as("round"), col("loss"))
      val g = scored
        .select(col("y"), col("p"), posexplode(col("x")).as(Seq("i", "xi")))
        .groupBy("i").agg(avg((col("p") - col("y")) * col("xi")).as("g"))
        .select(col("i").cast("int"), col("g"))
        .as[(Int, Double)].collect().sortBy(_._1).map(_._2).toSeq
      w = w.zip(g).map { case (wi, gi) => wi - qcLr * gi }
    }
    val wDf = s.range(1).select(typedlit(w).as("w"))
    (wDf, losses.reduce(_ unionByName _), feats)
  }

  /** D7/D10 (trained quality gate): a LEARNED quality classifier — the
    * WebText/GPT-3 pattern where a logistic model trained on
    * "reference corpus vs rest" replaces hand-tuned score weights
    * ([[qualityScore]] is the hand-tuned counterpart over the SAME
    * features; src0 stands in for the reference corpus, as in
    * [[LlmOps.decontaminate]]). Distributed exactly as large-scale
    * logistic GD runs: the weight vector is a single broadcast row, each
    * round is one corpus scan producing per-feature gradient partials
    * (posexplode → (feature, partial) partial-agg — the shuffle carries
    * 4 keys, never documents), and localCheckpoint truncates round
    * lineage (the k-means/CC/PageRank convention). Fixed [[qcRounds]]
    * rounds — at 100 TB every round is a corpus scan, so production
    * budgets rounds (or subsamples) up front.
    *
    * Oracle (migrated from no-oracle in round 10): the [[qcRounds]] GD
    * rounds unroll as MATERIALIZED CTEs — the `llm_embed_pca` pattern —
    * with every float expression transliterated in Spark's evaluation
    * order (the dot product's left fold, the (p−y)·xᵢ gradient average,
    * the ε-clamped log loss), so both engines walk the same weight
    * trajectory. The per-round gradient averages are the one
    * order-sensitive fold (each engine sums its own partition order);
    * after 8 rounds that drift is ~1e-12 relative against outputs
    * compared at 9 significant digits post-4dp-round — measured
    * hash-identical at sf0.01 and sf0.1. The spec separately pins the
    * engine-side invariants (monotone loss descent, separable-corpus
    * accuracy).
    */
  val qualityClassifier = Q(
    "text_quality_classifier", qcOracleSql) { (s, dir) =>
    val (w, _, feats) = qcTrainFeats(s, dir, qcRounds)
    feats.crossJoin(broadcast(w))
      .withColumn("z", aggregate(zip_with(col("x"), col("w"), _ * _), lit(0.0), _ + _))
      .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("z"))))
      .agg(
        count(lit(1)).as("n_docs"),
        (round(avg(logLoss(col("y"), col("p"))), 4) + lit(0.0)).as("log_loss"),
        (round(avg(when((col("p") >= 0.5) === (col("y") >= 0.5), 1.0)
          .otherwise(0.0)), 4) + lit(0.0)).as("train_acc"),
        (round(avg("y"), 4) + lit(0.0)).as("pos_rate"))
      // Weights dumped as four scalar columns (not array<double>): the
      // driver's dump checker sorts columns with pandas, and array cells
      // are unhashable there — same reason agg_collect_list serializes
      // via to_json. Scalars also diff cleanly round-over-round; the
      // `+ 0.0` normalizes a −0.0 round on both sides identically.
      .crossJoin(broadcast(w.select(
        (round(element_at(col("w"), 1), 4) + lit(0.0)).as("w0"),
        (round(element_at(col("w"), 2), 4) + lit(0.0)).as("w1"),
        (round(element_at(col("w"), 3), 4) + lit(0.0)).as("w2"),
        (round(element_at(col("w"), 4), 4) + lit(0.0)).as("w3"))))
  }

  /** The unrolled-CTE DuckDB twin of [[qcTrain]] + the final report: one
    * `g<r>`/`w<r>` CTE pair per GD round. Expression-order discipline:
    * the dot product is written `((x0*a0 + x1*a1) + x2*a2) + x3*a3` —
    * exactly the left fold Spark's `aggregate(zip_with(...))` evaluates
    * (the fold's `0.0 +` head is exact) — and the clamp/log-loss mirrors
    * [[logLoss]] including its ε literals.
    */
  private def qcOracleSql: String = {
    val z = "(((x0 * w.a0 + x1 * w.a1) + x2 * w.a2) + x3 * w.a3)"
    def round(r: Int): String =
      s"""g$r AS MATERIALIZED (
         |  SELECT AVG((p - y) * x0) AS g0, AVG((p - y) * x1) AS g1,
         |         AVG((p - y) * x2) AS g2, AVG((p - y) * x3) AS g3
         |  FROM (SELECT f.*, 1.0 / (1.0 + exp(-$z)) AS p
         |        FROM feats f CROSS JOIN w${r - 1} w)),
         |w$r AS MATERIALIZED (
         |  SELECT a0 - $qcLr * g0 AS a0, a1 - $qcLr * g1 AS a1,
         |         a2 - $qcLr * g2 AS a2, a3 - $qcLr * g3 AS a3
         |  FROM w${r - 1}, g$r)""".stripMargin
    val rounds = (1 to qcRounds).map(round).mkString(",\n")
    s"""WITH feats AS MATERIALIZED (
       |  SELECT doc_id,
       |    1.0 AS x0,
       |    ln(1.0 + n_tok) AS x1,
       |    stop_cnt / n_tok AS x2,
       |    nosp_len / n_tok / 10.0 AS x3,
       |    CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y
       |  FROM (
       |    SELECT doc_id, source,
       |      len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tok,
       |      CAST(len(list_filter(string_split(lower(text), ' '),
       |        x -> list_contains(['the', 'a', 'value', 'data'], x))) AS DOUBLE) AS stop_cnt,
       |      CAST(length(replace(text, ' ', '')) AS DOUBLE) AS nosp_len
       |    FROM documents)
       |  WHERE n_tok > 0),
       |w0 AS (SELECT 0.0 AS a0, 0.0 AS a1, 0.0 AS a2, 0.0 AS a3),
       |$rounds,
       |scored AS (
       |  SELECT f.y, 1.0 / (1.0 + exp(-$z)) AS p
       |  FROM feats f CROSS JOIN w$qcRounds w),
       |clamped AS (
       |  SELECT y, p, GREATEST(1e-12, LEAST(1.0 - 1e-12, p)) AS pc FROM scored)
       |SELECT COUNT(*) AS n_docs,
       |  ROUND(AVG(-(y * ln(pc) + (1.0 - y) * ln(1.0 - pc))), 4) + 0.0 AS log_loss,
       |  ROUND(AVG(CASE WHEN (p >= 0.5) = (y >= 0.5) THEN 1.0 ELSE 0.0 END), 4) + 0.0 AS train_acc,
       |  ROUND(AVG(y), 4) + 0.0 AS pos_rate,
       |  (SELECT ROUND(a0, 4) + 0.0 FROM w$qcRounds) AS w0,
       |  (SELECT ROUND(a1, 4) + 0.0 FROM w$qcRounds) AS w1,
       |  (SELECT ROUND(a2, 4) + 0.0 FROM w$qcRounds) AS w2,
       |  (SELECT ROUND(a3, 4) + 0.0 FROM w$qcRounds) AS w3
       |FROM clamped""".stripMargin
  }

  /** Canonical text normalization — the first stage of every dedup/quality
    * pipeline: lowercase, strip non-alphanumerics, collapse runs of
    * whitespace, trim. Map-only (no shuffle, fused into the scan); the
    * regexes are in the RE2 ∩ Java subset (character classes and +, no
    * backrefs/lookaround) so both engines rewrite identically — same
    * constraint as the PII scrubber. Emits before/after lengths so the
    * aggressiveness of the normalization is itself profiled.
    */
  val normalize = Q(
    "text_normalize",
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |    ' +', ' ', 'g')) AS norm_text,
      |  CAST(length(text) AS BIGINT) AS n_before,
      |  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS n_after
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.documents(s, dir)
      .select(col("doc_id"), norm.as("norm_text"),
        length(col("text")).cast("long").as("n_before"),
        length(norm).cast("long").as("n_after"))
      .orderBy("doc_id")
  }

  /** D7 (Gopher repetition suite, Rae et al. 2021 "Scaling Language Models"
    * Table A1): per-document repetition signals used as pre-training
    * filters — the fraction of characters covered by (a) the single most
    * frequent word 2-gram, (b) the most frequent 3-gram, and (c) ALL
    * duplicated 3-grams. High values mean boilerplate/spam (navigation
    * bars, keyword stuffing) and gate the doc out of the training mix.
    *
    * Distribution: tokens → n-grams explode to (doc_id, n, gram) rows, so
    * the one shuffle carries O(tokens) small keys partitioned by doc — no
    * document ever compares against another (contrast the cross-doc dedup
    * family). The top-gram pick is a (doc_id, n) window over the post-agg
    * count table (rows ≈ distinct grams per doc), and the final per-doc
    * rollup is a conditional agg over ≤2 rows per doc. At 100 TB this is
    * scan + one token-scale exchange — the same budget as TF-IDF.
    *
    * Tie-break: equal-count grams resolve to the lexicographically
    * smallest (rn orders cnt DESC, gram ASC) — pinned so both engines pick
    * the same winner. Denominator is the character length of the
    * re-joined token stream, making the fractions tokenizer-consistent.
    */
  val gopherRepetition = Q(
    "text_gopher_repetition",
    """WITH base AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
      |  FROM documents),
      |docs2 AS (
      |  SELECT doc_id, ts, len(ts) AS n_tok,
      |    CAST(length(array_to_string(ts, ' ')) AS DOUBLE) AS total_chars
      |  FROM base WHERE len(ts) >= 3),
      |grams AS (
      |  SELECT doc_id, n_tok, total_chars, n, unnest(gs) AS gram FROM (
      |    SELECT doc_id, n_tok, total_chars, 2 AS n,
      |      list_transform(range(1, CAST(n_tok AS INTEGER)),
      |        i -> array_to_string(ts[i:i+1], ' ')) AS gs
      |    FROM docs2
      |    UNION ALL
      |    SELECT doc_id, n_tok, total_chars, 3,
      |      list_transform(range(1, CAST(n_tok AS INTEGER) - 1),
      |        i -> array_to_string(ts[i:i+2], ' '))
      |    FROM docs2) t),
      |counts AS (
      |  SELECT doc_id, n_tok, total_chars, n, gram, COUNT(*) AS cnt
      |  FROM grams GROUP BY 1, 2, 3, 4, 5),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, gram) AS rn
      |  FROM counts),
      |per_n AS (
      |  SELECT doc_id, n_tok, total_chars, n,
      |    SUM(CASE WHEN rn = 1 THEN cnt * length(gram) ELSE 0 END) AS top_chars,
      |    SUM(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup_chars
      |  FROM ranked GROUP BY 1, 2, 3, 4)
      |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
      |  ROUND(CAST(MAX(CASE WHEN n = 2 THEN top_chars END) AS DOUBLE) / total_chars, 4) AS top2_frac,
      |  ROUND(CAST(MAX(CASE WHEN n = 3 THEN top_chars END) AS DOUBLE) / total_chars, 4) AS top3_frac,
      |  ROUND(CAST(MAX(CASE WHEN n = 3 THEN dup_chars END) AS DOUBLE) / total_chars, 4) AS dup3_frac
      |FROM per_n GROUP BY doc_id, n_tok, total_chars
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      // MaterializeOnce (r12, guide §4.4): the pushed size(ts) >= 3 filter
      // otherwise inlines the split+filter token build into the scan
      // predicate (before-plan Filter(2)), tokenizing every row twice
      .select(col("doc_id"), graft.functions.MaterializeOnce(Words.tokens).as("ts"))
      .filter(size(col("ts")) >= 3)
      // ONE corpus-sized exchange up front: doc_id partitioning satisfies
      // every downstream requirement (the (doc,n,gram) count, the (doc,n)
      // window, the per-doc rollup are all doc_id-clustered), so gram rows
      // never shuffle — without this the plan moved the gram stream through
      // THREE exchanges, and per-doc-mostly-distinct grams make map-side
      // partial aggregation worthless anyway (measured 31.1 → 5.4 s at the
      // ×10 soak)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tok"),
        length(concat_ws(" ", col("ts"))).cast("double").as("total_chars"),
        explode(concat(
          transform(Words.grams(2), g => struct(lit(2).as("n"), g.as("gram"))),
          transform(Words.grams(3), g => struct(lit(3).as("n"), g.as("gram"))))).as("g"))
      .select(col("doc_id"), col("n_tok"), col("total_chars"),
        col("g.n").as("n"), col("g.gram").as("gram"))
    val counts = base.groupBy("doc_id", "n_tok", "total_chars", "n", "gram")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("doc_id", "n").orderBy(col("cnt").desc, col("gram").asc)
    val perN = counts
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id", "n_tok", "total_chars", "n")
      .agg(
        sum(when(col("rn") === 1, col("cnt") * length(col("gram"))).otherwise(0L)).as("top_chars"),
        sum(when(col("cnt") >= 2, col("cnt") * length(col("gram"))).otherwise(0L)).as("dup_chars"))
    perN.groupBy("doc_id", "n_tok", "total_chars")
      .agg(
        round(max(when(col("n") === 2, col("top_chars"))).cast("double") / col("total_chars"), 4).as("top2_frac"),
        round(max(when(col("n") === 3, col("top_chars"))).cast("double") / col("total_chars"), 4).as("top3_frac"),
        round(max(when(col("n") === 3, col("dup_chars"))).cast("double") / col("total_chars"), 4).as("dup3_frac"))
      .select("doc_id", "n_tok", "top2_frac", "top3_frac", "dup3_frac")
      .orderBy("doc_id")
  }

  /** D7/D10 (Gopher document-level rules, Rae et al. 2021 Table A1): the
    * hand-written keep/drop gates applied BEFORE any learned quality
    * model — word-count bounds, mean-word-length bounds, a minimum
    * stop-word hit count, and a repetition ceiling (duplicate-trigram
    * fraction, the map-side twin of [[repetition]]). Emits the raw
    * signals, each rule's verdict, and the conjunction, so the filter
    * funnel is auditable per document (which rule killed this doc?).
    *
    * Entirely map-side: every signal — including the trigram repetition
    * fraction, computed with higher-order array functions on the row —
    * needs no shuffle, so the whole gate fuses into the parquet scan.
    * That is the production property that matters at 100 TB: quality
    * gating is a streaming pass, not a job. (The ORDER BY is the dump
    * contract, not part of the operator.)
    */
  val gopherDocFilter = Q(
    "text_gopher_docfilter",
    """SELECT doc_id, n_tok, ROUND(mean_tok_len, 4) AS mean_tok_len, stop_hits,
      |  ROUND(tri_rep, 4) AS tri_rep,
      |  pass_len, pass_wordlen, pass_stop, pass_rep,
      |  (pass_len AND pass_wordlen AND pass_stop AND pass_rep) AS keep
      |FROM (
      |  SELECT doc_id, n_tok, mean_tok_len, stop_hits, tri_rep,
      |    (n_tok >= 10 AND n_tok <= 1000) AS pass_len,
      |    (mean_tok_len >= 2.0 AND mean_tok_len <= 10.0) AS pass_wordlen,
      |    (stop_hits >= 2) AS pass_stop,
      |    (tri_rep <= 0.2) AS pass_rep
      |  FROM (
      |    SELECT doc_id,
      |      CAST(len(ts) AS BIGINT) AS n_tok,
      |      CASE WHEN len(ts) > 0
      |        THEN CAST(length(array_to_string(ts, '')) AS DOUBLE) / len(ts)
      |        ELSE 0.0 END AS mean_tok_len,
      |      CAST(len(list_filter(ts, t -> t IN ('the', 'a', 'value', 'data'))) AS BIGINT) AS stop_hits,
      |      CASE WHEN len(ts) >= 3 THEN
      |        1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris)
      |      ELSE 0.0 END AS tri_rep
      |    FROM (
      |      SELECT doc_id, ts,
      |        list_transform(range(1, CAST(len(ts) AS INTEGER) - 1),
      |          i -> array_to_string(ts[i:i+2], ' ')) AS tris
      |      FROM (
      |        SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
      |        FROM documents) t0) t1) t2) t3
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // No row is ever dropped: a ZERO-token doc must still surface with
    // keep=false (a filter consumer that anti-joins on keep=false would
    // otherwise silently retain exactly the doc most deserving of
    // rejection), so the mean guards the 0/0 instead of a WHERE guard
    // excluding the row.
    val triRep = when(size(col("ts")) >= 3,
      lit(1.0) - size(array_distinct(col("tris"))).cast("double") / size(col("tris")))
      .otherwise(lit(0.0))
    val signals = Tables.documents(s, dir)
      .select(col("doc_id"), Words.tokens.as("ts"))
      .select(col("doc_id"), col("ts"), Words.grams(3).as("tris"))
      .select(
        col("doc_id"),
        size(col("ts")).cast("long").as("n_tok"),
        when(size(col("ts")) > 0,
          length(concat_ws("", col("ts"))).cast("double") / size(col("ts")))
          .otherwise(lit(0.0)).as("mean_tok_len"),
        size(filter(col("ts"), t => t.isin("the", "a", "value", "data"))).cast("long").as("stop_hits"),
        triRep.as("tri_rep"))
    signals
      .select(col("doc_id"), col("n_tok"), col("mean_tok_len"), col("stop_hits"), col("tri_rep"),
        (col("n_tok") >= 10 && col("n_tok") <= 1000).as("pass_len"),
        (col("mean_tok_len") >= 2.0 && col("mean_tok_len") <= 10.0).as("pass_wordlen"),
        (col("stop_hits") >= 2).as("pass_stop"),
        (col("tri_rep") <= 0.2).as("pass_rep"))
      .select(col("doc_id"), col("n_tok"), round(col("mean_tok_len"), 4).as("mean_tok_len"),
        col("stop_hits"), round(col("tri_rep"), 4).as("tri_rep"),
        col("pass_len"), col("pass_wordlen"), col("pass_stop"), col("pass_rep"),
        (col("pass_len") && col("pass_wordlen") && col("pass_stop") && col("pass_rep")).as("keep"))
      .orderBy("doc_id")
  }

  /** Expected chunk length for [[cdcChunks]]: a token is a chunk boundary
    * when its hash ≡ 0 (mod this). */
  private val cdcMod = 8

  /** Content-defined chunking (the Rabin/LBFS/storage-dedup idea, applied
    * to text): chunk boundaries are declared where a TOKEN's hash hits a
    * modulus target, so boundaries are a function of local content, not
    * byte offsets — an insertion early in a document shifts every
    * fixed-width block but re-synchronizes CDC chunks within ~one chunk.
    * Duplicate detection then reduces to exact digest matching on chunks:
    * per document, the fraction of its chunks whose digest also appears
    * in ANOTHER document is the storage-style dup profile (the
    * span-granular complement of [[LlmOps]]' doc-level digest dedup, and
    * cheaper than shingle joins: each token contributes to exactly ONE
    * chunk, so the postings side is |tokens|/avg_chunk rows, df-cap-free).
    *
    * Distribution: one doc_id exchange orders tokens for the running
    * boundary count (window sum), chunks partial-agg on (doc_id, chunk);
    * the digest df table is digest-keyed and joins back unhinted (chunk
    * vocabulary scales with the corpus — must not broadcast). Token hash
    * = first-8-md5-hex, the proven cross-engine conversion ([[winnowFps]]).
    */
  val cdcChunks = Q(
    "text_cdc_chunks",
    s"""WITH toks AS (
       |  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, CAST(len(ts) AS INTEGER) + 1),
       |      i -> struct_pack(pos := i, tok := ts[i]))) AS u
       |    FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
       |          FROM documents) t0) t1),
       |flagged AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN ('0x' || substr(md5(tok), 1, 8))::BIGINT % $cdcMod = 0
       |         THEN 1 ELSE 0 END AS boundary
       |  FROM toks),
       |numbered AS (
       |  SELECT doc_id, pos, tok,
       |    SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
       |  FROM flagged),
       |chunks AS (
       |  SELECT doc_id, chunk_id,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS digest,
       |    COUNT(*) AS n_tok
       |  FROM numbered GROUP BY doc_id, chunk_id),
       |df AS (
       |  SELECT digest, COUNT(DISTINCT doc_id) AS n_docs
       |  FROM chunks GROUP BY digest)
       |SELECT c.doc_id,
       |  COUNT(*) AS n_chunks,
       |  ROUND(AVG(CAST(c.n_tok AS DOUBLE)), 4) AS avg_chunk_tok,
       |  CAST(SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       |  ROUND(CAST(SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 4) AS dup_frac
       |FROM chunks c JOIN df ON c.digest = df.digest
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
    val tokRows = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(Words.tokens).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"),
        when(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % cdcMod === 0, 1)
          .otherwise(0).as("boundary"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chunks = tokRows
      .withColumn("chunk_id", sum("boundary").over(w))
      .groupBy("doc_id", "chunk_id")
      .agg(
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok")), " ")).as("digest"),
        count(lit(1)).as("n_tok"))
    val df = chunks.groupBy("digest").agg(countDistinct("doc_id").as("n_docs"))
    chunks.join(df, "digest") // unhinted: digest table scales with the corpus
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        round(avg(col("n_tok").cast("double")), 4).as("avg_chunk_tok"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("dup_chunks"),
        round(sum(when(col("n_docs") >= 2, 1.0).otherwise(0.0)) / count(lit(1)), 4)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(
    langProfile, langId, qualityScore, tokenCount, fingerprint,
    winnowFingerprints, winnowPairs, simhash,
    simhashPairs, zipfRanks, repetition, piiScrub, boilerplateNgrams,
    levenshteinPairs, tokenEntropy, unigramLogprob, bigramLogprob, normalize,
    bpeMerges, bpeApply, qualityClassifier, gopherRepetition, gopherDocFilter,
    cdcChunks)
}
