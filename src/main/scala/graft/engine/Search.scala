package graft.engine

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One term query: the documents holding every `must` term, at least one
  * `should` term (when any are given) and no `mustNot` term. Terms are
  * lower-cased and de-duplicated here, once, to the store's tokenization:
  * a verbatim "Spark" would otherwise miss the token `spark` on either
  * source (and hash into the wrong posting bucket on the store).
  */
final class TermQuery private (val must: Seq[String], val should: Seq[String],
                               val mustNot: Seq[String]) {
  /** Every term the query reads, each once. */
  def terms: Seq[String] = (must ++ should ++ mustNot).distinct

  /** The terms whose tf the answer reports: the positive ones. */
  def shown: Seq[String] = (must ++ should).distinct
}

object TermQuery {
  def apply(must: Seq[String], should: Seq[String] = Nil,
            mustNot: Seq[String] = Nil): TermQuery = {
    // a query of negations alone matches documents with no posting row,
    // which a posting store cannot list
    require(must.nonEmpty || should.nonEmpty, "a term query needs a must or a should term")
    def norm(ts: Seq[String]) = ts.map(_.toLowerCase(Locale.ROOT)).distinct
    new TermQuery(norm(must), norm(should), norm(mustNot))
  }
}

/** The term-query core of the search family: every search query runs as
  * one call here over one of two sources, so the raw-scan query and its
  * store-served `_indexed` twin share the tf pivot, the must/should/must-not
  * predicate, the facet rollup, the BM25 score and the phrase adjacency
  * join, and differ only in where the term rows come from.
  *
  *  - [[Raw]]: the corpus itself, through the map-side per-document lens —
  *    `tf_<t>` is `size(filter(ts, _ === t))` over the store's one
  *    tokenization, so finding hits needs no explode and no shuffle.
  *  - [[Store]]: a standing posting store ([[graft.sources.Sinks.writePostings]]),
  *    read through ONE resolved snapshot: the query terms' pruned
  *    `tok_bucket` partitions, pivoted to `(doc_id, tf_<t>…)` in a single
  *    aggregation, its docstats when `dl`, `lang` or `source` is needed,
  *    and its `(n, avgdl)`. The corpus text is never read.
  *
  * Both sources answer identically (StorageLayoutSpec and SearchSpec prove
  * it per query kind); the registered twins share one oracle each.
  */
object Search {
  /** Where a term query reads its terms. */
  sealed trait Source

  /** The raw `documents` corpus: every document, tokenized per query. */
  final case class Raw(docs: DataFrame) extends Source

  /** The posting store at `path`. */
  final case class Store(spark: SparkSession, path: String) extends Source

  def raw(s: SparkSession, dir: String): Source = Raw(Tables.documents(s, dir))

  def store(s: SparkSession, dir: String): Source =
    Store(s, graft.sources.Stores.postingStore(s, dir))

  /** The BM25 constants (Robertson/Lucene defaults). */
  private val K1 = 1.2
  private val B = 0.75

  private def tf(t: String): Column = col(s"`tf_$t`")

  /** One row per document with `tf_<t>` (long) for each of `terms` and the
    * requested document columns among `dl`, `lang` and `source`. The raw
    * side keeps every document; the store side keeps the documents with a
    * posting row among `terms`, which every hit of a [[TermQuery]] has.
    */
  private def perDoc(src: Source, terms: Seq[String], docCols: Seq[String]): DataFrame =
    src match {
      case Raw(docs) =>
        val cols = docCols.map(c => if (c == "dl") size(col("ts")).as("dl") else col(c))
        val tfs = terms.map(t => size(filter(col("ts"), _ === t)).cast("long").as(s"tf_$t"))
        // MaterializeOnce: the pushed hit filter would otherwise re-tokenize
        // the row once per term it tests
        docs.withColumn("ts", graft.functions.MaterializeOnce(graft.sources.Sinks.postingToks))
          .select(col("doc_id") +: (cols ++ tfs): _*)
      case Store(spark, path) =>
        val rows = graft.sources.Sinks.termRows(spark, path, terms)
        val tfs = terms.map(t => count(when(col("tok") === t, 1)).as(s"tf_$t"))
        val pivot = rows.rows.groupBy("doc_id").agg(tfs.head, tfs.tail: _*)
        if (docCols.isEmpty) pivot
        else pivot.join(rows.docstats().select(("doc_id" +: docCols).map(col): _*), "doc_id")
    }

  /** The query's predicate over the tf columns: every must term present,
    * any should term present (when there are should terms), every must-not
    * term absent.
    */
  private def hit(q: TermQuery): Column =
    (q.must.map(tf(_) > 0) ++ q.should.map(tf(_) > 0).reduceOption(_ || _) ++
      q.mustNot.map(tf(_) === 0)).reduce(_ && _)

  /** The matching documents as `(doc_id, tf_<t>…)` over the query's
    * positive terms, unordered.
    */
  def matches(src: Source, q: TermQuery): DataFrame =
    perDoc(src, q.terms, Nil).filter(hit(q))
      .select(col("doc_id") +: q.shown.map(tf): _*)

  /** Hit counts per `lang` and per `source` value, `(facet, value, n_docs)`
    * ordered by facet and value: each hit emits its two (facet, value)
    * structs in-row and ONE aggregation rolls both dimensions up.
    */
  def facets(src: Source, q: TermQuery): DataFrame =
    perDoc(src, q.terms, Seq("lang", "source")).filter(hit(q))
      .select(explode(array(
        struct(lit("lang").as("facet"), col("lang").as("value")),
        struct(lit("source").as("facet"), col("source").as("value")))).as("f"))
      .groupBy(col("f.facet").as("facet"), col("f.value").as("value"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("facet", "value")

  /** One term's BM25 contribution, idf = ln(1 + (n − df + 0.5)/(df + 0.5)). */
  private def bm25Term(tf: Column, df: Column, dl: Column, n: Column, avgdl: Column): Column = {
    val idf = log(lit(1.0) + (n - df + 0.5) / (df + 0.5))
    idf * (tf.cast("double") * (K1 + 1)) / (tf + lit(K1) * (lit(1 - B) + lit(B) * dl / avgdl))
  }

  /** BM25 top-`k` of the disjunction of the query's should terms,
    * `(doc_id, bm25)` with the score rounded to 4 dp and ranked on
    * `bm25 DESC, doc_id`, so the cut is deterministic across engines.
    *
    * Raw: dl and every tf come map-side from the one scan; `(n, avgdl,
    * df_<t>)` is ONE single-row aggregate cross-joined back as a broadcast.
    * Store: tfs as (doc, tok) rows of the pruned buckets, the `|terms|`-row
    * df relation broadcast-hash-joined on `tok`, dl from docstats and
    * `(n, avgdl)` from the same snapshot's meta; the score is the sum of
    * the per-(doc, tok) contributions.
    */
  def bm25(src: Source, q: TermQuery, k: Int): DataFrame = {
    require(q.must.isEmpty && q.mustNot.isEmpty, "BM25 ranks should terms only")
    val scored = src match {
      case r: Raw =>
        val base = perDoc(r, q.terms, Seq("dl"))
        val stats = count(lit(1)).as("n") +: avg("dl").as("avgdl") +:
          q.terms.map(t => sum(when(tf(t) > 0, 1).otherwise(0)).as(s"df_$t"))
        base.crossJoin(broadcast(base.agg(stats.head, stats.tail: _*)))
          .filter(hit(q))
          .select(col("doc_id"), round(q.terms.map(t =>
            bm25Term(tf(t), col(s"`df_$t`"), col("dl"), col("n"), col("avgdl"))).reduce(_ + _), 4)
            .as("bm25"))
      case Store(spark, path) =>
        val rows = graft.sources.Sinks.termRows(spark, path, q.terms)
        require(rows.nDocs > 0, s"posting store at $path is empty")
        val tfs = rows.rows.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfs = tfs.groupBy("tok").agg(count(lit(1)).as("df"))
        tfs.join(broadcast(dfs), "tok")
          .join(rows.docstats(), "doc_id")
          .groupBy("doc_id")
          .agg(round(sum(bm25Term(col("tf"), col("df"), col("dl"),
            lit(rows.nDocs.toDouble), lit(rows.avgdl))), 4).as("bm25"))
    }
    scored.orderBy(col("bm25").desc, col("doc_id")).limit(k)
  }

  /** Positional term rows `(doc_id, pos, tok)` of `terms`, pos 0-based: the
    * raw side posexplodes the store's tokenization exactly as the store's
    * writer does; the store side reads the pruned rows.
    */
  def positions(src: Source, terms: Seq[String]): DataFrame = src match {
    case Raw(docs) => graft.sources.Sinks.positionRows(docs).filter(col("tok").isin(terms: _*))
    case Store(spark, path) => graft.sources.Sinks.termRows(spark, path, terms).rows
  }

  /** Exact phrase search: `(doc_id, n_matches)` per document holding
    * `words` at consecutive positions, unordered. Each word keeps its
    * positional rows and the adjacency join matches word i at (doc_id,
    * start + i) on exact keys, so non-matching documents never pair. The
    * words are lower-cased but not de-duplicated: order and repetition
    * are the phrase.
    */
  def phrase(src: Source, words: Seq[String]): DataFrame = {
    require(words.nonEmpty, "a phrase needs a word")
    val ws = words.map(_.toLowerCase(Locale.ROOT))
    val rows = positions(src, ws.distinct)
    def side(i: Int) = rows.filter(col("tok") === ws(i))
      .select(col("doc_id").as(s"d$i"), (if (i == 0) col("pos") else col("pos") - i).as(s"s$i"))
    ws.indices.tail.foldLeft(side(0))((acc, i) =>
      acc.join(side(i), col("d0") === col(s"d$i") && col("s0") === col(s"s$i")))
      .groupBy(col("d0").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
  }
}
