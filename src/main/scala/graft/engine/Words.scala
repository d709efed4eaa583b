package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The word layer under the text, dedup and search families: one
  * tokenizer pair over the `text` column, one word-n-gram generator over a
  * projected token column `ts`, and one gram document-frequency relation.
  * Each spelling matches its oracle twin: `string_split(lower(text), ' ')`,
  * `list_filter(…, t -> t <> '')` and `array_to_string(ts[i:i+n-1], ' ')`.
  */
object Words {

  /** `split(lower(text), ' ')`: the raw tokens, with the empty ones that
    * leading, trailing and repeated spaces leave.
    */
  def raw: Column = split(lower(col("text")), " ")

  /** The non-empty tokens of `text`. This is also the posting store's
    * tokenization: build and refresh share it, so an appended document
    * can never tokenize differently from the original corpus pass.
    */
  def tokens: Column = filter(raw, t => t =!= "")

  /** The word n-grams of the token array `ts`, in order, each its tokens
    * joined by one space. `ts` must be a projected column, not an inlined
    * tokenizer: the lambda reads it once per gram position, and an inlined
    * `split` tree would re-tokenize the text per position, O(len²) per
    * doc. (As a multiply-referenced non-cheap alias, CollapseProject keeps
    * `ts` a real column.) A doc shorter than n has no grams; the guard is
    * needed because `sequence(1, size − n + 1)` counts down when the doc is
    * shorter than n − 1 and yields [1, 0] at n − 1.
    */
  def grams(n: Int): Column = transform(starts(n), i => gram(i, n))

  /** [[grams]] with positions: structs `(p, gram)`, p the 1-based index of
    * the gram's first token.
    */
  def posGrams(n: Int): Column =
    transform(starts(n), i => struct(i.as("p"), gram(i, n).as("gram")))

  private def starts(n: Int): Column =
    when(size(col("ts")) >= n, sequence(lit(1), size(col("ts")) - (n - 1)))
      .otherwise(array().cast("array<int>"))

  private def gram(i: Column, n: Int): Column =
    concat_ws(" ", (0 until n).map(k => element_at(col("ts"), i + k)): _*)

  /** The gram document-frequency relation over gram rows `(doc_id, gram,
    * …)`, one row per occurrence: one row per distinct (doc_id, gram) with
    * `n_occ`, the gram's occurrences in the doc, and `df`, the number of
    * docs holding it. The df is the row count of the gram's partition of
    * the pre-aggregated (doc, gram) rows — one window pass, with no df
    * census table and no join back to the grams. It joins no pair of
    * documents, so it needs no df cap: a gram every doc shares costs rows
    * linear in corpus size.
    */
  def gramDf(grams: DataFrame): DataFrame =
    grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("n_occ"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("gram")))
}
