package graft

import graft.engine.{Search, TermQuery}
import org.apache.spark.sql.DataFrame

/** The term-query core answers the same on its two sources: every
  * registered store-served search equals its raw-scan twin row for row,
  * and caller-supplied terms normalize the same way on both.
  */
class SearchSpec extends SparkSpecBase {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  /** Each store-served search and its raw-scan twin (one shared oracle). */
  private val twins = Seq(
    "log_indexed_search" -> "log_inverted_search",
    "log_indexed_phrase" -> "log_phrase_search",
    "log_indexed_search_ranked" -> "log_search_ranked",
    "log_boolean_search_indexed" -> "log_boolean_search",
    "log_search_facets_indexed" -> "log_search_facets")

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"every store-served search equals its raw-scan twin at $sf") {
      val dir = s"${new java.io.File(sfDir).getParent}/$sf"
      for ((served, raw) <- twins) {
        val want = rows(SparkEntry.queries(raw)(spark, dir))
        assert(want.nonEmpty, s"$raw is empty at $sf")
        assert(rows(SparkEntry.queries(served)(spark, dir)) === want, s"$served vs $raw at $sf")
      }
    }

  test("mixed-case and repeated terms answer as their lower-case query on both sources") {
    val sources = Seq(Search.raw(spark, sfDir), Search.store(spark, sfDir))
    def same(kind: String, given: Search.Source => DataFrame,
             lower: Search.Source => DataFrame, nonEmpty: Boolean): Unit = {
      val answers = sources.map(src => (rows(given(src)).sorted, rows(lower(src)).sorted))
      answers.foreach { case (g, l) => assert(g === l, s"$kind: given vs lower-case terms") }
      assert(answers.map(_._1).distinct.size == 1, s"$kind: raw vs store")
      if (nonEmpty) assert(answers.head._1.nonEmpty, s"$kind: no rows")
    }
    val given = Seq("Spark", "JOIN", "join", "window")
    val lower = Seq("spark", "join", "window")
    same("conjunctive", Search.matches(_, TermQuery(given)),
      Search.matches(_, TermQuery(lower)), nonEmpty = true)
    same("boolean", Search.matches(_, TermQuery(given.take(1), given.drop(1), Seq("Shuffle"))),
      Search.matches(_, TermQuery(lower.take(1), lower.drop(1), Seq("shuffle"))), nonEmpty = true)
    // a phrase keeps order and repetition: only the case folds
    same("phrase", Search.phrase(_, given), Search.phrase(_, given.map(_.toLowerCase)),
      nonEmpty = false)
    same("two-word phrase", Search.phrase(_, Seq("Hash", "JOIN")),
      Search.phrase(_, Seq("hash", "join")), nonEmpty = true)
  }
}
