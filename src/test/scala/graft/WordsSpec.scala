package graft

import graft.engine.{Tables, Words}
import org.apache.spark.sql.functions._

/** The shared word layer: the n-gram generator's guard and positions, its
  * agreement with the per-query lambda it replaced, and the gram-df
  * relation's counts.
  */
class WordsSpec extends SparkSpecBase {
  import spark.implicits._

  test("n-gram generator: docs of 0, n-1, n, n+2 tokens give 0, 0, 1, 3 grams, 1-based") {
    for (n <- Seq(2, 3, 5, 8)) {
      val docs = Seq(0, n - 1, n, n + 2).map(k => (k, (1 to k).map(i => s"w$i").toArray))
        .toDF("k", "ts")
      val got = docs.select(col("k"), Words.grams(n).as("g"), Words.posGrams(n).as("pg"))
        .as[(Int, Seq[String], Seq[(Int, String)])].collect().map(r => r._1 -> r).toMap
      for ((k, want) <- Seq(0 -> 0, n - 1 -> 0, n -> 1, n + 2 -> 3)) {
        val (_, g, pg) = got(k)
        val expect = (1 to want).map(p => (p until p + n).map(i => s"w$i").mkString(" "))
        assert(g === expect, s"n=$n k=$k")
        assert(pg === expect.zipWithIndex.map { case (s, i) => (i + 1, s) }, s"n=$n k=$k")
      }
    }
  }

  test("n-gram generator equals the hand-spelled lambda over the sf0.001 documents") {
    // the spelling the generator replaced: a row filter as the guard, then
    // an unguarded sequence of start positions
    def lambda(n: Int) = transform(sequence(lit(1), size(col("ts")) - (n - 1)),
      i => concat_ws(" ", slice(col("ts"), i, lit(n))))
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), Words.tokens.as("ts"))
    for (n <- Seq(2, 3, 5, 8)) {
      val want = docs.filter(size(col("ts")) >= n)
        .select(col("doc_id"), posexplode(lambda(n)).as(Seq("p0", "gram")))
        .select(col("doc_id"), (col("p0") + 1).as("p"), col("gram"))
      val got = docs.select(col("doc_id"), explode(Words.posGrams(n)).as("u"))
        .select(col("doc_id"), col("u.p"), col("u.gram"))
      assert(want.count() > 0, s"n=$n")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"n=$n")
    }
  }

  test("gram-df relation: per (doc, gram) occurrence count and document frequency") {
    val grams = Seq((1L, "x"), (1L, "x"), (1L, "y"), (2L, "x"), (3L, "z")).toDF("doc_id", "gram")
    val got = Words.gramDf(grams).as[(Long, String, Long, Long)].collect().toSet
    assert(got === Set((1L, "x", 2L, 2L), (1L, "y", 1L, 1L), (2L, "x", 1L, 2L), (3L, "z", 1L, 1L)))
  }
}
