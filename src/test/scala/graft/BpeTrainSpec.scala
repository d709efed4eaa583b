package graft

import graft.engine.{Tables, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The BPE trainer (one corpus job, merge rounds on the driver) against its
  * Spark formulation, kept here as the reference: per round, the pair
  * scores as a groupBy, the argmax as `ORDER BY score DESC, a, b LIMIT 1`,
  * and the merge pass as an `aggregate` fold behind a left join, so an
  * exhausted round keeps the vocabulary. Merges and the final vocabulary
  * must be equal on the fixture corpora and on fixtures for the argmax's
  * string order and for exhaustion.
  */
class BpeTrainSpec extends SparkSpecBase {
  import spark.implicits._

  /** The reference trainer: (merges, final vocabulary). */
  private def refTrain(s: SparkSession, dir: String, rounds: Int): (DataFrame, DataFrame) = {
    val toks = Tables.documents(s, dir)
      .select(explode(filter(split(lower(col("text")), " "), t => t =!= "")).as("tok"))
    var vocab = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(col("tok"), col("freq"),
        transform(sequence(lit(1), length(col("tok"))),
          i => col("tok").substr(i, lit(1))).as("syms"))
      .localCheckpoint()
    var bests = Seq.empty[DataFrame]
    for (r <- 1 to rounds) {
      val best = vocab
        .select(col("freq"), col("syms"), posexplode(col("syms")).as(Seq("i", "a")))
        .filter(col("i") < size(col("syms")) - 1)
        .select(col("freq"), col("a"), element_at(col("syms"), col("i") + 2).as("b"))
        .groupBy("a", "b").agg(sum("freq").as("score"))
        .orderBy(col("score").desc, col("a").asc, col("b").asc)
        .limit(1)
        .select(col("a").as("ma"), col("b").as("mb"), col("score"))
        .localCheckpoint()
      bests = bests :+ best.select(lit(r).as("rank"), col("ma").as("sym_a"),
        col("mb").as("sym_b"), concat(col("ma"), col("mb")).as("new_sym"), col("score"))
      val z = struct(array().cast("array<string>").as("out"),
        lit(null).cast("string").as("p"))
      val step = (acc: Column, sym: Column) => {
        val out = acc.getField("out")
        val p = acc.getField("p")
        when(p.isNull, struct(out.as("out"), sym.as("p")))
          .when(p === col("ma") && sym === col("mb"),
            struct(concat(out, array(concat(col("ma"), col("mb")))).as("out"),
              lit(null).cast("string").as("p")))
          .otherwise(struct(concat(out, array(p)).as("out"), sym.as("p")))
      }
      val fin = (acc: Column) =>
        when(acc.getField("p").isNull, acc.getField("out"))
          .otherwise(concat(acc.getField("out"), array(acc.getField("p"))))
      vocab = vocab.join(broadcast(best), lit(true), "left")
        .withColumn("syms",
          when(col("ma").isNull, col("syms"))
            .otherwise(aggregate(col("syms"), z, step, fin)))
        .select("tok", "freq", "syms")
        .localCheckpoint()
    }
    (bests.reduce(_ unionByName _), vocab)
  }

  private def assertSameTraining(dir: String): Seq[(Int, String, String, String, Long)] = {
    val (wantM, wantV) = refTrain(spark, dir, TextOps.bpeRounds)
    val (gotM, gotV) = TextOps.bpeTrain(spark, dir, TextOps.bpeRounds)
    def merges(df: DataFrame) = df.orderBy("rank")
      .select("rank", "sym_a", "sym_b", "new_sym", "score")
      .as[(Int, String, String, String, Long)].collect().toSeq
    def vocab(df: DataFrame) = df.select("tok", "freq", "syms")
      .as[(String, Long, Seq[String])].collect().sortBy(_._1).toSeq
    val got = merges(gotM)
    assert(got === merges(wantM), s"$dir: merges differ from the reference")
    assert(vocab(gotV) === vocab(wantV), s"$dir: vocabulary differs from the reference")
    assert(gotM.schema.map(_.dataType) === wantM.schema.map(_.dataType))
    assert(gotV.schema.map(_.dataType) === wantV.schema.map(_.dataType))
    got
  }

  private def docsDir(texts: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t, "xx", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"bpe training: merges and vocabulary equal the Spark reference at $sf") {
      assert(assertSameTraining(s"${new java.io.File(sfDir).getParent}/$sf").length === TextOps.bpeRounds)
    }

  test("bpe training: tied pair scores rank in Spark's UTF-8 order, not String.compareTo") {
    // (U+1F600, x) and (U+FF41, x) tie on score 2. As UTF-16 (String.compareTo)
    // U+1F600's high surrogate D83D sorts before FF41; as UTF-8 its lead
    // byte F0 sorts after EF, so Spark merges (U+FF41, x) first.
    val (smile, fullA) = ("\uD83D\uDE00", "\uFF41")
    assert(smile.compareTo(fullA) < 0)
    val dir = docsDir(Seq(s"${smile}x ${fullA}x", s"${fullA}x ${smile}x"))
    val got = assertSameTraining(dir)
    assert(got.take(2).map(m => (m._2, m._3)) === Seq((fullA, "x"), (smile, "x")))
  }

  test("bpe training: exhausted rounds learn nothing and keep the vocabulary") {
    val got = assertSameTraining(docsDir(Seq("ab ab ab", "c")))
    assert(got.map(m => (m._1, m._2, m._3)) === Seq((1, "a", "b")))
  }
}
