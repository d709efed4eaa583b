package graft

import graft.functions.vectors
import org.apache.spark.sql.functions._

/** Correctness of the codegen'd vector kernels against both hand-computed
  * values and the (slow) higher-order-function formulation they replace.
  */
class VectorExprsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
    (2L, Array(1.0f, 2.0f, 2.0f), Array(2.0f, 4.0f, 4.0f)),
    (3L, Array(3.0f, 4.0f, 0.0f), Array(3.0f, 4.0f, 0.0f))
  ).toDF("id", "a", "b")

  test("cosine: orthogonal → 0, parallel → 1, self → 1") {
    val got = df.select(col("id"), round(vectors.cosineSim(col("a"), col("b")), 9).as("c"))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) === 0.0)
    assert(got(2L) === 1.0)
    assert(got(3L) === 1.0)
  }

  test("dot and l2norm match hand-computed values") {
    val got = df.select(
      col("id"),
      vectors.dotProduct(col("a"), col("b")).as("d"),
      vectors.l2Norm(col("a")).as("n")).as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1 === 0.0 && got(1L)._2 === 1.0)
    assert(got(2L)._1 === (2.0 + 8.0 + 8.0) && got(2L)._2 === 3.0)
    assert(got(3L)._1 === (9.0 + 16.0) && got(3L)._2 === 5.0)
  }

  test("kernels agree with the zip_with/aggregate HOF formulation on real embeddings") {
    val e = graft.engine.Tables.embeddings(spark, sfDir).limit(50)
    val hof = expr(
      """aggregate(zip_with(embedding, embedding,
        |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)""".stripMargin)
    val diff = e.select(
        abs(vectors.dotProduct(col("embedding"), col("embedding")) - hof).as("d"))
      .agg(max("d")).as[Double].head()
    assert(diff < 1e-12)
  }

  test("normalize equals the transform lambda it replaces, bit for bit, nulls included") {
    val norm = vectors.l2Norm(col("v"))
    val v = graft.engine.Tables.embeddings(spark, sfDir).limit(50)
      .select(col("embedding").as("v"))
      .union(Seq(Seq[java.lang.Float](3.0f, null, 4.0f)).toDF("v"))
    val both = v.select(vectors.normalize(col("v")).as("k"),
      transform(col("v"), x => x.cast("double") / norm).as("h"))
    for (codegen <- Seq(true, false)) withCodegen(codegen) {
      val rows = both.as[(Seq[java.lang.Double], Seq[java.lang.Double])].collect()
      assert(rows.length === 51)
      rows.foreach { case (k, h) => assert(k === h, s"codegen=$codegen: $k vs $h") }
      assert(rows.exists(_._1.contains(null)), s"codegen=$codegen: the null element was lost")
    }
  }

  /** Runs `body` with generated code on, or with every expression interpreted. */
  private def withCodegen(on: Boolean)(body: => Unit): Unit = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> on.toString,
      "spark.sql.codegen.factoryMode" -> (if (on) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("srp bucket: deterministic, within bit range, seed-sensitive") {
    val e = graft.engine.Tables.embeddings(spark, sfDir)
    val b = e.select(
      vectors.srpBucket(col("embedding"), 6, 0L).as("b0"),
      vectors.srpBucket(col("embedding"), 6, 42L).as("b1"))
    val rows = b.collect()
    assert(rows.forall { r => val v = r.getLong(0); v >= 0 && v < 64 })
    val again = b.collect()
    assert(rows.map(_.getLong(0)).toSeq === again.map(_.getLong(0)).toSeq)
    // different seeds give different hash tables
    assert(rows.exists(r => r.getLong(0) != r.getLong(1)))
  }
}
