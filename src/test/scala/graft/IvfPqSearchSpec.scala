package graft

import graft.engine.{LlmOps, Tables}
import graft.functions.{VectorOps, vectors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The IVF-PQ query path (request on the driver, one pass over the code
  * table, exact re-rank on the driver) against its Spark formulation, kept
  * here as the reference: the ADC tables as a broadcast aggregation, the
  * shortlist as a DISTINCT + `row_number` window over the probe join, and
  * the re-rank as a broadcast join + window over `ROUND(cosine_sim, 4)`.
  * Rows must be identical, ranks included, on the fixture corpora and on
  * a fixture built for the ordering rule's edges: boundary-replicated
  * vectors that reach one query through two probed cells, and exact ties
  * in approx_d2 and cos_sim.
  */
class IvfPqSearchSpec extends SparkSpecBase {
  import spark.implicits._

  /** ‖a − b‖² as the ADC tables spelled it in the plan. */
  private def l2sqCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** (vec_id, sub, sv) over the query vectors, normalized by the `transform`
    * lambda the encode used before its kernel.
    */
  private def refSubvectors(s: SparkSession, dir: String, maxQ: Long): DataFrame = {
    val norm = vectors.l2Norm(col("embedding"))
    Tables.embeddings(s, dir)
      .filter(norm > 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / norm).as("nv"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(LlmOps.pqM - 1))).as("sub"), col("nv"))
      .select(col("vec_id"), col("sub"),
        slice(col("nv"), col("sub") * LlmOps.pqDsub + 1, lit(LlmOps.pqDsub)).as("sv"))
      .filter(col("vec_id") < maxQ)
  }

  /** The reference shortlist: (q_id, vec_id, arn). */
  private def refShortlist(s: SparkSession, dir: String, cents: DataFrame, cb: DataFrame,
                           codes: DataFrame, maxQ: Long): DataFrame = {
    val cells = LlmOps.centsOf(cents)
    val qsv = refSubvectors(s, dir, maxQ)
    val probes = qsv.select(col("vec_id"), col("sub").cast("int"), col("sv"))
      .as[(Long, Int, Seq[Double])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, subs) =>
        val v = subs.sortBy(_._2).flatMap(_._3.toArray).toArray
        VectorOps.nearest(v, cells, LlmOps.pqNprobe)._1.toSeq.map(j => (q, cells.ids(j).toInt))
      }
    val pruned = codes.filter(col("cell").isin(probes.map(_._2).distinct.sorted: _*))
    val dtabs = qsv.select(col("vec_id").as("q_id"), col("sub"), col("sv").as("qsv"))
      .join(broadcast(cb), Seq("sub"))
      .withColumn("d2", l2sqCol(col("qsv"), col("c")))
      .groupBy("q_id", "sub")
      .agg(map_from_entries(array_sort(collect_list(struct(col("code"), col("d2"))))).as("sm"))
      .groupBy("q_id")
      .agg(map_from_entries(collect_list(struct(col("sub"), col("sm")))).as("tabs"))
    val wAdc = Window.partitionBy("q_id").orderBy(col("approx_d2").asc, col("vec_id").asc)
    broadcast(dtabs.join(probes.toDF("q_id", "cell"), Seq("q_id")))
      .join(pruned, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("approx_d2",
        aggregate(sequence(lit(0), lit(LlmOps.pqM - 1)), lit(0.0),
          (acc, sub) => acc +
            element_at(element_at(col("tabs"), sub), element_at(col("codes"), sub + 1))))
      .select("q_id", "vec_id", "approx_d2").distinct()
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= 100)
      .select("q_id", "vec_id", "arn")
  }

  /** The reference search: (q_id, vec_id, cos_sim, rn) ordered by (q_id, rn). */
  private def refSearch(s: SparkSession, dir: String, cents: DataFrame, cb: DataFrame,
                        codes: DataFrame, maxQ: Long): DataFrame = {
    val shortlist = refShortlist(s, dir, cents, cb, codes, maxQ).select("q_id", "vec_id")
    val raw = Tables.embeddings(s, dir)
    val q = raw.filter(col("vec_id") < 100)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id").asc)
    broadcast(shortlist.join(q, Seq("q_id")))
      .join(raw, Seq("vec_id"))
      .withColumn("cos_sim", round(vectors.cosineSim(col("q_emb"), col("embedding")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select("q_id", "vec_id", "cos_sim", "rn")
      .orderBy("q_id", "rn")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  /** Shortlist and search rows of both paths at every request size. */
  private def assertIdentical(dir: String): Unit = {
    val (c, b, k) = LlmOps.pqTrainEncode(spark, dir)
    for (maxQ <- Seq(1L, 10L, 100L)) {
      val want = rows(refShortlist(spark, dir, c, b, k, maxQ).orderBy("q_id", "arn"))
      val got = rows(LlmOps.pqAdcShortlist(spark, dir, c, b, k, maxQ).orderBy("q_id", "arn"))
      assert(got.nonEmpty, s"$dir maxQ=$maxQ: empty shortlist")
      assert(got === want, s"$dir maxQ=$maxQ: shortlist differs from the window")
      val wantTop = rows(refSearch(spark, dir, c, b, k, maxQ))
      val gotTop = rows(LlmOps.pqSearch(spark, dir, c, b, k, maxQ))
      assert(gotTop === wantTop, s"$dir maxQ=$maxQ: re-rank differs from the window")
    }
  }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"ivf-pq search: shortlist and re-rank rows equal the Spark window at $sf, maxQ 1/10/100") {
      assertIdentical(s"${new java.io.File(sfDir).getParent}/$sf")
    }

  test("ivf-pq search: boundary-replicated vectors and exact approx_d2/cos_sim ties " +
    "rank as the window ranks them") {
    // 30 base vectors, each stored four times — copies 0 and 1 as is,
    // copies 2 and 3 scaled by 2 (exact in floats, and the unit vector,
    // the codes, the cells and every cosine come out bit-identical) — plus
    // 80 distinct vectors and, at vec_id 1, one zero vector, which no path
    // may index or query. Copy c of base b has vec_id 4b + c, shifted past
    // the zero vector from vec_id 1 on, so maxQ = 1 queries copy 0 of base 0.
    val dim = LlmOps.embedDim
    val rnd = new scala.util.Random(7)
    val bases = Seq.fill(30)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val copies = bases.zipWithIndex.flatMap { case (v, b) =>
      Seq(v, v, v.map(_ * 2f), v.map(_ * 2f)).zipWithIndex.map { case (x, c) =>
        (if (b == 0 && c == 0) 0L else 4L * b + c + 1, x)
      }
    }
    val others = (0 until 80).map(i => (121L + i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val zero = Seq((1L, new Array[Float](dim)))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-ties").toString
    (copies ++ others ++ zero).map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assertIdentical(dir)

    // the fixture reaches its edges: a query's copy sits in two of its
    // probed cells, and tied cos_sim values share one query's top-10
    val (cents, cb, codes) = LlmOps.pqTrainEncode(spark, dir)
    val req = LlmOps.annRequest(spark, dir, LlmOps.centsOf(cents), cb, 100L)
    val cellsOf = codes.select("vec_id", "cell").as[(Long, Int)].collect()
      .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).toSet }
    val twoCells = req.ids.indices.exists { q =>
      val probed = req.probes(q).toSet
      cellsOf.exists { case (v, cs) => v != req.ids(q) && cs.size == 2 && cs.subsetOf(probed) }
    }
    assert(twoCells, "no vector reaches a query through two probed cells")
    assert(!cellsOf.contains(1L) && !req.ids.contains(1L), "the zero vector was indexed or queried")
    val codesOf = codes.select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    val shortlists = LlmOps.pqAdcShortlist(spark, dir, cents, cb, codes)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
    assert(shortlists.exists { case (_, vs) => vs.map(v => codesOf(v._2)).distinct.length < vs.length },
      "no tied approx_d2 (equal codes) in any shortlist")
    val top = LlmOps.pqSearch(spark, dir, cents, cb, codes)
      .select("q_id", "cos_sim").as[(Long, Double)].collect()
    assert(top.groupBy(identity).exists(_._2.length > 1), "no tied cos_sim in any top-10")
  }
}
