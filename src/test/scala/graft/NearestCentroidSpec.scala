package graft

import graft.engine.{LlmOps, Tables}
import graft.functions.{CentroidScore, Centroids, VectorOps, vectors}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one nearest-centroid kernel against its two references.
  *
  *  - The declared `ORDER BY score [DESC], c_id`, run through Spark's
  *    row_number window, on fixtures built for the ordering rule's edges:
  *    zero-norm (and null) vectors and centroids, whose cosines are NaN,
  *    and scores of ±0.0 with exact ties.
  *  - A plain-Scala replay of each site's arithmetic on the fixture
  *    corpora: PQ codes, cells and k-means assignments bit for bit.
  */
class NearestCentroidSpec extends SparkSpecBase {
  import spark.implicits._

  private val dim = LlmOps.pqM * LlmOps.pqDsub

  /** vec_id → [(centroid id, score bits)], best first. */
  private type Pick = Map[Long, Seq[(Long, Option[Long])]]

  private def bits(d: Option[Double]): Option[Long] = d.map(java.lang.Double.doubleToLongBits)

  /** The declared ORDER BY's top `k` per vector over (vec_id, c_id, score). */
  private def windowPick(scored: DataFrame, desc: Boolean, k: Int): Pick = {
    val score = if (desc) col("score").desc else col("score").asc
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(score, col("c_id").asc)))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("c_id").cast("long"), col("score"), col("rn"))
      .as[(Long, Long, Option[Double], Int)].collect()
      .groupBy(_._1).map { case (v, rows) =>
        v -> rows.sortBy(_._4).map(r => (r._2, bits(r._3))).toSeq
      }
  }

  private def collectPick(df: DataFrame): Pick =
    df.select(col("vec_id"), col("c_id").cast("long"), col("score"))
      .as[(Long, Long, Option[Double])].collect()
      .groupBy(_._1).map { case (v, rows) => v -> rows.map(r => (r._2, bits(r._3))).toSeq }

  private def unit(i: Int, x: Float = 1f): Array[Float] = {
    val a = new Array[Float](dim); a(i) = x; a
  }
  private def plus(a: Array[Float], b: Array[Float]): Array[Float] =
    a.zip(b).map { case (x, y) => x + y }
  private def randomVecs(seed: Int, n: Int): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** Zero norms: a zero centroid (every cosine against it is NaN, which
    * ranks greatest and so wins a most-similar pick) and zero and null
    * vectors (NaN, resp. null, against every centroid: all tie).
    */
  private lazy val zeroNorm: Seq[(Long, Array[Float])] = {
    val cents = randomVecs(7, 8).updated(3, new Array[Float](dim))
    val vecs = randomVecs(8, 24) ++ Seq(new Array[Float](dim), null)
    (cents ++ vecs).zipWithIndex.map { case (v, i) => (i.toLong, v) }
  }

  /** ±0.0 and ties: vectors and centroids in orthogonal subspaces score an
    * exact 0.0 cosine; centroids 2 and 5 lean a hair towards and away from
    * e0, so their rounded cosines with e0 are 0.0 from above and below;
    * centroid 6 duplicates centroid 0, so every score against them ties.
    */
  private lazy val signedZero: Seq[(Long, Array[Float])] = {
    val tilt = 1e-5f
    val cents = Seq(unit(4), unit(5), plus(unit(6), unit(0, tilt)), unit(7, 2f),
      plus(unit(4), unit(5)), plus(unit(5), unit(0, -tilt)), unit(4), unit(6, -1f))
    val vecs = Seq(unit(0), unit(1), plus(unit(0), unit(1)), unit(2, 3f), unit(4), unit(6)) ++
      randomVecs(9, 12)
    (cents ++ vecs).zipWithIndex.map { case (v, i) => (i.toLong, v) }
  }

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding").withColumn("embedding", col("embedding").cast("array<float>"))

  /** (vec_id, embedding) × (c_id, c_emb) for the vectors' own first 8 rows. */
  private def crossed(e: DataFrame): DataFrame =
    e.crossJoin(e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb")))

  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  private def centroidsOf(rows: Seq[(Long, Array[Float])], score: CentroidScore): Centroids =
    Centroids(rows.filter(_._1 < 8).map { case (id, v) => (id, v.map(_.toDouble)) }, score)

  for ((name, rows) <- Seq("zero-norm" -> (() => zeroNorm), "±0.0" -> (() => signedZero))) {
    test(s"$name fixture: centroid-family and k-means picks equal the declared ORDER BY window") {
      val e = frame(rows())
      val cos4 = round(vectors.cosineSim(col("embedding"), col("c_emb")), 4)
      val asg = LlmOps.centroidArgmax(e)
        .select(col("vec_id"), col("best.id").as("c_id"), col("best.score").as("score"))
      assert(collectPick(asg) === windowPick(crossed(e).withColumn("score", cos4), desc = true, 1))

      val d2 = vectors.dotProduct(col("embedding"), col("embedding")) +
        vectors.dotProduct(col("c_emb"), col("c_emb")) -
        lit(2.0) * vectors.dotProduct(col("embedding"), col("c_emb"))
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      val km = LlmOps.kmeansAssign(e, seeds).withColumnRenamed("d2", "score")
      assert(collectPick(km) === windowPick(crossed(e).withColumn("score", d2), desc = false, 1))
    }

    test(s"$name fixture: IVF probes and the driver-side selection equal the declared ORDER BY window") {
      val e = frame(rows())
      val k = LlmOps.pqNprobe
      val probes = e.select(col("vec_id"),
          posexplode(vectors.nearestCentroids(col("embedding"),
            centroidsOf(rows(), CentroidScore.Cosine), k)))
        .select(col("vec_id"), col("col.id").as("c_id"), col("col.score").as("score"))
      assert(collectPick(probes) === windowPick(
        crossed(e).withColumn("score", vectors.cosineSim(col("embedding"), col("c_emb"))),
        desc = true, k))

      // the Lloyd trainers and pqProbes call the routine directly, on doubles
      val book = centroidsOf(rows(), CentroidScore.L2sq)
      val driver: Pick = rows().filter(_._2 != null).map { case (id, v) =>
        val (idx, sc) = VectorOps.nearest(v.map(_.toDouble), book, k)
        id -> idx.indices.map(p => (book.ids(idx(p)), bits(Some(sc(p))))).toSeq
      }.toMap
      val dbl = e.filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      assert(driver === windowPick(crossed(dbl).withColumn("score",
        l2sq(col("embedding"), col("c_emb"))), desc = false, k))
    }

    test(s"$name fixture: PQ codes and cells equal the declared ORDER BY window") {
      val e = frame(rows())
      // a codebook and coarse cells with zero and duplicate entries
      val rnd = new scala.util.Random(11)
      def centroid(d: Int, i: Int, zero: Int): Seq[Double] =
        if (i == zero) Seq.fill(d)(0.0) else Seq.fill(d)(rnd.nextGaussian() / 3)
      val cb0 = for (sub <- 0 until LlmOps.pqM; code <- 0 until LlmOps.pqKs)
        yield (sub, code, centroid(LlmOps.pqDsub, code, 0))
      val cbDup = cb0.map { case (sub, code, c) =>
        (sub, code, if (code == 9) cb0(sub * LlmOps.pqKs + 4)._3 else c)
      }
      val cells0 = (0 until LlmOps.pqCells).map(cell => (cell, centroid(dim, cell, 12)))
      val cellsDup = cells0.map { case (cell, c) => (cell, if (cell == 14) cells0(2)._2 else c) }
      val enc = LlmOps.pqEncodeWithCells(e, cbDup.toDF("sub", "code", "c"),
        Centroids(cellsDup.map { case (cell, c) => (cell.toLong, c.toArray) }, CentroidScore.L2sq))
        .select("vec_id", "codes", "cell").as[(Long, Seq[Int], Int)].collect()

      val norm = vectors.l2Norm(col("embedding"))
      val nv = e.filter(norm > 0).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / norm).as("nv"))
      val codeRef = nv.crossJoin(cbDup.toDF("sub", "c_id", "c_emb"))
        .withColumn("score", l2sq(slice(col("nv"), col("sub") * LlmOps.pqDsub + 1,
          lit(LlmOps.pqDsub)), col("c_emb")))
        .withColumn("rn", row_number().over(Window.partitionBy("vec_id", "sub")
          .orderBy(col("score").asc, col("c_id").asc)))
        .filter(col("rn") === 1)
        .select("vec_id", "sub", "c_id").as[(Long, Int, Int)].collect()
        .groupBy(_._1).map { case (v, rs) => v -> rs.sortBy(_._2).map(_._3).toSeq }
      val cellRef = windowPick(nv.crossJoin(cellsDup.toDF("c_id", "c_emb"))
        .withColumn("score", l2sq(col("nv"), col("c_emb"))).drop("nv"), desc = false, LlmOps.pqAssign)
      assert(enc.groupBy(_._1).map { case (v, rs) => v -> rs.head._2 } === codeRef)
      assert(enc.groupBy(_._1).map { case (v, rs) => v -> rs.map(_._3.toLong).toSet } ===
        cellRef.map { case (v, p) => v -> p.map(_._1).toSet })
    }
  }

  test("the selection routine ranks raw ±0.0, NaN and tied scores like Spark's window") {
    val rows = Seq(Seq(0.0, -0.0, 1.0, Double.NaN), Seq(-0.0, 0.0, -1.0, -0.0),
      Seq(Double.NaN, 2.0, Double.NaN, 2.0), Seq(0.5, 0.5, 0.5, 0.5))
    for (desc <- Seq(false, true); row <- rows; k <- Seq(1, 3)) {
      val want = windowPick(row.zipWithIndex.map { case (sc, i) => (0L, i.toLong, sc) }
        .toDF("vec_id", "c_id", "score"), desc, k)(0L).map(_._1)
      assert(VectorOps.select(row.toArray, k, desc).map(_.toLong).toSeq === want,
        s"scores $row desc=$desc k=$k")
    }
  }

  /** The three fixture scales, as siblings of the suite's own fixture. */
  private def scales: Seq[String] = {
    val root = new java.io.File(sfDir).getParent
    Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$root/$sf")
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0; while (i < a.length) { s += a(i) * b(i); i += 1 }; s
  }

  test("PQ codes and cells are bit-identical to a plain-Scala encode at sf0.001, sf0.01 and sf0.1") {
    import LlmOps.{pqAssign, pqDsub, pqM}
    for (dir <- scales) {
      val (centsDf, cbDf, codes) = LlmOps.pqTrainEncode(spark, dir)
      val cb = cbDf.select(col("sub").cast("int"), col("code").cast("int"), col("c"))
        .as[(Int, Int, Array[Double])].collect().sortBy(t => (t._1, t._2))
      val cells = LlmOps.centsOf(centsDf)
      val want = Tables.embeddings(spark, dir).select("vec_id", "embedding")
        .as[(Long, Array[Float])].collect().toSeq.flatMap { case (id, x) =>
          val norm = math.sqrt(x.foldLeft(0.0)((s, f) => s + f.toDouble * f.toDouble))
          val nv = x.map(_.toDouble / norm)
          def d2(off: Int, c: Array[Double]): Double = {
            var s = 0.0; var i = 0
            while (i < c.length) { val t = nv(off + i) - c(i); s += t * t; i += 1 }
            s
          }
          // minBy keeps the first minimum: the lowest code on ties
          val vc = (0 until pqM).map(sub => cb.filter(_._1 == sub).minBy(t => d2(sub * pqDsub, t._3))._2)
          if (!(norm > 0)) Nil
          else cells.ids.indices.map(j => (d2(0, cells.vecs(j)), cells.ids(j).toInt)).sorted
            .take(pqAssign).map { case (_, cell) => (id, vc, cell) }
        }
      val got = codes.select("vec_id", "codes", "cell").as[(Long, Seq[Int], Int)].collect()
      assert(got.length === want.length, dir)
      assert(got.toSet === want.toSet, dir)
    }
  }

  test("k-means assignments are bit-identical to a plain-Scala E-step at sf0.001, sf0.01 and sf0.1") {
    for (dir <- scales) {
      val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      val vecs = e.as[(Long, Array[Float])].collect().map { case (id, a) => (id, a.map(_.toDouble)) }
      var c = e.filter(col("vec_id") < 8).select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      var got = Set.empty[(Long, Long, Long)]
      for (round <- 0 to 3) {
        val cents = c.as[(Long, Array[Float])].collect().map { case (id, a) => (id, a.map(_.toDouble)) }
          .sortBy(_._1)
        val want = vecs.map { case (id, v) =>
          val (cid, d2) = cents.map { case (cid, cv) => (cid, (dot(v, v) + dot(cv, cv)) - 2.0 * dot(v, cv)) }
            .reduceLeft((a, b) => if (b._2 < a._2) b else a)
          (id, cid, java.lang.Double.doubleToLongBits(d2))
        }.toSet
        val asg = LlmOps.kmeansAssign(e, c)
        got = asg.select("vec_id", "c_id", "d2").as[(Long, Long, Double)].collect()
          .map { case (id, cid, d2) => (id, cid, java.lang.Double.doubleToLongBits(d2)) }.toSet
        assert(got === want, s"$dir round $round")
        c = LlmOps.kmeansCentroids(asg)
      }
      val loop = LlmOps.kmeans(e, 8, 3).select("vec_id", "c_id", "d2").as[(Long, Long, Double)]
        .collect().map { case (id, cid, d2) => (id, cid, java.lang.Double.doubleToLongBits(d2)) }.toSet
      assert(loop === got, dir)
    }
  }
}
