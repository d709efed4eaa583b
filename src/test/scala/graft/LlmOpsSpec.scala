package graft

import graft.engine.LlmOps
import org.apache.spark.sql.functions.{col, sum}

/** Semantics of the LLM-pipeline operators: dedup determinism/idempotence,
  * MinHash estimation quality, LSH recall vs the brute-force baseline, and
  * the HLL error bound (the contracts the no-oracle queries rely on).
  */
class LlmOpsSpec extends SparkSpecBase {
  import spark.implicits._

  /** `body`'s result and the executed plans of every action it runs, read
    * through a QueryExecutionListener once the (asynchronous) listener bus
    * drains.
    */
  private def executedPlans[A](body: => A): (A, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result = try {
      val r = body
      // listenerBus is private[spark] (public in bytecode)
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(15000L))
      r
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    (result, plans.asScala.toSeq)
  }

  /** Every file scan of `plans`, inside adaptive plans and query stages too. */
  private def fileScans(plans: Seq[org.apache.spark.sql.execution.SparkPlan])
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    plans.flatMap(p => helper.collect(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    })
  }

  /** documents-shaped temp dir (builders read `$dir/documents.parquet`). */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    rows.map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup keeps min doc_id and counts copies; idempotent") {
    val dir = docsDir(Seq(
      (5L, "a b c"), (2L, "a b c"), (9L, "a b c"), (3L, "x y"), (7L, "x y"), (1L, "unique")))
    val got = LlmOps.dedupExact.build(spark, dir)
      .select("keeper_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got === Set((2L, 3L), (3L, 2L), (1L, 1L)))
    // dedup of the deduped keeper set changes nothing
    val keepers = LlmOps.dedupExact.build(spark, dir)
      .select($"keeper_id".as("doc_id"), $"text").as[(Long, String)].collect().toSeq
    val dir2 = docsDir(keepers)
    assert(LlmOps.dedupExact.build(spark, dir2).count() === keepers.size)
  }

  test("hash dedup groups exactly like text dedup") {
    val dir = docsDir((1L to 30L).map(i => (i, s"text ${i % 7}")))
    val byText = LlmOps.dedupExact.build(spark, dir)
      .select("keeper_id", "n_copies").as[(Long, Long)].collect().toSet
    val byHash = LlmOps.dedupHash.build(spark, dir)
      .select("keeper_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(byText === byHash)
  }

  test("minhash estimate tracks true jaccard") {
    // doc pairs with known token-set jaccard: identical (1.0), half-overlap
    // (1/3), disjoint (0.0). 16 hash slots → stderr ≈ 0.125; assert ±0.35.
    val toks = (0 until 40).map(i => s"t$i")
    val dir = docsDir(Seq(
      (1L, toks.take(20).mkString(" ")),
      (2L, toks.take(20).mkString(" ")),             // identical to 1
      (3L, toks.slice(10, 30).mkString(" ")),        // jaccard 1/3 with 1
      (4L, toks.slice(20, 40).mkString(" "))))       // disjoint from 1
    val got = LlmOps.minhashPairs.build(spark, dir)
      .select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) === 1.0) // identical docs always collide, est exact
    got.get((1L, 3L)).foreach(e => assert(math.abs(e - 1.0 / 3) < 0.35))
    // disjoint docs: if banding surfaced the pair at all, estimate is low
    got.get((1L, 4L)).foreach(e => assert(e < 0.3))
  }

  test("minhash pairs: an over-cap band bucket is dropped, not exploded") {
    // 51 identical docs put 51 rows in each of the 4 band buckets, over
    // the 50-doc cap, so every bucket is dropped and no pair comes out;
    // at the cap every bucket survives and all C(50, 2) pairs do.
    val overCap = docsDir((1L to 51L).map(i => (i, "a b c d")))
    assert(LlmOps.minhashPairs.build(spark, overCap).count() === 0L)
    val atCap = docsDir((1L to 50L).map(i => (i, "a b c d")))
    val got = LlmOps.minhashPairs.build(spark, atCap)
      .select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)].collect()
    assert(got.length === 50 * 49 / 2)
    assert(got.forall(r => r._1 < r._2 && r._3 == 1.0))
  }

  test("lsh ann: recall@10 vs brute force is substantial, candidates are pruned") {
    val brute = LlmOps.knnCosine.build(spark, sfDir)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = LlmOps.annLsh.build(spark, sfDir)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = brute.map { case (q, truth) =>
      approx.get(q).map(a => (a & truth).size.toDouble / truth.size).getOrElse(0.0)
    }
    val meanRecall = recalls.sum / recalls.size
    // Measured recall@10 is 0.311 at sf0.001 / 0.356 at sf0.01 — a
    // deterministic constant of the fixed seeds and fixture (recorded in
    // SCALE.md), ~10× the ~3% a random 10-subset would score at a
    // fraction of the O(n²) scan. 0.28 is the regression floor: any
    // band-layout change that degrades recall fails CI.
    assert(meanRecall >= 0.28, s"mean recall $meanRecall below 0.28 floor")
    assert(approx.values.map(_.size).sum <= brute.values.map(_.size).sum)
  }

  test("ivf ann: recall@10 vs brute force is substantial, candidates are pruned") {
    val brute = LlmOps.knnCosine.build(spark, sfDir)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = LlmOps.annIvf.build(spark, sfDir)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = brute.map { case (q, truth) =>
      approx.get(q).map(a => (a & truth).size.toDouble / truth.size).getOrElse(0.0)
    }
    val meanRecall = recalls.sum / recalls.size
    // Measured recall@10 is 0.604 at sf0.001 / 0.601 at sf0.01 — a
    // deterministic constant of the fixture (recorded in SCALE.md).
    // 6-of-16 cells probed ⇒ ~38% of the corpus scanned, so 0.60 recall
    // shows centroid ranking beats blind 6/16 sampling by ~1.6×. 0.55 is
    // the regression floor: a probe/centroid change that degrades recall
    // fails CI.
    assert(meanRecall >= 0.55, s"mean recall $meanRecall below 0.55 floor")
    assert(approx.values.map(_.size).sum <= brute.values.map(_.size).sum)
  }

  test("neardup cosine: pair set is symmetric-free and thresholded") {
    val rows = LlmOps.nearDupCosine.build(spark, sfDir)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, c) =>
      assert(a < b, s"pair ($a,$b) not canonical")
      assert(c >= 0.4 - 1e-9, s"pair ($a,$b) below threshold: $c")
    }
    // banding never invents a pair and each pair surfaces exactly once
    assert(rows.map(r => (r._1, r._2)).distinct.length === rows.length)
  }

  test("neardup cosine: banded recall vs the exact scan clears the pinned floor") {
    // The registered query is the banded (at-scale) form; exactCosinePairs
    // is the fixture-bounded ground truth. Both are deterministic functions
    // of the fixture, so recall is a CONSTANT here (0.712 at sf0.001) —
    // the floor is a regression pin on the band layout, not a flaky bound.
    // This fixture is LSH's worst regime (pairs at cosine ≈ 0.4, θ ≈ 66°);
    // real near-dup corpora (cos ≥ 0.9) recall far higher under the same
    // layout.
    val exact = LlmOps.exactCosinePairs(spark, sfDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val banded = LlmOps.nearDupCosine.build(spark, sfDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded.subsetOf(exact), s"banded invented pairs: ${banded -- exact}")
    val recall = (banded & exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"banded recall $recall below 0.6 floor (exact=${exact.size})")
  }

  test("kmeans: SSE non-increasing per Lloyd round; assignment partitions the corpus") {
    val e = graft.engine.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val n = e.count()
    // Lloyd's invariant: each E-step can only lower (or keep) every
    // vector's distance, each M-step minimizes within-cluster SSE for the
    // fixed assignment — so total SSE is monotonically non-increasing.
    val sse = (1 to 3).map { iters =>
      LlmOps.kmeans(e, 8, iters).agg(sum("d2")).as[Double].head()
    }
    sse.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-6, s"SSE increased across a Lloyd round: $sse")
    }
    val prof = LlmOps.kmeansEmbed.build(spark, sfDir)
      .select("c_id", "n").as[(Long, Long)].collect()
    assert(prof.map(_._2).sum === n, "cluster sizes must sum to the corpus")
    assert(prof.map(_._1).distinct.length === prof.length)
  }

  test("kmeans recovers well-separated blobs exactly") {
    // Three tight blobs far apart; k = 3 with first-k seeding (seeds 0, 1,
    // 2 land one per blob by construction) must assign every member to its
    // blob's cluster after one round.
    val blob = (center: Float, ids: Range) =>
      ids.map(i => (i.toLong, Array(center + (i % 3) * 0.01f, center - (i % 2) * 0.01f)))
    val rows = blob(0f, 0 until 9 by 3) ++ blob(100f, 1 until 10 by 3) ++
      blob(-100f, 2 until 11 by 3)
    val e = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val got = LlmOps.kmeans(e, 3, 2)
      .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
    // members of one blob share a cluster; different blobs differ
    val byBlob = rows.map(_._1).groupBy(_ % 3)
    byBlob.values.foreach { ids =>
      assert(ids.map(got).toSet.size === 1, s"blob split: ${ids.map(got)}")
    }
    assert(byBlob.values.map(ids => got(ids.head)).toSet.size === 3)
  }

  test("kmeans oracle guard bands: assignment margins and M-step means clear of float midpoints") {
    // The llm_kmeans hash-equality oracle's acknowledged residual flake
    // risk: a regenerated fixture could land an M-step mean on a
    // float-rounding midpoint (the two engines' last-ulp summation drift
    // would then round to DIFFERENT floats) or put a vector
    // near-equidistant between two centroids (tie resolved differently).
    // This replays the 3(+final-assign)-round loop driver-side in double
    // math — sequential-summation drift ~1e-13, far below both guards —
    // and asserts every margin loudly, the BPE-precondition precedent.
    val vecs = graft.engine.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .map { case (id, a) => (id, a.map(_.toDouble)) }.sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0; while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    var centroids: Seq[(Long, Array[Double])] =
      vecs.filter(_._1 < 8).toSeq.map { case (id, v) => (id, v) }
    for (round <- 1 to 4) {
      val assigned = vecs.map { case (id, v) =>
        val d2s = centroids.map { case (cid, c) =>
          (dot(v, v) + dot(c, c) - 2.0 * dot(v, c), cid)
        }.sorted
        val margin = d2s(1)._1 - d2s(0)._1
        assert(margin > 1e-7, s"round $round vec $id assignment margin $margin below 1e-7 guard")
        (id, v, d2s.head._2)
      }
      if (round < 4) {
        centroids = assigned.groupBy(_._3).toSeq.sortBy(_._1).map { case (cid, members) =>
          val mean = Array.tabulate(members.head._2.length) { d =>
            members.map(_._2(d)).sum / members.length
          }
          mean.zipWithIndex.foreach { case (m, d) =>
            val f = m.toFloat
            val ulp = Math.ulp(f).toDouble
            val distFromMidpoint = math.abs(ulp / 2 - math.abs(m - f.toDouble))
            if (distFromMidpoint <= 1e-3 * ulp) {
              // A mean ON (or within the band of) a float-rounding midpoint
              // is still deterministic IF the double summation producing it
              // is exact — then every summation order yields bit-identical
              // doubles and round-half-even resolves identically on both
              // engines. (The fixture does hit exact midpoints: float
              // addends summed exactly then divided make dyadic rationals.)
              // So near-midpoint demands PROOF of exactness, else fail.
              val xs = members.map(_._2(d))
              val sumD = xs.sum
              // java.math.BigDecimal: scala's wrapper folds under a 34-digit
              // MathContext, which would round the exact sum itself
              val exactSum = xs.map(new java.math.BigDecimal(_))
                .reduce(_.add(_))
              assert(new java.math.BigDecimal(sumD).compareTo(exactSum) == 0,
                s"round $round c_id $cid dim $d: mean $m in the float-midpoint " +
                  s"guard band with INEXACT summation — cross-engine rounding flake")
              val probeBits = Seq(xs, xs.reverse, xs.sorted, xs.sorted.reverse,
                xs.sortBy(math.abs), xs.sortBy(x => -math.abs(x)))
                .map(p => java.lang.Double.doubleToLongBits(p.sum / p.length)).toSet
              assert(probeBits.size == 1,
                s"round $round c_id $cid dim $d: order-sensitive summation at a float midpoint")
            }
          }
          (cid, mean.map(x => x.toFloat.toDouble))
        }
      }
    }
  }

  test("incremental dedup: batch docs drop vs the existing corpus only (exact, near-dup, novel)") {
    // doc_id % 5 == 0 → batch; rest → existing corpus (10 existing docs so
    // the 0.1·n_docs df-cap evaluates to 1.0 and keeps df=1 shingles —
    // mirroring real corpora where the frac cap is far above 1).
    //  - 5 is an exact copy of existing 1        → n_exact_dup
    //  - 10 near-dups existing 2 (shares 5 bigrams, J = 5/6 ≥ 0.5)
    //                                            → n_neardup
    //  - 15 is novel                             → n_survive
    //  - 20 exactly copies fellow-BATCH doc 15 but no existing doc:
    //    batch-internal duplication is NOT this operator's job (that is
    //    the within-batch exact dedup) — it must SURVIVE.
    val fillers = Seq(4L, 6L, 7L, 8L, 9L, 11L, 12L).zipWithIndex.map {
      case (id, i) => (id, s"filler${i}a filler${i}b filler${i}c")
    }
    val dir = docsDir(Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four five six seven"),
      (3L, "completely different words here"),
      (5L, "alpha beta gamma delta"),
      (10L, "one two three four five six"),
      (15L, "fresh novel content entirely"),
      (20L, "fresh novel content entirely")) ++ fillers)
    val got = LlmOps.incrementalDedup.build(spark, dir)
      .select("source", "n_batch", "n_exact_dup", "n_neardup", "n_survive")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("src0", 4L, 1L, 1L, 2L)))
  }

  test("clusterPairs finds connected components (chain, clique, singleton pair)") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L),           // chain 1-2-3 → cluster 1
      (10L, 11L), (10L, 12L), (11L, 12L), // clique → cluster 10
      (20L, 21L))                   // pair → cluster 20
      .toDF("id_a", "id_b")
    val got = LlmOps.clusterPairs(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("clusterPairs rounds ride observe(): CollectMetrics in the plan, no per-row UDF") {
    // The convergence tally used to be a per-row accumulator UDF in the
    // round projection, which knocked the whole stage out of codegen.
    // Pin the replacement: every round's executed plan (captured at its
    // localCheckpoint action) carries a declarative CollectMetrics node,
    // no UDF, and keeps a WholeStageCodegen span.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      LlmOps.clusterPairs(pairs, driverThreshold = 0L).collect()
      // the execution-listener bus is async — poll for the round plans
      val deadline = System.currentTimeMillis() + 15000
      import scala.jdk.CollectionConverters._
      def rounds = plans.asScala.filter(_.contains("CollectMetrics")).toSeq
      while (System.currentTimeMillis() < deadline && rounds.isEmpty) Thread.sleep(100)
      assert(rounds.nonEmpty, "no observed round plan was captured")
      rounds.foreach { p =>
        assert(!p.contains("UDF"), s"per-row UDF regressed into the round plan:\n$p")
        // AQE's simple-string form renders WholeStageCodegen spans as "*(n)"
        assert(p.contains("*("), s"round stage lost codegen:\n$p")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("clusterPairs converges on a long chain within the diameter bound") {
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = LlmOps.clusterPairs(chain, maxIter = 10, driverThreshold = 0L)
      .as[(Long, Long)].collect()
    assert(got.forall(_._2 === 0L)) // one component labeled by its minimum
    assert(got.length === 10)
  }

  test("clusterPairs pointer jumping beats the diameter: 100-chain in ≤ 8 rounds") {
    // Plain min-label propagation needs diameter≈99 rounds here; with the
    // label-of-label jump the label front doubles per round (reach
    // 2^(r+1)−2 after r rounds), so 7 rounds cover distance 254 and the
    // 8th detects the fixpoint. maxIter = 8 would time out the old
    // one-hop loop and is the regression guard for the jump.
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = LlmOps.clusterPairs(chain, maxIter = 8, driverThreshold = 0L)
      .as[(Long, Long)].collect()
    assert(got.length === 100)
    assert(got.forall(_._2 === 0L))
  }

  test("clusterPairs size-adaptive gate: driver union-find equals the distributed " +
    "pointer-jumping loop on the same pair sets") {
    val rnd = new scala.util.Random(7)
    val cases = Seq(
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (20L, 21L)),
      (0L until 99L).map(i => (i, i + 1)),
      Seq.fill(400)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
        .filter { case (a, b) => a != b }.distinct)
    for (es <- cases) {
      val df = es.toDF("id_a", "id_b")
      val driver = LlmOps.clusterPairs(df, driverThreshold = Long.MaxValue)
        .as[(Long, Long)].collect().toMap
      val dist = LlmOps.clusterPairs(df, maxIter = 20, driverThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      assert(driver === dist, s"paths diverged on a ${es.size}-edge graph")
    }
  }

  test("clusterPairs matches graphx connectedComponents on a random graph") {
    // GraphX also labels each component by its minimum vertex id, so the
    // two label maps must be EQUAL, not merely partition-equivalent.
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val got = LlmOps.clusterPairs(edges.toDF("id_a", "id_b"), maxIter = 20,
        driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    val g = org.apache.spark.graphx.Graph.fromEdgeTuples(
      spark.sparkContext.parallelize(edges), defaultValue = 0)
    val expected = g.connectedComponents().vertices.collect().toMap
    assert(got === expected)
  }

  test("approx distinct within 5% of exact") {
    val rows = LlmOps.approxDistinct.build(spark, sfDir)
      .select("approx_users", "exact_users").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (approx, exact) =>
      assert(math.abs(approx - exact).toDouble / exact <= 0.05, s"$approx vs $exact")
    }
  }

  test("hll daily-sketch union: tracks exact, and merging is lossless vs one direct sketch") {
    import org.apache.spark.sql.functions.{col, countDistinct, hll_sketch_agg, hll_sketch_estimate}
    val got = graft.engine.Funcs.hllUnionDaily.build(spark, sfDir)
      .select("event_type", "approx_users").as[(String, Long)].collect().toMap
    assert(got.nonEmpty)
    val exact = graft.engine.Tables.events(spark, sfDir)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .as[(String, Long)].collect().toMap
    got.foreach { case (t, a) =>
      assert(math.abs(a - exact(t)).toDouble / exact(t) <= 0.05,
        s"$t: approx $a vs exact ${exact(t)}") // lgK=12 → σ ≈ 1.6%, bound = 3σ
    }
    // The scale contract: union-merging per-day sketches must equal ONE
    // sketch built over the whole range — otherwise persisted daily
    // sketches could not serve arbitrary date ranges.
    val direct = graft.engine.Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), graft.engine.Funcs.hllLgK)).as("a"))
      .as[(String, Long)].collect().toMap
    assert(got === direct)
  }

  test("hll sketch persistence: parquet round-trip of daily sketches is merge-equivalent") {
    // The full production lifecycle: build daily sketches → persist the
    // binary sketch bytes day-partitioned (Sinks.writeHllSketches) → read
    // back → union-merge. The estimates must be IDENTICAL to the in-memory
    // path (the registered query), proving sketch bytes survive the
    // parquet round-trip and that any date range can be served from the
    // store without rescanning events.
    val path = java.nio.file.Files.createTempDirectory("graft-hll").toString
    val daily = graft.engine.Funcs.dailyHllSketches(spark, sfDir)
    graft.sources.Sinks.writeHllSketches(daily, path)
    val restored = spark.read.parquet(path)
    val viaStore = graft.engine.Funcs.unionDailySketches(restored)
      .select("event_type", "n_days", "approx_users")
      .as[(String, Long, Long)].collect().toSet
    val inMemory = graft.engine.Funcs.hllUnionDaily.build(spark, sfDir)
      .select("event_type", "n_days", "approx_users")
      .as[(String, Long, Long)].collect().toSet
    assert(viaStore === inMemory)
    assert(viaStore.nonEmpty)
    // Range query over the pruned store: a half-range union must count no
    // more than the full range (monotone merge) and the partition filter
    // must prune files rather than scan-and-filter.
    import org.apache.spark.sql.functions.col
    val days = restored.select("day_part").distinct()
      .as[String].collect().sorted
    val half = restored.filter(col("day_part") <= days(days.length / 2))
    val halfEst = graft.engine.Funcs.unionDailySketches(half)
      .select("event_type", "approx_users").as[(String, Long)].collect().toMap
    val fullEst = viaStore.map(r => r._1 -> r._3).toMap
    halfEst.foreach { case (t, a) => assert(a <= fullEst(t), s"$t: $a > ${fullEst(t)}") }
    val plan = half.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters: [") && plan.contains("day_part"), plan)
  }

  test("approx percentile sketch tracks the exact quantiles") {
    val rows = LlmOps.approxPercentile.build(spark, sfDir)
      .select("approx_p50", "exact_p50", "approx_p95", "exact_p95")
      .as[(Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a50, e50, a95, e95) =>
      // value ∈ ~0..200 → rank-accuracy 1/10000 means near-exact here
      assert(math.abs(a50 - e50) <= math.max(2.0, 0.05 * e50), s"$a50 vs $e50")
      assert(math.abs(a95 - e95) <= math.max(2.0, 0.05 * e95), s"$a95 vs $e95")
    }
  }

  test("tfidf: rare terms outrank ubiquitous ones") {
    val dir = docsDir(Seq(
      (1L, "common common rare1"),
      (2L, "common common rare2"),
      (3L, "common common rare3")))
    val top1 = LlmOps.tfidf.build(spark, dir)
      .filter($"rn" === 1).select("doc_id", "tok").as[(Long, String)].collect().toMap
    assert(top1 === Map(1L -> "rare1", 2L -> "rare2", 3L -> "rare3"))
  }

  test("jaccard pairs: exact values on hand-computable sets") {
    val dir = docsDir(Seq(
      (1L, "a b c d"), (2L, "a b c d e"), (3L, "z")))
    // jaccard(1,2) = 4/5 = 0.8 ≥ τ; pairs with 3 share nothing
    val got = LlmOps.jaccardPairs.build(spark, dir)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 2L, 0.8)))
  }

  test("approx top-k tokens equals exact top-k on the small-vocabulary fixture") {
    val approx = LlmOps.approxTopK.build(spark, sfDir)
      .select("tok", "freq").as[(String, Long)].collect().toSeq
    val exact = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.lower($"text"), " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy("tok").count()
      .orderBy($"count".desc, $"tok".asc)
      .limit(10)
      .select("tok", "count").as[(String, Long)].collect().toSeq
    assert(approx === exact)
  }

  test("int8 quantization: reconstruction error bounded by scale/2, every vector covered") {
    val rows = LlmOps.quantizeInt8.build(spark, sfDir)
      .select("vec_id", "scale", "max_err", "mean_err")
      .as[(Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, scale, maxErr, meanErr) =>
      assert(scale > 0, s"vec $id: zero scale")
      // round-to-nearest puts every dim within half a quantization step;
      // both dumped values are independently rounded to 6 dp, so allow a
      // ulp of display rounding on each side
      assert(maxErr <= scale / 2 + 1e-6, s"vec $id: max_err $maxErr > scale/2 ${scale / 2}")
      assert(meanErr <= maxErr + 1e-9)
    }
  }

  test("decontaminate flags exactly the train doc carrying a planted eval 8-gram") {
    // doc 1 is the "benchmark" (source src0 in the builder's scoping);
    // doc 10 embeds one verbatim 8-gram from it, doc 11 shares only
    // shorter fragments — only doc 10 may be flagged.
    val evalText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val leaked   = "noise1 alpha beta gamma delta epsilon zeta eta theta noise2"
    val clean    = "alpha beta gamma noise3 epsilon zeta eta noise4 iota kappa"
    val dir = java.nio.file.Files.createTempDirectory("graft-decon").toString
    Seq(
      (1L, evalText, "en", "src0", evalText.length.toLong),
      (10L, leaked, "en", "src1", leaked.length.toLong),
      (11L, clean, "en", "src1", clean.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = LlmOps.decontaminate.build(spark, dir)
      .select("doc_id", "n_shared").as[(Long, Long)].collect().toSet
    assert(got === Set((10L, 1L)))
  }

  test("df-cap zeroes the postings join on a stopword-saturated corpus") {
    // 60 docs, every one containing 'the', otherwise pairwise-disjoint
    // tokens: the uncapped inverted index joins 60·59/2 = 1770 candidate
    // pairs through the one hot key; with the 0.8 cap the stopword's
    // postings are dropped and the join emits nothing.
    val rows = (1L to 60L).map(i => (i, s"the u${i}a u${i}b"))
    val postings = rows.toDF("doc_id", "text")
      .select($"doc_id",
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split($"text", " ")).as("tok"))
    def selfJoinPairs(p: org.apache.spark.sql.DataFrame): Long =
      p.as("a").join(p.as("b"),
        $"a.tok" === $"b.tok" && $"a.doc_id" < $"b.doc_id").count()
    assert(selfJoinPairs(postings) === 1770L)
    val keep = LlmOps.capCensus(postings, "tok", 0.8, 2000L).select("tok")
    assert(selfJoinPairs(postings.join(keep, Seq("tok"), "left_semi")) === 0L)
  }

  test("jaccard score is computed over the capped (discriminating) token space") {
    // All 20 docs share 'the' (df = 100% > cap) ⇒ it leaves both the
    // intersection and the set sizes. Docs 1/2 share 9 rare tokens and
    // differ in one: capped jaccard = 9/11 ≈ 0.8182 (the uncapped value
    // would be 10/12 ≈ 0.8333 — asserting the exact decimal proves the
    // cap participates in scoring, not just candidate pruning).
    val shared = (1 to 9).map(i => s"s$i").mkString(" ")
    val rows = Seq((1L, s"the $shared x1"), (2L, s"the $shared x2")) ++
      (3L to 20L).map(i => (i, s"the u${i}a u${i}b"))
    val got = LlmOps.jaccardPairs.build(spark, docsDir(rows))
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 2L, 0.8182)))
  }

  test("embed normalize: reconstructed unit vectors have norm 1 ± quantum") {
    val rows = LlmOps.embedNormalize.build(spark, sfDir)
      .select("unit_q4").as[String].collect()
    assert(rows.length === 500)
    rows.foreach { s =>
      val q = s.split(",").map(_.toLong)
      assert(q.length === 64)
      val norm = math.sqrt(q.map(v => (v / 10000.0) * (v / 10000.0)).sum)
      // each component is off by ≤ 0.5 quanta → norm error ≤ 64·1e-4 loose
      assert(math.abs(norm - 1.0) < 64 * 1e-4, s"norm=$norm")
    }
  }

  test("embed dim stats: hand-computable per-dimension moments") {
    // dim 0 sees {1, 3}: mean 2, std sqrt(2); dim 1 sees {2, 4}: mean 3.
    val dir = java.nio.file.Files.createTempDirectory("graft-emb").toString
    Seq((1L, Array(1f, 2f), 0), (2L, Array(3f, 4f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = LlmOps.embedDimStats.build(spark, dir)
      .select("dim", "n", "mean", "std", "min_v", "max_v")
      .as[(Long, Long, Double, Double, Double, Double)].collect().toSet
    assert(got === Set(
      (0L, 2L, 2.0, 1.4142, 1.0, 3.0),
      (1L, 2L, 3.0, 1.4142, 2.0, 4.0)))
  }

  test("shingle-pair store holds exactly the raw-scan pair rows") {
    // the store's build proof at the data level: Stores.shinglePairs must
    // contain precisely what llm_shingle_jaccard computes from raw text —
    // the consumers' shared-oracle hash greens rest on this equality
    val store = spark.read
      .parquet(graft.sources.Stores.shinglePairs(spark, sfDir))
      .collect().map(_.toString).sorted.toSeq
    val raw = LlmOps.shingleJaccard.build(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(store === raw)
  }

  test("adaptive pair scan: dense bitset and prefix-verified paths both equal " +
    "the naive expansion on a τ-boundary corpus") {
    // doc sets engineered around the τ = 0.5 boundary: (1,2) J = 3/5 = 0.6
    // (in), (1,3) J = 2/6 ≈ 0.33 (out), (4,5) J = 1/2 = 0.5 (boundary, in),
    // (6,7) identical J = 1 (in), 8 disjoint (no pair), 9 single-shingle
    // subset of 1 (J = 1/4 out)
    val sets = Map(
      1L -> Seq("a b", "b c", "c d", "d e"),
      2L -> Seq("a b", "b c", "c d", "x y"),
      3L -> Seq("a b", "b c", "q r", "r s"),
      4L -> Seq("k l", "l m"),
      5L -> Seq("k l"),
      6L -> Seq("p q", "q r"),
      7L -> Seq("p q", "q r"),
      8L -> Seq("u v"),
      9L -> Seq("a b"))
    // the callers' other shapes as extra inputs: τ = 0.8 (llm_jaccard_pairs)
    // with (10,11) J = 4/5 = 0.8 (boundary, in) and (12,13) J = 4/6 (out),
    // and every case again over numeric keys like the winnow fingerprints
    // (ids whose string order differs from their numeric order)
    val sets08 = sets ++ Map(
      10L -> Seq("f g", "g h", "h i", "i j", "j k"),
      11L -> Seq("f g", "g h", "h i", "i j"),
      12L -> Seq("m1", "m2", "m3", "m4", "m5"),
      13L -> Seq("m1", "m2", "m3", "m4", "m6"))
    val numKey = sets08.values.flatten.toSeq.distinct.sorted
      .zipWithIndex.map { case (k, i) => k -> (7L + 3L * i) }.toMap
    // naive reference, driver-side: exact Jaccard over every doc pair
    def naive(sets: Map[Long, Seq[String]], tau: Double): Set[(Long, Long, Double)] =
      (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = sets(a).toSet.intersect(sets(b).toSet).size
        if inter > 0
        j = inter.toDouble / (sets(a).size + sets(b).size - inter)
        if j >= tau
      } yield (a, b, BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(naive(sets, 0.5) === Set((1L, 2L, 0.6), (4L, 5L, 0.5), (6L, 7L, 1.0)))
    assert(naive(sets08, 0.8) === Set((6L, 7L, 1.0), (10L, 11L, 0.8)))
    for ((cs, tau) <- Seq(sets -> 0.5, sets08 -> 0.8); numeric <- Seq(false, true)) {
      val expect = naive(cs, tau)
      val rows = cs.toSeq.flatMap { case (d, ss) => ss.map(d -> _) }
      val postings =
        if (numeric) rows.map { case (d, k) => (d, numKey(k)) }.toDF("doc_id", "sh")
        else rows.toDF("doc_id", "sh")
      val vocab = postings.select(col("sh").cast("string")).as[String]
        .collect().distinct.sorted
      val dense = LlmOps.densePairs(postings, vocab, tau)
        .as[(Long, Long, Double)].collect().toSet
      val prefixed = LlmOps.prefixVerifiedPairs(postings.localCheckpoint(), tau)
        .as[(Long, Long, Double)].collect().toSet
      val expanded = LlmOps.expandedPairs(postings.localCheckpoint(), tau)
        .as[(Long, Long, Double)].collect().toSet
      val shape = s"τ=$tau numeric=$numeric"
      assert(dense === expect, s"$shape: dense bitset path diverged from the naive scan")
      assert(prefixed === expect, s"$shape: prefix-verified path diverged from the naive scan")
      assert(expanded === expect, s"$shape: expansion path diverged from the naive scan")
    }
  }

  test("exact pair scan equals the capped-expansion spelling of llm_jaccard_pairs " +
    "on the sf0.001 and sf0.01 fixtures") {
    import org.apache.spark.sql.functions._
    val root = new java.io.File(sfDir).getParent
    for (dir <- Seq("sf0.001", "sf0.01").map(sf => s"$root/$sf")) {
      val tok = graft.engine.Tables.documents(spark, dir)
        .filter(col("source") === "src0")
        .select(col("doc_id"),
          explode(array_distinct(split(lower(col("text")), " "))).as("sh"))
        .filter(col("sh") =!= "")
      // the reference: the capped postings (df ≤ least(0.8·n_docs, 2000)
      // by semi-join), pair counts by expansion, both sizes joined
      val nDocs = tok.agg(countDistinct("doc_id").as("n_docs"))
      val keep = tok.groupBy("sh").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") <= least(lit(0.8) * col("n_docs"), lit(2000L)))
        .select("sh")
      val capped = tok.join(keep, Seq("sh"), "left_semi").localCheckpoint()
      val sz = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val jac = col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c"))
      val want = LlmOps.pairCounts(capped, "sh")
        .join(sz.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sz.as("sb"), col("id_b") === col("sb.doc_id"))
        .filter(jac >= 0.8)
        .select(col("id_a"), col("id_b"), round(jac, 4).as("jaccard"))
        .as[(Long, Long, Double)].collect().toSet
      val got = LlmOps.exactJaccardPairs(tok, 0.8, 2000L, 0.8)
        .as[(Long, Long, Double)].collect().toSet
      assert(want.nonEmpty, s"$dir: the reference found no pair")
      assert(got === want, s"$dir: the exact pair scan diverged from the reference")
    }
  }

  test("prefix filtering: candidates are a superset of every τ-qualifying pair " +
    "on randomized corpora") {
    // the PPJoin/AllPairs lemma, checked against the ACTUAL Spark
    // implementation on seeded random set systems with a skewed key
    // distribution (low ids hot — prefixes must still never lose a pair)
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 4; tau <- Seq(0.3, 0.5, 0.8)) {
      val vocabSize = 12 + rnd.nextInt(30)
      val sets: Map[Long, Set[String]] = (1L to 30L).map { d =>
        val n = 1 + rnd.nextInt(8)
        d -> Seq.fill(n)("t" + (rnd.nextInt(rnd.nextInt(vocabSize) + 1))).toSet
      }.toMap
      val postings = sets.toSeq.flatMap { case (d, ss) => ss.toSeq.map(d -> _) }
        .toDF("doc_id", "sh")
      val qualifying = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = sets(a).intersect(sets(b)).size
        if inter > 0
        if inter.toDouble / (sets(a).size + sets(b).size - inter) >= tau
      } yield (a, b)).toSet
      val cands = LlmOps.pairCounts(
          LlmOps.prefixPostings(postings, "sh", tau), "sh")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val lost = qualifying -- cands
      assert(lost.isEmpty,
        s"round $round τ=$tau: prefix filtering lost qualifying pairs $lost")
    }
  }

  test("neardup filter: dropped total equals the distinct lower-id-pair targets") {
    val expectedDrops = LlmOps.shingleJaccard.build(spark, sfDir)
      .select("id_b").distinct().count()
    val profile = LlmOps.nearDupFilter.build(spark, sfDir)
      .select("n_docs", "n_dropped").as[(Long, Long)].collect()
    assert(profile.map(_._2).sum === expectedDrops)
    assert(profile.map(_._1).sum ===
      graft.engine.Tables.documents(spark, sfDir).count())
    profile.foreach { case (n, d) => assert(d <= n) }
  }

  test("embed corr pairs: a duplicated dimension tops the list at corr 1") {
    // dims 0 and 1 identical → corr 1; dim 2 runs against them (corr -1 on
    // this 3-point set would need exact anti-linearity, so use a kinked
    // series that correlates imperfectly)
    val dir = java.nio.file.Files.createTempDirectory("graft-emb-corr").toString
    Seq(
      (1L, Array(1f, 1f, 5f), 0),
      (2L, Array(2f, 2f, 1f), 0),
      (3L, Array(3f, 3f, 4f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = LlmOps.embedCorrPairs.build(spark, dir)
      .select("d_i", "d_j", "corr_v")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.length === 3)
    assert(got.head === ((0L, 1L, 1.0)))
    // remaining pairs (0,2) and (1,2) carry the identical imperfect corr
    assert(got.drop(1).map(r => (r._1, r._2)).toSet === Set((0L, 2L), (1L, 2L)))
    assert(got.drop(1).map(_._3).distinct.length === 1)
    assert(math.abs(got(1)._3) < 1.0)
  }

  test("embed corr pairs: null vectors are skipped (the oracle's unnest-of-NULL " +
    "behavior) and an empty corpus answers empty, not a crash") {
    val dir = java.nio.file.Files.createTempDirectory("graft-emb-null").toString
    Seq(
      (1L, Option(Array(1f, 2f, 3f)), 0),
      (2L, Option.empty[Array[Float]], 0), // NULL embedding row
      (3L, Option(Array(2f, 4f, 5f)), 0),
      (4L, Option(Array(3f, 6f, 9f)), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = LlmOps.embedCorrPairs.build(spark, dir)
      .select("d_i", "d_j", "corr_v")
      .as[(Long, Long, Double)].collect().toSeq
    // the 3 non-null rows: dims 0 and 1 are exactly proportional → corr 1
    assert(got.length === 3)
    assert(got.head === ((0L, 1L, 1.0)))
    // a corpus with NO usable vectors (all null) → empty answer with the
    // right schema, exercising the None branch of the dimension probe
    val emptyDir = java.nio.file.Files.createTempDirectory("graft-emb-empty").toString
    Seq((1L, Option.empty[Array[Float]], 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$emptyDir/embeddings.parquet")
    val empty = LlmOps.embedCorrPairs.build(spark, emptyDir)
    assert(empty.columns.toSeq === Seq("d_i", "d_j", "corr_v"))
    assert(empty.count() === 0)
  }

  test("dup-span fraction: shared 5-grams count, short docs drop out") {
    val dir = docsDir(Seq(
      (1L, "a b c d e f"),     // grams: "a b c d e", "b c d e f"
      (2L, "a b c d e x"),     // grams: "a b c d e", "b c d e x"
      (3L, "p q r s t u v"),   // 3 grams, none shared
      (4L, "z z z z")))        // < 5 tokens → no grams → absent
    val got = LlmOps.dupSpanFraction.build(spark, dir)
      .select("doc_id", "n_grams", "n_dup", "dup_frac")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set(
      (1L, 2L, 1L, 0.5),
      (2L, 2L, 1L, 0.5),
      (3L, 3L, 0L, 0.0)))
  }

  test("semdedup: drops keep a lower id, clear the threshold, and are a subset of the global pair set") {
    val drops = LlmOps.semDedup.build(spark, sfDir)
      .select("vec_id", "c_id", "dup_of", "cos_sim")
      .as[(Long, Long, Long, Double)].collect()
    assert(drops.nonEmpty)
    drops.foreach { case (v, _, u, cs) =>
      assert(u < v, s"dup_of $u !< vec_id $v")
      assert(cs >= 0.4, s"($u,$v) cos $cs below threshold")
    }
    // each vector is dropped at most once
    assert(drops.map(_._1).distinct.length === drops.length)
    // cluster-bucketing only ever removes candidate pairs: every drop must
    // also be a pair of the exact corpus-wide near-dup scan (the
    // fixture-bounded ground truth, not the banded registered form — the
    // banded set is itself a subset and could legitimately miss a drop)
    val pairSet = LlmOps.exactCosinePairs(spark, sfDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    drops.foreach { case (v, _, u, _) =>
      assert(pairSet.contains((u, v)), s"($u,$v) not in global near-dup pairs")
    }
  }

  test("hard negatives: 5 per anchor, all cross-label, ranked by similarity") {
    val labels = graft.engine.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    val got = LlmOps.hardNegatives.build(spark, sfDir)
      .select("q_id", "vec_id", "neg_label", "cos_sim", "rn")
      .as[(Long, Long, Int, Double, Int)].collect()
    val byQ = got.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._5).sorted.toSeq == (1 to 5), s"anchor $q incomplete")
      rows.foreach { case (_, v, nl, _, _) =>
        assert(nl === labels(v), s"neg_label drifted for $v")
        assert(nl !== labels(q), s"anchor $q mined a SAME-label negative")
      }
      val sims = rows.sortBy(_._5).map(_._4)
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y }, s"anchor $q unordered")
    }
  }

  test("ivf-pq: complete top-10 lists per query, recall floor vs brute force") {
    val got = LlmOps.annIvfPq.build(spark, sfDir)
      .select("q_id", "vec_id", "rn").as[(Long, Long, Int)].collect()
    val byQ = got.groupBy(_._1)
    assert(byQ.nonEmpty)
    // every query returns a full, correctly-ranked top-10
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to 10), s"query $q ranks ${rows.map(_._3).toSeq}")
    }
    val exact = LlmOps.knnCosine.build(spark, sfDir)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = byQ.map { case (q, rows) =>
      rows.map(_._2).toSet.intersect(exact(q)).size / 10.0
    }
    val recall = recalls.sum / recalls.size
    // Raw ADC alone reaches only 0.27 on these NEAR-ORTHOGONAL synthetic
    // vectors (PQ's worst regime); the exact-cosine re-rank of the ADC
    // shortlist recovers the rest. Measured recall@10 with the full
    // r12 IVF-PQ pipeline (nprobe=6/16 coarse pruning, pqAssign=2
    // boundary replication, top-100 re-rank) is 0.810 at sf0.001 /
    // 0.783 at sf0.01 — the flat-PQ r11 numbers were 0.816/0.809, so the
    // sub-linear scan costs ~0.02 recall (single-assignment pruning
    // would have cost ~0.07 more: cell-stage ceiling 0.74 vs 0.89
    // measured). 0.75 is the regression floor, pinned below measured to
    // catch regressions, not noise — same policy as the LSH/IVF floors.
    assert(recall >= 0.75, s"PQ recall@10 $recall below floor 0.75")
  }

  test("pq training budget: past the cap the codebook trains on the hash-ranked " +
    "sample; search still returns full, floor-clearing top-10s") {
    // 1500 vectors > pqTrainBudget (1024), so THIS corpus exercises the
    // budget-capped training path (the 500-vector fixtures train on all
    // survivors, so the other PQ tests pin that path). Seeded generator →
    // deterministic run.
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-sample").toString
    val rnd = new scala.util.Random(42)
    val data = (0L until 1500L).map(i =>
      (i, Array.fill(LlmOps.pqM * LlmOps.pqDsub)(rnd.nextGaussian().toFloat), 0))
    data.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(1500L > LlmOps.pqTrainBudget, "corpus no longer exceeds the budget")
    val (cents, cb, codes) = LlmOps.pqTrainEncode(spark, dir)
    // no centroid lost to sampling: the full pqM × pqKs codebook exists,
    // and all pqCells coarse centroids too
    assert(cb.count() === LlmOps.pqM.toLong * LlmOps.pqKs)
    assert(cents.count() === LlmOps.pqCells.toLong)
    // the ENCODE is full-corpus even though training was capped — every
    // vector appears, replicated under its pqAssign coarse cells
    assert(codes.select("vec_id").distinct().count() === 1500L)
    assert(codes.count() === 1500L * LlmOps.pqAssign)
    val got = LlmOps.pqSearch(spark, dir, cents, cb, codes)
      .select("q_id", "vec_id", "rn").as[(Long, Long, Int)].collect()
    val byQ = got.groupBy(_._1)
    assert(byQ.size === 100)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to 10), s"query $q ranks ${rows.map(_._3).toSeq}")
    }
    val exact = LlmOps.knnCosine.build(spark, dir)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = byQ.map { case (q, rows) =>
      rows.map(_._2).toSet.intersect(exact(q)).size / 10.0
    }
    val recall = recalls.sum / recalls.size
    // this 1500-distractor corpus is intrinsically harder than the 500-
    // vector fixture (fixed 100-row shortlist, 3× the candidates): full-
    // corpus flat-PQ training measured 0.637 here, budget-capped 0.597;
    // the r12 IVF-PQ pipeline measures 0.602 (boundary replication
    // recovers what the nprobe pruning drops, and the pruned shortlist
    // is slightly LESS contested). 0.55 is the regression floor, same
    // below-measured policy as the other ANN floors.
    assert(recall >= 0.55, s"budget-trained recall@10 $recall below floor 0.55")
  }

  test("ivf-pq index: parquet round-trip of centroids+codebook+codes is search-equivalent") {
    val (cents, cb, codes) = LlmOps.pqTrainEncode(spark, sfDir)
    val inMem = LlmOps.pqSearch(spark, sfDir, cents, cb, codes)
      .collect().map(_.toString).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-index").toString
    graft.sources.Sinks.writePqIndex(cents, cb, codes, dir)
    val persisted = LlmOps.pqSearch(spark, sfDir,
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/codebook"), spark.read.parquet(s"$dir/codes"))
      .collect().map(_.toString).sorted.toSeq
    assert(persisted === inMem)
    assert(inMem.nonEmpty)
  }

  test("ivf-pq pruning: the standing code table is cell-partitioned and a " +
    "single-query shortlist carries the nprobe-cell partition IN-list") {
    val path = graft.sources.Stores.pqIndex(spark, sfDir)
    // physical layout: one cell=N directory per populated coarse cell
    val cellDirs = new java.io.File(s"$path/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).map(_.getName).toSeq
    assert(cellDirs.size > 1 && cellDirs.size <= LlmOps.pqCells,
      s"unexpected cell partition layout: $cellDirs")
    // the code scan runs inside the shortlist's build: read it off the
    // plans that build executed
    val (_, plans) = executedPlans {
      LlmOps.pqAdcShortlist(spark, sfDir,
        spark.read.parquet(s"$path/centroids"),
        spark.read.parquet(s"$path/codebook"),
        spark.read.parquet(s"$path/codes"), maxQ = 1L).collect()
    }
    val scans = fileScans(plans).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("pq_index/codes")))
    assert(scans.nonEmpty, "no code-table scan in the shortlist's executed plans")
    scans.foreach { f =>
      val ins = f.partitionFilters.collect {
        case i: org.apache.spark.sql.catalyst.expressions.In => i.list.size
      }
      assert(ins.nonEmpty && ins.forall(_ <= LlmOps.pqNprobe),
        s"code scan not pruned to ≤ nprobe cell partitions: ${f.partitionFilters}")
    }
  }

  test("registered indexed ANN: serves from the standing PQ store, full top-10s, recall floor") {
    val (df, plans) = executedPlans(LlmOps.annIvfPqIndexed.build(spark, sfDir))
    // the ADC shortlist must scan the PERSISTED code table — a re-trained
    // in-memory index here means the lifecycle regressed to per-query
    // build; the scans run inside the build, so read its executed plans
    val roots = fileScans(plans).map(_.relation.location.rootPaths.mkString(","))
    assert(roots.exists(_.contains("pq_index/codes")), s"no persisted code scan in: $roots")
    assert(roots.exists(_.contains("pq_index/codebook")), s"no persisted codebook scan in: $roots")
    val got = df.select("q_id", "vec_id", "rn").as[(Long, Long, Int)].collect()
    val byQ = got.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to 10), s"query $q ranks ${rows.map(_._3).toSeq}")
    }
    // same recall discipline as the in-memory twin (round-trip equivalence
    // is proved bit-for-bit by the ivf-pq round-trip test above)
    val exact = LlmOps.knnCosine.build(spark, sfDir)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = byQ.map { case (q, rows) =>
      rows.map(_._2).toSet.intersect(exact(q)).size / 10.0
    }
    assert(recalls.sum / recalls.size >= 0.75,
      s"indexed PQ recall@10 ${recalls.sum / recalls.size} below floor 0.75")
  }

  test("bloom decontamination: superset of the exact hit list, bounded excess") {
    val exact = LlmOps.decontaminate.build(spark, sfDir)
      .select("doc_id", "n_shared").as[(Long, Long)].collect().toMap
    val cand = LlmOps.bloomDecontaminate.build(spark, sfDir)
      .select("doc_id", "n_candidate").as[(Long, Long)].collect().toMap
    assert(exact.nonEmpty)
    // Bloom's contract: no false negatives — every exact hit is a candidate,
    // with at least as many matching grams.
    exact.foreach { case (id, n) =>
      assert(cand.contains(id), s"doc $id in the exact hit list but missed by bloom")
      assert(cand(id) >= n, s"doc $id: candidate grams ${cand(id)} < exact $n")
    }
    // FPP-bounded excess: the 2^20-capacity filter holds only the fixture's
    // few thousand eval grams, so the realized FPP is far under the 1%
    // target; bound excess docs loosely at 5% of the train side.
    val nTrain = graft.engine.Tables.documents(spark, sfDir)
      .filter(col("source") =!= "src0").count()
    val excess = cand.keySet -- exact.keySet
    assert(excess.size <= 0.05 * nTrain + 2, s"${excess.size} excess docs of $nTrain train")
  }

  test("indexed bloom decontamination: served from the standing filter, equals " +
    "the self-contained query row-for-row") {
    // the persisted-filter lifecycle's serve proof: deserialized standing
    // bytes probe identically to the in-query-built filter (deterministic
    // hashing + identical sizing params + identical item set)
    val self = LlmOps.bloomDecontaminate.build(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val served = LlmOps.bloomDecontaminateIndexed.build(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(served === self)
    assert(served.nonEmpty)
  }

  test("dup-span removal: shared 5-gram spans cut, unique context survives") {
    // docs 1/2 share exactly the 5-gram "a b c d e" (at different
    // positions); its span is removed from BOTH, each keeping its unique
    // tokens. doc 3 is sub-gram-length → passes through verbatim. docs
    // 4/5 are full duplicates → every position covered, cleaned to "".
    // docs 6/7: zero-token (empty / whitespace-only) — posexplode emits no
    // rows for them, so without the explicit empties union they would
    // vanish from the output entirely; the no-row-dropped contract says
    // they surface as all-zero rows instead.
    val dir = docsDir(Seq(
      (1L, "a b c d e f g h"),
      (2L, "x a b c d e y z"),
      (3L, "p q r"),
      (4L, "m n o p q r"),
      (5L, "m n o p q r"),
      (6L, ""),
      (7L, "   ")))
    val got = graft.engine.LlmOps.dupSpanRemoval.build(spark, dir)
      .as[(Long, Long, Long, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got.size === 7, s"a document was dropped: ${got.keySet}")
    assert(got(1L) === ((8L, 5L, 0.625, "f g h")))
    assert(got(2L) === ((8L, 5L, 0.625, "x y z")))
    assert(got(3L) === ((3L, 0L, 0.0, "p q r")))
    assert(got(4L) === ((6L, 6L, 1.0, "")))
    assert(got(5L) === ((6L, 6L, 1.0, "")))
    assert(got(6L) === ((0L, 0L, 0.0, "")))
    assert(got(7L) === ((0L, 0L, 0.0, "")))
  }

  test("PCA: unit norm, positive sign convention, eigen-residual, lambda dominates " +
    "every single-dim variance, and the dump is run-to-run identical") {
    val out = LlmOps.embedPca.build(spark, sfDir).collect()
    assert(out.length === 64)
    val v = out.sortBy(_.getLong(0)).map(_.getDouble(1))
    val lambda = out.head.getDouble(2)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-3, "loadings not unit-norm")
    assert(v.maxBy(math.abs) > 0, "sign convention: dominant loading must be positive")
    // Residual against the ORACLE-CHECKED covariance: after 16 rounds the
    // iterate must satisfy Cv ≈ λv far beyond any non-eigenvector direction
    // (power iteration converges at (λ2/λ1)^k; this fixture's spectrum is
    // flat, λ2/λ1 ≈ 0.97, so the bound is 5% of λ — measured ~1.2%). The
    // floor from the 6dp rounding of the dumped C and v is ≤ ~4e-6, far
    // under the asserted bound.
    val covRows = LlmOps.embedPcaCov.build(spark, sfDir).collect()
    val c = Array.ofDim[Double](64, 64)
    covRows.foreach { r =>
      val (i, j, x) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))
      c(i)(j) = x; c(j)(i) = x
    }
    val cv = (0 until 64).map(i => (0 until 64).map(j => c(i)(j) * v(j)).sum)
    val resid = (0 until 64).map(i => math.abs(cv(i) - lambda * v(i))).max
    assert(resid < 0.05 * lambda, s"eigen-residual $resid vs lambda $lambda")
    assert((0 until 64).map(i => c(i)(i)).max <= lambda * 1.001,
      "dominant eigenvalue must be >= every diagonal variance")
    val again = LlmOps.embedPca.build(spark, sfDir).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq,
      "power iteration dump must be deterministic across runs")
  }

  test("PCA quantization guard: no embedding value in any fixture corpus lands " +
    "within 1e-9 of a 1e-5 rounding midpoint (oracle ROUND agreement)") {
    // Mirrors the BPE-corpora glob precedent: every sf dir present is swept,
    // so a regenerated fixture that breaks the exact-quantization premise
    // fails loudly here instead of as an opaque hash mismatch. Both engines
    // round the IDENTICAL double (float→double is exact, ×1e5 is one shared
    // IEEE op), so only an exactly-representable k+0.5 tie could ever
    // split — the guard flags anything within 1e-9 of one.
    import org.apache.spark.sql.functions.{abs => sabs, col, explode, min => smin}
    val dirs = new java.io.File("/root/testdata").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("sf")).map(_.getPath)
    assert(dirs.nonEmpty)
    dirs.foreach { dir =>
      val minDist = graft.engine.Tables.embeddings(spark, dir)
        .select(explode(col("embedding")).as("x"))
        .select(sabs(sabs(col("x").cast("double") * 1e5) % 1.0 - 0.5).as("d"))
        .agg(smin("d")).head.getDouble(0)
      assert(minDist > 1e-9, s"$dir: value too close to a rounding midpoint ($minDist)")
    }
  }
}
