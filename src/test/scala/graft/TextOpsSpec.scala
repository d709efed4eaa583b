package graft

import graft.engine.TextOps

/** Text-analysis semantics on hand-computable inputs — in particular that
  * language-ID actually identifies languages on real multilingual text
  * (the corpus oracle only pins the join/argmax machinery).
  */
class TextOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    rows.map { case (id, text) => (id, text, "xx", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("repetition: repeated-trigram fraction on hand-computable docs") {
    // "a b a b a b": trigrams (a b a)(b a b)(a b a)(b a b) → 4 total,
    // 2 distinct → rep 0.5; an all-distinct doc scores 0; a 2-token doc
    // has no trigrams and is excluded.
    val dir = docsDir(Seq(
      (1L, "a b a b a b"), (2L, "one two three four"), (3L, "too short")))
    val got = graft.engine.TextOps.repetition.build(spark, dir)
      .select("doc_id", "n_tri", "rep_frac").as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 4L, 0.5), (2L, 2L, 0.0)))
  }

  test("language-id picks the marker-dominant language; no markers → und") {
    val dir = docsDir(Seq(
      (1L, "the cat and a dog sat on the mat"),
      (2L, "der hund und die katze ist hier"),
      (3L, "el perro que corre los campos una vez"),
      (4L, "le chat est dans les jardins"),
      (5L, "的 是 在 了 都"),
      (6L, "lorem ipsum dolor sit amet")))
    val got = TextOps.langId.build(spark, dir)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "fr", 5L -> "zh", 6L -> "und"))
  }

  test("simhash: identical docs collide; similar docs are closer than dissimilar") {
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (0 until 58).map(i => s"tok$i").mkString(" ") + " other word"
    val different = (100 until 160).map(i => s"w$i").mkString(" ")
    val dir = docsDir(Seq((1L, base), (2L, base), (3L, nearDup), (4L, different)))
    val h = TextOps.simhash.build(spark, dir)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(1L) === h(2L))
    assert(hamming(h(1L), h(3L)) < hamming(h(1L), h(4L)))
  }

  test("fingerprints: md5 matches reference value, poly hash matches hand fold") {
    val dir = docsDir(Seq((1L, "ab cde")))
    val row = TextOps.fingerprint.build(spark, dir).collect().head
    // md5("ab cde") — reference value from java.security.MessageDigest
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("ab cde".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(row.getString(1) === md)
    // fold: ((0*31+2)%p)*31+3 %p = 65
    assert(row.getLong(2) === 65L)
  }

  test("token counts: whitespace vs bpe-ish vs chars/4") {
    val dir = docsDir(Seq((1L, "Hello world42, x!")))
    val r = TextOps.tokenCount.build(spark, dir).collect().head
    assert(r.getInt(1) === 3) // ws: Hello | world42, | x!
    // bpe: Hello|world|42|,|x|! = 6
    assert(r.getInt(2) === 6)
    assert(r.getLong(3) === math.ceil(17 / 4.0).toLong)
  }

  test("quality score formula is reproducible by hand") {
    val dir = docsDir(Seq((1L, "the a data xyz")))
    val r = TextOps.qualityScore.build(spark, dir).collect().head
    val nTok = 4
    val stopRatio = 3.0 / 4
    val avgLen = 11.0 / 4 // "theadataxyz".length / 4
    val expected = BigDecimal(0.3 * math.log(1.0 + nTok) + 0.5 * stopRatio + 0.2 * (avgLen / 10.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getInt(1) === nTok)
    assert(r.getDouble(3) === expected)
  }

  test("pii scrub counts organic + planted hits and redacts them all") {
    // doc 3 carries organic PII on top of the one planted email/IP/phone
    // the query derives from doc_id; the md5 must match the fully-redacted
    // string (organic AND planted occurrences replaced).
    val dir = docsDir(Seq(
      (3L, "mail bob.smith@corp.example.org or 192.168.0.1 call 555-123-4567")))
    val r = TextOps.piiScrub.build(spark, dir).collect().head
    assert((r.getInt(1), r.getInt(2), r.getInt(3)) === ((2, 2, 2)))
    val expectedRedacted =
      "mail <EMAIL> or <IP> call <PHONE>" +
        " contact <EMAIL> from <IP> tel <PHONE>"
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(expectedRedacted.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.getString(4) === md5)
  }

  test("levenshtein pairs: only same-block pairs compared, sim hand-checked") {
    // docs 1, 2, 5 share block (xx, 3 tokens); docs 3 (1 token) and 4
    // (4 tokens) sit in singleton blocks → never paired with anything.
    val dir = docsDir(Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),
      (5L, "alpha beta gamm"),
      (3L, "solo"),
      (4L, "one two three four")))
    val got = TextOps.levenshteinPairs.build(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSet
    // lev(1,5) = 1 deletion over max-len 16 → sim = 1 - 1/16 = 0.9375
    assert(got === Set(
      (1L, 2L, 0L, 1.0), (1L, 5L, 1L, 0.9375), (2L, 5L, 1L, 0.9375)))
  }

  test("levenshtein pairs: an over-cap block is dropped, not exploded") {
    // 101 identical two-token docs exceed the 100-doc block cap → the
    // anti-join kills the whole block and zero pairs come out (instead of
    // 5k lev() calls on a degenerate hot block); an at-cap block survives.
    val dir = docsDir((1L to 101L).map(i => (i, "a b")))
    assert(TextOps.levenshteinPairs.build(spark, dir).count() === 0L)
    val atCap = docsDir((1L to 100L).map(i => (i, "a b")))
    assert(TextOps.levenshteinPairs.build(spark, atCap).count() === 100L * 99 / 2)
  }

  test("simhash pairs equal the brute-force all-pairs hamming <= 3 filter") {
    // Banding is complete by pigeonhole: 3 flipped bits touch at most 3 of
    // the 4 8-bit bands, so every pair within distance 3 shares a band.
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf"
      val h = TextOps.simhash.build(spark, dir).select("doc_id", "simhash")
        .as[(Long, Long)].collect().sortBy(_._1)
      val brute = (for {
        i <- h.indices; j <- i + 1 until h.length
        d = java.lang.Long.bitCount(h(i)._2 ^ h(j)._2) if d <= 3
      } yield (h(i)._1, h(j)._1, d)).toSet
      val got = TextOps.simhashPairs.build(spark, dir)
        .as[(Long, Long, Int)].collect().toSet
      assert(brute.nonEmpty, sf)
      assert(got === brute, sf)
    }
  }

  test("token entropy: uniform 2-token source = 1 bit; 1-token source = +0.0") {
    // "a a b b" → n=4, c={2,2}: H = log2(4) − (2·1 + 2·1)/4 = 1.0 exactly
    val got = TextOps.tokenEntropy.build(spark, docsDir(Seq((1L, "a a b b"))))
      .as[(String, Long, Long, Double)].collect().head
    assert(got === (("src0", 4L, 2L, 1.0)))
    // degenerate single-token source: exactly +0.0 (the log2(n)−Σ/n form
    // cannot emit −0.0, which would hash-diverge from the oracle)
    val zero = TextOps.tokenEntropy.build(spark, docsDir(Seq((1L, "a a a"))))
      .as[(String, Long, Long, Double)].collect().head
    assert(zero === (("src0", 3L, 1L, 0.0)))
    assert(java.lang.Double.doubleToLongBits(zero._4) === 0L)
  }

  test("boilerplate ngrams: a trigram in >= 5 docs flags; rare ones do not") {
    // docs 1-5 share the leading trigram "x y z" (df 5 = threshold);
    // doc 6 is all-unique so none of its trigrams are boilerplate.
    val rows = (1L to 5L).map(i => (i, s"x y z a$i b$i c$i")) :+
      (6L, "p q r s t u")
    val got = TextOps.boilerplateNgrams.build(spark, docsDir(rows))
      .select("doc_id", "n_tri", "n_boiler", "boiler_frac")
      .as[(Long, Long, Long, Double)].collect().toSet
    // 6 tokens → 4 trigrams; exactly one ("x y z") is boilerplate.
    assert(got === ((1L to 5L).map(i => (i, 4L, 1L, 0.25)).toSet + ((6L, 4L, 0L, 0.0))))
  }

  test("unigram logprob: hand-computed corpus model, common beats rare") {
    // corpus: doc 1 = "a a b", doc 2 = "a b" → freq a=3, b=2, N=5
    val dir = docsDir(Seq((1L, "a a b"), (2L, "a b")))
    val l3 = math.log(3) / math.log(2)
    val l5 = math.log(5) / math.log(2)
    val exp1 = BigDecimal((l3 + l3 + 1.0) / 3 - l5)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp2 = BigDecimal((l3 + 1.0) / 2 - l5)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextOps.unigramLogprob.build(spark, dir)
      .select("doc_id", "n_tok", "avg_log2p")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 3L, exp1), (2L, 2L, exp2)))
    // the doc weighted toward the more frequent token scores higher
    assert(exp1 > exp2)
  }

  test("winnowing: guarantee + locality on an edited document") {
    // 60-token base doc; edited doc changes ONE middle token. Winnowing's
    // guarantee: any shared run of >= w+k-1 tokens yields a shared
    // fingerprint, and an edit can only disturb fingerprints whose gram or
    // window touches it — so the two documents must share most of their
    // fingerprint sets while identical docs share all of them.
    val base = (0 until 60).map(i => s"tok$i").toVector
    val edited = base.updated(30, "CHANGED")
    val dir = docsDir(Seq(
      (1L, base.mkString(" ")),
      (2L, base.mkString(" ")),      // identical to 1
      (3L, edited.mkString(" ")),
      (4L, "too short")))            // < k tokens after split? 2 toks < k=3
    val fps = TextOps.winnowFps(
        spark.read.parquet(s"$dir/documents.parquet"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(fps(1L) === fps(2L), "identical docs must fingerprint identically")
    assert(!fps.contains(4L), "doc with no full window emits no fingerprints")
    val overlap = (fps(1L) & fps(3L)).size.toDouble / fps(1L).size
    assert(overlap >= 0.6, s"single-token edit destroyed $overlap of fingerprints")
    assert(fps(1L) !== fps(3L), "the edit must perturb at least one fingerprint")
    // density: winnowing keeps roughly 2/(w+1) of gram hashes; assert the
    // set is a real reduction, not the full shingle set
    val nGrams = 60 - 3 + 1
    assert(fps(1L).size < nGrams, "fingerprints must be sparser than grams")
  }

  test("normalize: strips punctuation, collapses whitespace, trims") {
    val dir = docsDir(Seq(
      (1L, "  Hello,   World! 42  "),
      (2L, "ALL-CAPS...and/or (symbols)"),
      (3L, "???")))
    val got = TextOps.normalize.build(spark, dir)
      .select("doc_id", "norm_text", "n_after").as[(Long, String, Long)].collect().toSet
    assert(got === Set(
      (1L, "hello world 42", 14L),
      (2L, "allcapsandor symbols", 20L),
      (3L, "", 0L)))
  }

  /** The identical BPE algorithm in plain Scala — the engine-independent
    * oracle for text_bpe_merges: greedy left-to-right non-overlapping merge,
    * argmax pair by (score desc, a asc, b asc).
    */
  private type BpeVocab = Map[Vector[String], Long]

  private def bpePairScores(vocab: BpeVocab): Map[(String, String), Long] = {
    val scores = scala.collection.mutable.Map[(String, String), Long]()
    vocab.foreach { case (syms, f) =>
      syms.zip(syms.tail).foreach(p => scores(p) = scores.getOrElse(p, 0L) + f)
    }
    scores.toMap
  }

  private def bpeApplyMerge(vocab: BpeVocab, a: String, b: String): BpeVocab =
    vocab.toSeq.map { case (syms, f) =>
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) { out += a + b; i += 2 }
        else { out += syms(i); i += 1 }
      }
      (out.toVector, f)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap

  private def bpeInitVocab(words: Map[String, Long]): BpeVocab =
    words.toSeq
      .map { case (w, f) => (w.map(_.toString).toVector, f) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap

  private def bpeReference(words: Map[String, Long], rounds: Int): Seq[(String, String, Long)] = {
    var vocab = bpeInitVocab(words)
    (1 to rounds).flatMap { _ =>
      val scores = bpePairScores(vocab)
      if (scores.isEmpty) None // pairs exhausted: remaining rounds are no-ops
      else {
        val ((a, b), sc) = scores.toSeq.minBy { case ((x, y), s) => (-s, x, y) }
        vocab = bpeApplyMerge(vocab, a, b)
        Some((a, b, sc))
      }
    }
  }

  test("bpe merges: distributed learner equals the pure-Scala reference") {
    import org.apache.spark.sql.functions.{col, explode, filter, lower, split}
    def wordFreqs(dir: String): Map[String, Long] =
      spark.read.parquet(s"$dir/documents.parquet")
        .select(explode(filter(split(lower(col("text")), " "), t => t =!= "")).as("tok"))
        .groupBy("tok").count().as[(String, Long)].collect().toMap
    def check(dir: String): Unit = {
      val got = TextOps.bpeMerges.build(spark, dir)
        .select("rank", "sym_a", "sym_b", "new_sym", "score")
        .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
      val exp = bpeReference(wordFreqs(dir), TextOps.bpeRounds)
      assert(got.length === exp.length)
      got.zip(exp).foreach { case ((r, a, b, ns, sc), (ea, eb, esc)) =>
        assert((a, b, sc) === ((ea, eb, esc)), s"merge rank $r diverged")
        assert(ns === a + b)
      }
    }
    check(TestSpark.sfDir)
    check(docsDir(Seq(
      (1L, "low low low lower lower newest newest newest newest widest widest"))))
  }

  test("bpe oracle precondition: replace() never matches across symbol boundaries") {
    // The oracle simulates the whole-symbol merge fold with a delimited-
    // string replace(ma || chr(31) || mb → ma || mb). That is equivalent
    // ONLY while no symbol FRAGMENT spells the pattern: a symbol merely
    // ENDING in ma followed by mb, or ma followed by a symbol merely
    // STARTING with mb, would let replace() merge where the whole-symbol
    // fold does not. This replays the trainer over every oracle corpus
    // and asserts the precondition at every round — turning "the fixtures
    // happen not to hit it" into a pinned invariant that fails loudly if
    // a regenerated corpus ever does (instead of a silent hash mismatch).
    import org.apache.spark.sql.functions.{col, explode, filter, lower, split}
    // every fixture corpus on disk, not a hardcoded list: a regenerated
    // or added SF (e.g. sf1) is covered automatically
    val corpora = Option(new java.io.File("/root/testdata").listFiles())
      .getOrElse(Array.empty[java.io.File]) // listFiles is null on a missing dir
      .filter(d => d.isDirectory && new java.io.File(d, "documents.parquet").exists())
      .map(_.getAbsolutePath).sorted.toSeq
    assert(corpora.nonEmpty, "no fixture corpora found under /root/testdata")
    for (dir <- corpora) {
      val words = spark.read.parquet(s"$dir/documents.parquet")
        .select(explode(filter(split(lower(col("text")), " "), t => t =!= "")).as("tok"))
        .groupBy("tok").count().as[(String, Long)].collect().toMap
      var vocab = bpeInitVocab(words)
      for (round <- 1 to TextOps.bpeRounds) {
        val scores = bpePairScores(vocab)
        if (scores.nonEmpty) {
          val ((a, b), _) = scores.toSeq.minBy { case ((x, y), s) => (-s, x, y) }
          vocab.keys.foreach { syms =>
            syms.zip(syms.tail).foreach { case (x, y) =>
              val fragment = x.endsWith(a) && y.startsWith(b) && !(x == a && y == b)
              assert(!fragment,
                s"$dir round $round: replace() would corrupt [$x|$y] under pair ($a, $b)")
            }
          }
          vocab = bpeApplyMerge(vocab, a, b)
        }
      }
    }
  }

  test("bpe apply: vocab round-trips, token counts bounded, exhaustion is a no-op") {
    import org.apache.spark.sql.functions.{col, concat_ws}
    // Exhaustion: one 2-char word leaves no pairs after merge 1; the
    // remaining rounds must be no-ops, not vocabulary-destroying (the
    // left-join guard in the trainer).
    val tiny = docsDir(Seq((1L, "ab ab ab")))
    val merges = TextOps.bpeMerges.build(spark, tiny)
      .select("rank", "sym_a", "sym_b").as[(Int, String, String)].collect()
    assert(merges.toSeq === Seq((1, "a", "b")))
    val applied = TextOps.bpeApply.build(spark, tiny)
      .select("doc_id", "n_words", "n_bpe_tokens", "tokens_per_word")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(applied === Seq((1L, 3L, 3L, 1.0)))
    // Fixture: every vocab word reassembles from its post-merge symbols,
    // and per-doc BPE tokens are never fewer than whitespace words.
    val (_, vocab) = TextOps.bpeTrain(spark, TestSpark.sfDir, TextOps.bpeRounds)
    assert(vocab.filter(concat_ws("", col("syms")) =!= col("tok")).count() === 0)
    val stats = TextOps.bpeApply.build(spark, TestSpark.sfDir)
      .select("n_words", "n_bpe_tokens").as[(Long, Long)].collect()
    assert(stats.nonEmpty)
    stats.foreach { case (w, t) => assert(t >= w, s"bpe tokens $t < words $w") }
  }

  test("quality classifier: loss descends monotonically; separable corpus is learned") {
    // GD invariant on the fixture: full-batch logistic loss never increases
    val (_, losses) = TextOps.qcTrain(spark, TestSpark.sfDir, TextOps.qcRounds)
    val curve = losses.as[(Int, Double)].collect().sortBy(_._1).map(_._2)
    assert(curve.length === TextOps.qcRounds)
    curve.zip(curve.tail).foreach { case (a, b) => assert(b <= a + 1e-9, s"loss rose: $a -> $b") }
    // Separable corpus: src0 docs are long, the rest short — the length
    // feature alone separates, and enough rounds must learn it.
    val dir = java.nio.file.Files.createTempDirectory("graft-qc").toString
    val long = (0 until 40).map(i => s"w$i").mkString(" ")
    (1L to 30L).map { i =>
      val (text, src) = if (i <= 10) (long, "src0") else ("a b c", s"src${i % 3 + 1}")
      (i, text, "en", src, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    import org.apache.spark.sql.functions.{aggregate, broadcast, col, lit, when, zip_with}
    val (w, sepLosses) = TextOps.qcTrain(spark, dir, 60)
    val sepCurve = sepLosses.as[(Int, Double)].collect().sortBy(_._1).map(_._2)
    sepCurve.zip(sepCurve.tail).foreach { case (a, b) => assert(b <= a + 1e-9) }
    val acc = TextOps.qcFeatures(spark, dir).crossJoin(broadcast(w))
      .withColumn("z", aggregate(zip_with(col("x"), col("w"), _ * _), lit(0.0), _ + _))
      .select(when((col("z") >= 0.0) === (col("y") >= 0.5), 1.0).otherwise(0.0).as("hit"))
      .as[Double].collect()
    assert(acc.sum / acc.length >= 0.9,
      s"separable-corpus accuracy ${acc.sum / acc.length} — the classifier failed to learn length")
  }

  test("bigram logprob: self-trained conditional MLE on a hand corpus") {
    // Corpus bigrams: "a b" and "a c" → c(a,b) = c(a,c) = 1, prefix count
    // c(a) = 2, so both bigrams have p = 1/2 and each doc scores
    // avg log2 p = −1. The 1-token doc has no bigrams and drops out.
    val dir = docsDir(Seq((1L, "a b"), (2L, "a c"), (3L, "x")))
    val got = TextOps.bigramLogprob.build(spark, dir)
      .select("doc_id", "n_bigrams", "avg_log2p")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 1L, -1.0), (2L, 1L, -1.0)))
  }

  test("bigram logprob: every doc has n_tok − 1 bigrams and log-probs ≤ 0") {
    import org.apache.spark.sql.functions.{col, filter, lower, size, split}
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("doc_id"),
        size(filter(split(lower(col("text")), " "), t => t =!= "")).as("n_tok"))
    val j = TextOps.bigramLogprob.build(spark, TestSpark.sfDir).join(docs, "doc_id")
    assert(j.count() > 0)
    assert(j.filter(col("n_bigrams") =!= col("n_tok") - 1).count() === 0)
    assert(j.filter(col("avg_log2p") > 0).count() === 0)
  }

  test("gopher repetition: top/dup n-gram char fractions on hand-computable docs") {
    // doc 1 "a b a b c" (9 chars): 2-grams {a b:2, b a:1, b c:1} → top2 =
    // 2·3/9; 3-grams all distinct → top3 = 5/9 (lexicographic tie → "a b a"),
    // dup3 = 0. doc 2 "x y x y x y" (11 chars): top2 = 3·3/11; 3-grams both
    // appear twice → top3 = 2·5/11 with the tie resolving to "x y x", and
    // dup3 = 20/11 — overlap lets the duplicate mass exceed 1 by design.
    // doc 3 has <3 tokens and is excluded.
    val dir = docsDir(Seq((1L, "a b a b c"), (2L, "x y x y x y"), (3L, "a b")))
    val got = TextOps.gopherRepetition.build(spark, dir)
      .select("doc_id", "n_tok", "top2_frac", "top3_frac", "dup3_frac")
      .as[(Long, Long, Double, Double, Double)].collect().toSet
    assert(got === Set(
      (1L, 5L, 0.6667, 0.5556, 0.0),
      (2L, 6L, 0.8182, 0.9091, 1.8182)))
  }

  test("gopher doc filter: each rule trips on its designed violation") {
    val dir = docsDir(Seq(
      // 12 tokens, 2 stopword hits, all trigrams distinct → keep
      (1L, "the a t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      // repetitive: tri_rep 0.8 > 0.2; mean token length 1 < 2
      (2L, "a b a b a b a b a b a b"),
      // only 3 tokens → fails the word-count floor
      (3L, "the data value"),
      // single token → length floor fails, tri_rep guard yields 0
      (4L, "hi"),
      // zero tokens: the doc MUST still get a keep=false row — dropping
      // it would let an anti-join consumer silently retain it
      (5L, " ")))
    val got = TextOps.gopherDocFilter.build(spark, dir)
      .select("doc_id", "pass_len", "pass_wordlen", "pass_stop", "pass_rep", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)].collect()
      .map { case (id, a, b, c, d, k) => id -> ((a, b, c, d, k)) }.toMap
    assert(got(1L) === ((true, true, true, true, true)))
    assert(got(2L) === ((true, false, true, false, false)))
    assert(got(3L) === ((false, true, true, true, false)))
    assert(got(4L) === ((false, true, false, true, false)))
    assert(got(5L) === ((false, false, false, true, false)))
    val nums = TextOps.gopherDocFilter.build(spark, dir)
      .select("doc_id", "mean_tok_len", "tri_rep")
      .as[(Long, Double, Double)].collect()
      .map { case (id, m, r) => id -> ((m, r)) }.toMap
    assert(nums(1L)._1 === 2.0833)
    assert(nums(2L)._2 === 0.8)
  }

  test("inverted search: conjunctive AND over postings with per-term tf") {
    val dir = docsDir(Seq(
      (1L, "spark join window"),
      (2L, "spark join"), // missing 'window' → intersection drops it
      (3L, "window spark join window spark")))
    val got = graft.engine.LogOps.invertedSearch.build(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 1L, 1L), (3L, 2L, 1L, 2L)))
  }

  test("phrase search: adjacency join counts exact 'hash join' occurrences") {
    val dir = docsDir(Seq(
      (1L, "the hash join wins"),
      (2L, "join hash"), // reversed order is NOT the phrase
      (3L, "hash join hash join")))
    val got = graft.engine.LogOps.phraseSearch.build(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 1L), (3L, 2L)))
  }

  test("proximity search: NEAR/4 counts pairs either order; bucket edges included") {
    val dir = docsDir(Seq(
      (1L, "spark a b c vector"),        // dist 4 — at the k bound, counts
      (2L, "vector spark"),              // reversed order, dist 1
      (3L, "spark a b c d vector"),      // dist 5 — excluded
      (4L, "spark vector spark"),        // two pairs, min dist 1
      (5L, "a b spark c d e vector")))   // pa=3 (bucket 0), pb=7 (bucket 1): the
                                         // cross-bucket case the ±1 explode covers
    val got = graft.engine.LogOps.proximitySearch.build(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 4L), (2L, 1L, 1L), (4L, 2L, 1L), (5L, 1L, 4L)))
  }

  test("cdc chunks: content-defined boundaries re-sync after an insertion") {
    // B = A with one token prepended. Fixed-width blocks would all shift;
    // CDC boundaries depend only on token content, so every chunk after
    // the first boundary is byte-identical between A and B → dup counts
    // within 2 chunks of total. C shares no vocabulary → zero dup chunks.
    val aToks = (0 until 80).map(i => s"tok${i % 40}")
    val dir = docsDir(Seq(
      (1L, aToks.mkString(" ")),
      (2L, ("inserted" +: aToks).mkString(" ")),
      (3L, (0 until 40).map(i => s"uniq$i").mkString(" "))))
    val got = TextOps.cdcChunks.build(spark, dir)
      .select("doc_id", "n_chunks", "dup_chunks")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val (na, da) = got(1L)
    val (nb, db) = got(2L)
    assert(na > 2, s"fixture too short to chunk: $na chunks")
    assert(da >= na - 2, s"A shares all but its head chunk: $da of $na")
    assert(db >= nb - 2, s"B re-syncs within one chunk: $db of $nb")
    assert(got(3L)._2 === 0L)
  }

  test("LevenshteinMyers equals the built-in levenshtein across block boundaries, " +
    "unicode code points, and every threshold mode") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, col, lit}
    // deterministic LCG pairs over a tiny alphabet (forces real match
    // structure, not trivially-distinct strings); lengths sweep 0..200 so
    // the 64- and 128-bit block boundaries are crossed both ways
    var seed = 0x9E3779B97F4A7C15L
    def nxt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.floorMod((seed >>> 33).toInt, bound)
    }
    def rs(len: Int, alpha: String): String =
      (0 until len).map(_ => alpha(nxt(alpha.length))).mkString
    val pairs = ((0 until 80).map(_ => (rs(nxt(201), "abcd"), rs(nxt(201), "abcd"))) ++
      Seq(("", ""), ("", "abc"), ("abc", ""), ("same", "same"),
        (rs(63, "ab"), rs(64, "ab")), (rs(64, "ab"), rs(65, "ab")),
        (rs(128, "ab"), rs(129, "ab")), (rs(127, "ab"), rs(191, "ab")),
        ("κόσμε αβγ", "κοσμε αβλ"), ("日本語のテキスト", "日本語テキスト!")))
      .toDF("a", "b")
    for (lim <- Seq(1, 3, 25, 1000)) {
      val got = pairs.select(
        graft.functions.LevenshteinMyers(col("a"), col("b"), lit(lim)))
        .as[Int].collect().toSeq
      val want = pairs.select(
        call_function("levenshtein", col("a"), col("b"), lit(lim)))
        .as[Int].collect().toSeq
      assert(got === want, s"threshold $lim diverged")
    }
    val gotExact = pairs.select(
      graft.functions.LevenshteinMyers(col("a"), col("b"), lit(-1)))
      .as[Int].collect().toSeq
    val wantExact = pairs.select(call_function("levenshtein", col("a"), col("b")))
      .as[Int].collect().toSeq
    assert(gotExact === wantExact)
    assert(wantExact.exists(_ > 0) && wantExact.contains(0), "degenerate fixture")
  }
}
