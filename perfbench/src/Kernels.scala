package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{EditDistance, MinHashAgg, VectorOps}

/** Single-threaded probes of the hot kernels in `graft.functions`, on
  * seeded synthetic input, plus the fixed-work calibration probes that
  * `graft.Bench` records (a CPU spin and a parquet scan), so a reading can
  * be set against the speed of the machine it was taken on.
  */
object Kernels {
  final case class Probe(nsPerCall: Double, opsPerCall: Double, bytesPerCall: Double)

  @volatile private var sink = 0L

  /** Median over five rounds of the mean time per call, after a warm-up
    * long enough for the JIT to compile the kernel.
    */
  private def time(n: Int)(call: Int => Long): Double = {
    def round(): Double = {
      var acc = 0L
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { acc += call(i); i += 1 }
      val dt = System.nanoTime() - t0
      sink += acc
      dt.toDouble / n
    }
    (1 to 3).foreach(_ => round())
    val rs = (1 to 5).map(_ => round()).sorted
    rs(2)
  }

  def cosine(seed: Long): Probe = {
    val rnd = new java.util.Random(seed)
    val vs = Array.fill(256)(UnsafeArrayData.fromPrimitiveArray(Array.fill(64)(rnd.nextGaussian().toFloat)))
    val ns = time(400000)(i => java.lang.Double.doubleToRawLongBits(VectorOps.cosine(vs(i & 255), vs((i * 7 + 1) & 255))))
    Probe(ns, 64 * 6, 2 * 64 * 4)
  }

  def levenshtein(seed: Long): Probe = {
    val rnd = new java.util.Random(seed)
    def text(): String = Seq.fill(30)(Gen.vocab(rnd.nextInt(Gen.vocab.size))).mkString(" ")
    val ts = Array.fill(64)(UTF8String.fromString(text()))
    val pairs = (0 until 64).map(i => (ts(i), ts((i * 5 + 3) & 63)))
    val avgM = pairs.map(p => math.min(p._1.numChars, p._2.numChars)).sum.toDouble / pairs.size
    val avgN = pairs.map(p => math.max(p._1.numChars, p._2.numChars)).sum.toDouble / pairs.size
    val ns = time(20000) { i => val (a, b) = pairs(i & 63); EditDistance.distance(a, b, -1).toLong }
    // Myers' bit-parallel DP: one pass over the longer string per 64-char
    // word of the shorter one
    Probe(ns, math.ceil(avgM / 64) * avgN, avgM + avgN)
  }

  def minhash(seed: Long): Probe = {
    val rnd = new java.util.Random(seed)
    val toks = Array.fill(1024)(Gen.vocab(rnd.nextInt(Gen.vocab.size)) + rnd.nextInt(1000))
    val agg = new MinHashAgg(16)
    val ns = time(2000000)(i => agg.hashSlot(i & 15, toks(i & 1023)))
    Probe(ns, 1, toks.map(_.length).sum.toDouble / toks.length)
  }

  /** The fixed-work serial spin of `graft.Bench` (3e8 xorshift steps). */
  def spin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 300000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink ^= x
    (System.nanoTime() - t0) / 1e9
  }

  /** The fixed-work scan probe of `graft.Bench`: sum and count over the
    * same 20M deterministic rows, written once into `dir`.
    */
  def scan(spark: SparkSession, dir: String): Double = {
    if (!new java.io.File(s"$dir/_SUCCESS").exists())
      spark.range(0L, 20000000L, 1L, 8)
        .selectExpr("id", "(id * 2654435761) % 997 AS k")
        .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).selectExpr("sum(k)").collect()
    val t0 = System.nanoTime()
    spark.read.parquet(dir).selectExpr("sum(k)", "count(*)").collect()
    (System.nanoTime() - t0) / 1e9
  }
}
