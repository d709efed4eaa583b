package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark entry point: runs one workload of the program for a fixed time and
  * prints its metrics as one JSON line. See `perfbench/README.md`.
  *
  * It uses only the program's public surface: the query registry
  * (`SparkEntry.queries`), the session API (`GraftSession`), the standing
  * stores (`graft.sources.Stores`), their maintenance calls
  * (`graft.sources.Sinks`) and the kernels in `graft.functions`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, scale: Double, mode: String, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      need("work"), m.getOrElse("scale", "1").toDouble, m.getOrElse("mode", "run"),
      m.getOrElse("out", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // Two task threads: most ops here run for well under a second and are
    // bound by the one thread that plans and schedules them. Leaving the
    // other cores to it, the JIT and the GC made runs faster and steadier
    // than local[4] on a 4-core machine.
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val runDir = new java.io.File(a.work, s"run-${ProcessHandle.current().pid()}")
    runDir.mkdirs()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(runDir, "spark").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(runDir, "warehouse").getAbsolutePath)
      .config("spark.graft.storeRoot", new java.io.File(runDir, "stores").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try a.mode match {
        case "run" => Runner(spark, a, cores, runDir, t0).run()
        case "record" => Runner(spark, a, cores, runDir, t0).record()
        case "sweep" => Sweep.run(spark, a); 0
        case other => throw new IllegalArgumentException(s"unknown mode $other")
      }
      finally {
        spark.stop()
        deleteTree(runDir)
      }
    System.exit(code)
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(dirBytes).sum)
    else if (f.exists()) f.length() else 0L

  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** GC time of the JVM, without the collections [[settle]] asked for. */
  def jvmGcSeconds(): Double = allGcSeconds() - settleGcS

  private def allGcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }

  private var settleGcS = 0.0

  /** A full collection between passes and cycles, outside every timed
    * item: each one starts from the same heap, holding only live objects,
    * rather than from wherever the last collection happened to leave it.
    * It also lets Spark's context cleaner drop the shuffles and broadcasts
    * of finished queries.
    */
  def settle(): Unit = {
    val g0 = allGcSeconds()
    System.gc()
    settleGcS += allGcSeconds() - g0
  }

  /** Waits until the listener bus has delivered every queued event. */
  def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(30000L))
  }
}
