package perfbench

import org.apache.spark.sql.SparkSession
import graft.{GraftSession, SparkEntry}
import Main.{materialize, seconds}

/** One pass over the whole registry: for every query, the `.count()` time
  * that `graft.Bench` reports next to the time to write every output
  * column of every row to the noop sink (both including the build call,
  * after one untimed warm run). A query whose count time is under half its
  * materialized time has operator work that `.count()` lets Catalyst skip.
  */
object Sweep {
  def run(spark: SparkSession, a: Main.Args): Unit = {
    val dir = new java.io.File(a.work, s"data/base-${a.scale}").getAbsolutePath
    Gen.write(spark, dir, a.scale)
    GraftSession.openStores(spark, dir)
    val rows = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val fn = SparkEntry.queries(name)
      try {
        materialize(fn(spark, dir))
        val (_, c) = seconds(fn(spark, dir).count())
        val (_, m) = seconds(materialize(fn(spark, dir)))
        System.err.println(f"sweep: $name%-40s count $c%.3f s  materialized $m%.3f s")
        (name, c, m)
      } catch { case e: Throwable =>
        System.err.println(s"sweep: $name failed: $e")
        (name, Double.NaN, Double.NaN)
      }
    }
    val header = s"# one pass, synthetic corpus at ${a.scale} x sf0.1, ${spark.sparkContext.master}\n" +
      "# query\tcount_s\tmaterialized_s\tcount_elides_work\n"
    val body = rows.map { case (n, c, m) =>
      f"$n\t$c%.3f\t$m%.3f\t${c < m / 2}"
    }.mkString("", "\n", "\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out), (header + body).getBytes("UTF-8"))
    println(s"wrote ${rows.size} queries to ${a.out}; ${rows.count(r => r._2 < r._3 / 2)} elide work under count")
  }
}
