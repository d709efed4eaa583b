package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic corpus with the schemas and value ranges of the
  * TPC-H-ish star schema plus the `events`, `documents` and `embeddings`
  * tables that the registered queries read.
  *
  * Content is a pure function of the row key and a fixed salt, so every
  * seed sees the same logical tables; the seed only decides how the tables
  * the workloads read are split into files and ordered inside them
  * ([[layout]]), and so the rows each task holds and the order every
  * operator sees. The answers of the registered queries do not depend on
  * that order, so they are the same for every seed and are checked against
  * stored fingerprints.
  *
  * `scale` 1.0 gives sf0.1's row counts.
  */
object Gen {
  val vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private val Salt = 0x5eed1e55L

  /** Uniform double in [0, 1) from the key columns and a salt. */
  private def u(salt: Int, keys: Column*): Column =
    pmod(xxhash64((lit(Salt + salt) +: keys): _*), lit(1L << 40)).cast("double") / (1L << 40).toDouble

  /** Whole number in [0, n). */
  private def pick(n: Long, salt: Int, keys: Column*): Column =
    pmod(xxhash64((lit(Salt + salt) +: keys): _*), lit(n))

  private def oneOf(values: Seq[String], salt: Int, keys: Column*): Column =
    element_at(array(values.map(lit): _*), (pick(values.size.toLong, salt, keys: _*) + 1).cast("int"))

  /** Approximately standard normal: centred sum of four uniforms. */
  private def gauss(salt: Int, keys: Column*): Column =
    (u(salt, keys: _*) + u(salt + 1, keys: _*) + u(salt + 2, keys: _*) + u(salt + 3, keys: _*) - 2.0) * 1.7

  /** The events span this many days from 2024-01-01. */
  val EventDays = 30

  final case class Sizes(scale: Double) {
    private def n(base: Long, floor: Long = 1L): Long = math.max(floor, math.round(base * scale))
    val supplier: Long = n(1000)
    val customer: Long = n(15000)
    val part: Long = n(20000)
    val orders: Long = n(150000)
    val lineitem: Long = n(600000)
    val events: Long = n(100000)
    val documents: Long = n(5000, 500)
    val embeddings: Long = n(2000, 500)
  }

  /** The ten tables, keyed by name, at `scale`. */
  def tables(spark: SparkSession, scale: Double): Seq[(String, DataFrame)] = {
    val sz = Sizes(scale)
    def rows(n: Long): DataFrame = spark.range(0L, n, 1L, 8).select(col("id").as("b"))
    val b = col("b")

    val region = spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val nation = spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))
    val supplier = spark.range(0L, sz.supplier, 1L, 1).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(25, 1, col("id")).cast("int").as("s_nationkey"),
      round(u(2, col("id")) * 10999 - 999, 2).as("s_acctbal"))
    val part = spark.range(0L, sz.part, 1L, 2).select(col("id").as("p_partkey"),
      concat_ws(" ", oneOf(Seq("large", "hot", "small", "bright", "steel", "green"), 3, col("id")),
        oneOf(Seq("ring", "bolt", "nut", "pipe", "gear", "plate"), 4, col("id"))).as("p_name"),
      concat(lit("Brand#"), pick(25, 5, col("id")) + 1).as("p_brand"),
      oneOf(Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"), 6, col("id")).as("p_type"),
      (pick(50, 7, col("id")) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice"))

    val customer = rows(sz.customer).select(b.as("c_custkey"),
      format_string("Customer#%09d", b).as("c_name"),
      pick(25, 8, b).cast("int").as("c_nationkey"),
      round(u(9, b) * 10999 - 999, 2).as("c_acctbal"),
      oneOf(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 10, b).as("c_mktsegment"))
    val day = 86400L
    val orders = rows(sz.orders).select(b.as("o_orderkey"),
      pick(sz.customer, 11, b).as("o_custkey"),
      oneOf(Seq("O", "F", "P"), 12, b).as("o_orderstatus"),
      round(u(13, b) * 500000 + 900, 2).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + pick(2405, 14, b) * day).as("o_orderdate"),
      oneOf(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15, b).as("o_orderpriority"))
    val qty = (pick(50, 18, b) + 1).cast("double")
    val lineitem = rows(sz.lineitem).select(
      pick(sz.orders, 16, b).as("l_orderkey"),
      pick(sz.part, 17, b).as("l_partkey"),
      pick(sz.supplier, 19, b).as("l_suppkey"),
      (pick(7, 20, b) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + pick(sz.part, 17, b) % 1000 / 10.0), 2).as("l_extendedprice"),
      (pick(11, 21, b) / 100.0).as("l_discount"),
      (pick(9, 22, b) / 100.0).as("l_tax"),
      oneOf(Seq("A", "N", "R"), 23, b).as("l_returnflag"),
      oneOf(Seq("O", "F"), 24, b).as("l_linestatus"),
      timestamp_seconds(lit(788832000L) + pick(2499, 25, b) * day).as("l_shipdate"))

    // 2024-01-01 plus up to EventDays days, at microsecond precision
    val events = rows(sz.events).select(b.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + pick(EventDays * 86400000000L, 26, b)).as("ts"),
      pick(1500, 27, b).as("user_id"),
      oneOf(Seq("click", "error", "purchase", "signup", "view"), 28, b).as("event_type"),
      round(u(29, b) * u(30, b) * 560, 2).as("value"),
      format_string("{\"k\": %d}", pick(101, 31, b)).as("props"))

    // Every 40th doc is a near-duplicate of its predecessor (one word
    // replaced) and every 625th an exact one, so the pair and dedup
    // queries have real matches to find.
    val near = b % 40 === 1
    val exact = b % 625 === 5
    val textKey = when(near || exact, b - 1).otherwise(b)
    val nWords = (pick(91, 32, textKey) + 10).cast("int")
    val vocabArr = array(vocab.map(lit): _*)
    val words = transform(sequence(lit(0), nWords - 1), i =>
      when(near && i === 2, lit("dup"))
        .otherwise(element_at(vocabArr, (pmod(xxhash64(lit(Salt + 33), textKey, i), lit(vocab.size.toLong)) + 1).cast("int"))))
    val documents = rows(sz.documents).select(b.as("doc_id"),
      concat_ws(" ", words).as("text"),
      oneOf(Seq("de", "en", "es", "fr", "zh"), 34, b).as("lang"),
      concat(lit("src"), pick(20, 35, b)).as("source"),
      (pick(491, 36, b) + 10).as("n_chars"))

    // Ten label clusters; every 50th vector is a near copy of its
    // predecessor, for the semantic-dedup queries.
    val vecKey = when(b % 50 === 1, b - 1).otherwise(b)
    val label = pick(10, 37, vecKey).cast("int")
    val emb = transform(sequence(lit(0), lit(63)), j =>
      (gauss(40, label, j) * 0.25 + gauss(44, vecKey, j) * 0.12 + gauss(48, b, j) * 0.004).cast("float"))
    val embeddings = rows(sz.embeddings).select(b.as("vec_id"),
      emb.as("embedding"), label.as("label"))

    Seq("region" -> region, "nation" -> nation, "supplier" -> supplier, "part" -> part,
      "customer" -> customer, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Writes every table as `dir/<name>.parquet`, a directory of fragment
    * files split by a hash of the row, once; later calls find `_DONE` and
    * return.
    */
  def write(spark: SparkSession, dir: String, scale: Double): Unit = {
    val done = new java.io.File(dir, "_DONE")
    if (done.exists()) return
    tables(spark, scale).foreach { case (name, df) =>
      split(df, if (Set("region", "nation", "supplier")(name)) 1 else Fragments, Salt)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    java.nio.file.Files.createFile(done.toPath)
  }

  val Fragments = 16

  /** The tables the workloads read; [[layout]] splits them per seed. */
  val Seeded: Set[String] = Set("documents", "events", "embeddings")

  /** `df` in `files` partitions chosen by a salted hash of the whole row,
    * each sorted by another salted hash.
    */
  private def split(df: DataFrame, files: Int, salt: Long): DataFrame = {
    val key = xxhash64((lit(salt) +: df.columns.map(c => col(s"`$c`")).toSeq): _*)
    df.repartition(files, pmod(key, lit(files.toLong))).sortWithinPartitions(xxhash64(key, lit(salt)))
  }

  /** The input of one seed. The tables in [[Seeded]] are read from `base`
    * and rewritten into `dir` split into fragment files by a hash salted
    * with the seed and sorted inside each file by another, so the seed
    * decides which rows share a file and a Spark task and in which order
    * every operator sees them. The rows themselves are the same for every
    * seed. The other tables are hard links to `base`.
    */
  def layout(spark: SparkSession, base: String, dir: String, seed: Long): Unit = {
    val done = new java.io.File(dir, "_DONE")
    if (done.exists()) return
    new java.io.File(base).listFiles().filter(_.getName.endsWith(".parquet")).foreach { t =>
      val name = t.getName.stripSuffix(".parquet")
      val out = new java.io.File(dir, t.getName)
      if (Seeded(name))
        split(spark.read.parquet(t.getPath), Fragments, Salt ^ (seed * 0x9e3779b97f4a7c15L))
          .write.mode("overwrite").parquet(out.getPath)
      else {
        out.mkdirs()
        t.listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
          java.nio.file.Files.createLink(new java.io.File(out, f.getName).toPath, f.toPath)
        }
      }
    }
    java.nio.file.Files.createFile(done.toPath)
  }
}
