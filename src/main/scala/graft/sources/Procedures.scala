package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, SupportsRead, Table, TableCapability, TableCatalog}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{DataTypes, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The SQL face of the store REFRESH half — Spark 4's DSv2 stored
  * procedures (`ProcedureCatalog` + the `CALL` statement), so an ad-hoc
  * SQL user can land an append batch into a standing store without
  * touching Scala: register the batch as a temp view (pure SQL), then
  *
  * {{{
  *   CALL graft.refresh_postings('<store_path>', 'batch_view')
  *   CALL graft.refresh_rollup('<store_path>', 'batch_view')
  *   CALL graft.refresh_bloom('<store_path>', 'batch_view')
  *   CALL graft.ingest_postings_segment('<store_path>', 'batch_view', '7')
  * }}}
  *
  * [[graft.GraftSession.openStores]] wires the catalog under the name
  * `graft` (`spark.sql.catalog.graft`), completing the interactive story:
  * the serve half was already SQL (`graft_postings` et al.); with this
  * the maintain half is too. Every procedure routes through the SAME
  * [[Sinks]] refresh entrypoints the programmatic and streaming paths
  * use, so SQL-landed batches inherit every guard those paths carry —
  * including [[StoreLog.guard]]'s watermark rule: `ingest_postings_segment`
  * rejects a batch id strictly below the store's fold watermark loudly
  * (the fresh-checkpoint misuse, spec-pinned) and lands an id equal to it
  * invisible, with a warning. Procedures execute DRIVER-side at
  * CALL time (they are maintenance operations, not expressions), return
  * no result rows, and are declared non-deterministic so nothing ever
  * caches or re-plans around them.
  */
class GraftProcedureCatalog extends ProcedureCatalog with TableCatalog {
  private var catalogName = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  // ---- TableCatalog half: the catalog's one table is the LIVE store-
  // health snapshot. `graft_store_health` used to be a LocalRelation
  // materialized at openStores time, which froze gen_seq forever and made
  // the README's "alarm when gen_seq advances" recipe unsatisfiable; as a
  // DSv2 table every SELECT re-plans a fresh Scan whose partition
  // planning recomputes Sinks.storeHealth driver-side — the view is a
  // genuine poll, not a snapshot.
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.isEmpty, "graft tables live in the root namespace")
    Array(Identifier.of(Array.empty, "store_health"))
  }
  override def loadTable(ident: Identifier): Table = {
    require(ident.namespace().isEmpty && ident.name() == "store_health",
      s"unknown graft table '${ident.toString}' — available: store_health")
    new StoreHealthTable
  }
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table =
    throw new UnsupportedOperationException("graft tables are engine-defined")
  override def alterTable(ident: Identifier,
                          changes: org.apache.spark.sql.connector.catalog.TableChange*): Table =
    throw new UnsupportedOperationException("graft tables are engine-defined")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("graft tables are engine-defined")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft tables are engine-defined")

  /** A driver-side void procedure over string parameters. */
  private def proc(procName: String, desc: String, params: Seq[String])(
      run: (SparkSession, IndexedSeq[String]) => Unit): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = desc
        override def parameters(): Array[ProcedureParameter] =
          params.map(p => ProcedureParameter.in(p, DataTypes.StringType).build()).toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val args = params.indices.map { i =>
            require(!input.isNullAt(i), s"$procName: parameter '${params(i)}' is null")
            input.getUTF8String(i).toString
          }
          run(SparkSession.active, args)
          java.util.Collections.emptyIterator()
        }
      }
    }

  private val procedures: Map[String, UnboundProcedure] = Seq(
    proc("refresh_postings",
      "append a batch view's documents into a standing posting store " +
        "(Sinks.refreshPostings — next free segment id above the watermark)",
      Seq("store_path", "batch_view")) { (s, a) =>
      Sinks.refreshPostings(s, a(0), s.table(a(1)))
    },
    proc("ingest_postings_segment",
      "land a batch view as an explicit posting segment id " +
        "(Sinks.ingestPostingsSegment — a replayed id drops the segment's " +
        "commit marker, rewrites it and re-commits; an id strictly below " +
        "the fold watermark is rejected, one equal to it lands invisible)",
      Seq("store_path", "batch_view", "batch_id")) { (s, a) =>
      val id = a(2).toLongOption.getOrElse(throw new IllegalArgumentException(
        s"ingest_postings_segment: batch_id must be an integer, got '${a(2)}'"))
      Sinks.ingestPostingsSegment(s, a(0), s.table(a(1)), id)
    },
    proc("refresh_rollup",
      "fold a batch view's events into a standing daily rollup store " +
        "(Sinks.refreshDailyRollup — touched days rewritten, others untouched)",
      Seq("store_path", "batch_view")) { (s, a) =>
      Sinks.refreshDailyRollup(s, a(0), s.table(a(1)))
    },
    proc("refresh_bloom",
      "OR-merge a batch view's items (column 'ng') into a standing Bloom " +
        "decontamination store (Sinks.refreshBloomFilter — byte-identical " +
        "to a rebuild over the union)",
      Seq("store_path", "batch_view")) { (s, a) =>
      Sinks.refreshBloomFilter(s, a(0), s.table(a(1)), "ng")
    }
  ).map(p => p.name() -> p).toMap

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().isEmpty,
      s"unknown procedure namespace ${ident.namespace().mkString(".")}")
    procedures.getOrElse(ident.name(), throw new IllegalArgumentException(
      s"unknown graft procedure '${ident.name()}' — available: " +
        procedures.keys.toSeq.sorted.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    require(namespace.isEmpty, "graft procedures live in the root namespace")
    procedures.keys.toSeq.sorted.map(Identifier.of(Array.empty, _)).toArray
  }
}

/** The live `graft.store_health` table (see [[GraftProcedureCatalog]]).
  * The target store is the session conf `spark.graft.health.postings`,
  * set by [[graft.GraftSession.openStores]] (or pointed at any store by
  * hand); the snapshot row is computed DRIVER-side in
  * `planInputPartitions` — per query, at execution planning — from the
  * same [[Sinks.storeHealth]] every programmatic poll uses, so the two
  * faces cannot diverge. One row, metadata-sized: no distribution needed.
  */
private[sources] class StoreHealthTable extends Table with SupportsRead {
  override def name(): String = "graft.store_health"
  override def schema(): StructType = StoreHealthTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = StoreHealthTable.schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val s = SparkSession.active
        val path = s.conf.getOption("spark.graft.health.postings").getOrElse(
          throw new IllegalStateException("graft.store_health: no store is " +
            "open — GraftSession.openStores sets spark.graft.health.postings, " +
            "or set it to a posting-store path by hand"))
        val r = Sinks.storeHealth(s, path).head()
        Array(StoreHealthRow(r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        StoreHealthReaderFactory
    }
}

private[sources] object StoreHealthTable {
  val schema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("current_gen", DataTypes.StringType),
    org.apache.spark.sql.types.StructField("gen_seq", DataTypes.LongType),
    org.apache.spark.sql.types.StructField("folded_through", DataTypes.LongType),
    org.apache.spark.sql.types.StructField("visible_segments", DataTypes.LongType),
    org.apache.spark.sql.types.StructField("retired_generations_on_disk", DataTypes.LongType),
    org.apache.spark.sql.types.StructField("gen_retention", DataTypes.LongType),
    org.apache.spark.sql.types.StructField("n_docs", DataTypes.LongType)))
}

private[sources] case class StoreHealthRow(currentGen: String, genSeq: Long,
    foldedThrough: Long, visibleSegments: Long, retired: Long,
    genRetention: Long, nDocs: Long) extends InputPartition

private[sources] object StoreHealthReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val h = p.asInstanceOf[StoreHealthRow]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(h.currentGen), h.genSeq, h.foldedThrough,
        h.visibleSegments, h.retired, h.genRetention, h.nDocs))
      override def close(): Unit = ()
    }
  }
}
