package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output fingerprints: row count plus an order-insensitive hash of every
  * row. Floating-point values are narrowed to float before hashing so that
  * a different summation order across partitions (last-bit noise) does not
  * change the fingerprint, while any real difference in a value does.
  */
object Check {
  final case class Fp(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => x.cast(FloatType))
    case _ => c
  }

  /** `df` with its fingerprint collected as observed metrics of whatever
    * action runs it; read the result with [[result]] after the action.
    */
  def observe(df: DataFrame): (DataFrame, Observation) = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val o = Observation()
    (df.observe(o, count(lit(1)).as("rows"), sum(xxhash64(cols: _*).cast(DecimalType(38, 0))).as("h")), o)
  }

  def result(o: Observation): Fp = {
    val m = o.get
    Fp(m("rows").asInstanceOf[Long], Option(m("h")).fold("0")(_.asInstanceOf[java.math.BigDecimal].toPlainString))
  }

  /** Materializes `df` to the noop sink and returns its fingerprint. */
  def fingerprint(df: DataFrame): Fp = {
    val (d, o) = observe(df)
    Main.materialize(d)
    result(o)
  }
}
