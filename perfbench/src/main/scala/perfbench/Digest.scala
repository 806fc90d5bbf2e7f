package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StructType}

/** Order-independent content digest of a result: its row count plus the
  * sums of the low and high 32-bit halves of a per-row hash. Summing is
  * commutative, so neither row order nor partitioning changes the digest,
  * while a changed, missing or duplicated row does.
  *
  * The row hash combines one `xxhash64` per column by position, so a null
  * moving between columns is seen. Floating-point values are rounded to 6
  * decimals first (and -0.0 folded into 0.0): summation order may move the
  * last bits of a double aggregate between runs without changing its
  * meaning.
  */
object Digest {

  final case class Value(rows: Long, lo: Long, hi: Long, schema: Int) {
    def hex: String = f"$rows%d:$lo%016x:$hi%016x:$schema%08x"
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast("double"), 6) + lit(0.0)
    case _ => c
  }

  def rowHash(schema: StructType): Column =
    xxhash64(schema.fields.toSeq.map(f =>
      xxhash64(canon(col(s"`${f.name.replace("`", "``")}`"), f.dataType))): _*)

  private def aggs(schema: StructType): Seq[Column] = {
    val h = rowHash(schema)
    Seq(count(lit(1)).as("n"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  private def schemaHash(schema: StructType): Int =
    schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",").hashCode

  private def fromRow(r: Row, schema: StructType): Value =
    Value(r.getLong(0), r.getLong(1), r.getLong(2), schemaHash(schema))

  /** Digest of `df`, computed by one aggregate job. */
  def of(df: DataFrame): Value = {
    val a = aggs(df.schema)
    fromRow(df.agg(a.head, a.tail: _*).head(), df.schema)
  }

  /** `df` with the digest attached as observed metrics: the digest is
    * computed in the same execution that consumes `df`, and `read` returns
    * it once that execution has finished. */
  final class Observed(df: DataFrame) {
    private val obs = Observation()
    val frame: DataFrame = { val a = aggs(df.schema); df.observe(obs, a.head, a.tail: _*) }
    def read(): Value = {
      val m = obs.get
      def l(k: String) = m(k).asInstanceOf[Long]
      Value(l("n"), l("lo"), l("hi"), schemaHash(df.schema))
    }
  }
}
