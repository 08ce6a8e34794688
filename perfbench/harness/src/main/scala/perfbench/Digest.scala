package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive, overflow-safe digest of a result: row count, the sum
  * of a 32-bit row hash widened to 64 bits (cannot overflow below 2^32
  * rows) and the XOR of a 64-bit row hash. It rides the result's own pass
  * as `Dataset.observe` metrics, so checking costs no second execution.
  *
  * Floating-point values are hashed at float precision: parallel
  * aggregation may change the last bits of a double from run to run, and
  * those bits must not read as a wrong result.
  */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(et, _) if hasFloat(et) => transform(c, x => norm(x, et))
    case StructType(fs) if fs.exists(f => hasFloat(f.dataType)) =>
      struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => hasFloat(et)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  private def exprs(df: DataFrame): (DataFrame, Column, Seq[Column]) = {
    // renamed by position so duplicate output names cannot collide
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    (named, count(lit(1)).as("n"), Seq(
      sum(hash(cols: _*).cast(LongType)).as("h"),
      bit_xor(xxhash64(cols: _*)).as("x")))
  }

  /** `df` with the digest attached under observation `name`. */
  def observe(df: DataFrame, name: String): DataFrame = {
    val (named, first, rest) = exprs(df)
    named.observe(name, first, rest: _*)
  }

  def render(r: Row): String =
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse("-")}:${Option(r.get(2)).getOrElse("-")}"

  /** Digest of a frame by a separate aggregate, for checks and captures. */
  def of(df: DataFrame): String = {
    val (named, first, rest) = exprs(df)
    render(named.agg(first, rest: _*).head())
  }
}
