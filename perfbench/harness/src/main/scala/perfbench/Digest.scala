package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output check for one query result: ONE action that reads every output
  * column (a bare `count()` would let the optimizer prune columns a user
  * receives) and returns `rows:digest`. The digest is the exact decimal sum
  * of a per-row xxhash64, so it ignores row order but not duplicates.
  * Floating-point values are normalized to 10 significant digits first, so
  * summation-order noise in the last bits does not change it. */
object Digest {

  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      // x + 0.0 folds -0.0 into 0.0
      when(c.isNull, lit(null)).otherwise(
        format_string("%.9e", c.cast(DoubleType) + lit(0.0)))
    case ArrayType(e, _) if hasFloat(e) => transform(c, x => norm(x, e))
    case s: StructType if hasFloat(s) =>
      when(c.isNull, lit(null)).otherwise(
        struct(s.fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    // maps are not hashable: hash their entries in key order instead
    case MapType(k, v, _) =>
      val entries = StructType(Seq(StructField("key", k), StructField("value", v)))
      norm(array_sort(map_entries(c)), ArrayType(entries))
    case _ => c
  }

  /** Runs the check action; returns `rows:digest`. */
  def compute(df: DataFrame): String = {
    val cols = df.schema.fields.toIndexedSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h")).agg(
      count(lit(1)),
      coalesce(sum(col("h").cast(DecimalType(38, 0))), lit(BigDecimal(0)))).collect()(0)
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }
}
