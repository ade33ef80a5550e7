package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result fingerprint: row count plus the decimal sum of
  * one xxhash64 per row over every column. Every column is referenced, so
  * the action that computes it can prune neither columns nor joins.
  * Floating-point values are rounded to 9 digits first (the rule of the
  * DuckDB oracle in tools/check.py), and maps are hashed as JSON, which
  * xxhash64 accepts where it rejects map types.
  */
object Fingerprint {
  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(e, _) => needsNorm(e)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 9)
    case _: MapType => to_json(c)
    case ArrayType(e, _) if needsNorm(e) => transform(c, x => norm(x, e))
    case StructType(fs) if needsNorm(t) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** The materialising action's frame: one row (rows, hash). */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    df.agg(count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols: _*).cast(DecimalType(20, 0))), lit(BigDecimal(0))).as("hash"))
  }

  /** "rows:hash", the form pinned in pins.json. */
  def of(df: DataFrame): String = render(frame(df).collect()(0))

  def render(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
}
