package dwbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Full-row fingerprint of a query result: the row count plus an
  * order-insensitive sum of a per-row hash over every column. Computing
  * it consumes every output column, so the optimizer cannot prune the
  * plan down to a bare scan the way a `count()` lets it.
  *
  * Floating-point values are rounded to single precision (and -0.0 is
  * folded into 0.0) before hashing: a different summation order moves a
  * double in its last bits and leaves the fingerprint alone, while a
  * wrong value changes it. */
object Fingerprint {

  def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val f = c.cast(FloatType)
      when(f === 0.0f, lit(0.0f)).otherwise(f)
    case ArrayType(et, _) if needsCanon(et) => transform(c, x => canon(x, et))
    case MapType(kt, vt, _) if needsCanon(kt) || needsCanon(vt) =>
      map_from_entries(transform(map_entries(c), e =>
        struct(canon(e("key"), kt).as("key"), canon(e("value"), vt).as("value"))))
    case StructType(fs) if fs.exists(f => needsCanon(f.dataType)) =>
      struct(fs.toSeq.map(f => canon(c(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => needsCanon(et)
    case MapType(kt, vt, _) => needsCanon(kt) || needsCanon(vt)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  /** The per-row hash: every column, canonicalised, in schema order. */
  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.toSeq.map(f =>
      canon(df.col("`" + f.name.replace("`", "``") + "`"), f.dataType)): _*)

  /** `"<rows>:<hash sum>"`, computed by one Spark action. */
  def of(df: DataFrame): String = {
    val r = df.select(rowHash(df).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .first()
    val s = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(0)}:$s"
  }
}
