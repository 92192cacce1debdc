package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result: its row count and
  * the sum of one 64-bit hash per row.
  *
  * Each row is first rendered as canonical JSON: columns are renamed by
  * position, doubles and floats are rounded to 7 significant digits
  * (shuffle order changes the last bits of a floating-point sum),
  * negative zero becomes zero, timestamps keep microseconds and map
  * entries are sorted. Array order is kept, because it is part of the
  * result. */
object Fingerprint {

  def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d.isNull, lit(null).cast(StringType))
        .when(isnan(d), lit("NaN"))
        .otherwise(format_string("%.6e", d + lit(0.0)))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.toIndexedSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case BinaryType => base64(c)
    case TimestampType | TimestampNTZType | DateType => c.cast(StringType)
    case _ => c
  }

  /** One column `row`: each result row as canonical JSON. */
  def rows(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    named.select(to_json(struct(named.schema.fields.toIndexedSeq.map(f =>
      norm(col(f.name), f.dataType).as(f.name)): _*)).as("row"))
  }

  /** (rows, hash sum as a decimal string). */
  def of(df: DataFrame): (Long, String) = {
    val r = rows(df).select(xxhash64(col("row")).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }
}
