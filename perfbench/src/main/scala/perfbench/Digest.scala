package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digest of a DataFrame: row count plus the
  * sum and xor of a 64-bit hash of every row. Floating-point values are
  * hashed at 9 significant digits, so a sum whose last bits depend on
  * partition order still digests the same.
  */
object Digest {

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(isnan(c), lit("NaN")).otherwise(format_string("%.9g", c.cast(DoubleType)))
    case s: StructType =>
      struct(s.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case a: ArrayType => transform(c, x => norm(x, a.elementType))
    case m: MapType =>
      array_sort(transform(map_entries(c),
        e => struct(norm(e.getField("key"), m.keyType).as("k"),
          norm(e.getField("value"), m.valueType).as("v"))))
    case _ => c
  }

  /** (rows, "sum:xor") of `df`'s rows. */
  def of(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .head()
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), s"$s:${java.lang.Long.toHexString(x)}")
  }

  /** md5 of a sequence of strings, for fixtures written by the benchmark. */
  def md5(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}
