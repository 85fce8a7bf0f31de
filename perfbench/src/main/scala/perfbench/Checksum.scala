package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-insensitive digest of a frame that reads every output
  * column, so that no projection can be pruned away (`count()` lets
  * Spark skip columns). Doubles are rounded to 6 decimals before hashing
  * so that last-bit differences in floating-point sums do not change it.
  * Queries whose digest still differs between runs are pinned by row
  * count instead (see `expected/catalogue.tsv`). */
object Checksum {

  final case class Digest(rows: Long, hash: String) {
    def render: String = s"$rows:$hash"
  }

  private def normalised(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case m: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def of(df: DataFrame): Digest = {
    // positional names: output columns may repeat or need quoting
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => normalised(col(f.name), f.dataType))
    val h =
      if (cols.isEmpty) lit(0L)
      else try {
        val e = xxhash64(cols: _*)
        named.select(e).queryExecution.analyzed // fails here on unhashable types
        e
      } catch { case _: Throwable => xxhash64(to_json(struct(named.columns.toSeq.map(col): _*))) }
    val r = named.select(h.as("h"))
      .agg(count(lit(1)),
        sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(col("h"), 32)))
      .collect().head
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    Digest(r.getLong(0), java.lang.Long.toHexString(lo) + "-" + java.lang.Long.toHexString(hi))
  }
}
