package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Whole-table checksum: (row count, Σ CRC32 of each row's canonical text).
 * The table side is computed by Spark from the stored rows, the model side
 * by plain Scala from the model's rows; both render a row the same way —
 * fields joined by `|`, a map family as its entries sorted by qualifier,
 * `q=v` joined by `,`.
 */
object Checksum {
  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32()
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  def mapText(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._1).map { case (q, v) => s"$q=$v" }.mkString(",")

  private def mapTextCol(c: Column): Column =
    coalesce(array_join(transform(array_sort(map_entries(c)),
      e => concat(e.getField("key"), lit("="), e.getField("value").cast("string"))), ","), lit(""))

  def siteCrc(k: String, s: Site): Long =
    crc(Seq(k, s.name, s.tier.toString, s.total.toString, mapText(s.byDay)).mkString("|"))

  val siteRowCrc: Column = crc32(concat_ws("|", col("key"), col("meta.name"),
    col("meta.tier").cast("string"), col("total").cast("string"),
    mapTextCol(col("searchesByDay"))))

  def ofTable(df: DataFrame, rowCrc: Column): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowCrc), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def ofModel(crcs: Iterator[Long]): (Long, Long) =
    crcs.foldLeft((0L, 0L)) { case ((n, s), c) => (n + 1, s + c) }
}
