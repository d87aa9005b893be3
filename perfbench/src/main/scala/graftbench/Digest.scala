package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-independent digest of a query result: the row count and the
  * sum of one 64-bit hash per row. Columns are hashed in name order, so
  * neither row order, partitioning nor column order changes the digest.
  */
final case class Digest(rows: Long, sum: String) {
  def json: String = Json.obj("rows" -> rows, "sum" -> sum)
}

object Digest {

  def of(df: DataFrame): Digest = {
    val byName = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = byName.map { case (f, i) => hashable(col(s"c$i"), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    val r = positional.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0))))
      .head()
    Digest(r.getLong(0),
      Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Maps have no defined entry order and cannot be hashed directly: hash
    * their entries sorted. Everything else hashes as it is.
    */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => to_json(array_sort(map_entries(c)))
    case _ => c
  }
}
