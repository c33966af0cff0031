package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent hash of a frame: every column of
  * every row goes through xxhash64, so the action cannot prune a column
  * away the way a bare `count()` can. Doubles are rounded to 6 places and
  * nested values hashed through their JSON form, so equal results hash
  * equally across runs and plans.
  */
object Fp {
  final case class Print(rows: Long, hash: Long) {
    override def toString: String = s"$rows:$hash"
  }

  private def norm(df: DataFrame): Seq[org.apache.spark.sql.Column] =
    df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6)
        case _: MapType | _: ArrayType | _: StructType => to_json(c)
        case _ => c
      }
    }

  def of(df: DataFrame): Print = {
    val cols = norm(df)
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(1L << 32))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    Print(r.getLong(0), r.getLong(1))
  }
}
