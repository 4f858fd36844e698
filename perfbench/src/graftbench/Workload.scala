package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One workload: its inputs and prefilled state are built in `prepare`,
  * `warmup` runs the same call mix on a separate store, `timed` is the
  * fixed, seed-determined script, and `checks` verifies outputs after
  * timing has stopped. */
trait Workload {
  def prepare(dir: String): Unit
  def warmup(dir: String): Unit
  def timed(): Unit
  def checks(): Unit
  def counters(c: mutable.Map[String, Any]): Unit
}

/** Logical size of live rows: string bytes, 4 or 8 bytes per fixed-width
  * value, 4 per float of an array. */
object Logical {
  def bytes(dfs: Seq[DataFrame]): Long = dfs.map { df =>
    val widths = df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      f.dataType match {
        case StringType => coalesce(octet_length(c), lit(0)).cast("long")
        case IntegerType | FloatType | DateType => lit(4L)
        case ArrayType(_: NumericType, _) => coalesce(size(c), lit(0)).cast("long") * 4L
        case _ => lit(8L)
      }
    }
    Option(df.agg(sum(widths.reduce(_ + _))).head().get(0)).fold(0L)(_.asInstanceOf[Long])
  }.sum
}
