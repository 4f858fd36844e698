package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, InterpretedOrdering,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.datasources.{FileFormat, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/**
 * Minimal `private[sql]` escape hatch — the standard connector shim
 * pattern (Delta's `org.apache.spark.sql.delta`, Iceberg's
 * `org.apache.spark.sql.catalyst.*` helpers live the same way). One
 * accessor, nothing else: wrap a Catalyst Expression as a user-facing
 * Column so planner rules can hand conditions back to public DataFrame
 * surfaces ([[graft.store.Snapshots.countWhere]]).
 */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  /** The inverse accessor, for expressions that take Column arguments
    * outside the FunctionRegistry path ([[graft.expr.CappedCollectList]]). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Flag a batch frame's file relation leaves as STREAMING — what a V1
    * streaming [[org.apache.spark.sql.execution.streaming.Source]]'s
    * `getBatch` contract requires (the engine asserts
    * `isStreaming=true` on the returned plan), done exactly the way
    * FileStreamSource does it: `LogicalRelation(isStreaming = true)`.
    * The relation stays a normal file scan, so Catalyst still prunes
    * columns, pushes filters, and vectorizes the parquet read — the
    * point of serving streams through the V1 surface. Callers must hand
    * in single-relation plans (a flipped multi-leaf join would read as a
    * stream-stream join to the incremental planner). */
  def streamingFrame(df: DataFrame): DataFrame = {
    // the ANALYZED plan: `spark.read.parquet` parks behind an
    // UnresolvedDataSource until analysis resolves the file relation
    val plan = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation => lr.copy(isStreaming = true)
    }
    Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession], plan)
  }

  /** An empty STREAMING frame of `schema` — the V1 `getBatch` result for
    * a range that added no files (a schema-op-only commit). */
  def emptyStreamingFrame(spark: SparkSession, schema: StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      cs.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
      schema, isStreaming = true)
  }

  /** A frame over rows held on the driver: a `LocalRelation` made once,
    * without converting the rows again. Catalyst's ConvertToLocalRelation
    * folds filters, projections and limits into it, so collecting such a
    * plan launches no job. Columns are nullable, as in a parquet read with
    * a user schema. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema.asNullable), rows))

  /** The rows of `df` when its optimized plan folded into a
    * `LocalRelation` (they were computed on the driver while planning). */
  def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l.data)
      case _ => None
    }

  /** `df.orderBy(order: _*)` sorted on the driver when `df` folds into a
    * `LocalRelation` (a sort does not fold): a `LocalRelation` of its rows
    * in that order, compared by Spark's own sort comparator over the
    * analyzed sort order, so filters and limits on top still fold and
    * collect without a job. None when `df` does not fold. */
  def sortedLocal(df: DataFrame, order: Seq[Column]): Option[DataFrame] =
    localRows(df).flatMap { rows =>
      df.orderBy(order: _*).queryExecution.analyzed match {
        case Sort(sortOrder, _, child, _) if child.output == df.queryExecution.analyzed.output =>
          val cmp = new InterpretedOrdering(BindReferences.bindReferences(sortOrder, child.output))
          Some(localFrame(df.sparkSession, df.schema, rows.sorted(cmp)))
        case _ => None
      }
    }

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes (-1:
    * disabled): the size up to which Spark itself treats a relation as
    * small enough to hold on the driver. */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Reads whole parquet files on the driver under `schema`, through the
    * reader Spark's scan tasks run (`buildReaderWithPartitionValues` over
    * one `PartitionedFile`, rows not batches), so a file reads exactly as
    * a `spark.read.schema(schema).parquet(...)` task would read it: missing
    * columns null, session rebase and widening rules applied. The reader is
    * built once per call of this function; each returned row is a copied
    * `UnsafeRow`. No job is launched. */
  def parquetFileReader(spark: SparkSession, schema: StructType): FileStatus => Vector[UnsafeRow] = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false")
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(cs, schema,
      new StructType(), schema, Nil, options, cs.sessionState.newHadoopConfWithOptions(options))
    st => {
      val toUnsafe = UnsafeProjection.create(schema)
      val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(st), 0L,
        st.getLen, Array.empty[String], st.getModificationTime, st.getLen))
      try rows.map(r => toUnsafe(r).copy()).toVector
      finally rows match {
        case c: java.io.Closeable => c.close()
        case _ => ()
      }
    }
  }
}
