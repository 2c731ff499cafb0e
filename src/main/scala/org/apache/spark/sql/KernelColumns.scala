package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Binds Catalyst expressions straight into Columns (and back), so a
  * kernel Column carries its expression in the plan instead of a
  * function name that some session's registry must resolve. Lives in
  * this package for access to the package-private classic conversions.
  */
object KernelColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def aggregate(f: AggregateFunction): Column = column(f.toAggregateExpression())
}

/** A frame computed at most once into persisted `RDD[InternalRow]`
  * blocks, and read back through a `LogicalRDD` that keeps the
  * source's statistics and partitioning. Every consumer scans the
  * blocks directly: no `InMemoryRelation`, so AQE plans no cache
  * stages around them. Unlike `localCheckpoint`, the RDD keeps its
  * lineage, so a lost block is recomputed instead of failing the job.
  * Unpersist the returned RDD once the frame's consumers are done.
  */
object PersistedRows {
  def apply(df: DataFrame, level: StorageLevel): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rows = ds.queryExecution.toRdd.map(_.copy()).persist(level)
    (classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rows, ds, ds.isStreaming)),
      rows)
  }
}
