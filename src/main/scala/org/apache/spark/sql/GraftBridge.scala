package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Minimal bridge into `private[sql]` API: the Column↔Expression
  * conversion for graft's native Catalyst expressions (Spark 4 made
  * `new Column(expr)` internal behind ColumnNode) and the Dataset
  * constructor [[materialize]] needs. Lives in the spark.sql package
  * solely to re-export them; no Spark internals are modified. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df`'s rows computed now and kept in a persisted RDD, as a relation
    * over that RDD: what `localCheckpoint(eager = true)` builds, except
    * that the RDD keeps its lineage. Once its blocks are released
    * (`unpersist` on the relation's RDD), a later action recomputes
    * them instead of failing on a missing checkpoint block. */
  def materialize(df: DataFrame, level: StorageLevel): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rows = ds.queryExecution.toRdd.map(_.copy()).persist(level)
    rows.count()
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rows, ds, isStreaming = false))
  }
}
