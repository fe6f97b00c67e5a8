package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Minimal bridge into `private[sql]` API: the Column↔Expression
  * conversion for graft's native Catalyst expressions (Spark 4 made
  * `new Column(expr)` internal behind ColumnNode), the Dataset
  * constructor [[materialize]] needs and the cache lookup of
  * [[cacheEntry]]. Lives in the spark.sql package
  * solely to re-export them; no Spark internals are modified. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df`'s rows kept in a persisted RDD, as a relation over that RDD:
    * what `localCheckpoint` builds, except that the RDD keeps its
    * lineage. With `eager` the rows are computed now, as one SQL
    * execution of `df` (as the checkpoint does, so query listeners see
    * it as an action over `df`); otherwise the first action over the
    * relation computes and keeps them. Returns the relation and the
    * RDD; once the RDD is unpersisted, a later action recomputes its
    * blocks instead of failing on a missing checkpoint block. */
  def materialize(df: DataFrame, level: StorageLevel,
      eager: Boolean): (DataFrame, RDD[_]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    def rows = qe.executedPlan.execute().map(_.copy()).persist(level)
    val kept =
      if (!eager) rows
      else SQLExecution.withNewExecutionId(qe, Some("materialize")) {
        val r = rows
        r.count()
        r
      }
    (classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(kept, ds, isStreaming = false)), kept)
  }

  /** The cached relation of the cache entry that serves `df`'s plan, if
    * one does. Equal plans share an entry, so its identity names the
    * entry. */
  def cacheEntry(df: DataFrame): Option[AnyRef] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).map(_.cachedRepresentation)
  }
}
