package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** `rdd`, holding the rows of `ds`, as the `LogicalRDD` leaf that
  * `localCheckpoint` builds (`ds`'s output, partitioning, ordering and
  * statistics), through the `Dataset(spark, logicalPlan)` factory that
  * Spark keeps private to this package. For `graft.plans.Materialize`. */
object RecoverableLeaf {
  def apply[T](ds: Dataset[T], rdd: RDD[InternalRow]): Dataset[T] = {
    val c = ds.asInstanceOf[classic.Dataset[T]]
    classic.Dataset[T](c.sparkSession, LogicalRDD.fromDataset(rdd, c, c.isStreaming))(c.encoder)
  }
}
