package graft.plans

import org.apache.spark.sql.{DataFrame, Dataset, RecoverableLeaf}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** The one way to materialise and free an intermediate. A [[cut]] is a plan
  * leaf over the frame's rows, computed once: `localCheckpoint` on a local
  * master; elsewhere, where a lost checkpoint block fails the job, the rows
  * persisted `MEMORY_AND_DISK` under the same `LogicalRDD` leaf (the frame's
  * output partitioning kept), so a lost block is recomputed from lineage. A
  * [[cache]] keeps the plan and registers it with the cache manager. A
  * [[scope]]'s owner frees what it cut or cached on exit, unless it handed
  * them off (to a `LinkagePipeline.Result`). */
object Materialize {

  /** `ds` as a leaf over its rows: computed now if `eager`, else by the
    * first action over the leaf. */
  def cut[T](ds: Dataset[T], eager: Boolean): Dataset[T] =
    cut(ds, eager, local = ds.sparkSession.sparkContext.isLocal)

  /** [[cut]] with its branch named: the checkpoint, or the recoverable leaf. */
  private[graft] def cut[T](ds: Dataset[T], eager: Boolean, local: Boolean): Dataset[T] =
    if (local) ds.localCheckpoint(eager)
    else {
      val rows = ds.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      if (eager) rows.count()
      RecoverableLeaf(ds, rows)
    }

  /** `ds` persisted `MEMORY_AND_DISK`, computed by its first action. */
  def cache[T](ds: Dataset[T]): Dataset[T] = ds.persist(StorageLevel.MEMORY_AND_DISK)

  /** Frees a [[cut]] or [[cache]]: its cache-manager entry and the blocks of
    * its root `LogicalRDD`, which a cut keeps outside the cache manager.
    * Root-only: deeper leaves may belong to frames the caller does not own. */
  def free(ds: Dataset[_]): Unit = {
    ds.unpersist()
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
  }

  /** Runs `body` with a fresh [[Owner]], freeing what it still holds on exit. */
  def scope[A](body: Owner => A): A = {
    val m = new Owner
    try body(m) finally m.handOff().foreach(free)
  }

  /** The frames cut or cached through it and not yet freed or handed off. */
  final class Owner private[plans] {
    private val held = ArrayBuffer.empty[Dataset[_]]
    def cut[T](ds: Dataset[T], eager: Boolean): Dataset[T] = hold(Materialize.cut(ds, eager))
    def cache[T](ds: Dataset[T]): Dataset[T] = hold(Materialize.cache(ds))
    def free(ds: Dataset[_]): Unit = { synchronized(held -= ds); Materialize.free(ds) }
    /** What it holds, now the caller's to free. */
    def handOff(): Seq[DataFrame] = synchronized { try held.map(_.toDF()).toList finally held.clear() }
    private def hold[T](ds: Dataset[T]): Dataset[T] = { synchronized(held += ds); ds }
  }
}
