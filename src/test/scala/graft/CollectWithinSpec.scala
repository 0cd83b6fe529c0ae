package graft

import graft.operators.ConnectedComponents.collectWithin
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable.ArrayBuffer

object CollectWithinSpec {
  /** Holds the tasks of the cancel case until the gate has returned. */
  val release = new CountDownLatch(1)
}

/** The one driver-collect gate, `ConnectedComponents.collectWithin`: one
  * Spark job per call, none for driver rows, at most its cap kept. */
class CollectWithinSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val sc = spark.sparkContext

  /** `body`'s result and the job-end events of the jobs it ran. */
  private def jobsOf[A](body: => A): (A, Seq[SparkListenerJobEnd]) = {
    val ends = ArrayBuffer.empty[SparkListenerJobEnd]
    var starts = 0
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = ends.synchronized(starts += 1)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.synchronized(ends += e)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      // the scheduler posts a job's end after it wakes the caller
      val deadline = System.nanoTime() + 10000000000L
      while ({ ListenerBusDrain(sc); ends.synchronized(starts > ends.size) } && System.nanoTime() < deadline)
        Thread.sleep(10)
      ends.synchronized {
        assert(starts == ends.size)
        (a, ends.toList)
      }
    } finally sc.removeSparkListener(l)
  }

  private def longs(ds: Dataset[java.lang.Long], cap: Long): (Option[Seq[Long]], Int) = {
    val (rows, jobs) = jobsOf(collectWithin(ds, cap))
    (rows.map(_.map(_.longValue).toSeq), jobs.size)
  }

  test("one job over every partition; none over driver rows") {
    assert(longs(spark.range(0, 1000, 1, 4), 1000) == (Some(0L until 1000L), 1))
    val local = Seq(3, 1, 2).toDS()
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val (rows, jobs) = jobsOf(collectWithin(local, 3))
    assert(rows.map(_.toSeq) == Some(Seq(3, 1, 2)) && jobs.isEmpty)
    assert(jobsOf(collectWithin(local, 2))._2.isEmpty)
    assert(collectWithin(local, 2).isEmpty)
  }

  test("driver rows are read from the analyzed plan; any other plan is optimized first") {
    def optimized(ds: Dataset[_]) = ds.queryExecution.tracker.phases.contains(QueryPlanningTracker.OPTIMIZATION)
    val local = Seq(3, 1, 2).toDS()
    val (rows, jobs) = jobsOf(collectWithin(local, 3))
    assert(rows.map(_.toSeq) == Some(Seq(3, 1, 2)) && jobs.isEmpty)
    assert(!optimized(local), "the optimizer ran over a LocalRelation")
    // a filter over driver rows is no LocalRelation until the optimizer folds it
    val filtered = Seq(3, 1, 2).toDS().filter($"value" > 1)
    assert(!filtered.queryExecution.analyzed.isInstanceOf[LocalRelation])
    val (kept, filterJobs) = jobsOf(collectWithin(filtered, 3))
    assert(kept.map(_.toSeq) == Some(Seq(3, 2)) && filterJobs.isEmpty && optimized(filtered))
  }

  test("the cap: crossed past the first partition, exactly met, Long.MaxValue, empty input") {
    // partition 2 holds 50 of the 53 rows
    val skewed = spark.range(0, 4, 1, 4).flatMap(p => if (p == 2) (100L until 150L) else Seq(p.longValue))
      .map(java.lang.Long.valueOf(_))
    val all = Seq(0L, 1L) ++ (100L until 150L) :+ 3L
    assert(longs(skewed, 52) == (None, 1))
    assert(longs(skewed, 53) == (Some(all), 1))
    assert(longs(skewed, Long.MaxValue) == (Some(all), 1))
    assert(longs(skewed, 0) == (None, 0))
    assert(longs(spark.range(0, 0, 1, 4), 1) == (Some(Nil), 1))
    assert(longs(spark.emptyDataset[java.lang.Long], 1) == (Some(Nil), 0))
  }

  test("several relations: one job, each in order under its own cap and encoder") {
    val ints = spark.range(0, 10, 1, 2).map(_.intValue)
    val driverLongs = Seq(5L, 6L).toDS()
    val pairs = spark.range(0, 6, 1, 3).map(i => (i.intValue, i * 10L))
    val (got, jobs) = jobsOf(collectWithin(Seq(ints -> 10L, driverLongs -> 2L, pairs -> 6L)))
    assert(jobs.size == 1)
    val Seq(i, l, p) = got.get
    assert(i.asInstanceOf[Array[Int]].toSeq == (0 until 10))
    assert(l.asInstanceOf[Array[Long]].toSeq == Seq(5L, 6L))
    assert(p.asInstanceOf[Array[(Int, Long)]].toSeq == (0 until 6).map(k => (k, k * 10L)))
    assert(collectWithin(Seq(ints -> 10L, pairs -> 5L)).isEmpty)
    assert(jobsOf(collectWithin(Seq(ints -> 10L, driverLongs -> 1L)))._2.isEmpty)
  }

  test("past the cap the gate cancels its job; a task ships at most cap + 1 rows") {
    // partition 0 is unbounded; partitions 1-3 wait until the gate returns
    val produced = sc.longAccumulator("produced")
    val ds = spark.range(0, 4, 1, 4).flatMap { p =>
      if (p == 0) Iterator.from(0).map { i => produced.add(1); i.toLong }
      else { CollectWithinSpec.release.await(60, TimeUnit.SECONDS); Iterator.single(p.longValue) }
    }
    val t0 = System.nanoTime()
    val (rows, jobs) = try jobsOf(collectWithin(ds, 1000)) finally CollectWithinSpec.release.countDown()
    assert(rows.isEmpty)
    assert((System.nanoTime() - t0) / 1e9 < 30, "the gate waited for the held partitions")
    assert(jobs.size == 1 && jobs.head.jobResult.isInstanceOf[JobFailed], "the job was not cancelled")
    assert(produced.value <= 1001)
  }
}
