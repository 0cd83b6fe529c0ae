package graft

import graft.fixtures.Synth
import graft.plans.{LinkagePipeline, Materialize}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

/** Per-pass budgets of the benchmark's `link` pass on Synth inputs: the
  * Spark jobs and shuffle map stages of a warm pass, what its Result
  * holds, and what is left after `release()`. Changing a budget is a spec
  * edit. */
class PassBudgetSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  /** Jobs of a warm pass: the mention cut, `run` and one checksum read of
    * its assignments, over driver-resident Synth inputs. */
  private val LinkJobsPerWarmPass = 5

  /** Shuffle map stages of a warm pass: the surface cut's repartition on
    * the norm and the checksum's global aggregate. The hot-key count and
    * the score pass are narrow over the surface cut. */
  private val LinkShuffleStagesPerWarmPass = 2

  /** `body`'s result and the number of stages it ran that wrote shuffle
    * output: its shuffle map stages. */
  private def shuffleStagesOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val ids = ArrayBuffer.empty[Int]
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0) ids.synchronized(ids += e.stageInfo.stageId)
    }
    sc.addSparkListener(l)
    // jobsOf drains the listener bus, which posts a stage's end before its job's
    try { val a = body; (a, ids.synchronized(ids.size)) } finally sc.removeSparkListener(l)
  }

  test("a warm link pass: its jobs, its shuffle stages, one held cut, nothing left") {
    val sc = spark.sparkContext
    val pairs = (0 until 60).map(i => Synth.genDoc(i, 150))
    val docs = spark.createDataset(pairs.map(_._1))
    val golds = spark.createDataset(pairs.flatMap(_._2))
    val dict = spark.createDataset(Synth.dictionary(150))
    val before = sc.getPersistentRDDs.keySet
    def grown = sc.getPersistentRDDs.keySet -- before
    val budgets = (0 until 3).map { _ =>
      val ((r, ran), shuffled) = shuffleStagesOf(jobsOf {
        val mentions = Materialize.cut(LinkagePipeline.mentionsFromSpans(docs, golds), eager = false)
        val r = LinkagePipeline.run(mentions, dict)
        assert(r.assignments.agg(sum(hash(col("id"), col("component")))).head().getLong(0) != 0L)
        r.copy(persisted = r.persisted :+ mentions.toDF())
      })
      // the mention cut and run's surface cut, nothing else
      assert(grown.size == 2, s"persistent RDDs: $grown")
      assert(r.persisted.size == 2 && r.persisted.head.columns.toSeq == Seq("norm"))
      r.release()
      assert(grown.isEmpty, s"persistent RDDs left after release(): $grown")
      (ran.size, shuffled)
    }
    info(s"jobs and shuffle map stages per pass: ${budgets.mkString(", ")}")
    assert(budgets.drop(1).forall(_._1 == LinkJobsPerWarmPass), s"jobs per pass: $budgets")
    assert(budgets.drop(1).forall(_._2 == LinkShuffleStagesPerWarmPass), s"shuffle stages per pass: $budgets")
  }
}
