package graft

import graft.plans.Materialize
import graft.queries.LinkageQueries
import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MaterializeSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def leaf(df: DataFrame): LogicalRDD = df.queryExecution.analyzed.asInstanceOf[LogicalRDD]

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.getString(0)).sorted.toSeq

  /** Removes every block of the leaf's RDD, as a lost executor would; the
    * RDD stays persisted. */
  private def loseBlocks(df: DataFrame): Unit =
    SparkEnv.get.blockManager.master.removeRdd(leaf(df).rdd.id, blocking = true)

  test("both cut branches: same rows and partitioning; only the recoverable leaf survives lost blocks") {
    // runBroadcast's surfaces: a hash-partitioned distinct
    val surfaces = (0 until 3000).map(i => s"n${i % 700}").toDF("norm")
      .repartition(8, col("norm")).distinct()
    def partitioning(df: DataFrame) = leaf(df).outputPartitioning match {
      case HashPartitioning(exprs, n) => (exprs.map(_.asInstanceOf[Attribute].name), n)
      case p => p
    }
    // without AQE the executed plan reports the hash partitioning the
    // leaves keep; under AQE it reports none, for either branch
    withConf("spark.sql.adaptive.enabled", "false") {
      val cuts = Seq(true, false).map(local => Materialize.cut(surfaces, eager = true, local))
      assert(cuts.map(partitioning) == Seq.fill(2)((Seq("norm"), 8)))
      cuts.foreach(Materialize.free)
    }
    val local = Materialize.cut(surfaces, eager = true, local = true)
    val recoverable = Materialize.cut(surfaces, eager = true, local = false)
    assert(rows(local).size == 700)
    assert(rows(local) == rows(recoverable))
    assert(partitioning(recoverable) == partitioning(local))

    loseBlocks(recoverable)
    assert(rows(recoverable) == rows(local), "the recoverable leaf recomputed different rows")
    loseBlocks(local)
    val lost = intercept[Exception](local.count())
    val messages = Iterator.iterate[Throwable](lost)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("Checkpoint block") && m.contains("not found")),
      s"unexpected failure: $lost")
    Seq(local, recoverable).foreach(Materialize.free)
  }

  test("a scope frees what it holds on exit, except what it handed off") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def grown = sc.getPersistentRDDs.keySet -- before
    val kept = Materialize.scope { m =>
      val a = m.cut(spark.range(100).toDF(), eager = true)
      val b = m.cut(spark.range(50).toDF(), eager = true)
      m.free(a)
      assert(grown.size == 1)
      m.handOff()
      m.cut(spark.range(10).toDF(), eager = true)
      b
    }
    assert(grown == Set(leaf(kept).rdd.id), "the scope freed a handed-off cut or kept a held one")
    Materialize.free(kept)
    assert(intercept[RuntimeException](Materialize.scope { m =>
      m.cut(spark.range(10).toDF(), eager = true)
      throw new RuntimeException("boom")
    }).getMessage == "boom")
    assert(grown.isEmpty)
  }

  test("each LinkageQueries clear frees its blocks and cache-manager entries") {
    val sc = spark.sparkContext
    val cache = spark.sharedState.cacheManager
    val dir = "sf0.001"
    LinkageQueries.clearRunCache(); LinkageQueries.clearTrainCache(); LinkageQueries.clearCorpusCache()
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    def grown = sc.getPersistentRDDs.keySet -- before
    val (docs, gold) = LinkageQueries.sharedCorpus(spark, dir)
    assert(docs.count() > 0 && gold.count() > 0)
    val corpus = grown
    assert(corpus.nonEmpty && !cache.isEmpty)
    val (lc, uc) = LinkageQueries.sharedTrainedDicts(spark, dir)
    val train = grown -- corpus
    assert(lc.count() > 0 && train.isEmpty, s"training cached RDDs: $train")
    assert(LinkageQueries.sharedRun(spark, dir).assignments.count() > 0)
    assert((grown -- corpus -- train).nonEmpty)

    LinkageQueries.clearRunCache()
    assert(grown == corpus ++ train)
    LinkageQueries.clearTrainCache()
    assert(grown == corpus && !lc.storageLevel.useMemory && !uc.storageLevel.useMemory)
    assert(docs.storageLevel.useMemory)
    LinkageQueries.clearCorpusCache()
    assert(grown.isEmpty, s"cached RDDs left after the clears: $grown")
    assert(cache.isEmpty, "a cleared frame is still registered with the cache manager")
  }
}
