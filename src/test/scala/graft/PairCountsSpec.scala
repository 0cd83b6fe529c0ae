package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.Synth
import graft.metrics.Metrics
import graft.metrics.Metrics.PairCounts
import graft.operators.Blocking
import graft.plans.LinkagePipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Metrics.sameKeyPairCounts` counts the `linkage_pairwise_f1` universe
  * at surface level; these specs pin it to the mention-pair universe
  * itself: `Blocking.candidatePairs` over each mention row's block keys,
  * each pair joined to `labels ⋈ assignments` on both sides. */
class PairCountsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  /** The explicit count over the mention pairs. */
  private def mentionPairCounts(mentions: DataFrame, labels: DataFrame, assignments: DataFrame,
                                hotKeyCap: Int): PairCounts = {
    val mKeys = mentions.as[(String, String)]
      .flatMap { case (id, norm) => Blocking.keyHashesFor(norm).distinct.map(k => (id, k)) }
      .toDF("id", "key")
    val info = labels.join(assignments, "id")
    val r = Blocking.candidatePairs(mKeys, hotKeyCap)
      .join(info.toDF("a", "cid_a", "comp_a"), "a").join(info.toDF("b", "cid_b", "comp_b"), "b")
      .select((col("cid_a") === col("cid_b")).as("gold"), (col("comp_a") === col("comp_b")).as("pred"))
      .agg(count(when(col("gold") && col("pred"), 1)), count(when(!col("gold") && col("pred"), 1)),
        count(when(col("gold") && !col("pred"), 1)), count(lit(1)))
      .head()
    PairCounts(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  private def assertSameCounts(mentions: DataFrame, labels: DataFrame, assignments: DataFrame,
                               hotKeyCap: Int): PairCounts = {
    val want = mentionPairCounts(mentions, labels, assignments, hotKeyCap)
    assert(Metrics.sameKeyPairCounts(mentions, labels, assignments, hotKeyCap) == want, s"cap $hotKeyCap")
    want
  }

  /** One gold row: its mention (id, norm), label and assignment rows. */
  private case class Gold(id: String, norm: String, cid: Long, component: String)

  private def frames(gs: Seq[Gold]): (DataFrame, DataFrame, DataFrame) =
    (gs.map(g => (g.id, g.norm)).toDF("id", "norm"), gs.map(g => (g.id, g.cid)).toDF("id", "cid"),
      gs.map(g => (g.id, g.component)).toDF("id", "component"))

  test("surface cells count the mention-pair universe of Synth docs") {
    val (docs, golds) = Synth.corpus(80, 150)
    val mentions = LinkagePipeline.mentionsFromSpans(spark.createDataset(docs), spark.createDataset(golds))
      .localCheckpoint()
    val r = LinkagePipeline.run(mentions, spark.createDataset(Synth.dictionary(150)))
    val ment = mentions.toDF().select(concat(lit("m:"), col("doc_id"), lit(":"), col("start"), lit(":"),
      col("end")).as("id"), col("norm"))
    val labels = golds.map(g => (s"m:${g.doc_id}:${g.start}:${g.end}", g.concept_id)).toDF("id", "cid")
    for (cap <- Seq(1000, 3)) assert(assertSameCounts(ment, labels, r.assignments, cap).n > 100)
    r.release()
  }

  test("duplicate gold spans, singletons, split surfaces, all-hot surfaces and the cap boundary") {
    val fracture = "femur fracture"
    val gs = Seq(
      Gold("m:1:0:14", fracture, 10, "c:10"), Gold("m:2:0:14", fracture, 10, "c:10"),
      // the same surface in a second component
      Gold("m:3:5:19", fracture, 11, "s:" + fracture),
      // a duplicate gold span with two concepts: two rows of each table
      Gold("m:4:0:14", fracture, 10, "c:10"), Gold("m:4:0:14", fracture, 11, "c:10"),
      // shares the sorted-token key with "femur fracture"
      Gold("m:5:0:17", "fracture of femur", 10, "c:10"),
      Gold("m:6:0:9", "zzqx vvwy", 12, "s:zzqx vvwy"),
      Gold("m:7:0:9", "qqpx jjkw", 12, "c:12")) ++
      (0 until 7).map(i => Gold(s"m:h$i:0:11", "hot surface", 13 + i % 2, if (i < 4) "c:13" else "c:14")) ++
      (0 until 6).map(i => Gold(s"m:b$i:0:13", "boundary term", 15 + i % 3, "c:15"))
    val (ment, labels, assignments) = frames(gs)
    // at 6 the st key of the fracture surfaces and the boundary keys sit
    // exactly at the cap, the hot surface's keys one above it
    val counts = (1 to 8).map(cap => cap -> assertSameCounts(ment, labels, assignments, cap)).toMap
    assert(counts(6).n > counts(5).n && counts(7).n > counts(6).n)
    assert(counts(1).n == 0)
  }

  test("a surface at exactly the cap keeps its pairs, one at cap + 1 loses them") {
    val cap = 5
    val gs = (0 until cap).map(i => Gold(s"m:a$i:0:5", "alpha", 1, "c:1")) ++
      (0 until cap + 1).map(i => Gold(s"m:b$i:0:5", "omega", 2, "c:2"))
    val (ment, labels, assignments) = frames(gs)
    // a key both surfaces carry has 2·cap + 1 rows, so only alpha's own keys are cold
    val want = PairCounts(tp = cap * (cap - 1) / 2, fp = 0, fn = 0, n = cap * (cap - 1) / 2)
    assert(Metrics.sameKeyPairCounts(ment, labels, assignments, cap) == want)
    assert(mentionPairCounts(ment, labels, assignments, cap) == want)
  }
}
