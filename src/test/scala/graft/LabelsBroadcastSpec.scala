package graft

import graft.fixtures.Synth
import graft.model._
import graft.operators.DictTrain
import graft.plans.LinkagePipeline
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** The doc⋈gold passes (`LinkagePipeline.mentionsFromText`, training's two
  * corpus passes and `DictTrain.scoredPredictions`) broadcast the golds
  * grouped by doc id below `LinkagePipeline.LabelsCap` and cogroup docs and
  * golds above it. A cap parameter forces the fallback; the two paths must
  * agree, and below the cap no exchange may sit on the doc side. */
class LabelsBroadcastSpec extends AnyFunSuite with SparkTestBase with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private val nConcepts = 60

  /** Synth docs and golds with every edge the two paths must agree on:
    * docs without golds, duplicate gold spans (exact repeats and the same
    * span under another concept), gold-only doc ids, a null doc_id with
    * spans, and duplicate doc rows (one exact copy, one with the same id
    * over other text of the same length). */
  private lazy val (docsSeq, goldsSeq) = {
    val pairs = (0 until 24).map(i => Synth.genDoc(i.toLong, nConcepts))
    val docs = pairs.map(_._1)
    val golds = pairs.flatMap(_._2)
    val id = docs.map(_.doc_id)
    val noGold = id.take(4).toSet
    val kept = golds.filterNot(g => noGold(g.doc_id))
    val dupSpans = kept.zipWithIndex.collect {
      case (g, i) if i % 5 == 0 => g
      case (g, i) if i % 5 == 1 => g.copy(concept_id = Synth.conceptId(7))
    }
    val nullDoc = docs(5).copy(doc_id = null)
    val nullGolds = golds.filter(_.doc_id == id(5)).map(_.copy(doc_id = null))
    val upper = docs(7).copy(spans = docs(7).spans.map(s => s.copy(text = s.text.toUpperCase)))
    assert(upper.text.length == docs(7).text.length)
    // docs 20-23 keep their golds but lose their doc rows
    (docs.take(20) ++ Seq(nullDoc, docs(6), upper), kept ++ dupSpans ++ nullGolds)
  }

  private def texts(docs: Seq[Doc]): Dataset[(String, String)] = docs.map(d => (d.doc_id, d.text)).toDS()
  private def bag[T](xs: Seq[T]): Map[T, Int] = xs.groupBy(identity).map { case (k, v) => k -> v.size }
  private def assertSameBag[T](got: Map[T, Int], want: Map[T, Int], what: String): Unit = {
    val diff = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    assert(diff.isEmpty, s"$what: ${diff.size} rows differ in count, e.g. " +
      diff.take(3).map(k => s"$k: ${got.getOrElse(k, 0)} vs ${want.getOrElse(k, 0)}").mkString("; "))
  }

  test("broadcast labels equal the cogroup fallback: mentionsFromText, trainDictionarySplit, scoredPredictions") {
    val docs = docsSeq.toDS()
    val golds = goldsSeq.toDS()
    // mentions: the spans as driver rows and as a plan read by one job
    val want = bag(LinkagePipeline.mentionsFromText(texts(docsSeq), golds, 0L).collect().toSeq)
    for (g <- Seq(golds, golds.repartition(3)))
      assertSameBag(bag(LinkagePipeline.mentionsFromText(texts(docsSeq), g).collect().toSeq), want, "mentions")
    // each doc row is its own document; a doc id without a doc row, or a doc
    // without spans, yields nothing; the null id meets the null-id spans
    val spansOf = goldsSeq.groupBy(_.doc_id).map { case (k, v) => k -> v.size }
    val byId = want.toSeq.groupBy(_._1.doc_id).map { case (k, ms) => k -> ms.map(_._2).sum }
    val ids = docsSeq.map(_.doc_id)
    assert(byId(ids(6)) == 2 * spansOf(ids(6)) && byId(ids(7)) == 2 * spansOf(ids(7)))
    assert(byId(null) == spansOf(null) && spansOf(null) > 0)
    assert(byId.keySet == spansOf.keySet.filter(ids.contains), byId.keySet)
    assert(ids.take(4).forall(!byId.contains(_)))

    // training: fallback below any real size (the combined first job
    // overflows on the golds) against the broadcast path
    val concepts = spark.createDataset(Synth.concepts(nConcepts))
    val descriptions = spark.createDataset(Synth.descriptions(nConcepts))
    val ext = Synth.extConcepts(nConcepts).map(e => (Option(e.ext_id), e.name, e.vocabulary))
      .toDF("ext_id", "name", "vocabulary")
    val maps = Synth.extMappings(nConcepts).map(m => (Option(m.ext_id_1), m.ext_id_2, m.relationship))
      .toDF("ext_id_1", "ext_id_2", "relationship")
    val abbr = Synth.abbreviations(nConcepts).map(a => (a.abbr, a.meaning)).toDF("abbr", "meaning")
    def train(g: Dataset[GoldAnnotation], cap: Long) = {
      val (lc, uc) = DictTrain.trainDictionarySplit(docs, g, concepts, descriptions, ext, maps, abbr,
        0.3, 0.2, greedy = true, limitAny = true, labelsCap = cap)
      (lc.collect().toSet, uc.collect().toSet)
    }
    val fallback = train(golds.repartition(3), 5L)
    assert(fallback._1.exists(_.section != "any") && fallback._2.nonEmpty)
    assert(train(golds, LinkagePipeline.LabelsCap) == fallback)
    assert(train(golds.repartition(3), LinkagePipeline.LabelsCap) == fallback)

    // scoring: every doc row scores its predictions, −1 without golds
    val dict = spark.createDataset(fallback._1.toSeq)
    val scored = bag(DictTrain.scoredPredictions(docs, golds, dict, 0L).collect().toSeq)
    assertSameBag(bag(DictTrain.scoredPredictions(docs, golds, dict).collect().toSeq), scored, "scored")
    val noGold = scored.keySet.filter(r => ids.take(4).contains(r.getString(0)))
    assert(noGold.nonEmpty && noGold.forall(_.getInt(3) == -1))
    assert(scored.keySet.exists(_.getInt(3) == 1))
  }

  private def shuffles(ds: Dataset[_]): Seq[ShuffleExchangeExec] =
    collect(ds.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  test("below the labels cap no exchange sits on the doc side; the fallback's does") {
    val golds = goldsSeq.toDS()
    val byDoc = Some(LinkagePipeline.broadcastSpans(goldsSeq.toArray))
    val dict = Synth.dictionary(nConcepts)
    val docs = texts(docsSeq)
    assert(shuffles(LinkagePipeline.mentionsFromText(docs, golds)).isEmpty)
    for (tallies <- Seq(DictTrain.labelledTallies(docs, golds, byDoc),
                        DictTrain.keyScoreTallies(docs, golds, byDoc, dict, 13L))) {
      // the tally aggregation's exchange, hashed on its grouping keys
      val Seq(e) = shuffles(tallies)
      e.outputPartitioning match {
        case h: HashPartitioning => assert(h.expressions.flatMap(_.references.map(_.name)).contains("tag"))
        case p => fail(s"not the aggregation's exchange: $p")
      }
    }
    assert(shuffles(LinkagePipeline.mentionsFromText(docs, golds, 0L)).size == 2)
    assert(shuffles(DictTrain.labelledTallies(docs, golds, None)).size == 3)
    assert(shuffles(DictTrain.keyScoreTallies(docs, golds, None, dict, 13L)).size == 3)
  }
}
