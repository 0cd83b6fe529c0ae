package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.Synth
import graft.model._
import graft.operators.Blocking
import graft.plans.LinkagePipeline
import org.apache.spark.sql.functions._

/** The north-rule correctness gate: pairwise F1 ≥ 0.99 on labeled mention
  * pairs at the same blocking key (BASELINE.json metric line). */
class LinkageF1Spec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  val nConcepts = 400
  val nDocs = 150
  lazy val (docsSeq, goldsSeq) = Synth.corpus(nDocs, nConcepts)
  lazy val docs = spark.createDataset(docsSeq)
  lazy val golds = spark.createDataset(goldsSeq)
  lazy val dict = spark.createDataset(Synth.dictionary(nConcepts))

  def mid(g: GoldAnnotation): String = s"m:${g.doc_id}:${g.start}:${g.end}"

  test("pairwise F1 >= 0.99 vs labeled pairs at the same blocking key") {
    val mentions = LinkagePipeline.mentionsFromSpans(docs, golds)
    val result = LinkagePipeline.run(mentions, dict)

    // gold pair universe: mention pairs sharing >=1 blocking key of their norms
    val mKeys = Blocking.blockKeysWithNorm(mentions.toDF().select(
      concat(lit("m:"), col("doc_id"), lit(":"), col("start"), lit(":"), col("end")).as("id"),
      col("norm"))).select(col("id"), col("key")).distinct()
    val universe = Blocking.candidatePairs(mKeys)
    val label = goldsSeq.map(g => mid(g) -> g.concept_id).toMap
    val comp = result.assignments.collect().map(r => r.getString(0) -> r.getString(1)).toMap

    val pairs = universe.collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.length > 1000, s"universe too small: ${pairs.length}")
    var tp = 0; var fp = 0; var fn = 0; var tn = 0
    for ((a, b) <- pairs) {
      val goldMatch = label(a) == label(b)
      val predMatch = comp(a) == comp(b)
      if (goldMatch && predMatch) tp += 1
      else if (!goldMatch && predMatch) fp += 1
      else if (goldMatch && !predMatch) fn += 1
      else tn += 1
    }
    val prec = tp.toDouble / math.max(1, tp + fp)
    val rec = tp.toDouble / math.max(1, tp + fn)
    val f1 = 2 * prec * rec / math.max(1e-12, prec + rec)
    info(f"universe=${pairs.length} tp=$tp fp=$fp fn=$fn tn=$tn P=$prec%.4f R=$rec%.4f F1=$f1%.4f")
    assert(f1 >= 0.99, f"F1 $f1%.4f below gate (P=$prec%.4f R=$rec%.4f)")
  }

  test("star-contracted clustering equals CC over the uncontracted edge union") {
    val mentions = LinkagePipeline.mentionsFromSpans(docs, golds)
    val result = LinkagePipeline.run(mentions, dict)
    // round-2 composition: large-star/small-star over s:→t: ∪ t:→c: edges
    val d = LinkagePipeline.unambiguousDict(dict)
    val oldComp = graft.operators.ConnectedComponents(
      LinkagePipeline.argmaxEdges(result.scored)
        .union(LinkagePipeline.structEdgesOf(d)))
    val oldAssignments = LinkagePipeline.mentionAssignments(mentions, oldComp)
      .union(LinkagePipeline.surfaceNodesOf(mentions, d).select(col("id"))
        .join(oldComp, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("component"), col("id")).as("component")))
    val got = result.assignments.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = oldAssignments.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want,
      s"extra: ${(got -- want).take(5)}, missing: ${(want -- got).take(5)}")
    assert(got.nonEmpty)
  }

  test("Result.release frees the checkpointed pipeline caches") {
    val mentions = LinkagePipeline.mentionsFromSpans(docs, golds)
      .localCheckpoint(false)
    val r = LinkagePipeline.run(mentions, dict)
    r.assignments.count()
    // every lazily-checkpointed frame release() must free is a LogicalRDD
    // leaf whose block lives on the RDD, invisible to unpersist()
    val ckptIds = r.persisted.flatMap(df => df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    })
    assert(ckptIds.nonEmpty)
    r.release()
    val live = spark.sparkContext.getPersistentRDDs.keySet
    val leaked = ckptIds.filter(live.contains)
    assert(leaked.isEmpty, s"release() left checkpoint blocks cached: $leaked")
  }

  test("no component merges two distinct concepts") {
    val mentions = LinkagePipeline.mentionsFromSpans(docs, golds)
    val result = LinkagePipeline.run(mentions, dict)
    val conceptsPerComponent = result.assignments
      .filter(col("id").startsWith("c:"))
      .groupBy("component").agg(countDistinct(col("id")).as("n"))
      .filter(col("n") > 1).count()
    assert(conceptsPerComponent == 0)
  }

  test("argmax linking: every surface's best dictionary term is its own concept") {
    val mentions = LinkagePipeline.mentionsFromSpans(docs, golds)
    val result = LinkagePipeline.run(mentions, dict)
    // surface -> concept truth (unique per surface in the synthetic corpus)
    val byDoc = docsSeq.map(d => d.doc_id -> d.text).toMap
    val label = goldsSeq.map { g =>
      val surf = graft.functions.TextFns.normalize(byDoc(g.doc_id).substring(g.start, g.end))
      ("s:" + surf) -> g.concept_id
    }.toMap
    val dictConcept = Synth.dictionary(nConcepts).map(e => "t:" + e.mention -> e.concept_id).toMap
    val mt = result.scored.collect()
      .filter(r => r.getString(0).startsWith("s:") && r.getString(1).startsWith("t:") &&
        label.contains(r.getString(0)))
    val best = mt.groupBy(_.getString(0)).map { case (m, rows) =>
      m -> rows.maxBy(r => (r.getDouble(5), r.getString(1)))
    }
    val candidateTerms = mt.groupBy(_.getString(0))
      .map { case (m, rows) => m -> rows.map(_.getString(1)).toSet }
    var wrongArgmax = 0
    var blockingMiss = 0
    var bestBelow = 0
    var minOwnBest = 1.0
    for ((m, r) <- best) {
      val t = r.getString(1)
      val score = r.getDouble(5)
      if (dictConcept(t) != label(m)) {
        val ownWasCandidate = candidateTerms(m).exists(tt => dictConcept(tt) == label(m))
        if (ownWasCandidate && score >= 0.5) {
          // a real false edge: the foreign term beat the mention's own term
          wrongArgmax += 1
          info(s"SCORING FAIL: $m best=$t score=$score candidates=${candidateTerms(m)}")
        } else if (!ownWasCandidate) {
          blockingMiss += 1
          if (score >= 0.5) info(s"BLOCKING MISS w/ foreign edge: $m -> $t score=$score")
        }
      } else {
        if (score < 0.5) bestBelow += 1
        minOwnBest = math.min(minOwnBest, score)
      }
    }
    info(f"mentions-with-candidates=${best.size} wrongArgmax=$wrongArgmax " +
      f"blockingMiss=$blockingMiss bestBelowThreshold=$bestBelow minOwnBest=$minOwnBest%.4f")
    assert(wrongArgmax == 0, s"$wrongArgmax mentions argmax to a foreign concept despite own term present")
    assert(bestBelow.toDouble / best.size < 0.01, s"$bestBelow best-edges below threshold")
  }
}
