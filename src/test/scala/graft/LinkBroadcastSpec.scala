package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.Synth
import graft.functions.LongHashSet
import graft.model._
import graft.operators.{ConnectedComponents, PairwiseScoring}
import graft.plans.LinkagePipeline
import graft.plans.LinkagePipeline.TermIndex
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** `LinkagePipeline.run` links surfaces through a broadcast term-key index
  * when the dictionary fits the dictionary cap; these differentials pin its
  * assignments to the operator chain (`runCheckpointed`, which always runs
  * it), and pin its scorer and argmax to the Catalyst expressions they
  * replace. */
class LinkBroadcastSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val nConcepts = 150

  private def corpus(offset: Long, n: Int): (Dataset[Doc], Dataset[GoldAnnotation]) = {
    val pairs = (0 until n).map(i => Synth.genDoc(offset + i, nConcepts))
    (spark.createDataset(pairs.map(_._1)), spark.createDataset(pairs.flatMap(_._2)))
  }

  private def synthDict: Dataset[DictEntry] = spark.createDataset(Synth.dictionary(nConcepts))

  /** Assignment rows as a sorted bag (duplicate mention rows kept). */
  private def rows(df: DataFrame): Seq[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  /** `run`'s assignments, asserted equal to the operator chain's. */
  private def assertMatchesChain(mentions: Dataset[Mention], dict: Dataset[DictEntry],
                                 hotKeyCap: Int = 1000): Seq[(String, String)] = {
    val fused = LinkagePipeline.run(mentions, dict, hotKeyCap = hotKeyCap)
    val got = rows(fused.assignments)
    fused.release()
    val dir = Files.createTempDirectory("graft_link_chain")
    val want =
      try rows(LinkagePipeline.runCheckpointed(mentions, dict, dir.toString, hotKeyCap = hotKeyCap)
        ._1.assignments)
      finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    assert(got == want, s"extra: ${got.diff(want).take(5)}, missing: ${want.diff(got).take(5)}")
    got
  }

  private def linkedSurfaces(assignments: Seq[(String, String)]): Int =
    assignments.count { case (id, c) => id.startsWith("s:") && c.startsWith("c:") }

  test("run's broadcast path equals the operator chain on Synth docs at two doc offsets") {
    for (offset <- Seq(0L, 5000000L)) {
      val (docs, golds) = corpus(offset, 60)
      val mentions = LinkagePipeline.mentionsFromSpans(docs, golds)
      val got = assertMatchesChain(mentions, synthDict)
      assert(got.count(_._1.startsWith("m:")) == golds.count())
      assert(linkedSurfaces(got) > 20, s"too few linked surfaces at offset $offset")
    }
  }

  test("above the dictionary cap and above the component cap, run's exact paths agree too") {
    val (docs, golds) = corpus(0L, 40)
    val mentions = LinkagePipeline.mentionsFromSpans(docs, golds).localCheckpoint()
    val chain = LinkagePipeline.runChain(mentions, synthDict, PairwiseScoring.Weights(), 1000)
    val terms = synthDict.map(e => (e.mention, e.concept_id)).collect()
    val joins = LinkagePipeline.runBroadcast(mentions, synthDict, TermIndex(terms),
      PairwiseScoring.Weights(), 1000, componentCap = 0)
    val (got, gotJoins) = (rows(chain.assignments), rows(joins.assignments))
    chain.release()
    joins.release()
    val want = assertMatchesChain(mentions, synthDict)
    assert(got == want && gotJoins == want)
  }

  test("a hot-key cap that drops keys: both sides count toward it") {
    val (docs, golds) = corpus(0L, 60)
    val mentions = LinkagePipeline.mentionsFromSpans(docs, golds).localCheckpoint()
    val r = LinkagePipeline.run(mentions, synthDict, hotKeyCap = 3)
    val dropped = r.keyFreq.filter(col("freq") > 3).count()
    r.release()
    assert(dropped > 0, "hotKeyCap = 3 drops no key")
    val capped = assertMatchesChain(mentions, synthDict, hotKeyCap = 3)
    assert(capped != assertMatchesChain(mentions, synthDict))
  }

  test("an empty dictionary leaves every node in its own component") {
    val (docs, golds) = corpus(0L, 10)
    val mentions = LinkagePipeline.mentionsFromSpans(docs, golds)
    val got = assertMatchesChain(mentions, spark.emptyDataset[DictEntry])
    assert(got.nonEmpty && got.forall { case (id, c) => !c.startsWith("c:") })
  }

  test("an ambiguous dictionary mention is excluded; supplementary-plane norms link alike") {
    val base = "chronic obstructive pulmonary disease"
    val astral = "𝔸𝔹" // 2 code points, 4 UTF-16 units
    val norms = Seq(base, base + "s", astral + " fracture", astral + " fractures",
      "femur", "femur " + astral * 5, "😀 pain", "ambiguous term", "ambiguous terms")
    val mentions = spark.createDataset(norms.zipWithIndex.flatMap { case (n, i) =>
      Seq(Mention(s"d$i", 0, n.length, n, n, "sec"), Mention(s"e$i", 3, 3 + n.length, n, n, "sec"))
    })
    val dict = spark.createDataset(Seq(
      DictEntry("any", base, 1L),
      DictEntry("any", astral + " fracture", 2L),
      DictEntry("any", "femur " + astral * 4, 3L),
      DictEntry("any", "😀 pains", 4L),
      DictEntry("any", "ambiguous term", 5L),
      DictEntry("other", "ambiguous term", 6L),
      DictEntry("other", base, 1L)))
    val got = assertMatchesChain(mentions, dict)
    val ids = got.map(_._1).toSet
    assert(!ids.contains("t:ambiguous term") && ids.contains("t:" + base))
    assert(got.contains(("s:" + astral + " fractures", "c:2")))
    assert(got.contains(("m:e1:3:" + (3 + norms(1).length), "c:1")))
  }

  test("the closed-form components equal ConnectedComponents over the same argmax edges") {
    val base = "chronic obstructive pulmonary disease"
    val astral = "𝔸𝔹"
    val many = Seq(base, base + "s", base + " x", "chronic obstructive pulmonary diseases")
    val norms = many ++ Seq(astral + " fracture", astral + " fractures", "😀 pain",
      "zzqx vvwy") // shares no key with any term: no edge
    val mentions = spark.createDataset(norms.zipWithIndex.flatMap { case (n, i) =>
      Seq(Mention(s"d$i", 0, n.length, n, n, "sec"), Mention(s"e$i", 2, 2 + n.length, n, n, "sec"))
    })
    val entries = Seq(DictEntry("any", base, 1L), DictEntry("any", astral + " fracture", 2L),
      DictEntry("any", "😀 pains", 4L), DictEntry("any", "femur", 5L))
    val dict = spark.createDataset(entries)
    val ix = TermIndex(entries.map(e => (e.mention, e.concept_id)).toArray)
    // the argmax edges of run's score pass (no key reaches the hot-key cap here)
    val closed = norms.flatMap { n =>
      val t = ix.best(n, new LongHashSet(0), PairwiseScoring.scorePure(_, _))
      if (t < 0) None else Some("s:" + n -> ix.conceptNodes(t))
    }.toMap
    val edges = closed.toSeq.toDF("a", "b")
    assert(many.forall(n => closed.get("s:" + n).contains("c:1")), s"not one star: $closed")
    assert(closed.get("s:" + astral + " fractures").contains("c:2"))
    assert(!closed.contains("s:zzqx vvwy"))
    // the reference: ConnectedComponents over those edges, terms to their concepts
    val d = LinkagePipeline.unambiguousDict(dict)
    val comps = ConnectedComponents(edges)
      .union(LinkagePipeline.structEdgesOf(d).toDF("id", "component"))
    val want = rows(LinkagePipeline.mentionAssignments(mentions, comps)
      .union(LinkagePipeline.surfaceNodesOf(mentions, d).select(col("id"))
        .join(comps, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))))
    assert(want.contains(("s:zzqx vvwy", "s:zzqx vvwy")))
    for (cap <- Seq(ConnectedComponents.LocalSolveCap.toLong, 0L)) {
      val r = LinkagePipeline.runBroadcast(mentions, dict, ix, PairwiseScoring.Weights(), 1000, cap)
      val got = rows(r.assignments)
      r.release()
      assert(got == want, s"cap $cap: extra ${got.diff(want).take(5)}, missing ${want.diff(got).take(5)}")
    }
  }

  test("run's broadcast path caches nothing until a diagnostic frame is read") {
    val cache = spark.sharedState.cacheManager
    val (docs, golds) = corpus(0L, 20)
    val mentions = LinkagePipeline.mentionsFromSpans(docs, golds).localCheckpoint()
    spark.catalog.clearCache()
    val r = LinkagePipeline.run(mentions, synthDict)
    assert(r.assignments.count() > 0)
    assert(cache.isEmpty, "run registered a frame with the cache manager")
    assert(r.keyFreq.count() > 0 && r.nodeKeys.count() > 0)
    assert(cache.isEmpty, "reading the key diagnostics registered a frame")
    val copied = r.copy(persisted = r.persisted)
    assert(copied.scored.count() > 0)
    assert(!cache.isEmpty)
    assert(r.scored eq copied.scored, "a copy built its own diagnostic frames")
    assert(r.scored.storageLevel.useMemory)
    r.release()
    assert(cache.isEmpty, "release() left the scored frame cached")
  }

  test("argmax tie-break: equal scores go to the smaller term id in UTF-8 byte order") {
    val base = "chronic obstructive pulmonary disease"
    val bmp = base + "｡"           // U+FF61: UTF-8 EF BD A1, UTF-16 FF61
    val astral = base + "𝔸"       // U+1D538: UTF-8 F0 9D 94 B8, UTF-16 D835 DD38
    assert(astral.compareTo(bmp) < 0, "String.compareTo orders the astral term first")
    val ix = TermIndex(Array((astral, 1L), (bmp, 2L)))
    val noHot = new LongHashSet(0)
    for (t <- Seq(bmp, astral))
      assert(ix.norms(ix.best(base, noHot, (_, n) => if (n == t) 0.9 else 0.1)) == t)
    assert(ix.norms(ix.best(base, noHot, (_, _) => 0.9)) == bmp)
    assert(ix.best(base, noHot, (_, _) => 0.4) == -1, "below the 0.5 threshold")
    // Spark's min_by over (-score, b) breaks the same tie the same way
    val scored = Seq(("s:" + base, "t:" + astral, 0.9), ("s:" + base, "t:" + bmp, 0.9))
      .toDF("a", "b", "score")
    assert(LinkagePipeline.argmaxEdges(scored).head().getString(1) == "t:" + bmp)
  }

  test("scorePure is bit-identical to scoreInline's score column") {
    val rnd = new scala.util.Random(11)
    val alphabet = Array("a", "b", "c", "e", "r", "t", " ", "é", "ß", "𝔸", "😀", "｡")
    def word(): String = Seq.fill(rnd.nextInt(16))(alphabet(rnd.nextInt(alphabet.length))).mkString
    // a UTF-16 index: mutations may leave lone surrogates
    def mutate(s: String): String =
      if (s.isEmpty) word()
      else { val i = rnd.nextInt(s.length); s.take(i) + alphabet(rnd.nextInt(alphabet.length)) + s.drop(i + 1) }
    val random = Seq.fill(2000)((word(), word()))
    val near = Seq.fill(2000) { val w = word() + " " + word(); (w, mutate(mutate(w))) }
    val fixed = Seq(("", ""), ("", "ab"), ("𝔸b", "ab"), ("femur fracture", "femur fracture"),
      ("acute femur fracture", "femur fracture acute"), ("x", "x"))
    val pairs = (random ++ near ++ fixed).zipWithIndex.map { case ((a, b), i) => (s"s:$i", s"t:$i", a, b) }
    // an RDD source, so the score runs through the generated code the
    // pipeline runs (a local relation is folded by interpreted expressions)
    val df = spark.createDataset(spark.sparkContext.parallelize(pairs, 4)).toDF("a", "b", "norm_a", "norm_b")
    val spark_ = PairwiseScoring.scoreInline(df).select(col("a"), col("lev_ratio"), col("score"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val bad = pairs.filter { case (a, _, na, nb) =>
      java.lang.Double.doubleToRawLongBits(PairwiseScoring.scorePure(na, nb)) !=
        java.lang.Double.doubleToRawLongBits(spark_(a)._2)
    }
    def esc(s: String) = s.flatMap(c => if (c < 128) c.toString else f"\\u${c.toInt}%04x")
    assert(bad.isEmpty, s"${bad.size} of ${pairs.size} differ, e.g. " +
      bad.take(3).map(p => esc(p._3) + " / " + esc(p._4)).mkString("; "))
    assert(spark_(s"s:${random.size + near.size + 2}")._1 == 0.5, "\"𝔸b\" vs \"ab\": one edit in two code points")
    assert(pairs.map(p => PairwiseScoring.scorePure(p._3, p._4)).exists(_ >= 0.5))
  }
}
