package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.Synth
import graft.functions.TextFns
import graft.model._
import graft.operators.DictTrain
import graft.plans.LinkagePipeline
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** `trainDictionarySplit` runs its dictionary-scale steps on the driver;
  * these differentials pin it to the step-by-step composition of the
  * public relational step operators (the sequence of the benchmark's
  * traced replay), and pin each driver transcription of a Catalyst rule
  * to the operator it replaces. */
class DictTrainSplitSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val nConcepts = 120

  /** Terminology rows aimed at the transcribed Catalyst rules: raw length,
    * "machine translation", the late-"[" rule in code points, FSN tag
    * stripping (which needs the ")" at the very end) against the FSN type
    * regex (which allows trailing blanks), the leading-alphanumeric
    * filter, word-count bounds, inactive rows, and a concept whose two
    * FSNs carry different type tags. */
  private val trickyIds = (1 to 4).map(i => 990000L + i)
  private val trickyConcepts = trickyIds.map(Concept(_, 1)) :+ Concept(990099L, 0)
  private val trickyDescriptions = Seq(
    Description(trickyIds(0), "ab", "SYN", 1),
    Description(trickyIds(0), "renal stone machine translation", "SYN", 1),
    Description(trickyIds(0), "abcdefg [x] stone", "SYN", 1),
    Description(trickyIds(0), "ab [x] kidney stone", "SYN", 1),
    Description(trickyIds(0), "ab😀😀😀[c] renal calculus", "SYN", 1),
    Description(trickyIds(1), "Heart attack (disorder)", "FSN", 1),
    Description(trickyIds(1), "Odd (a) cardiac tag (finding)  ", "FSN", 1),
    Description(trickyIds(1), "-leading dash term", "SYN", 1),
    Description(trickyIds(1), "état de choc grave", "SYN", 1),
    Description(trickyIds(2), "one two three four five six", "SYN", 1),
    Description(trickyIds(2), "lung nodule finding", "SYN", 0),
    Description(trickyIds(2), "Pulmonary nodule (morphologic abnormality)", "FSN", 1),
    Description(trickyIds(3), "(disorder)", "FSN", 1),
    Description(trickyIds(3), "Plain name", null, 1),
    Description(990099L, "inactive concept name", "SYN", 1))

  private val trickyExt = Seq(
    (Option(991L), "Renal stone ext", "FAKEVOCAB2"),
    (Option(992L), "Null vocab name", null: String),
    (Option(993L), "Wrong relationship", "FAKEVOCAB2"),
    (Option.empty[Long], "Null id", "FAKEVOCAB2"))
  private val trickyMaps = Seq(
    (Option(991L), trickyIds(0), "Maps to"),
    (Option(992L), trickyIds(0), "Maps to"),
    (Option(993L), trickyIds(0), "Is a"))

  /** Synth docs + golds from `genDoc` at a doc-index offset, plus one doc
    * whose gold surface is an all-uppercase non-ASCII word (pins the
    * case mapping of the uc split). */
  private def corpus(offset: Long, n: Int): (Seq[Doc], Seq[GoldAnnotation]) = {
    val pairs = (0 until n).map(i => Synth.genDoc(offset + i, nConcepts))
    val text = "History: " + ("x" * 120) + " the patient ÅSTRÖM was seen; ÅSTRÖM again."
    val extra = Doc("doc-upper", Seq(DocSpan("text", text, "", 0)))
    val at = text.indexOf("ÅSTRÖM")
    val extraGolds = Seq(at, text.indexOf("ÅSTRÖM", at + 1))
      .map(s => GoldAnnotation("doc-upper", s, s + 6, Synth.conceptId(3)))
    (pairs.map(_._1) :+ extra, pairs.flatMap(_._2) ++ extraGolds)
  }

  private case class Terms(concepts: Dataset[Concept], descriptions: Dataset[Description],
                           ext: DataFrame, maps: DataFrame, abbr: DataFrame)

  private def terms(withExternal: Boolean = true): Terms = {
    val ext = Synth.extConcepts(nConcepts).map(e => (Option(e.ext_id), e.name, e.vocabulary)) ++
      trickyExt
    val maps = Synth.extMappings(nConcepts).map(m => (Option(m.ext_id_1), m.ext_id_2, m.relationship)) ++
      trickyMaps
    val abbr = Synth.abbreviations(nConcepts).map(a => (a.abbr, a.meaning))
    def keep[T](s: Seq[T]) = if (withExternal) s else Seq.empty[T]
    Terms(
      spark.createDataset(Synth.concepts(nConcepts) ++ trickyConcepts),
      spark.createDataset(Synth.descriptions(nConcepts) ++ trickyDescriptions),
      keep(ext).toDF("ext_id", "name", "vocabulary"),
      keep(maps).toDF("ext_id_1", "ext_id_2", "relationship"),
      keep(abbr).toDF("abbr", "meaning"))
  }

  /** Materializes an intermediate so the reference plans stay shallow. */
  private def cut(df: DataFrame): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(df.collect().toSeq, 4), df.schema)
  private def cutDict(d: Dataset[DictEntry]): Dataset[DictEntry] =
    spark.createDataset(d.collect().toSeq)

  /** The public step operators composed in the traced replay's order. */
  private def reference(docs: Dataset[Doc], golds: Dataset[GoldAnnotation], t: Terms,
                        greedy: Boolean = true, limitAny: Boolean = true)
      : (Set[DictEntry], Set[DictEntry]) = {
    def splitUc(d: Dataset[DictEntry], ucNorms: DataFrame) = {
      val uc = d.toDF().join(broadcast(ucNorms), col("mention") === col("norm"))
        .select(col("section"), upper(col("mention")).as("mention"), col("concept_id"))
        .distinct().as[DictEntry]
      val lc = d.toDF().join(broadcast(ucNorms), col("mention") === col("norm"), "left_anti")
        .as[DictEntry]
      (cutDict(lc), cutDict(uc))
    }
    val mentions = cut(LinkagePipeline.mentionsFromSpans(docs, golds).toDF())
    val harvested = cutDict(DictTrain.dictFromMentions(mentions, golds))
    val ucNorms = cut(DictTrain.uppercaseMentionsOf(mentions).select(col("norm")))
    val (lcHarvested, ucHarvested) = splitUc(harvested, ucNorms)
    val scored = cut(DictTrain.scoredPredictions(docs, golds, lcHarvested))
    val naive = cutDict(DictTrain.pruneNaiveKeys(lcHarvested, DictTrain.keyScoresByNote(scored), 0.3, 0.2))
    val core =
      if (!greedy) naive
      else cutDict(DictTrain.pruneGreedyKeys(naive, DictTrain.keyScoresByMention(scored), golds, 0.3, 0.2))
    val term = DictTrain.dictFromTerminology(t.concepts, t.descriptions)
    val ext = DictTrain.dictFromExternal(t.ext, t.maps)
    val wordCounts = docs.flatMap(d => TextFns.normalize(d.text).split(' ')).toDF("word")
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val nDocsDf = docs.toDF().agg(count(lit(1)).as("n_docs"))
    val blacklist = wordCounts.crossJoin(nDocsDf)
      .filter(col("freq") > lit(13L) * col("n_docs"))
      .select(col("word")).as[String].collect().toSet
    val expanded = cutDict(DictTrain.expandEntries(core.union(term).union(ext), blacklist).distinct())
    val withAbbr = expanded.union(DictTrain.abbreviationEntries(t.abbr, expanded))
    val extAdd = withAbbr.toDF()
      .join(broadcast(core.toDF().select(col("section"), col("mention"))),
        Seq("section", "mention"), "left_anti")
      .as[DictEntry]
    val full = cutDict(core.toDF().toDF("section", "mention", "concept_id")
      .union(extAdd.toDF().toDF("section", "mention", "concept_id"))
      .distinct().as[DictEntry])
    val (lcDict, ucExternal) = splitUc(full, ucNorms)
    val ucDict = ucHarvested.union(ucExternal).distinct()
    val lcFinal =
      if (!limitAny) lcDict
      else {
        val cidToType = DictTrain.conceptTypes(t.descriptions)
        DictTrain.limitAnyToAllowedSections(lcDict,
          DictTrain.allowedSectionsOf(mentions, golds, cidToType), cidToType)
      }
    (lcFinal.collect().toSet, ucDict.collect().toSet)
  }

  private def trained(docs: Dataset[Doc], golds: Dataset[GoldAnnotation], t: Terms,
                      greedy: Boolean = true, limitAny: Boolean = true)
      : (Set[DictEntry], Set[DictEntry]) = {
    val (lc, uc) = DictTrain.trainDictionarySplit(docs, golds, t.concepts, t.descriptions,
      t.ext, t.maps, t.abbr, greedy = greedy, limitAny = limitAny)
    val out = (lc.collect().toSet, uc.collect().toSet)
    lc.unpersist(); uc.unpersist()
    out
  }

  private def assertSameDicts(got: (Set[DictEntry], Set[DictEntry]),
                              want: (Set[DictEntry], Set[DictEntry]), what: String): Unit = {
    for (((g, w), name) <- Seq((got._1, want._1), (got._2, want._2)).zip(Seq("lc", "uc")))
      assert(g == w, s"$what: $name dict differs — extra ${(g -- w).take(5)}, " +
        s"missing ${(w -- g).take(5)} (${g.size} vs ${w.size})")
  }

  test("trainDictionarySplit equals the public-operator composition at two seeds") {
    val t = terms()
    for (offset <- Seq(0L, 70000000L)) {
      val (docsSeq, goldsSeq) = corpus(offset, 40)
      val docs = spark.createDataset(docsSeq)
      val golds = spark.createDataset(goldsSeq)
      val want = reference(docs, golds, t)
      assert(want._1.nonEmpty && want._2.nonEmpty)
      assert(want._2.exists(_.mention == "ÅSTRÖM"), "the non-ASCII uc key must reach the uc dict")
      assertSameDicts(trained(docs, golds, t), want, s"offset $offset")
    }
  }

  test("the greedy and limit-any switches match the composition without those steps") {
    val (docsSeq, goldsSeq) = corpus(0L, 40)
    val docs = spark.createDataset(docsSeq)
    val golds = spark.createDataset(goldsSeq)
    val t = terms()
    assertSameDicts(trained(docs, golds, t, greedy = false, limitAny = false),
      reference(docs, golds, t, greedy = false, limitAny = false), "no greedy, no limit-any")
  }

  test("edge inputs: empty golds, duplicate gold spans, no uc norms, empty external tables") {
    val (docsSeq, goldsSeq) = corpus(0L, 30)
    val docs = spark.createDataset(docsSeq)
    val t = terms()
    // empty golds: nothing harvested or scored, terminology alone remains
    val noGolds = spark.emptyDataset[GoldAnnotation]
    val empty = reference(docs, noGolds, t)
    assert(empty._1.nonEmpty && empty._2.isEmpty)
    assertSameDicts(trained(docs, noGolds, t), empty, "empty golds")
    // duplicate gold spans: exact repeats and the same span under another
    // concept (the labelled join multiplies them)
    val dup = goldsSeq ++ goldsSeq.zipWithIndex.collect {
      case (g, i) if i % 3 == 0 => g.copy(concept_id = Synth.conceptId(7))
      case (g, i) if i % 3 == 1 => g
    }
    val dupGolds = spark.createDataset(dup)
    assertSameDicts(trained(docs, dupGolds, t), reference(docs, dupGolds, t), "duplicate spans")
    // no uppercase-only norms: keep the golds whose surface has a lowercase char
    val texts = docsSeq.map(d => d.doc_id -> d.text).toMap
    val lower = goldsSeq.filter { g =>
      val s = texts(g.doc_id).substring(g.start, math.min(g.end, texts(g.doc_id).length))
      s != s.toUpperCase
    }
    val lowerGolds = spark.createDataset(lower)
    val noUc = reference(docs, lowerGolds, t)
    assert(noUc._2.isEmpty)
    assertSameDicts(trained(docs, lowerGolds, t), noUc, "no uc norms")
    // empty abbreviation and external tables
    val golds = spark.createDataset(goldsSeq)
    val bare = terms(withExternal = false)
    assertSameDicts(trained(docs, golds, bare), reference(docs, golds, bare), "empty ext tables")
  }

  test("training and inference cache nothing; Spark-side tables train the same dicts") {
    val (docsSeq, goldsSeq) = corpus(0L, 30)
    val docs = spark.createDataset(docsSeq)
    val golds = spark.createDataset(goldsSeq)
    val t = terms()
    // the same tables as plans, not driver rows: the gate reads them by one job
    val remote = Terms(t.concepts.repartition(3), t.descriptions.repartition(3),
      t.ext.repartition(2), t.maps.repartition(2), t.abbr.repartition(2))
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (lc, uc) = DictTrain.trainDictionarySplit(docs, golds, remote.concepts, remote.descriptions,
      remote.ext, remote.maps, remote.abbr)
    assert(DictTrain.infer(docs, lc, uc).count() > 0)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"training or inference left persistent RDDs: $left")
    assert(spark.sharedState.cacheManager.isEmpty, "training or inference registered a cached frame")
    assertSameDicts((lc.collect().toSet, uc.collect().toSet), trained(docs, golds, t), "Spark-side tables")
  }

  test("driver transcriptions equal the Catalyst operators they replace") {
    val t = terms()
    val concepts = t.concepts.collect().toSeq
    val descriptions = t.descriptions.collect().toSeq
    assert(DictTrain.terminologyEntries(concepts, descriptions).toSet ==
      DictTrain.dictFromTerminology(t.concepts, t.descriptions).collect().toSet)
    val tricky = DictTrain.terminologyEntries(trickyConcepts, trickyDescriptions).map(_.mention).toSet
    assert(tricky == Set("ab x kidney stone", "ab c renal calculus", "heart attack",
      "odd a cardiac tag finding", "pulmonary nodule", "plain name"), tricky)
    val types = DictTrain.conceptTypes(t.descriptions).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(DictTrain.conceptTypesOf(descriptions) == types)
    assert(types(trickyIds(1)) == "disorder" && types(trickyIds(2)) == "morphologic abnormality")
    val ext = t.ext.as[(Option[Long], String, String)].collect().toSeq
    val maps = t.maps.as[(Option[Long], Long, String)].collect().toSeq
    assert(DictTrain.externalEntries(ext, maps).toSet ==
      DictTrain.dictFromExternal(t.ext, t.maps).collect().toSet)
    val dict = DictTrain.terminologyEntries(concepts, descriptions)
    assert(DictTrain.abbreviationEntriesOf(t.abbr.as[(String, String)].collect().toSeq, dict).toSet ==
      DictTrain.abbreviationEntries(t.abbr, spark.createDataset(dict)).collect().toSet)
  }
}
