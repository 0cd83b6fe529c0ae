package graft.bench

import graft.functions.TextFns
import graft.metrics.Metrics
import graft.model._
import graft.operators._
import graft.plans.LinkagePipeline
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One untraced pass: its timed wall seconds, the output checksums that
  * must repeat on every pass, the named checks made on it and the judged
  * quality (only on the pass asked to judge). */
final case class PassOut(wallS: Double, checksums: Map[String, String],
                         checks: Seq[(String, Boolean)] = Nil,
                         quality: Option[Double] = None)

/** One traced pass: its wall seconds, the same checksums as an untraced
  * pass, the per-layer metrics and the summed wall seconds of its layers. */
final case class TracedOut(wallS: Double, checksums: Map[String, String],
                           layers: Map[String, Double], layerWallS: Double,
                           checks: Seq[(String, Boolean)] = Nil)

trait Workload {
  def name: String
  /** Docs read by one pass (the numerator of docs_per_s). */
  def inputDocs: Long
  def setup(spark: SparkSession): Unit
  def pass(spark: SparkSession, judge: Boolean): PassOut
  def traced(spark: SparkSession, tr: Trace): TracedOut
}

object Workload {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The common per-layer numbers of a traced group. */
  def layer(tr: Trace, group: String, wallS: Double): Map[String, Double] = {
    val st = tr.stats(group)
    Map(s"$group.wall_s" -> wallS,
      s"$group.driver_s" -> math.max(0.0, wallS - st.jobCoveredS),
      s"$group.jobs" -> st.jobs.toDouble,
      s"$group.shuffle_mb" -> st.shuffleMb,
      s"$group.spill_mb" -> st.spillMb,
      s"$group.task_skew" -> st.taskSkew,
      s"$group.gc_s" -> st.gcS)
  }

  /** Frees frames the benchmark materialised: persisted frames through
    * `unpersist`, lazily checkpointed ones through their root RDD — the
    * program's own idiom, `LinkagePipeline.Result.release`. */
  def free(frames: Dataset[_]*): Unit =
    LinkagePipeline.Result(null, null, null, null, persisted = frames.map(_.toDF())).release()

  def mentionIds(df: DataFrame): org.apache.spark.sql.Column =
    concat(lit("m:"), df("doc_id"), lit(":"), df("start"), lit(":"), df("end"))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def treeMb(p: Path): Double = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / 1e6
    finally s.close()
  }
}

/** The pair-F1 judge: labelled mention pairs that share a blocking key
  * (the same-key universe, built with `Blocking.candidatePairs` over the
  * mentions' own block keys, hot keys capped as in the pipeline), each
  * pair gold-positive when both mentions carry the same concept and
  * predicted-positive when both sit in the same component.
  * `Metrics.pairwiseF1` scores predicted against gold pairs.
  *
  * Only mentions with xxhash64(id) mod [[SampleMod]] = 0 are judged: a fixed
  * hash-sample that keeps ~1/16 of the universe's pairs. */
object Judge {
  val HotKeyCap = 1000
  val SampleMod = 4

  /** The pair-F1 and the (sampled) same-key universe it was judged on. */
  def pairF1(mentions: Dataset[Mention], golds: Dataset[GoldAnnotation], assignments: DataFrame)
            (implicit spark: SparkSession): (Double, DataFrame) = {
    val m = mentions.toDF()
    val nodes = m.select(Workload.mentionIds(m).as("id"), col("norm"))
      .filter(pmod(xxhash64(col("id")), lit(SampleMod)) === 0)
    val mKeys = Blocking.blockKeysWithNorm(nodes).select(col("id"), col("key")).distinct()
    val universe = Blocking.candidatePairs(mKeys, HotKeyCap)
    val g = golds.toDF()
    val info = g.select(Workload.mentionIds(g).as("id"), col("concept_id").as("cid"))
      .join(assignments.select(col("id"), col("component")), "id")
    val judged = universe
      .join(info.toDF("a", "cid_a", "comp_a"), "a")
      .join(info.toDF("b", "cid_b", "comp_b"), "b")
    val pred = judged.filter(col("comp_a") === col("comp_b")).select(col("a"), col("b"))
    val gold = judged.filter(col("cid_a") === col("cid_b")).select(col("a"), col("b"))
    val f1 = Metrics.pairwiseF1(pred, gold)._3
    (f1, universe)
  }

  /** Traced judge: the `metrics` layer numbers. */
  def traced(tr: Trace, mentions: Dataset[Mention], golds: Dataset[GoldAnnotation],
             assignments: DataFrame)
            (implicit spark: SparkSession): (Double, Map[String, Double]) = {
    val ((f1, universe), wall) = tr.span("metrics") {
      val (f1, u) = pairF1(mentions, golds, assignments)
      (f1, u.count())
    }
    tr.settle(Seq("metrics"))
    (f1, Map("metrics.f1_s" -> wall, "metrics.universe_pairs" -> universe.toDouble,
      "metrics.shuffle_mb" -> tr.stats("metrics").shuffleMb))
  }
}

/** `link`: `LinkagePipeline.run` over labelled docs read from parquet. */
final class LinkWorkload(inputs: Inputs, n: Int, workRoot: String) extends Workload {
  val name = "link"
  def inputDocs: Long = n
  def setup(spark: SparkSession): Unit = inputs.writeLinkage(spark, n)

  def pass(spark: SparkSession, judge: Boolean): PassOut = {
    implicit val s: SparkSession = spark
    val golds = inputs.golds(spark, "golds")
    val t0 = System.nanoTime()
    // the mention extraction feeds node building, the mention assignment
    // join and the judge: checkpointed once, freed with the Result
    val mentions = LinkagePipeline.mentionsFromText(inputs.docsText(spark), golds)
      .localCheckpoint(false)
    val run = LinkagePipeline.run(mentions, inputs.dict(spark))
    val r = run.copy(persisted = run.persisted :+ mentions.toDF())
    val assignSum = Checksums.of(r.assignments)
    val wall = Workload.secondsSince(t0)
    val f1 = if (judge) Some(Judge.pairF1(mentions, golds, r.assignments)._1) else None
    r.release()
    PassOut(wall, Map("assignments" -> assignSum),
      checks = f1.map(f => "pair_f1 >= 0.99" -> (f >= 0.99)).toSeq, quality = f1)
  }

  /** `LinkagePipeline.run` replayed layer by layer from its public and
    * package-level operators, each layer's output materialised under its
    * own job group. Must end in the untraced pass's assignments. The same
    * mentions then go through the StageRunner crash-and-resume path, which
    * must end in the same assignments. */
  def traced(spark: SparkSession, tr: Trace): TracedOut = {
    implicit val s: SparkSession = spark
    import LinkagePipeline._
    val golds = inputs.golds(spark, "golds")
    val dict = inputs.dict(spark)
    val t0 = System.nanoTime()
    val ((mentions, nMentions), wMentions) = tr.span("mentions") {
      val m = mentionsFromText(inputs.docsText(spark), golds).localCheckpoint(false)
      (m, m.count())
    }
    val d = unambiguousDict(dict)
    val ((nodes, keysN, pairs, nPairRows), wBlocking) = tr.span("blocking") {
      val nodes = surfaceNodesOf(mentions, d).localCheckpoint(false)
      val keysN = Blocking.blockKeysWithNorm(nodes).localCheckpoint(false)
      val pairs = Blocking.candidatePairsBipartite(
        keysN.filter(col("id").startsWith("s:")),
        keysN.filter(col("id").startsWith("t:")), Judge.HotKeyCap).localCheckpoint(false)
      (nodes, keysN, pairs, pairs.count())
    }
    val ((scored, nEdgeCandidates), wScoring) = tr.span("scoring") {
      val sc = PairwiseScoring.scoreInline(pairs).persist(MEMORY_AND_DISK)
      val row = sc.agg(sum(when(col("score") >= 0.5, 1L).otherwise(0L))).head()
      (sc, if (row.isNullAt(0)) 0L else row.getLong(0))
    }
    val termConcept = d.select(concat(lit("t:"), col("mention")).as("b"),
      concat(lit("c:"), col("concept_id")).as("concept_node"))
    val ((contracted, nEdges), wLinking) = tr.span("linking") {
      val e = argmaxEdges(scored).join(broadcast(termConcept), "b")
        .select(col("a"), col("concept_node").as("b")).localCheckpoint(false)
      (e, e.count())
    }
    val ((components, nComponents), wClustering) = tr.span("clustering") {
      val c = ConnectedComponents(contracted)
        .union(termConcept.select(col("b").as("id"), col("concept_node").as("component")))
        .localCheckpoint(false)
      (c, c.agg(countDistinct(col("component"))).head().getLong(0))
    }
    val ((assignments, assignSum), wAssignment) = tr.span("assignment") {
      val nodeAssignments = nodes.select(col("id"))
        .join(components, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      val a = mentionAssignments(mentions, components).union(nodeAssignments)
        .localCheckpoint(false)
      (a, Checksums.of(a))
    }
    val wall = Workload.secondsSince(t0)
    val layerWall = wMentions + wBlocking + wScoring + wLinking + wClustering + wAssignment

    // outside the timed layers: blocking quality, the judge and the
    // StageRunner crash-and-resume path
    val quality = blockingQuality(mentions, golds, d, nodes, keysN, pairs)
    val (f1, judged) = Judge.traced(tr, mentions, golds, assignments)
    val (resumeChecks, resumeLayer) =
      resumeTraced(spark, tr, mentions, Paths.get(workRoot), assignSum)
    Workload.free(mentions, nodes, keysN, pairs, scored, contracted, components, assignments)

    tr.settle(Seq("mentions", "blocking", "scoring", "linking", "clustering", "assignment"))
    val layers = Workload.layer(tr, "blocking", wBlocking) ++
      Workload.layer(tr, "scoring", wScoring) ++
      Workload.layer(tr, "clustering", wClustering) ++ Map(
      "mentions.wall_s" -> wMentions,
      "mentions.rows" -> nMentions.toDouble,
      "mentions.shuffle_mb" -> tr.stats("mentions").shuffleMb,
      "scoring.pairs_per_s" -> nPairRows / wScoring,
      "scoring.edge_yield" -> (if (nPairRows == 0) 0.0 else nEdgeCandidates.toDouble / nPairRows),
      "linking.wall_s" -> wLinking,
      "linking.edges" -> nEdges.toDouble,
      "clustering.components" -> nComponents.toDouble,
      "assignment.wall_s" -> wAssignment,
      "assignment.rows" -> assignSum.takeWhile(_ != ':').toDouble) ++ quality ++ judged ++ resumeLayer
    TracedOut(wall, Map("assignments" -> assignSum), layers, layerWall,
      checks = ("pair_f1 >= 0.99" -> (f1 >= 0.99)) +: resumeChecks)
  }

  /** SparkER's blocking measures, computed outside the timed layers:
    * reduction ratio against all surface × term comparisons, pair
    * completeness against the (surface, term) pairs of one gold concept,
    * and the hot (dropped) and salted key counts. */
  private def blockingQuality(mentions: Dataset[Mention], golds: Dataset[GoldAnnotation],
                              d: DataFrame, nodes: DataFrame, keysN: DataFrame,
                              pairs: DataFrame): Map[String, Double] = {
    val candidates = pairs.select(col("a"), col("b")).distinct()
    val nPairs = candidates.count()
    val sides = nodes.agg(sum(when(col("id").startsWith("s:"), 1L).otherwise(0L)),
      sum(when(col("id").startsWith("t:"), 1L).otherwise(0L))).head()
    val freq = Blocking.keyFrequencies(keysN.select(col("id"), col("key")))
      .agg(count(lit(1)), sum(when(col("freq") > Judge.HotKeyCap, 1L).otherwise(0L)),
        sum(when(col("freq") > 300 && col("freq") <= Judge.HotKeyCap, 1L).otherwise(0L))).head()
    val truth = mentions.toDF().join(golds.toDF(), Seq("doc_id", "start", "end"))
      .select(concat(lit("s:"), col("norm")).as("a"), col("concept_id"))
      .join(d.select(concat(lit("t:"), col("mention")).as("b"), col("concept_id")), "concept_id")
      .select(col("a"), col("b")).distinct()
    val nTruth = truth.count()
    val nFound = truth.join(candidates, Seq("a", "b")).count()
    val comparisons = sides.getLong(0).toDouble * sides.getLong(1).toDouble
    Map("blocking.keys" -> freq.getLong(0).toDouble,
      "blocking.pairs" -> nPairs.toDouble,
      "blocking.reduction_ratio" -> (if (comparisons == 0) 0.0 else 1.0 - nPairs / comparisons),
      "blocking.pair_completeness" -> (if (nTruth == 0) 0.0 else nFound.toDouble / nTruth),
      "blocking.hot_keys" -> freq.getLong(1).toDouble,
      "blocking.salted_keys" -> freq.getLong(2).toDouble)
  }

  /** The stages `runCheckpointed` commits up to the injected failure. */
  val ResumedStages: Seq[String] = Seq("dict", "nodes", "block_keys", "key_freq", "pairs", "scored")

  /** `runCheckpointed` with a failure injected after `scored`, caught, then
    * resumed from the committed stages in the same directory. StageRunner's
    * write jobs (tasks wrote output) and verify jobs (read-back and
    * checksum) are told apart by the call site of each job's result stage.
    * The resumed assignments must match `expected`. */
  private def resumeTraced(spark: SparkSession, tr: Trace, mentions: Dataset[Mention],
                           work: Path, expected: String): (Seq[(String, Boolean)], Map[String, Double]) = {
    implicit val s: SparkSession = spark
    val dict = inputs.dict(spark)
    val (fired, _) = tr.span("stagerunner") {
      try { LinkagePipeline.runCheckpointed(mentions, dict, work.toString, failAfterStage = Some("scored")); false }
      catch { case e: RuntimeException if String.valueOf(e.getMessage).contains("injected failure") => true }
    }
    val ((runner, resumedSum), resumeS) = tr.span("stagerunner") {
      val (r, runner) = LinkagePipeline.runCheckpointed(mentions, dict, work.toString)
      (runner, Checksums.of(r.assignments))
    }
    val ckptMb = Workload.treeMb(work)
    Workload.deleteTree(work)
    tr.settle(Seq("stagerunner"))
    val st = tr.stats("stagerunner")
    // a StageRunner SQL execution is a write when one of its jobs wrote
    // output (stage data or its per-partition metrics), else a verify
    // (read-back, checksum)
    val own = st.jobSpans.toSeq.filter(_.callSite.contains("StageRunner.scala"))
    val writeExecs = own.filter(_.wroteOutput).map(_.execId).toSet
    val (writes, verifies) = own.partition(j => writeExecs(j.execId))
    println("[linkbench] stagerunner jobs by call site: " + own.groupBy(j => (j.callSite, writeExecs(j.execId)))
      .toSeq.sortBy(_._1._1).map { case ((cs, w), js) =>
        s"$cs ${if (w) "write" else "verify"} x${js.size}" }.mkString(", "))
    val resumed = runner.history.filter(_.resumed).map(_.name).toSeq
    val recomputed = runner.history.filterNot(_.resumed).map(_.name).toSeq
    (Seq("injected failure fired" -> fired,
      "resumed stages = dict..scored" -> (resumed == ResumedStages),
      "later stages recomputed" -> (recomputed == Seq("edges", "components", "assignments")),
      "resumed assignments match" -> (resumedSum == expected)),
      Map("stagerunner.write_s" -> GroupStats.coveredS(writes),
        "stagerunner.verify_s" -> GroupStats.coveredS(verifies),
        "stagerunner.jobs" -> st.jobs.toDouble,
        "stagerunner.written_mb" -> st.outputBytes / 1e6,
        "stagerunner.stages_resumed" -> resumed.size.toDouble,
        "stagerunner.resume_s" -> resumeS,
        "stagerunner.ckpt_mb" -> ckptMb))
  }
}

/** `train_annotate`: `DictTrain.trainDictionarySplit` on labelled docs,
  * then `DictTrain.infer` over held-out docs with the trained dicts.
  *
  * @param dictChecksums also checksum the trained lc/uc dicts on every
  *   untraced pass (the traced run compares its replay against them). */
final class TrainWorkload(inputs: Inputs, nTrain: Int, nHeld: Int, dictChecksums: Boolean)
  extends Workload {
  val name = "train_annotate"
  def inputDocs: Long = nTrain.toLong + nHeld
  def setup(spark: SparkSession): Unit = inputs.writeTraining(spark, nTrain, nHeld)

  private def terminology(spark: SparkSession) =
    (inputs.concepts(spark), inputs.descriptions(spark), inputs.df(spark, "ext_concepts"),
      inputs.df(spark, "ext_mappings"), inputs.df(spark, "abbreviations"))

  private def annotationChecks(anns: Dataset[Annotation], judge: Boolean)
                              (implicit spark: SparkSession): (Seq[(String, Boolean)], Option[Double]) = {
    val violations = OverlapResolve.overlapViolations(anns)
    val iou =
      if (!judge) None
      else Some(Metrics.macroCharIou(
        anns.toDF().select(col("doc_id"), col("start"), col("end"), col("concept_id")),
        inputs.golds(spark, "held_golds").toDF())._2)
    (Seq("zero overlap violations" -> (violations == 0L)), iou)
  }

  def pass(spark: SparkSession, judge: Boolean): PassOut = {
    implicit val s: SparkSession = spark
    val (concepts, descriptions, extConcepts, extMappings, abbr) = terminology(spark)
    val t0 = System.nanoTime()
    val (lc, uc) = DictTrain.trainDictionarySplit(
      inputs.docs(spark, "train_docs"), inputs.golds(spark, "train_golds"),
      concepts, descriptions, extConcepts, extMappings, abbr)
    val anns = DictTrain.infer(inputs.docs(spark, "held_docs"), lc, uc)
    val annSum = Checksums.of(anns.toDF())
    val wall = Workload.secondsSince(t0)
    val sums = Map("annotations" -> annSum) ++ (if (!dictChecksums) Map.empty else
      Map("lc_dict" -> Checksums.of(lc.toDF()), "uc_dict" -> Checksums.of(uc.toDF())))
    val (checks, iou) = annotationChecks(anns, judge)
    lc.unpersist(); uc.unpersist()
    PassOut(wall, sums, checks, iou)
  }

  /** `trainDictionarySplit` replayed step by step (harvest → uc split →
    * two-pointer scoring → key selection → expansion), then `infer`. Must
    * end in the untraced pass's lc/uc dict and annotation checksums. */
  def traced(spark: SparkSession, tr: Trace): TracedOut = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val (concepts, descriptions, extConcepts, extMappings, abbr) = terminology(spark)
    val docs = inputs.docs(spark, "train_docs")
    val golds = inputs.golds(spark, "train_golds")
    def splitUc(d: Dataset[DictEntry], ucNorms: DataFrame): (Dataset[DictEntry], Dataset[DictEntry]) = {
      val uc = d.toDF().join(broadcast(ucNorms), col("mention") === col("norm"))
        .select(col("section"), upper(col("mention")).as("mention"), col("concept_id"))
        .distinct().as[DictEntry]
      val lc = d.toDF().join(broadcast(ucNorms), col("mention") === col("norm"), "left_anti")
        .as[DictEntry]
      (lc, uc)
    }
    val t0 = System.nanoTime()
    val ((docsP, goldsP, mentions, nMentions), wMentions) = tr.span("mentions") {
      val dP = docs.persist(MEMORY_AND_DISK)
      val gP = golds.persist(MEMORY_AND_DISK)
      val m = LinkagePipeline.mentionsFromSpans(dP, gP).toDF().localCheckpoint(false)
      (dP, gP, m, m.count())
    }
    val (harvested, wHarvest) = tr.span("dicttrain.harvest") {
      val h = DictTrain.dictFromMentions(mentions, goldsP).localCheckpoint(false)
      h.count(); h
    }
    val ((ucNorms, lcHarvested, ucHarvested, nLcHarvested), wSplit) = tr.span("dicttrain.uc_split") {
      val u = DictTrain.uppercaseMentionsOf(mentions).select(col("norm")).localCheckpoint(false)
      val (lc, uc) = splitUc(harvested, u)
      (u, lc, uc, lc.count())
    }
    val (scored, wScore) = tr.span("dicttrain.score") {
      val sc = DictTrain.scoredPredictions(docsP, goldsP, lcHarvested).localCheckpoint(false)
      sc.count(); sc
    }
    val ((core, nCore), wSelect) = tr.span("dicttrain.select") {
      val naive = DictTrain.pruneNaiveKeys(lcHarvested, DictTrain.keyScoresByNote(scored), 0.3, 0.2)
      val c = DictTrain.pruneGreedyKeys(naive, DictTrain.keyScoresByMention(scored), goldsP, 0.3, 0.2)
        .localCheckpoint(false)
      (c, c.count())
    }
    val ((lcOut, ucOut), wExpand) = tr.span("dicttrain.expand") {
      val term = DictTrain.dictFromTerminology(concepts, descriptions)
      val ext = DictTrain.dictFromExternal(extConcepts, extMappings)
      val wordCounts = docsP.flatMap(d => TextFns.normalize(d.text).split(' ')).toDF("word")
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val nDocsDf = docsP.toDF().agg(count(lit(1)).as("n_docs"))
      val blacklist = wordCounts.crossJoin(nDocsDf)
        .filter(col("freq") > lit(13L) * col("n_docs"))
        .select(col("word")).as[String].limit(10000001).collect().toSet
      val expanded = DictTrain.expandEntries(core.union(term).union(ext), blacklist)
        .distinct().localCheckpoint(false)
      val withAbbr = expanded.union(DictTrain.abbreviationEntries(abbr, expanded))
      val extAdd = withAbbr.toDF()
        .join(broadcast(core.toDF().select(col("section"), col("mention"))),
          Seq("section", "mention"), "left_anti")
        .as[DictEntry]
      val full = core.toDF().toDF("section", "mention", "concept_id")
        .union(extAdd.toDF().toDF("section", "mention", "concept_id"))
        .distinct().as[DictEntry].localCheckpoint(false)
      val (lcDict, ucExternal) = splitUc(full, ucNorms)
      val ucDict = ucHarvested.toDF().toDF("section", "mention", "concept_id")
        .union(ucExternal.toDF().toDF("section", "mention", "concept_id"))
        .distinct().as[DictEntry]
      val cidToType = DictTrain.conceptTypes(descriptions)
      val lcFinal = DictTrain.limitAnyToAllowedSections(lcDict,
        DictTrain.allowedSectionsOf(mentions, goldsP, cidToType), cidToType)
      val lcP = lcFinal.persist(MEMORY_AND_DISK)
      val ucP = ucDict.persist(MEMORY_AND_DISK)
      lcP.toDF().union(ucP.toDF()).count()
      Workload.free(mentions, harvested, ucNorms, scored, expanded, core, full, docsP, goldsP)
      (lcP, ucP)
    }
    val ((anns, annSum), wMatch) = tr.span("dictmatch") {
      val a = DictTrain.infer(inputs.docs(spark, "held_docs"), lcOut, ucOut)
      (a, Checksums.of(a.toDF()))
    }
    val wall = Workload.secondsSince(t0)
    val layerWall = wMentions + wHarvest + wSplit + wScore + wSelect + wExpand + wMatch
    val sums = Map("annotations" -> annSum, "lc_dict" -> Checksums.of(lcOut.toDF()),
      "uc_dict" -> Checksums.of(ucOut.toDF()))
    val (checks, _) = annotationChecks(anns, judge = false)
    lcOut.unpersist(); ucOut.unpersist()

    val trainGroups = Seq("harvest", "uc_split", "score", "select", "expand").map("dicttrain." + _)
    tr.settle(Seq("mentions", "dictmatch") ++ trainGroups)
    val train = trainGroups.map(tr.stats)
    val matchLayer = Workload.layer(tr, "dictmatch", wMatch)
    val layers = Map(
      "mentions.wall_s" -> wMentions,
      "mentions.rows" -> nMentions.toDouble,
      "mentions.shuffle_mb" -> tr.stats("mentions").shuffleMb,
      "dicttrain.harvest_s" -> wHarvest,
      "dicttrain.uc_split_s" -> wSplit,
      "dicttrain.score_s" -> wScore,
      "dicttrain.select_s" -> wSelect,
      "dicttrain.expand_s" -> wExpand,
      "dicttrain.jobs" -> train.map(_.jobs).sum.toDouble,
      "dicttrain.shuffle_mb" -> train.map(_.shuffleMb).sum,
      "dicttrain.keys_kept_ratio" -> (if (nLcHarvested == 0) 0.0 else nCore.toDouble / nLcHarvested),
      "dictmatch.wall_s" -> wMatch,
      "dictmatch.driver_s" -> matchLayer("dictmatch.driver_s"),
      "dictmatch.docs_per_s" -> nHeld / wMatch,
      "dictmatch.anns" -> annSum.takeWhile(_ != ':').toDouble)
    TracedOut(wall, sums, layers, layerWall, checks)
  }
}
