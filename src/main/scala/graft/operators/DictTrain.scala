package graft.operators

import graft.functions.TextFns
import graft.model._
import graft.plans.LinkagePipeline
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Dictionary construction — the 1st-place training pipeline (SURVEY §3.2,
  * `1st Place/src/mimic_train.py:327-379,475-500`), as relational step operators:
  *
  *  - corpus word counter → frequency blacklist             [A3, lines 30-42]
  *  - (section, mention) → modal concept, kept iff unique   [A1, lines 45-63,342-345]
  *  - terminology synonyms via concepts ⋈ descriptions      [J1, process_data.py:58-60]
  *  - external-vocabulary synonyms via the Athena-style
  *    3-way mapping join                                    [J2, process_data.py:200-224]
  *  - abbreviation ⋈ concept-name lowercase-equality join   [J8, process_data.py:268-291]
  *  - permutation / word-replacement expansions             [F8/F9, mimic_train.py:198-240]
  *  - dict scored against training annotations (+1 exact
  *    span+concept match / −1 otherwise), keys dropped when
  *    correct < θ · incorrect                               [M5/A5/O6, mimic_train.py:66-134,243-263]
  *
  * Join strategy: `trainDictionarySplit`'s first job collects the golds
  * (under `LinkagePipeline.LabelsCap`) with the five terminology tables.
  * Spark then runs only what scales with the CORPUS, as two broadcast-label
  * passes (each doc row looks up its golds; a docs×golds cogroup above the
  * cap) each followed by one aggregation: the mention extraction with every
  * labelled tally, then the two-pointer scoring with its fused by-note and
  * by-mention tallies and the blacklist word count. Each of those
  * reductions is dictionary-scale and is collected once, by one Spark job,
  * through `DictionaryMatch.collectCapped` under the cap the gazetteer
  * applies to the trained dictionary itself
  * (`DictionaryMatch.MaxBroadcastDictEntries`). Key selection, expansion, the cond-update
  * anti-join, the uc split and the section limiting then run as plain Scala
  * over those arrays — every branch of the expansion union is
  * dictionary-scale, so the work happens below the union, on the driver,
  * instead of as a chain of small Spark plans. Corpus-scale relations (docs,
  * golds, mentions, scored predictions) are never collected. The two
  * dictionaries are returned as driver-resident relations (`createDataset`),
  * which `infer` reads with no job, and training caches nothing. The public
  * step operators keep their relational form; they are the reference the
  * driver path is pinned against.
  */
object DictTrain {

  /** A3: whitespace word counts over doc text; returns words above cutoff
    * (the reference's `blacklist_thresh=2000` idea, scaled by corpus). */
  def wordBlacklist(docs: Dataset[Doc], cutoff: Long)
                   (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    docs.flatMap(d => TextFns.normalize(d.text).split(' '))
      .toDF("word")
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .filter(col("freq") > cutoff)
  }

  /** A1: harvest (section, mention-norm) → concept from labeled spans; keep
    * a key only when its modal concept is the unique majority (tie-break
    * pinned (count desc, concept_id asc); uniqueness = strict majority). */
  def dictFromAnnotations(docs: Dataset[Doc], golds: Dataset[GoldAnnotation])
                         (implicit spark: SparkSession): Dataset[DictEntry] =
    dictFromMentions(LinkagePipeline.mentionsFromSpans(docs, golds).toDF(), golds)

  /** Same harvest over an already-extracted mention table — the shared-scan
    * form `trainDictionarySplit` uses (the mention extraction is one corpus
    * pass consumed by three trainers; extracting it per consumer re-ran the
    * doc scan three times, the round-2 bench regression). */
  def dictFromMentions(mentionsDf: DataFrame, golds: Dataset[GoldAnnotation])
                      (implicit spark: SparkSession): Dataset[DictEntry] = {
    import spark.implicits._
    val mentions = mentionsDf
      .select(col("doc_id"), col("start"), col("end"), col("norm"), col("section"))
    val labeled = mentions.join(golds.toDF(), Seq("doc_id", "start", "end"))
    val counted = labeled.groupBy(col("section"), col("norm"), col("concept_id"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("section"), col("norm"))
      .orderBy(col("cnt").desc, col("concept_id").asc)
    counted
      .withColumn("rn", row_number().over(w))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy(col("section"), col("norm"))))
      .filter(col("rn") === 1 && col("cnt") * 2 > col("total"))
      .select(col("section"), col("norm").as("mention"), col("concept_id"))
      .as[DictEntry]
  }

  /** Defaults of the terminology word-count bounds and the external
    * vocabulary blacklist, shared with `trainDictionarySplit`'s driver path. */
  private val TermMinWords = 2
  private val TermMaxWords = 5
  private val InvalidVocabs = Seq("FAKEVOCAB1")

  /** J1: active concepts ⋈ active descriptions; FSN tag stripped (F3/F4);
    * P3 validity predicates of `add_snomed_syn` (`mimic_train.py:137-153`):
    * raw length ≥ 3, no "machine translation", no late "[...]" bracket,
    * processed word count in [minLen, maxLen], leading char alphanumeric. */
  def dictFromTerminology(concepts: Dataset[Concept], descriptions: Dataset[Description],
                          minLen: Int = TermMinWords, maxLen: Int = TermMaxWords)
                         (implicit spark: SparkSession): Dataset[DictEntry] = {
    import spark.implicits._
    val c = concepts.filter(_.active == 1).toDF()
    val d = descriptions.filter(_.active == 1).toDF()
    broadcast(c).join(d, "concept_id")
      .filter(length(col("term")) >= 3 &&
        !col("term").contains("machine translation") &&
        // reference: reject when "]" present and "[" first appears past pos 5
        !(col("term").contains("]") && instr(col("term"), "[") > 6))
      .withColumn("term_clean",
        when(col("typ") === "FSN", regexp_replace(col("term"), "\\s*\\([^)]*\\)$", ""))
          .otherwise(col("term")))
      .filter(regexp_like(substring(col("term_clean"), 1, 1), lit("[a-zA-Z0-9]")))
      .select(lit("any").as("section"),
        normalizeUdf(col("term_clean")).as("mention"), col("concept_id"))
      .filter(length(col("mention")) >= 3 &&
        size(split(col("mention"), " ")) >= minLen - 1 && // 1-word keys allowed like the FSN path
        size(split(col("mention"), " ")) <= maxLen)
      .distinct()
      .as[DictEntry]
  }

  /** J2: the Athena-style 3-way join — ext concept (valid vocabulary) →
    * 'Maps to' relationship → SNOMED concept id; the ext NAME becomes a
    * synonym of the mapped concept. */
  def dictFromExternal(extConcepts: DataFrame, extMappings: DataFrame,
                       invalidVocabs: Seq[String] = InvalidVocabs)
                      (implicit spark: SparkSession): Dataset[DictEntry] = {
    import spark.implicits._
    extConcepts
      .filter(!col("vocabulary").isin(invalidVocabs: _*)) // P4 vocab blacklist
      .join(broadcast(extMappings.filter(col("relationship") === "Maps to")),
        col("ext_id") === col("ext_id_1"))
      .select(lit("any").as("section"),
        normalizeUdf(col("name")).as("mention"),
        col("ext_id_2").as("concept_id"))
      .distinct()
      .as[DictEntry]
  }

  /** J8: abbreviation ⋈ concept names on lowercase equality (plus the
    * prefix-before-"(" variant handled by FSN cleaning upstream). */
  def abbreviationEntries(abbr: DataFrame, dict: Dataset[DictEntry])
                         (implicit spark: SparkSession): Dataset[DictEntry] = {
    import spark.implicits._
    broadcast(abbr).join(dict.toDF(),
        normalizeUdf(col("meaning")) === col("mention"))
      .select(col("section"), normalizeUdf(col("abbr")).as("mention"), col("concept_id"))
      .filter(length(col("mention")) >= 3)
      .distinct()
      .as[DictEntry]
  }

  /** F8/F9: deterministic expansions — the reference's get_permutations
    * (`mimic_train.py:198-222`, branch structure transcribed: the "of"
    * rotations; full permutations ONLY for 3-word of-free keys clear of the
    * blacklist — the n==4 elif shadows the all-permutations branch) and
    * get_word_replacements (`mimic_train.py:226-240`). */
  def expandEntries(dict: Dataset[DictEntry], blacklist: Set[String] = Set.empty)
                   (implicit spark: SparkSession): Dataset[DictEntry] = {
    import spark.implicits._
    val blB = spark.sparkContext.broadcast(blacklist)
    dict.flatMap(e => expansions(e, blB.value))
  }

  /** The per-row body of [[expandEntries]]: the entry itself, then its
    * permutations and word replacements, deduplicated. */
  def expansions(e: DictEntry, blacklist: Set[String]): Seq[DictEntry] = {
    val words = e.mention.split(' ')
    val n = words.length
    val perms: Seq[String] =
      if (n < 3 || n > 4) Seq.empty
      else if (n == 3 && words(1) == "of") Seq(s"${words(2)} ${words(0)}")
      else if (n == 4) {
        if (words(1) == "of") Seq(s"${words(2)} ${words(3)} ${words(0)}")
        else if (words(2) == "of")
          Seq(s"${words(3)} ${words(0)} ${words(1)}", s"${words(0)} ${words(3)} ${words(1)}")
        else Seq.empty
      } else if (words.forall(w => !blacklist.contains(w)))
        words.permutations.map(_.mkString(" ")).toSeq
      else Seq.empty
    val repls = Seq(" and " -> " with ", " with " -> " and ",
      " valve " -> " ", " of " -> " of the ")
      .collect { case (s1, s2) if e.mention.contains(s1) => e.mention.replace(s1, s2) }
    (Seq(e.mention) ++ perms ++ repls).distinct
      .map(m => DictEntry(e.section, m, e.concept_id))
  }

  /** A4 (2nd Place `static_dict.py:167-182` calc_ratio + filt_by_ratio):
    * per-term precision = labeled occurrences / raw corpus matches; keep
    * dict terms strictly above the threshold (terms never matched in the
    * corpus drop out — the reference's dropna). */
  def pruneByCorpusPrecision(docs: Dataset[Doc], golds: Dataset[GoldAnnotation],
                             dict: Dataset[DictEntry], threshold: Double = 0.25)
                            (implicit spark: SparkSession): Dataset[DictEntry] = {
    import spark.implicits._
    val tp = LinkagePipeline.mentionsFromSpans(docs, golds).toDF()
      .join(golds.toDF(), Seq("doc_id", "start", "end"), "left_semi")
      .groupBy(col("norm").as("term")).agg(count(lit(1)).as("n_tp"))
    val ap = SpanCompare.termOccurrences(docs,
      dict.toDF().select(col("mention").as("term")))
    dict.toDF()
      .join(tp, col("mention") === tp("term")).drop(tp("term"))
      .join(ap, col("mention") === ap("term")).drop(ap("term"))
      .filter(col("occurrences") > 0 &&
        col("n_tp").cast("double") / col("occurrences") > threshold)
      .select(col("section"), col("mention"), col("concept_id"))
      .as[DictEntry]
  }

  // ------------------------------------------------------------------
  // M5/W4: two-pointer as-of scoring (`mimic_train.py:89-134`)
  // ------------------------------------------------------------------

  /** overlap_score (`mimic_train.py:124-134`), transcribed: −1 wrong-side /
    * wrong-concept / single-word-inexact-span, 0 "might overlap the next
    * ref", +1 exact span or multi-word mention on the right concept. */
  def overlapScore(refStart: Int, refEnd: Int, annStart: Int, annEnd: Int,
                   refCid: Long, annCid: Long, mention: String): Int =
    if (refStart > annStart) -1
    else if (refEnd < annStart) 0
    else if (refCid == annCid) {
      if ((refStart == annStart && refEnd == annEnd) || mention.contains(' ')) 1 else -1
    } else -1

  /** compare_ref_pred (`mimic_train.py:89-122`), transcribed (including its
    * `i_ref + 1 < n_ref - 1` advance guard): refs and predictions sorted by
    * start (ties pinned (end, concept) for determinism), one forward pointer
    * into the refs, each prediction scored against the as-of ref and — on 0
    * — the next one. Pure per-doc (driver oracle + executor). */
  def scoreDocPredictions(refs: IndexedSeq[GoldAnnotation],
                          anns: IndexedSeq[Annotation]): Seq[(Annotation, Int)] = {
    if (refs.isEmpty) return anns.map(a => (a, -1))
    val nRef = refs.length
    var iRef = 0
    anns.map { a =>
      while (iRef + 1 < nRef - 1 && refs(iRef + 1).start <= a.start) iRef += 1
      var score = overlapScore(refs(iRef).start, refs(iRef).end, a.start, a.end,
        refs(iRef).concept_id, a.concept_id, a.dict_entry)
      if (score == 0 && iRef + 1 < nRef - 1)
        score = overlapScore(refs(iRef + 1).start, refs(iRef + 1).end, a.start, a.end,
          refs(iRef + 1).concept_id, a.concept_id, a.dict_entry)
      (a, if (score == 0) -1 else score)
    }
  }

  /** score_dict distributed (`mimic_train.py:67-87`): annotate with
    * KEEP_OVERLAPS (the raw gazetteer output, pre-resolution), score each
    * prediction ±1 via the two-pointer alignment → rows
    * (doc_id, section, mention, score). */
  def scoredPredictions(docs: Dataset[Doc], golds: Dataset[GoldAnnotation],
                        dict: Dataset[DictEntry])
                       (implicit spark: SparkSession): DataFrame =
    scoredPredictions(docs, golds, dict, LinkagePipeline.LabelsCap)

  private[graft] def scoredPredictions(docs: Dataset[Doc], golds: Dataset[GoldAnnotation],
                                       dict: Dataset[DictEntry], labelsCap: Long)
                                      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val byDoc = ConnectedComponents.collectWithin(golds, labelsCap).map(LinkagePipeline.broadcastSpans)
    scoreDocs(docs.map(d => (d.doc_id, d.text)), golds, byDoc, DictionaryMatch.collectDict(dict)) {
      (docId, _, scored) => scored.iterator.map { case (a, s) => (docId, a.section, a.dict_entry, s) }
    }.toDF("doc_id", "section", "mention", "score")
  }

  /** The scoring pass behind [[scoredPredictions]], with the per-doc output
    * left to `emit`: (doc_id, the doc row's text, its scored predictions). */
  private def scoreDocs[T: Encoder](texts: Dataset[(String, String)], golds: Dataset[GoldAnnotation],
                                    byDoc: Option[LinkagePipeline.SpansByDoc], dict: Array[DictEntry])
                                   (emit: (String, String, Seq[(Annotation, Int)]) => Iterator[T])
                                   (implicit spark: SparkSession): Dataset[T] = {
    // r6 fusion (guide §2.4, the annotateDualResolved precedent): the raw
    // gazetteer probe (the scan kernel `DictionaryMatch.matchDoc`, folded
    // side only) runs INSIDE the broadcast-label pass (`LinkagePipeline.
    // perDoc`; the doc×gold cogroup above the labels cap) instead of as a
    // separate flatMap whose per-doc output — the WIDEST training
    // intermediate, the raw overlapping candidates — would be shuffled by
    // doc_id for scoring. Docs with no golds still score their predictions
    // −1; gold-only doc ids emit nothing. Pinned by the inputs-only
    // dict_train oracle, DictTrainSpec and LabelsBroadcastSpec.
    val dictB = DictionaryMatch.broadcastDict(dict)
    LinkagePipeline.perDoc(texts, golds, byDoc) { (docId, text, spans) =>
      val anns = DictionaryMatch
        .matchDoc(docId, text, maxTokens = 6, minStart = 100, folded = dictB.value, preserved = null)
        .toIndexedSeq.sortBy(a => (a.start, a.end, a.concept_id))
      val refs = spans.sortBy(r => (r.start, r.end, r.concept_id))
      emit(docId, text, scoreDocPredictions(refs, anns))
    }
  }

  /** scores_by_note counts (`mimic_train.py:351-359`): per (key, note) at
    * most one +1 and one −1; n_correct/n_incorrect = notes with each. */
  def keyScoresByNote(scored: DataFrame): DataFrame =
    scored.groupBy(col("doc_id"), col("section"), col("mention"))
      .agg(max(when(col("score") === 1, 1).otherwise(0)).as("has1"),
        max(when(col("score") === -1, 1).otherwise(0)).as("hasm1"))
      .groupBy(col("section"), col("mention"))
      .agg(sum(col("has1")).as("n_correct"), sum(col("hasm1")).as("n_incorrect"))

  /** scores_by_mention counts: every scored occurrence tallied. */
  def keyScoresByMention(scored: DataFrame): DataFrame =
    scored.groupBy(col("section"), col("mention"))
      .agg(sum(when(col("score") === 1, 1).otherwise(0)).as("n_correct"),
        sum(when(col("score") === -1, 1).otherwise(0)).as("n_incorrect"))

  // ------------------------------------------------------------------
  // O6: key removal — naive threshold + greedy marginal-improvement loop
  // ------------------------------------------------------------------

  /** is_naive_key_remove (`mimic_train.py:314-324`): θ = thAny for "any"
    * keys else thDict, doubled under `doubleThr`, forced to 1 when exactly
    * one correct; remove when correct < θ·incorrect. */
  def naiveRemove(correct: Long, incorrect: Long, section: String,
                  doubleThr: Boolean = false,
                  thAny: Double = 0.3, thDict: Double = 0.2): Boolean = {
    var th = if (section == "any") thAny else thDict
    if (doubleThr) th *= 2
    if (correct == 1) th = 1
    correct < th * incorrect
  }

  /** remove_bad_keys distributed (`mimic_train.py:243-263`): keys failing
    * the naive rule on their BY-NOTE counts are dropped; unscored keys are
    * kept. */
  def pruneNaiveKeys(dict: Dataset[DictEntry], byNote: DataFrame,
                     thAny: Double = 0.3, thDict: Double = 0.2)
                    (implicit spark: SparkSession): Dataset[DictEntry] = {
    import spark.implicits._
    val removeUdf = udf((c: Long, i: Long, s: String) =>
      naiveRemove(c, i, s, doubleThr = false, thAny, thDict))
    dict.toDF().join(broadcast(byNote), Seq("section", "mention"), "left_outer")
      .filter(col("n_correct").isNull ||
        !removeUdf(col("n_correct"), col("n_incorrect"), col("section")))
      .select(col("section"), col("mention"), col("concept_id"))
      .as[DictEntry]
  }

  /** get_bad_keys_for_concept (`mimic_train.py:291-311`), pure: keys sorted
    * by correct/(incorrect+0.01) desc (ties pinned (section, mention) asc),
    * accepted while the running correct/(incorrect+n) stays below the key's
    * ratio or the naive rule (doubled θ past the 3rd key) passes. */
  def badKeysForConcept(scores: Seq[((String, String), (Long, Long))], n: Long,
                        thAny: Double = 0.3, thDict: Double = 0.2): Seq[(String, String)] = {
    require(n > 0, "concept must have gold annotations")
    val ordered = scores.sortBy { case ((sec, m), (c, i)) =>
      (-c.toDouble / (i + 0.01), sec, m)
    }
    var correct = 0L
    var incorrect = 0L
    val bad = Seq.newBuilder[(String, String)]
    ordered.zipWithIndex.foreach { case (((sec, m), (c, i)), idx) =>
      val currScore = correct.toDouble / (incorrect + n)
      val ratio = c.toDouble / (i + 0.01)
      if (currScore < ratio || !naiveRemove(c, i, sec, doubleThr = idx > 2, thAny, thDict)) {
        correct += c; incorrect += i
      } else bad += ((sec, m))
    }
    bad.result()
  }

  /** yuvals_key_selection distributed (`mimic_train.py:266-289`): per gold
    * concept, the greedy loop over its scored keys (small groups →
    * flatMapGroups); keys of concepts absent from gold, or never scored,
    * are kept. */
  def pruneGreedyKeys(dict: Dataset[DictEntry], byMention: DataFrame,
                      golds: Dataset[GoldAnnotation],
                      thAny: Double = 0.3, thDict: Double = 0.2)
                     (implicit spark: SparkSession): Dataset[DictEntry] = {
    import spark.implicits._
    val goldCounts = golds.toDF().groupBy(col("concept_id"))
      .agg(count(lit(1)).as("n_gold"))
    val scoredKeys = dict.toDF()
      .join(broadcast(byMention), Seq("section", "mention"))
      .join(broadcast(goldCounts), Seq("concept_id")) // only concepts with gold are visited
      .select(col("concept_id"), col("section"), col("mention"),
        col("n_correct"), col("n_incorrect"), col("n_gold"))
      .as[(Long, String, String, Long, Long, Long)]
    val badKeys = scoredKeys.groupByKey(_._1).flatMapGroups { (_, it) =>
      val rows = it.toSeq
      val n = rows.head._6
      badKeysForConcept(
        rows.map(r => ((r._2, r._3), (r._4, r._5))), n, thAny, thDict).iterator
    }.toDF("section", "mention")
    dict.toDF().join(broadcast(badKeys), Seq("section", "mention"), "left_anti")
      .select(col("section"), col("mention"), col("concept_id"))
      .as[DictEntry]
  }

  // ------------------------------------------------------------------
  // limit_any_to_allowed_sections (`mimic_train.py:382-410`)
  // ------------------------------------------------------------------

  /** concept → type from the FSN tag (reference cid_to_type,
    * `mimic_train.py:165-175` without the replacement folding — our synth
    * types are already canonical). Pinned to min(ctype) per concept — the
    * same choice the dict_train oracle makes — so a concept with two active
    * FSNs bearing different type tags stays deterministic (ADVICE r4:
    * dropDuplicates kept an arbitrary surviving row). */
  def conceptTypes(descriptions: Dataset[Description]): DataFrame =
    descriptions.toDF()
      .filter(col("active") === 1 && col("typ") === "FSN")
      .select(col("concept_id"),
        regexp_extract(col("term"), "\\(([^)]*)\\)\\s*$", 1).as("ctype"))
      .filter(col("ctype") =!= "")
      .groupBy(col("concept_id")).agg(min(col("ctype")).as("ctype"))

  /** (type, section) pairs observed in gold (`get_cid_type_sections_pairs`). */
  def allowedSections(docs: Dataset[Doc], golds: Dataset[GoldAnnotation],
                      cidToType: DataFrame)
                     (implicit spark: SparkSession): DataFrame =
    allowedSectionsOf(LinkagePipeline.mentionsFromSpans(docs, golds).toDF(), golds, cidToType)

  /** Shared-scan form over an already-extracted mention table. */
  def allowedSectionsOf(mentionsDf: DataFrame, golds: Dataset[GoldAnnotation],
                        cidToType: DataFrame)
                       (implicit spark: SparkSession): DataFrame = {
    val mentions = mentionsDf
      .select(col("doc_id"), col("start"), col("end"), col("section"))
    mentions.join(golds.toDF(), Seq("doc_id", "start", "end"))
      .join(broadcast(cidToType), "concept_id")
      .select(col("ctype"), col("section"))
      .distinct()
  }

  /** "any" keys narrowed to the sections where their concept's TYPE was
    * observed in training (`limit_any_to_allowed_sections`); keys whose
    * concept has no known type — or whose type was never observed — keep
    * their "any" scope (the reference skips unknown cids). */
  def limitAnyToAllowedSections(dict: Dataset[DictEntry], allowed: DataFrame,
                                cidToType: DataFrame)
                               (implicit spark: SparkSession): Dataset[DictEntry] = {
    import spark.implicits._
    val anyRows = dict.toDF().filter(col("section") === "any")
      .join(broadcast(cidToType), Seq("concept_id"), "left_outer")
    val limited = anyRows.filter(col("ctype").isNotNull)
      .join(broadcast(allowed.withColumnRenamed("section", "allowed_section")), "ctype")
      .select(col("allowed_section").as("section"), col("mention"), col("concept_id"))
    val keptAny = anyRows
      .join(broadcast(allowed.select(col("ctype")).distinct()), Seq("ctype"), "left_anti")
      .select(lit("any").as("section"), col("mention"), col("concept_id"))
    dict.toDF().filter(col("section") =!= "any")
      .select(col("section"), col("mention"), col("concept_id"))
      .union(limited).union(keptAny)
      .distinct()
      .as[DictEntry]
  }

  /** F10: mentions whose gold occurrences are ≥99% uppercase in the raw text
    * (the reference builds a separate case-sensitive dict from these). */
  def uppercaseMentions(docs: Dataset[Doc], golds: Dataset[GoldAnnotation])
                       (implicit spark: SparkSession): DataFrame =
    uppercaseMentionsOf(LinkagePipeline.mentionsFromSpans(docs, golds).toDF())

  /** Shared-scan form over an already-extracted mention table. */
  def uppercaseMentionsOf(m: DataFrame): DataFrame = {
    m.select(col("norm"),
        when(col("surface") === upper(col("surface")), 1.0).otherwise(0.0).as("uc"))
      .groupBy("norm").agg(avg(col("uc")).as("uc_ratio"), count(lit(1)).as("n"))
      .filter(col("uc_ratio") > 0.99)
  }

  /** The full training pipeline, split into (lowercase dict, case-sensitive
    * uppercase dict) — the two dictionaries of the 1st-place inference
    * (`mimic_train.py:extract_uppercase_mentions` + `mimic_predict.py:31-49`):
    * harvested + terminology + external + abbreviation entries, expanded;
    * keys whose gold surfaces are ≥99% uppercase move UPPERCASED into the
    * case-sensitive dict (they would otherwise fire on their lowercase
    * homographs — "the" vs initialism "THE"); the lowercase remainder is
    * score-pruned. Equals the step-by-step composition of the public step
    * operators (pinned by DictTrainSplitSpec); only the corpus-scale
    * reductions run on Spark (see the object doc). */
  def trainDictionarySplit(docs: Dataset[Doc], golds: Dataset[GoldAnnotation],
                           concepts: Dataset[Concept], descriptions: Dataset[Description],
                           extConcepts: DataFrame, extMappings: DataFrame, abbr: DataFrame,
                           thAny: Double = 0.3, thDict: Double = 0.2,
                           greedy: Boolean = true, limitAny: Boolean = true)
                          (implicit spark: SparkSession): (Dataset[DictEntry], Dataset[DictEntry]) =
    trainDictionarySplit(docs, golds, concepts, descriptions, extConcepts, extMappings, abbr,
      thAny, thDict, greedy, limitAny, LinkagePipeline.LabelsCap)

  private[graft] def trainDictionarySplit(docs: Dataset[Doc], golds: Dataset[GoldAnnotation],
                                          concepts: Dataset[Concept], descriptions: Dataset[Description],
                                          extConcepts: DataFrame, extMappings: DataFrame, abbr: DataFrame,
                                          thAny: Double, thDict: Double, greedy: Boolean, limitAny: Boolean,
                                          labelsCap: Long)
                                         (implicit spark: SparkSession): (Dataset[DictEntry], Dataset[DictEntry]) = {
    import spark.implicits._
    // 1. one job reads the golds (broadcast below the labels cap, grouped
    //    by doc id) and the five terminology tables
    val tableDss = Seq(concepts, descriptions,
      extConcepts.select(col("ext_id"), col("name"), col("vocabulary")).as[(Option[Long], String, String)],
      extMappings.select(col("ext_id_1"), col("ext_id_2"), col("relationship")).as[(Option[Long], Long, String)],
      abbr.select(col("abbr"), col("meaning")).as[(String, String)])
    val (goldRows, tables) = ConnectedComponents.collectWithin(
        (golds -> labelsCap) +: tableDss.map(_ -> DictionaryMatch.MaxBroadcastDictEntries)) match {
      case Some(rows) => (Some(rows.head.asInstanceOf[Array[GoldAnnotation]]), rows.tail)
      case None => (None, DictionaryMatch.collectCapped(tableDss,
        "a terminology table", "terminology tables must be dictionary-scale"))
    }
    val byDoc = goldRows.map(LinkagePipeline.broadcastSpans)
    // docs are read by two corpus passes (golds too above the labels cap):
    // a caller that derives them expensively persists them first
    val texts = docs.map(d => (d.doc_id, d.text))
    // 2. corpus pass: the mention extraction and every labelled-mention
    //    tally in one per-doc pass + aggregation
    val tallies = DictionaryMatch.collectCapped(labelledTallies(texts, golds, byDoc),
      "training tallies", "the distinct labelled keys exceed the dictionary cap")
    val harvestCounts = tallies.filter(_.getInt(0) == HarvestTag)
      .map(r => (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val ucUpper = tallies.filter(_.getInt(0) == UcTag)
      .map(r => r.getString(2) -> r.getString(1)).toMap
    val goldCounts = goldRows.map(_.groupBy(_.concept_id).map { case (c, gs) => c -> gs.length.toLong })
      .getOrElse(tallies.filter(_.getInt(0) == GoldTag).map(r => r.getLong(3) -> r.getLong(4)).toMap)
    val nDocs = tallies.find(_.getInt(0) == DocTag).map(_.getLong(4)).getOrElse(0L)

    // 3. harvest + uc split FIRST (vs the reference's post-scoring
    //    extract_uppercase_mentions): an uppercase-only key scored by the
    //    case-FOLDED matcher drowns in its lowercase homographs ("THE" vs
    //    "the") and gets pruned before the split could rescue it — which
    //    is why the reference ships a hand-curated uc dict
    //    (`mimic_predict.py:get_case_sensitive_dict`). Splitting before
    //    scoring derives that dict instead of hardcoding it.
    val harvested = modalEntries(harvestCounts)
    val (lcHarvested, ucHarvested) = splitUc(harvested, ucUpper)

    // 4. corpus pass: two-pointer scoring of the lowercase harvest (and
    //    the permutation blacklist: corpus words above ~the reference's
    //    blacklist_thresh=2000-over-150-notes rate, ≈13 per note), then
    //    naive by-note removal + greedy per-concept refinement
    val (words, keyRows) = DictionaryMatch.collectCapped(
      keyScoreTallies(texts, golds, byDoc, lcHarvested, 13L * nDocs),
      "key score tallies", "the scored keys exceed the dictionary cap").partition(_.getInt(0) == WordTag)
    val scores = keyRows
      .map(r => (r.getString(1), r.getString(2)) -> Array.tabulate(4)(i => r.getLong(i + 3))).toMap
    val blacklist = words.map(_.getString(2)).toSet
    val naive = lcHarvested.filter { e =>
      scores.get((e.section, e.mention))
        .forall(s => !naiveRemove(s(0), s(1), e.section, doubleThr = false, thAny, thDict))
    }
    val core = if (greedy) greedyKeep(naive, scores, goldCounts, thAny, thDict) else naive

    // 5. externals added COND-UPDATE style (`cond_update`: a key already
    //    trained on the corpus is never overwritten by a synonym);
    //    case-folded external abbreviations are routed through the same
    //    uc split
    def table[T](i: Int): Seq[T] = tables(i).asInstanceOf[Array[T]].toSeq
    val descriptionRows = table[Description](1)
    val term = terminologyEntries(table(0), descriptionRows)
    val ext = externalEntries(table(2), table(3))
    val expanded = (core ++ term ++ ext).distinct.flatMap(expansions(_, blacklist)).distinct
    val withAbbr = expanded ++ abbreviationEntriesOf(table(4), expanded)
    val coreKeys = core.iterator.map(e => (e.section, e.mention)).toSet
    val full = (core ++ withAbbr.filterNot(e => coreKeys((e.section, e.mention)))).distinct
    val (lcDict, ucExternal) = splitUc(full, ucUpper)
    val ucDict = (ucHarvested ++ ucExternal).distinct

    // 6. "any" keys narrowed to sections observed for the concept's type
    val lcFinal =
      if (limitAny) {
        val cidToType = conceptTypesOf(descriptionRows)
        val allowed = harvestCounts.flatMap { case (section, _, cid, _) =>
          cidToType.get(cid).map(_ -> section)
        }
        limitAnyOf(lcDict, allowed, cidToType)
      } else lcDict

    // the two outputs stay on the driver: `infer` decodes them with no
    // job, and nothing is cached
    (spark.createDataset(lcFinal), spark.createDataset(ucDict))
  }

  // row tags of `labelledTallies` and of `keyScoreTallies`
  private val HarvestTag = 0
  private val UcTag = 1
  private val GoldTag = 2
  private val DocTag = 3
  private val ScoreTag = 0
  private val WordTag = 1

  /** Every dictionary-scale tally training needs from the labelled
    * mentions, by ONE per-doc pass (`LinkagePipeline.perDoc`, each doc
    * row's `LinkagePipeline.docMentions` in it) and one aggregation, to be
    * collected under the driver cap. Rows (tag, section, key, concept_id, n):
    *  - HarvestTag: (section, norm, concept) counts over mentions ⋈ golds
    *    on (doc_id, start, end) — the input of `dictFromMentions`' modal
    *    rule and, projected to (concept, section), of `allowedSectionsOf`;
    *  - UcTag: one row per norm whose `uppercaseMentionsOf` ratio is above
    *    0.99, `section` carrying Catalyst's own `upper(norm)`, so the
    *    driver never re-implements the case mapping;
    *  - DocTag: the doc row count (the blacklist's per-doc rate);
    *  - GoldTag, without `byDoc` only: gold rows per concept
    *    (`pruneGreedyKeys`' n_gold; else counted from the collected golds). */
  private[graft] def labelledTallies(texts: Dataset[(String, String)], golds: Dataset[GoldAnnotation],
                                     byDoc: Option[LinkagePipeline.SpansByDoc])
                                    (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val perDoc = LinkagePipeline.perDoc(texts, golds, byDoc) { (docId, text, spans) =>
      val out = ArrayBuffer[(Int, String, String, String, Long, Long)]((DocTag, null, null, null, 0L, 1L))
      val ms = LinkagePipeline.docMentions(docId, text, spans.iterator).toSeq
      ms.groupBy(m => (m.norm, m.surface)).foreach { case ((norm, surface), g) =>
        out += ((UcTag, null, norm, surface, 0L, g.size.toLong))
      }
      // the labelled join: a mention pairs with every gold on its span
      // (duplicate gold spans multiply); a null doc_id never joins
      if (docId != null) {
        val onSpan = spans.groupBy(g => (g.start, g.end))
        ms.flatMap(m => onSpan((m.start, m.end)).map(g => (m.section, m.norm, g.concept_id)))
          .groupBy(identity).foreach { case ((section, norm, c), g) =>
            out += ((HarvestTag, section, norm, null, c, g.size.toLong))
          }
      }
      out.iterator
    }
    val rows = if (byDoc.isDefined) perDoc
      else perDoc.union(golds.map(g => (GoldTag, null: String, null: String, null: String, g.concept_id, 1L)))
    rows.toDF("tag", "section", "key", "surface", "concept_id", "n")
      .groupBy(col("tag"), col("section"), col("key"), col("concept_id"))
      .agg(sum(col("n")).as("n"),
        sum(when(col("surface") === upper(col("surface")), col("n")).otherwise(0L)).as("uc"))
      .filter(col("tag") =!= UcTag || col("uc") / col("n") > 0.99)
      .select(col("tag"),
        when(col("tag") === UcTag, upper(col("key"))).otherwise(col("section")),
        col("key"), col("concept_id"), col("n"))
  }

  /** The scoring pass: `keyScoresByNote` and `keyScoresByMention` in one
    * tally, (tag, section, mention, notes with a +1, notes with a −1, +1
    * rows, −1 rows) — a note is a doc row, so each doc's predictions are
    * pre-tallied inside the per-doc pass and one exchange follows it — plus
    * `wordBlacklist(docs, wordCutoff)` from the same doc texts. */
  private[graft] def keyScoreTallies(texts: Dataset[(String, String)], golds: Dataset[GoldAnnotation],
                                     byDoc: Option[LinkagePipeline.SpansByDoc],
                                     dict: Seq[DictEntry], wordCutoff: Long)
                                    (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    scoreDocs(texts, golds, byDoc, dict.toArray) { (_, text, scored) =>
      val out = ArrayBuffer.empty[(Int, String, String, Long, Long, Long, Long)]
      val t = new java.util.HashMap[(String, String), Array[Long]]()
      scored.foreach { case (a, s) =>
        val c = t.computeIfAbsent((a.section, a.dict_entry), _ => new Array[Long](2))
        if (s == 1) c(0) += 1 else if (s == -1) c(1) += 1
      }
      t.forEach { (k, c) =>
        out += ((ScoreTag, k._1, k._2, math.min(c(0), 1L), math.min(c(1), 1L), c(0), c(1)))
      }
      TextFns.normalize(text).split(' ').filter(_.nonEmpty)
        .groupBy(identity).foreach { case (w, ws) =>
          out += ((WordTag, null, w, ws.length.toLong, 0L, 0L, 0L))
        }
      out.iterator
    }.toDF("tag", "section", "key", "a", "b", "c", "d")
      .groupBy(col("tag"), col("section"), col("key"))
      .agg(sum(col("a")).as("a"), sum(col("b")), sum(col("c")), sum(col("d")))
      .filter(col("tag") =!= WordTag || col("a") > wordCutoff)
  }

  // ------------------------------------------------------------------
  // Driver-side steps of `trainDictionarySplit`: each equals the public
  // step operator it names, over collected dictionary-scale arrays
  // (section is never null here — harvest sections come from
  // Sectioning.sectionAt, every other entry is "any"). The terminology
  // rules are transcribed rather than collected from their operators'
  // plans: those plans would add their own generated classes, taking a
  // train+infer pass with its annotation checksum from 90 to 104 distinct
  // classes, past Spark's 100-entry codegen cache (warm-pass compiles
  // 24 → 55).
  // ------------------------------------------------------------------

  /** `dictFromMentions`' rule over (section, norm, concept, count) rows:
    * the modal concept (count desc, concept asc), kept on a strict majority. */
  private def modalEntries(counts: Seq[(String, String, Long, Long)]): Seq[DictEntry] =
    counts.groupBy(c => (c._1, c._2)).iterator.flatMap { case ((section, norm), cs) =>
      val best = cs.minBy(c => (-c._4, c._3))
      if (best._4 * 2 > cs.iterator.map(_._4).sum) Some(DictEntry(section, norm, best._3))
      else None
    }.toSeq

  /** (entries whose mention is no uc norm, the rest UPPERCASED and
    * deduplicated) — `ucUpper` maps each uc norm to its `upper`. */
  private def splitUc(d: Seq[DictEntry], ucUpper: Map[String, String])
      : (Seq[DictEntry], Seq[DictEntry]) = {
    val (uc, lc) = d.partition(e => ucUpper.contains(e.mention))
    (lc, uc.map(e => e.copy(mention = ucUpper(e.mention))).distinct)
  }

  /** `pruneGreedyKeys` over the tallies (by-mention counts at 2 and 3). */
  private def greedyKeep(dict: Seq[DictEntry], scores: Map[(String, String), Array[Long]],
                         goldCounts: Map[Long, Long], thAny: Double, thDict: Double): Seq[DictEntry] = {
    val bad = dict.flatMap { e =>
      for (s <- scores.get((e.section, e.mention)); n <- goldCounts.get(e.concept_id))
        yield (e.concept_id, ((e.section, e.mention), (s(2), s(3))), n)
    }.groupBy(_._1).valuesIterator.flatMap { rows =>
      badKeysForConcept(rows.map(_._2), rows.head._3, thAny, thDict)
    }.toSet
    dict.filterNot(e => bad((e.section, e.mention)))
  }

  private val FsnTag = java.util.regex.Pattern.compile("\\s*\\([^)]*\\)$")
  private val FsnType = java.util.regex.Pattern.compile("\\(([^)]*)\\)\\s*$")

  /** Catalyst's `length`: code points, not UTF-16 units. */
  private def charLen(s: String): Int = s.codePointCount(0, s.length)

  /** [[dictFromTerminology]] over collected rows. */
  private[graft] def terminologyEntries(concepts: Seq[Concept],
                                        descriptions: Seq[Description]): Seq[DictEntry] = {
    val active = concepts.iterator.filter(_.active == 1).map(_.concept_id).toSet
    descriptions.iterator.filter(d => d.active == 1 && active(d.concept_id)).flatMap { d =>
      val t = d.term
      // instr(term, "[") > 6: the first "[" past code point 5
      def lateBracket = { val i = t.indexOf('['); i >= 0 && t.codePointCount(0, i) > 5 }
      if (t == null || charLen(t) < 3 || t.contains("machine translation") ||
          (t.contains("]") && lateBracket)) None
      else {
        val clean = if (d.typ == "FSN") FsnTag.matcher(t).replaceAll("") else t
        val c0 = if (clean.isEmpty) ' ' else clean.charAt(0)
        val mention = TextFns.normalize(clean)
        val words = mention.split(" ", -1).length
        if (c0 < 128 && Character.isLetterOrDigit(c0) && charLen(mention) >= 3 &&
            words >= TermMinWords - 1 && words <= TermMaxWords) Some(DictEntry("any", mention, d.concept_id))
        else None
      }
    }.toSeq.distinct
  }

  /** [[dictFromExternal]] over collected (ext_id, name, vocabulary) and
    * (ext_id_1, ext_id_2, relationship) rows. */
  private[graft] def externalEntries(extConcepts: Seq[(Option[Long], String, String)],
                                     extMappings: Seq[(Option[Long], Long, String)]): Seq[DictEntry] = {
    val mapsTo = extMappings.filter(_._3 == "Maps to")
      .collect { case (Some(from), to, _) => from -> to }.groupBy(_._1)
    extConcepts.flatMap {
      case (Some(id), name, vocab) if vocab != null && !InvalidVocabs.contains(vocab) =>
        mapsTo.getOrElse(id, Nil).map(m => DictEntry("any", TextFns.normalize(name), m._2))
      case _ => Nil
    }.distinct
  }

  /** [[abbreviationEntries]] over collected (abbr, meaning) rows. */
  private[graft] def abbreviationEntriesOf(abbr: Seq[(String, String)],
                                           dict: Seq[DictEntry]): Seq[DictEntry] = {
    val byMention = dict.groupBy(_.mention)
    abbr.flatMap { case (a, meaning) =>
      byMention.getOrElse(TextFns.normalize(meaning), Nil)
        .map(e => DictEntry(e.section, TextFns.normalize(a), e.concept_id))
    }.filter(e => charLen(e.mention) >= 3).distinct
  }

  /** [[conceptTypes]] over collected rows: concept → min FSN type tag
    * (Spark's string order: UTF-8 bytes). */
  private[graft] def conceptTypesOf(descriptions: Seq[Description]): Map[Long, String] =
    descriptions.flatMap { d =>
      if (d.active != 1 || d.typ != "FSN" || d.term == null) None
      else {
        val m = FsnType.matcher(d.term)
        if (!m.find()) None else Option(m.group(1)).filter(_.nonEmpty).map(d.concept_id -> _)
      }
    }.groupBy(_._1).map { case (cid, ts) =>
      cid -> ts.map(_._2).minBy(org.apache.spark.unsafe.types.UTF8String.fromString)
    }

  /** [[limitAnyToAllowedSections]] over collected rows; `allowed` holds
    * (type, section) pairs. */
  private def limitAnyOf(dict: Seq[DictEntry], allowed: Seq[(String, String)],
                         cidToType: Map[Long, String]): Seq[DictEntry] = {
    val sectionsOf = allowed.groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2).distinct }
    dict.flatMap { e =>
      if (e.section != "any") Seq(e)
      else cidToType.get(e.concept_id).flatMap(sectionsOf.get) match {
        case Some(sections) => sections.map(s => e.copy(section = s))
        case None => Seq(e)
      }
    }.distinct
  }

  /** Combined view of the split dictionaries (uc entries carry UPPERCASE
    * mentions — the case marker IS the key). */
  def trainDictionary(docs: Dataset[Doc], golds: Dataset[GoldAnnotation],
                      concepts: Dataset[Concept], descriptions: Dataset[Description],
                      extConcepts: DataFrame, extMappings: DataFrame, abbr: DataFrame,
                      theta: Double = 0.3)
                     (implicit spark: SparkSession): Dataset[DictEntry] = {
    import spark.implicits._
    val (lc, uc) = trainDictionarySplit(docs, golds, concepts, descriptions,
      extConcepts, extMappings, abbr, theta)
    lc.toDF().toDF("section", "mention", "concept_id")
      .union(uc.toDF().toDF("section", "mention", "concept_id"))
      .as[DictEntry]
  }

  /** The 1st-place two-pass inference: lowercase-dict annotate ∪
    * case-sensitive uc-dict annotate → per-doc overlap resolution
    * (`mimic_predict.py:31-49` + join_predictions). Runs FUSED: one doc
    * scan probes both dictionaries and resolves overlaps in-row — zero
    * shuffles (the two-pass + cogroup form is pinned identical by the
    * UcDictSpec differential). */
  def infer(docs: Dataset[Doc], lcDict: Dataset[DictEntry], ucDict: Dataset[DictEntry])
           (implicit spark: SparkSession): Dataset[Annotation] =
    DictionaryMatch.annotateDualResolved(docs, lcDict, ucDict)

  /** A6 — nested per-name section stats with a 'default' rollup
    * (`3rd Place/faiss_db_preparation.py:124-144`): for every mention name,
    * a MAP section → (concept_id → count) of its labeled occurrences, plus
    * a "default" entry merging all sections, plus the argmax concept of the
    * default map (count desc, concept asc — the reference's `max(...)` over
    * a Python dict is insertion-ordered; ours is pinned).
    *
    * Plan shape: one groupBy to the (name, section, concept) grain, one
    * map_from_entries rollup per level — no UDAFs, no driver loops. */
  def dictSectionStats(docs: Dataset[Doc], golds: Dataset[GoldAnnotation])
                      (implicit spark: SparkSession): DataFrame = {
    val mentions = LinkagePipeline.mentionsFromSpans(docs, golds).toDF()
      .select(col("doc_id"), col("start"), col("end"), col("norm").as("name"), col("section"))
    val labeled = mentions.join(golds.toDF(), Seq("doc_id", "start", "end"))
    val grain = labeled.groupBy(col("name"), col("section"), col("concept_id"))
      .agg(count(lit(1)).as("cnt"))
    val bySection = grain.groupBy(col("name"), col("section"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("concept_id"), col("cnt"))))).as("cid_counts"))
    val defaults = grain.groupBy(col("name"), col("concept_id"))
      .agg(sum(col("cnt")).as("cnt"))
      .groupBy(col("name"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("concept_id"), col("cnt"))))).as("default_counts"),
        max_by(col("concept_id"),
          struct(col("cnt"), -col("concept_id"))).as("concept_id"))
    // no sort on the outer entries: structs holding MapType are unorderable
    // (map semantics are entry-order-independent anyway)
    bySection.groupBy(col("name"))
      .agg(map_from_entries(collect_list(
        struct(col("section"), col("cid_counts")))).as("sections"))
      .join(defaults, "name")
      .select(col("name"),
        map_concat(col("sections"),
          map(lit("default"), col("default_counts"))).as("dict_sections"),
        col("concept_id"))
  }

  /** A6 flat form — the same per-name section stats as `dictSectionStats`
    * but emitted at the (name, section, concept_id, cnt) grain with the
    * 'default' rollup as extra rows and the default-map argmax as a
    * `best_concept` column. Identical information, oracle-sortable shape
    * (the MapType output can't be hashed by columnar compare harnesses —
    * VERDICT r2 wrong-1). Input: labeled rows (name, section, concept_id). */
  def sectionStatsFlat(labeled: DataFrame): DataFrame = {
    val grain = labeled.groupBy(col("name"), col("section"), col("concept_id"))
      .agg(count(lit(1)).as("cnt"))
    val defaults = labeled.groupBy(col("name"), col("concept_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("name"), lit("default").as("section"), col("concept_id"), col("cnt"))
    val best = defaults.groupBy(col("name"))
      .agg(max_by(col("concept_id"),
        struct(col("cnt"), -col("concept_id"))).as("best_concept"))
    grain.select(col("name"), col("section"), col("concept_id"), col("cnt"))
      .union(defaults)
      .join(best, "name")
  }

  /** `sectionStatsFlat` over the corpus (labeled mention extraction as in
    * `dictSectionStats`). */
  def dictSectionStatsFlat(docs: Dataset[Doc], golds: Dataset[GoldAnnotation])
                          (implicit spark: SparkSession): DataFrame = {
    val mentions = LinkagePipeline.mentionsFromSpans(docs, golds).toDF()
      .select(col("doc_id"), col("start"), col("end"), col("norm").as("name"), col("section"))
    sectionStatsFlat(mentions.join(golds.toDF(), Seq("doc_id", "start", "end")))
  }

  val normalizeUdf = udf((s: String) => TextFns.normalize(s))
}
