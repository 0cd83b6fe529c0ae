package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.Synth
import graft.functions.TextFns
import graft.model._
import graft.operators.{DictionaryMatch, OverlapResolve, Sectioning}

class DictionaryMatchSpec extends AnyFunSuite with SparkTestBase {

  val nConcepts = 150
  val (docs, golds) = Synth.corpus(40, nConcepts)
  val dict = Synth.dictionary(nConcepts)

  test("sectioning covers the text with non-overlapping sections") {
    for (d <- docs.take(10)) {
      val secs = Sectioning.sections(d.doc_id, d.text)
      assert(secs.head.start == 0)
      assert(secs.last.end == d.text.length)
      for (Seq(a, b) <- secs.sliding(2) if secs.length > 1)
        assert(a.end == b.start)
    }
  }

  test("sectionAt finds the containing section") {
    val d = docs.head
    val secs = Sectioning.sections(d.doc_id, d.text)
    for (s <- secs; if s.end > s.start)
      assert(Sectioning.sectionAt(secs, s.start) == s.header)
  }

  test("candidate spans satisfy the matcher guards") {
    val d = docs.head
    val cands = DictionaryMatch.candidates(d.doc_id, d.text, 4, 100)
    assert(cands.nonEmpty)
    for (c <- cands) {
      assert(c.start >= 100)
      assert(!Sectioning.isVetoSection(c.section))
      // word boundaries: chars before/after are non-alphanumeric
      if (c.start > 0) assert(!Character.isLetterOrDigit(d.text.charAt(c.start - 1)))
      if (c.end < d.text.length) {
        val after = d.text.charAt(c.end)
        // destemmed keys end mid-token only via the synthetic 's' strip,
        // which never changes the span; span end is a token end
        assert(!Character.isLetterOrDigit(after))
      }
    }
  }

  /** Past `minStart`: uppercase plurals, a dotted capital I (one char
    * that `String.toLowerCase` turns into two), 3-char tokens ending in
    * 's'/'S' (never destemmed), a header line and a veto section, with
    * the same words again before `minStart`. */
  val adversarial: (String, String) = ("adv",
    "LABS \u0130nfection GAS abs Coughs STENOSIS, " * 2 + "." * 30 + "\n" +
    "Chief Complaint:\n" +
    "LABS and STENOSIS with \u0130nfection, Coughs, GAS, abs, Ras and cough.\n" +
    "Coughs LABS:\n" +
    "\nDischarge Medications:\n" +
    "LABS \u0130nfection coughs STENOSIS\n" +
    "\nPhysical Exam:\n" +
    "Lab stenosis LAB \u0130NFECTIONS.\n")
  val advLc = Seq(DictEntry("any", "infection", 1L), DictEntry("any", "cough", 2L),
    DictEntry("any", "ab", 3L), DictEntry("any", "ra", 4L), DictEntry("any", "lab", 5L))
  val advUc = Seq(DictEntry("any", "LAB", 11L), DictEntry("any", "STENOSI", 12L),
    DictEntry("any", "GA", 13L), DictEntry("any", "\u0130NFECTION", 14L))

  type Row = (Int, Int, Long, String, String)

  /** The reference: `candidates` ⋈ dict per side, in the kernel's emission
    * order — per n-gram (start, end): folded then preserved hits, then the
    * destemmed key's hits in the same side order. */
  def reference(id: String, text: String, maxTokens: Int,
                folded: Option[Seq[DictEntry]], preserved: Option[Seq[DictEntry]]): Seq[Row] = {
    def side(dict: Seq[DictEntry], caseSensitive: Boolean, sideIdx: Int) = {
      val firstTokens = new java.util.HashSet[String]()
      dict.foreach(e => firstTokens.add(e.mention.takeWhile(_ != ' ')))
      val byKey = dict.groupBy(_.mention)
      val cands = DictionaryMatch
        .candidates(id, text, maxTokens, 100, firstTokens, caseSensitive).toIndexedSeq
      cands.indices.flatMap { k =>
        val c = cands(k)
        // a destemmed key directly follows its n-gram's full key
        val destem = if (k > 0 && cands(k - 1).start == c.start && cands(k - 1).end == c.end) 1 else 0
        byKey.getOrElse(c.key, Seq.empty).sortBy(e => (e.section, e.mention, e.concept_id))
          .collect { case e if e.section == "any" || e.section == c.section =>
            ((c.start, c.end, destem, sideIdx), (c.start, c.end, e.concept_id, e.section, e.mention))
          }
      }
    }
    (folded.toSeq.flatMap(side(_, caseSensitive = false, 0)) ++
      preserved.toSeq.flatMap(side(_, caseSensitive = true, 1)))
      .sortBy(_._1).map(_._2)
  }

  def kernel(id: String, text: String, maxTokens: Int,
             folded: Option[Seq[DictEntry]], preserved: Option[Seq[DictEntry]]): Seq[Row] = {
    def gazetteer(dict: Option[Seq[DictEntry]]) =
      dict.map(d => DictionaryMatch.dictStructures(d.toArray)).orNull
    DictionaryMatch.matchDoc(id, text, maxTokens, 100, gazetteer(folded), gazetteer(preserved))
      .map(a => (a.start, a.end, a.concept_id, a.section, a.dict_entry))
  }

  val diffTexts = docs.take(15).map(d => (d.doc_id, d.text)) :+ adversarial

  /** `matchDoc` equals `reference` in lc, uc and dual modes, order
    * included, for each (folded, preserved) dictionary pair. */
  def differential(dictPairs: Seq[(String, (Seq[DictEntry], Seq[DictEntry]))]): Unit = {
    var matched = 0
    for ((name, (lc, uc)) <- dictPairs;
         (mode, folded, preserved) <- Seq(("lc", Some(lc), None), ("uc", None, Some(uc)),
           ("dual", Some(lc), Some(uc)));
         (id, text) <- diffTexts) {
      val want = reference(id, text, 6, folded, preserved)
      assert(kernel(id, text, 6, folded, preserved) == want, s"$name/$mode diverges in $id")
      matched += want.size
    }
    assert(matched > 0)
  }

  test("hashed candidates are exactly the string candidates' fingerprints") {
    // every reference candidate key is a mention, so every candidate's
    // hash is checked; every third key also gets a section-bound entry
    def allKeys(caseSensitive: Boolean) = diffTexts.flatMap { case (id, t) =>
      DictionaryMatch.candidates(id, t, 6, 100, caseSensitive = caseSensitive).map(_.key)
    }.distinct.zipWithIndex.flatMap { case (key, k) =>
      DictEntry("any", key, k.toLong) +:
        (if (k % 3 == 0) Seq(DictEntry("past medical history", key, k + 1000000L)) else Nil)
    }
    differential(Seq("every candidate key" -> (allKeys(false), allKeys(true))))
  }

  test("fused matchDoc equals string-candidates joined with the dict") {
    differential(Seq(
      "synth" -> (dict, Synth.ucDictionary(nConcepts)),
      "adversarial" -> (advLc, advUc)))
  }

  test("scan kernel: uppercase plurals, per-char fold, guards") {
    val (id, text) = adversarial
    val got = kernel(id, text, 6, Some(advLc), Some(advUc))
      .map { case (s, e, cid, _, _) => (text.substring(s, e), s, cid) }
    val chief = text.indexOf("Chief Complaint:")
    assert(got.forall(_._2 > chief), s"a match before minStart or the first header: $got")
    val inVeto = text.indexOf("Discharge Medications:")
    val exam = text.indexOf("Physical Exam:")
    assert(!got.exists(g => g._2 > inVeto && g._2 < exam), s"a match in the veto section: $got")
    assert(!got.exists(g => text.indexOf("Coughs LABS:") <= g._2 && g._2 < inVeto),
      s"a match on a header line: $got")
    assert(got.map(g => (g._1, g._3)).toSet == Set(
      "LABS" -> 5L, "LABS" -> 11L, "STENOSIS" -> 12L, "\u0130nfection" -> 1L, "Coughs" -> 2L,
      "cough" -> 2L, "Lab" -> 5L, "LAB" -> 5L, "LAB" -> 11L, "\u0130NFECTIONS" -> 1L,
      "\u0130NFECTIONS" -> 14L))
  }

  test("gazetteer match finds planted exact/permutation/plural mentions") {
    import spark.implicits._
    val matched = DictionaryMatch.annotate(
      spark.createDataset(docs), spark.createDataset(dict), maxTokens = 4)
    val resolved = graft.operators.OverlapResolve.apply(matched).collect()
    val gold = golds.filter(_.start >= 100) // matcher guard drops early spans
    val goldFindable = gold.filter { g =>
      val doc = docs.find(_.doc_id == g.doc_id).get
      val surf = TextFns.normalize(doc.text.substring(g.start, g.end))
      val destem = if (surf.endsWith("s")) surf.dropRight(1) else surf
      val secs = Sectioning.sections(doc.doc_id, doc.text)
      val vetoed = Sectioning.isVetoSection(Sectioning.sectionAt(secs, g.start))
      !vetoed && dict.exists(e => e.mention == surf || e.mention == destem)
    }
    val predSet = resolved.map(a => (a.doc_id, a.start, a.end, a.concept_id)).toSet
    val hit = goldFindable.count(g => predSet.contains((g.doc_id, g.start, g.end, g.concept_id)))
    // typo'd variants are intentionally absent from the dictionary; of the
    // findable ones, nearly all must round-trip (a few lose overlap fights)
    assert(goldFindable.nonEmpty)
    assert(hit.toDouble / goldFindable.size > 0.95,
      s"hit=$hit of ${goldFindable.size}")
    // precision: every resolved span matching a gold span links the right concept
    val goldBysSpan = gold.map(g => (g.doc_id, g.start, g.end) -> g.concept_id).toMap
    val wrong = resolved.filter(a =>
      goldBysSpan.get((a.doc_id, a.start, a.end)).exists(_ != a.concept_id))
    assert(wrong.isEmpty, s"wrong links: ${wrong.take(3).mkString}")
  }

  test("fused annotateTextResolved equals shuffle-based annotate + resolve") {
    import spark.implicits._
    val textDs = spark.createDataset(docs.map(d => (d.doc_id, d.text)))
    val fused = DictionaryMatch.annotateTextResolved(
        textDs, spark.createDataset(dict), maxTokens = 4)
      .collect().map(a => (a.doc_id, a.start, a.end, a.concept_id, a.section, a.dict_entry))
    val twoStep = OverlapResolve.apply(DictionaryMatch.annotate(
        spark.createDataset(docs), spark.createDataset(dict), maxTokens = 4))
      .collect().map(a => (a.doc_id, a.start, a.end, a.concept_id, a.section, a.dict_entry))
    assert(fused.sorted.toSeq == twoStep.sorted.toSeq)
    assert(fused.nonEmpty)
  }

  test("section-restricted dictionary entries only fire in their section") {
    import spark.implicits._
    val matched = DictionaryMatch.annotate(
      spark.createDataset(docs), spark.createDataset(dict), maxTokens = 4).collect()
    val restricted = dict.filter(_.section != "any").map(_.concept_id).toSet
    for (a <- matched if restricted.contains(a.concept_id) && a.section != "any")
      assert(a.section == "past medical history")
  }
}
