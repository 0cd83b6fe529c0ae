package graft.operators

import graft.model._
import graft.functions.{LongHashSet, LongKeyMap, TextFns}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Gazetteer / dictionary matching — the blocking join J7, Spark-first.
  *
  * The reference compiles a whitespace-tolerant regex per dictionary term and
  * scans every note with every pattern (`1st Place/src/mimic_common.py:53-71,
  * 127-161`) — O(|dict| × |corpus|) single-threaded work. We invert it:
  * each doc emits its token n-grams (n ≤ max dictionary term length) keyed by
  * the same canonical normalization applied to dictionary terms, and the
  * match is a hash equi-join on that key against a broadcast dictionary,
  * probed in-row by one scan kernel (`matchDoc`): doc → flatMap (narrow),
  * no join operator and no shuffle.
  *
  * ALLOCATION SHAPE (the measured scaling limiter at 32 threads): candidate
  * keys are 64-bit ROLLING HASHES computed incrementally over the token
  * chars — no per-n-gram string, no per-token substring, no boxing in the
  * first-token filter (LongHashSet). Only a matching candidate allocates
  * (its output row). Hash equality stands in for string equality: a false
  * match needs a 64-bit poly-hash collision between a doc n-gram and a
  * dictionary term (~|cands|·|dict|/2^64 — at 10^12 docs × 10^6 terms still
  * ≪ 1 wrong span per corpus, and the span would merely annotate one bogus
  * concept, not corrupt the pipeline).
  *
  * Matching-fidelity notes vs the reference matcher:
  *  - `\s+`/`[- ]`/`[/ ]` tolerance  → both sides normalized (TextFns.normalize)
  *  - trailing `s*` on every pattern → candidate n-grams also emit a
  *    last-token-destemmed key, so dict "cough" matches text "coughs"
  *  - word-boundary guards            → tokens are maximal alnum runs
  *  - pos ≥ 100 guard                 → `minStart` (mimic_common.py:139)
  *  - header-line veto                → headerLineRanges (mimic_common.py:143)
  *  - medication/service/DOB veto     → Sectioning.isVetoSection (l. 148)
  *  - section key match               → join predicate section='any' or equal
  *  - uc-dict second pass             → the kernel's case-preserved side,
  *    probed in the same scan (`1st Place/src/mimic_predict.py:31-49`)
  */
object DictionaryMatch {

  /** One candidate doc n-gram (guards already applied in-row). */
  case class Cand(doc_id: String, start: Int, end: Int, key: String, section: String)

  /** REFERENCE-ORACLE string-key candidate generation: readable
    * transcription of the kernel's guards and keys, used by the
    * differential tests that pin `matchDoc` to it. Tokens fold per char
    * (`TextFns.tokensWithOffsets`, the fold of dictionary keys) and a
    * token of more than 3 chars ending in 's' or 'S' also keys as its
    * destem. Allocates a string per n-gram — production uses `matchDoc`. */
  def candidates(docId: String, text: String, maxTokens: Int, minStart: Int,
                 firstTokens: java.util.Set[String] = null,
                 caseSensitive: Boolean = false): Seq[Cand] = {
    val toks = TextFns.tokensWithOffsets(text, preserveCase = caseSensitive)
    if (toks.isEmpty) return Seq.empty
    def plural(tok: String) = tok.length > 3 && Character.toLowerCase(tok.last) == 's'
    val secs = Sectioning.sections(docId, text)
    val headerLines = Sectioning.headerLineRanges(text)
    var hlIdx = 0
    val out = Seq.newBuilder[Cand]
    var i = 0
    while (i < toks.length) {
      val start = toks(i)._2
      val tok0 = toks(i)._1
      val prefixOk = firstTokens == null || firstTokens.contains(tok0) ||
        (plural(tok0) && firstTokens.contains(tok0.substring(0, tok0.length - 1)))
      if (start >= minStart && prefixOk) {
        // advance header-line cursor (token starts are increasing)
        while (hlIdx < headerLines.length && headerLines(hlIdx)._2 <= start) hlIdx += 1
        val inHeader = hlIdx < headerLines.length &&
          headerLines(hlIdx)._1 <= start && start < headerLines(hlIdx)._2
        if (!inHeader) {
          val section = Sectioning.sectionAt(secs, start)
          if (!Sectioning.isVetoSection(section)) {
            val sb = new StringBuilder
            var j = i
            while (j < toks.length && j - i < maxTokens) {
              if (j > i) sb.append(' ')
              sb.append(toks(j)._1)
              val end = toks(j)._3
              val key = sb.toString
              out += Cand(docId, start, end, key, section)
              if (plural(toks(j)._1))
                out += Cand(docId, start, end, key.substring(0, key.length - 1), section)
              j += 1
            }
          }
        }
      }
      i += 1
    }
    out.result()
  }

  /** One dictionary payload row in the kernel's broadcast map. */
  final case class DictHit(section: String, mention: String, conceptId: Long)

  /** One dictionary as the kernel probes it: mention hash → hits, plus the
    * hashes of the mentions' first tokens. Broadcast as one value. */
  final case class Gazetteer(hits: LongKeyMap[Array[DictHit]], firstTokens: LongHashSet)

  /** The gazetteer scan kernel: `candidates`' guards and keys with the
    * broadcast-hash-join probe inlined. Each doc is tokenized, sectioned
    * and header-scanned once; each n-gram's key is a 64-bit rolling hash
    * (`TextFns.fingerprint64` of the would-be key string, computed
    * incrementally) that probes the case-folded side `folded` (the
    * lowercase dictionary), the case-preserved side `preserved` (the
    * uppercase dictionary, `1st Place/src/mimic_predict.py:31-49`), or
    * both; a null side is skipped. A side probes only n-grams whose first
    * token (or its destem) is one of its first tokens.
    *
    * Only matching n-grams allocate (an Annotation): a non-matching
    * candidate costs its hash updates and one probe per side, which keeps
    * the stage scaling with cores instead of saturating the allocator.
    * Emission order at each n-gram: folded hits, preserved hits, then the
    * destemmed key's hits in the same side order. */
  def matchDoc(docId: String, text: String, maxTokens: Int, minStart: Int,
               folded: Gazetteer, preserved: Gazetteer): Seq[Annotation] = {
    val n = text.length
    // token bounds (maximal letter/digit runs): count, then fill
    var nTok = 0
    var p = 0
    while (p < n) {
      if (Character.isLetterOrDigit(text.charAt(p))) {
        nTok += 1
        while (p < n && Character.isLetterOrDigit(text.charAt(p))) p += 1
      } else p += 1
    }
    if (nTok == 0) return Seq.empty
    val tStart = new Array[Int](nTok)
    val tEnd = new Array[Int](nTok)
    var t = 0
    p = 0
    while (p < n) {
      if (Character.isLetterOrDigit(text.charAt(p))) {
        tStart(t) = p
        while (p < n && Character.isLetterOrDigit(text.charAt(p))) p += 1
        tEnd(t) = p
        t += 1
      } else p += 1
    }
    val Seed = 1125899906842597L // fingerprint64's seed
    @inline def plural(ti: Int): Boolean =
      tEnd(ti) - tStart(ti) > 3 && Character.toLowerCase(text.charAt(tEnd(ti) - 1)) == 's'
    // hash of token ti minus its last `drop` chars, case-folded or kept
    @inline def tokenHash(ti: Int, drop: Int, fold: Boolean): Long = {
      var h = Seed
      var k = tStart(ti)
      val e = tEnd(ti) - drop
      while (k < e) {
        val c = text.charAt(k)
        h = 31 * h + (if (fold) Character.toLowerCase(c) else c)
        k += 1
      }
      h
    }
    @inline def admits(g: Gazetteer, ti: Int, fold: Boolean): Boolean =
      g != null && (g.firstTokens.contains(tokenHash(ti, 0, fold)) ||
        plural(ti) && g.firstTokens.contains(tokenHash(ti, 1, fold)))
    val secs = Sectioning.sections(docId, text)
    val headerLines = Sectioning.headerLineRanges(text)
    var hlIdx = 0
    val out = Seq.newBuilder[Annotation]
    @inline def probe(g: Gazetteer, h: Long, start: Int, end: Int, section: String): Unit = {
      val hits = g.hits.get(h)
      if (hits != null) {
        var x = 0
        while (x < hits.length) {
          val e = hits(x)
          if (e.section == "any" || e.section == section)
            out += Annotation(docId, start, end, e.conceptId, e.section, e.mention)
          x += 1
        }
      }
    }
    var i = 0
    while (i < nTok) {
      val start = tStart(i)
      if (start >= minStart) {
        val foldedOk = admits(folded, i, fold = true)
        val preservedOk = admits(preserved, i, fold = false)
        if (foldedOk || preservedOk) {
          while (hlIdx < headerLines.length && headerLines(hlIdx)._2 <= start) hlIdx += 1
          val inHeader = hlIdx < headerLines.length &&
            headerLines(hlIdx)._1 <= start && start < headerLines(hlIdx)._2
          if (!inHeader) {
            val section = Sectioning.sectionAt(secs, start)
            if (!Sectioning.isVetoSection(section)) {
              var hF = Seed
              var hP = Seed
              var j = i
              while (j < nTok && j - i < maxTokens) {
                if (j > i) { hF = 31 * hF + ' '; hP = 31 * hP + ' ' }
                var hFPrev = hF
                var hPPrev = hP
                var k = tStart(j)
                val e = tEnd(j)
                while (k < e) {
                  hFPrev = hF; hPPrev = hP
                  val c = text.charAt(k)
                  hF = 31 * hF + Character.toLowerCase(c)
                  hP = 31 * hP + c
                  k += 1
                }
                if (foldedOk) probe(folded, hF, start, e, section)
                if (preservedOk) probe(preserved, hP, start, e, section)
                if (plural(j)) {
                  if (foldedOk) probe(folded, hFPrev, start, e, section)
                  if (preservedOk) probe(preserved, hPPrev, start, e, section)
                }
                j += 1
              }
            }
          }
        }
      }
      i += 1
    }
    out.result()
  }

  /** `matchDoc` with one side: the preserved side when `caseSensitive`
    * (the uppercase-dictionary pass), else the folded side. */
  private def matchSide(docId: String, text: String, maxTokens: Int, minStart: Int,
                        dict: Gazetteer, caseSensitive: Boolean): Seq[Annotation] =
    if (caseSensitive) matchDoc(docId, text, maxTokens, minStart, null, dict)
    else matchDoc(docId, text, maxTokens, minStart, dict, null)

  /** Build the kernel's structures (hash → entries map + first-token
    * filter) from a dictionary (which is broadcast-scale by assumption).
    * Hit arrays are sorted (section, mention, concept) so match emission
    * order is pinned. */
  def dictStructures(entries: Array[DictEntry]): Gazetteer = {
    val byHash = entries.groupBy(e => TextFns.fingerprint64(e.mention))
    val m = new LongKeyMap[Array[DictHit]](byHash.size)
    byHash.foreach { case (h, es) =>
      m.put(h, es.sortBy(e => (e.section, e.mention, e.concept_id))
        .map(e => DictHit(e.section, e.mention, e.concept_id)))
    }
    val ft = new LongHashSet(entries.length)
    entries.foreach { e =>
      val cut = e.mention.indexOf(' ')
      ft.add(TextFns.fingerprint64(if (cut < 0) e.mention else e.mention.substring(0, cut)))
    }
    Gazetteer(m, ft)
  }

  /** One broadcast per dictionary: its map and first-token set together. */
  private[operators] def broadcastDict(entries: Array[DictEntry])
                                      (implicit spark: SparkSession): Broadcast[Gazetteer] =
    spark.sparkContext.broadcast(dictStructures(entries))

  /** Explicit driver-collect cap: the gazetteer design ASSUMES a
    * broadcast-scale dictionary (the reference's is ~1M entries). Beyond
    * this, fail loudly instead of OOMing the driver — the beyond-broadcast
    * path is the blocking+scoring pipeline, not the gazetteer. */
  val MaxBroadcastDictEntries: Long = 20000000L

  private[operators] def collectDict(dict: Dataset[DictEntry]): Array[DictEntry] =
    collectCapped(dict, "dictionary",
      "route beyond-broadcast-scale matching through LinkagePipeline")

  private[operators] def collectCapped[T](ds: Dataset[T], what: String,
                                          hint: String): Array[T] =
    collectCapped(Seq(ds), what, hint).head.asInstanceOf[Array[T]]

  /** Driver collect of dictionary-scale relations under the same cap, by
    * one `collectWithin` call, for callers without a beyond-cap path: fails
    * with a named `require` above it. */
  private[operators] def collectCapped(dss: Seq[Dataset[_]], what: String,
                                       hint: String): Seq[Array[_]] = {
    val rows = ConnectedComponents.collectWithin(dss.map(_ -> MaxBroadcastDictEntries))
    require(rows.nonEmpty,
      s"$what has > $MaxBroadcastDictEntries entries (broadcast cap) — $hint")
    rows.get
  }

  /** Distributed gazetteer annotation: docs → in-row broadcast-hash probe
    * (`matchDoc`). Result spans still overlap — feed through
    * OverlapResolve. `caseSensitive=true` runs the uc-dict pass: dict
    * mentions are matched against case-PRESERVED doc n-grams (dict entries
    * must then carry the exact-cased mention, e.g. "THE"). */
  def annotate(docs: Dataset[Doc], dict: Dataset[DictEntry],
               maxTokens: Int = 6, minStart: Int = 100,
               caseSensitive: Boolean = false)
              (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val dictB = broadcastDict(collectDict(dict))
    docs.flatMap(d =>
      matchSide(d.doc_id, d.text, maxTokens, minStart, dictB.value, caseSensitive))
  }

  /** Single-dict annotate + per-doc overlap resolution in ONE narrow
    * flatMap over a flat (doc_id, text) table — the shape an
    * Iceberg/parquet doc table scan feeds directly — with zero shuffles.
    * `OverlapResolve.apply` after `annotate` is semantically identical but
    * pays a full shuffle of every annotation row just to regroup rows that
    * were ALL produced by the same `matchDoc` call; at 4M docs that
    * shuffle (and its allocation) was the dominant scaling cost of the
    * storage-read annotate job. Equivalence pinned by the
    * DictionaryMatchSpec differential. */
  def annotateTextResolved(docs: Dataset[(String, String)], dict: Dataset[DictEntry],
                           maxTokens: Int = 6, minStart: Int = 100,
                           caseSensitive: Boolean = false)
                          (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val dictB = broadcastDict(collectDict(dict))
    docs.flatMap { case (id, text) =>
      OverlapResolve.removeOverlaps(
        matchSide(id, text, maxTokens, minStart, dictB.value, caseSensitive))
    }
  }

  /** Fused two-dict inference: lc + uc matching AND per-doc overlap
    * resolution in a single narrow flatMap — the whole 1st-place inference
    * (`mimic_predict.py:31-49` + join_predictions) becomes ONE doc pass
    * with ZERO shuffles: all of a doc's annotations are produced by the
    * same `matchDoc` call, so `OverlapResolve.removeOverlaps` (a pure
    * per-doc function) runs in-row instead of behind a groupBy-on-doc_id
    * shuffle. Output is identical to
    * joinPredictions(annotate(lc), annotate(uc, caseSensitive=true)) —
    * pinned by the differential in UcDictSpec. */
  def annotateDualResolved(docs: Dataset[Doc],
                           lcDict: Dataset[DictEntry], ucDict: Dataset[DictEntry],
                           maxTokens: Int = 6, minStart: Int = 100)
                          (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val lcB = broadcastDict(collectDict(lcDict))
    val ucB = broadcastDict(collectDict(ucDict))
    docs.flatMap(d => OverlapResolve.removeOverlaps(
      matchDoc(d.doc_id, d.text, maxTokens, minStart, lcB.value, ucB.value)))
  }

  /** The reference's join_predictions (`1st Place/src/mimic_predict.py:43-49`):
    * concatenate the lowercase-dict and uppercase-dict prediction passes,
    * then resolve overlaps per doc. Children are re-aliased through toDF —
    * unioning two plans rooted at the same doc leaf otherwise trips
    * Union.rewriteConstraints on shared attribute ids (Spark 4.1.2). */
  def joinPredictions(preds: Dataset[Annotation]*)
                     (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val u = preds.map(_.toDF()
        .toDF("doc_id", "start", "end", "concept_id", "section", "dict_entry"))
      .reduce(_ union _).as[Annotation]
    OverlapResolve.apply(u)
  }
}
