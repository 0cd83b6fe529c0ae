package graft.operators

import graft.model._
import graft.functions.{LongHashSet, LongKeyMap, TextFns}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Gazetteer / dictionary matching — the blocking join J7, Spark-first.
  *
  * The reference compiles a whitespace-tolerant regex per dictionary term and
  * scans every note with every pattern (`1st Place/src/mimic_common.py:53-71,
  * 127-161`) — O(|dict| × |corpus|) single-threaded work. We invert it:
  * each doc emits its token n-grams (n ≤ max dictionary term length) keyed by
  * the same canonical normalization applied to dictionary terms, and the
  * match is a broadcast hash equi-join on that key. Catalyst keeps the whole
  * path shuffle-free: doc → flatMap candidates (narrow) → BroadcastHashJoin.
  *
  * ALLOCATION SHAPE (the measured scaling limiter at 32 threads): candidate
  * keys are 64-bit ROLLING HASHES computed incrementally over the token
  * chars — no per-n-gram string, no per-token substring, no boxing in the
  * first-token filter (LongHashSet). The only allocation per candidate is
  * its output row. Hash equality stands in for string equality: a false
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
  *  - uc-dict second pass             → `caseSensitive = true` keeps token
  *    case (`1st Place/src/mimic_predict.py:31-49`)
  */
object DictionaryMatch {

  /** One candidate doc n-gram (guards already applied in-row). */
  case class Cand(doc_id: String, start: Int, end: Int, key: String, section: String)

  /** Hashed candidate — the production path. */
  case class CandH(doc_id: String, start: Int, end: Int, key_hash: Long, section: String)

  /** REFERENCE-ORACLE string-key candidate generation: readable
    * transcription of the guards, used by the differential tests that pin
    * `candidateHashes` to it. Allocates a string per n-gram — production
    * uses `candidateHashes`. */
  def candidates(docId: String, text: String, maxTokens: Int, minStart: Int,
                 firstTokens: java.util.Set[String] = null,
                 caseSensitive: Boolean = false): Seq[Cand] = {
    val toks = TextFns.tokensWithOffsets(text, preserveCase = caseSensitive)
    if (toks.isEmpty) return Seq.empty
    val secs = Sectioning.sections(docId, text)
    val headerLines = Sectioning.headerLineRanges(text)
    var hlIdx = 0
    val out = Seq.newBuilder[Cand]
    var i = 0
    while (i < toks.length) {
      val start = toks(i)._2
      val tok0 = toks(i)._1
      val prefixOk = firstTokens == null || firstTokens.contains(tok0) ||
        (tok0.length > 3 && tok0.endsWith("s") &&
          firstTokens.contains(tok0.substring(0, tok0.length - 1))) // 1-token plural
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
              val last = toks(j)._1
              if (last.length > 3 && last.endsWith("s"))
                out += Cand(docId, start, end,
                  key.substring(0, key.length - 1), section)
              j += 1
            }
          }
        }
      }
      i += 1
    }
    out.result()
  }

  /** Production candidate generation: identical guards and key semantics to
    * `candidates`, but keys are rolling 64-bit hashes
    * (`TextFns.fingerprint64` of the would-be key string, computed
    * incrementally) — no substring, no StringBuilder, no boxed lookups.
    * `firstTokens` holds fingerprint64 hashes of dictionary first tokens. */
  def candidateHashes(docId: String, text: String, maxTokens: Int, minStart: Int,
                      firstTokens: LongHashSet = null,
                      caseSensitive: Boolean = false): Seq[CandH] = {
    val n = text.length
    // token bounds, one pass, no substrings
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
    @inline def ch(idx: Int): Char = {
      val c = text.charAt(idx)
      if (caseSensitive) c else Character.toLowerCase(c)
    }
    val Seed = 1125899906842597L // fingerprint64's seed
    // hash of one whole token
    @inline def tokenHash(ti: Int): Long = {
      var h = Seed
      var k = tStart(ti)
      while (k < tEnd(ti)) { h = 31 * h + ch(k); k += 1 }
      h
    }
    val secs = Sectioning.sections(docId, text)
    val headerLines = Sectioning.headerLineRanges(text)
    var hlIdx = 0
    val out = Seq.newBuilder[CandH]
    var i = 0
    while (i < nTok) {
      val start = tStart(i)
      if (start >= minStart) {
        val len0 = tEnd(i) - tStart(i)
        val lastLower0 = Character.toLowerCase(text.charAt(tEnd(i) - 1))
        val prefixOk = firstTokens == null || {
          val f0 = tokenHash(i)
          firstTokens.contains(f0) || {
            // 1-token plural: hash of the token minus its trailing 's'
            len0 > 3 && lastLower0 == 's' && {
              var h = Seed
              var k = tStart(i)
              while (k < tEnd(i) - 1) { h = 31 * h + ch(k); k += 1 }
              firstTokens.contains(h)
            }
          }
        }
        if (prefixOk) {
          while (hlIdx < headerLines.length && headerLines(hlIdx)._2 <= start) hlIdx += 1
          val inHeader = hlIdx < headerLines.length &&
            headerLines(hlIdx)._1 <= start && start < headerLines(hlIdx)._2
          if (!inHeader) {
            val section = Sectioning.sectionAt(secs, start)
            if (!Sectioning.isVetoSection(section)) {
              var h = Seed
              var j = i
              while (j < nTok && j - i < maxTokens) {
                if (j > i) h = 31 * h + ' '
                var hBeforeLast = h
                var k = tStart(j)
                val e = tEnd(j)
                while (k < e) { hBeforeLast = h; h = 31 * h + ch(k); k += 1 }
                out += CandH(docId, start, e, h, section)
                if (e - tStart(j) > 3 && Character.toLowerCase(text.charAt(e - 1)) == 's')
                  out += CandH(docId, start, e, hBeforeLast, section)
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

  /** One dictionary payload row in the fused matcher's broadcast map. */
  final case class DictHit(section: String, mention: String, conceptId: Long)

  /** Fused per-doc matcher: candidateHashes' exact guard/key semantics with
    * the broadcast-hash-join PROBE inlined — only MATCHING n-grams allocate
    * anything (an Annotation). A non-matching candidate costs a rolling
    * hash + one open-addressing probe: zero allocation. This is what keeps
    * the stage scaling with cores instead of saturating the allocator
    * (the measured 32-thread ceiling): at ~2k candidates/doc and ~15
    * hits/doc it is ~100× less garbage than materializing candidate rows
    * into a Catalyst join. */
  def matchDoc(docId: String, text: String, maxTokens: Int, minStart: Int,
               dictMap: LongKeyMap[Array[DictHit]],
               firstTokens: LongHashSet,
               caseSensitive: Boolean = false): Seq[Annotation] = {
    val n = text.length
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
    @inline def ch(idx: Int): Char = {
      val c = text.charAt(idx)
      if (caseSensitive) c else Character.toLowerCase(c)
    }
    val Seed = 1125899906842597L
    @inline def tokenHash(ti: Int): Long = {
      var h = Seed
      var k = tStart(ti)
      while (k < tEnd(ti)) { h = 31 * h + ch(k); k += 1 }
      h
    }
    val secs = Sectioning.sections(docId, text)
    val headerLines = Sectioning.headerLineRanges(text)
    var hlIdx = 0
    val out = Seq.newBuilder[Annotation]
    @inline def probe(h: Long, start: Int, end: Int, section: String): Unit = {
      val hits = dictMap.get(h)
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
        val len0 = tEnd(i) - tStart(i)
        val lastLower0 = Character.toLowerCase(text.charAt(tEnd(i) - 1))
        val prefixOk = firstTokens == null || {
          val f0 = tokenHash(i)
          firstTokens.contains(f0) || {
            len0 > 3 && lastLower0 == 's' && {
              var h = Seed
              var k = tStart(i)
              while (k < tEnd(i) - 1) { h = 31 * h + ch(k); k += 1 }
              firstTokens.contains(h)
            }
          }
        }
        if (prefixOk) {
          while (hlIdx < headerLines.length && headerLines(hlIdx)._2 <= start) hlIdx += 1
          val inHeader = hlIdx < headerLines.length &&
            headerLines(hlIdx)._1 <= start && start < headerLines(hlIdx)._2
          if (!inHeader) {
            val section = Sectioning.sectionAt(secs, start)
            if (!Sectioning.isVetoSection(section)) {
              var h = Seed
              var j = i
              while (j < nTok && j - i < maxTokens) {
                if (j > i) h = 31 * h + ' '
                var hBeforeLast = h
                var k = tStart(j)
                val e = tEnd(j)
                while (k < e) { hBeforeLast = h; h = 31 * h + ch(k); k += 1 }
                probe(h, start, e, section)
                if (e - tStart(j) > 3 && Character.toLowerCase(text.charAt(e - 1)) == 's')
                  probe(hBeforeLast, start, e, section)
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

  /** DUAL-dict fused matcher: ONE token scan of the doc probing BOTH the
    * lowercase dictionary (case-folded rolling hash) and the case-sensitive
    * uppercase dictionary (case-preserved rolling hash). Semantically
    * identical to running `matchDoc` twice (caseSensitive = false/true) and
    * concatenating — the uc probe is just a second rolling hash over the
    * same token bounds, so the doc is tokenized, sectioned and
    * header-scanned ONCE instead of twice (the round-2 `linkage_annotate`
    * cost was exactly this duplication, VERDICT r2 §wrong-3). */
  def matchDocDual(docId: String, text: String, maxTokens: Int, minStart: Int,
                   lcMap: LongKeyMap[Array[DictHit]], lcFirst: LongHashSet,
                   ucMap: LongKeyMap[Array[DictHit]], ucFirst: LongHashSet): Seq[Annotation] = {
    val n = text.length
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
    val Seed = 1125899906842597L
    // case-folded / case-preserved hash of one whole token, optionally
    // dropping the last char (the 1-token plural destem)
    @inline def tokenHashLc(ti: Int, dropLast: Int): Long = {
      var h = Seed
      var k = tStart(ti)
      val e = tEnd(ti) - dropLast
      while (k < e) { h = 31 * h + Character.toLowerCase(text.charAt(k)); k += 1 }
      h
    }
    @inline def tokenHashUc(ti: Int, dropLast: Int): Long = {
      var h = Seed
      var k = tStart(ti)
      val e = tEnd(ti) - dropLast
      while (k < e) { h = 31 * h + text.charAt(k); k += 1 }
      h
    }
    val secs = Sectioning.sections(docId, text)
    val headerLines = Sectioning.headerLineRanges(text)
    var hlIdx = 0
    val out = Seq.newBuilder[Annotation]
    @inline def probe(m: LongKeyMap[Array[DictHit]], h: Long,
                      start: Int, end: Int, section: String): Unit = {
      val hits = m.get(h)
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
        val len0 = tEnd(i) - tStart(i)
        val plural0 = len0 > 3 && Character.toLowerCase(text.charAt(tEnd(i) - 1)) == 's'
        // per-side prefix admission — identical to each single pass's filter
        val lcOk = lcFirst == null || lcFirst.contains(tokenHashLc(i, 0)) ||
          (plural0 && lcFirst.contains(tokenHashLc(i, 1)))
        val ucOk = ucFirst == null || ucFirst.contains(tokenHashUc(i, 0)) ||
          (plural0 && ucFirst.contains(tokenHashUc(i, 1)))
        if (lcOk || ucOk) {
          while (hlIdx < headerLines.length && headerLines(hlIdx)._2 <= start) hlIdx += 1
          val inHeader = hlIdx < headerLines.length &&
            headerLines(hlIdx)._1 <= start && start < headerLines(hlIdx)._2
          if (!inHeader) {
            val section = Sectioning.sectionAt(secs, start)
            if (!Sectioning.isVetoSection(section)) {
              var hLc = Seed
              var hUc = Seed
              var j = i
              while (j < nTok && j - i < maxTokens) {
                if (j > i) { hLc = 31 * hLc + ' '; hUc = 31 * hUc + ' ' }
                var hLcPrev = hLc
                var hUcPrev = hUc
                var k = tStart(j)
                val e = tEnd(j)
                while (k < e) {
                  hLcPrev = hLc; hUcPrev = hUc
                  val c = text.charAt(k)
                  hLc = 31 * hLc + Character.toLowerCase(c)
                  hUc = 31 * hUc + c
                  k += 1
                }
                if (lcOk) probe(lcMap, hLc, start, e, section)
                if (ucOk) probe(ucMap, hUc, start, e, section)
                if (e - tStart(j) > 3 && Character.toLowerCase(text.charAt(e - 1)) == 's') {
                  if (lcOk) probe(lcMap, hLcPrev, start, e, section)
                  if (ucOk) probe(ucMap, hUcPrev, start, e, section)
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

  /** Build the broadcastable (hash → entries) map + first-token filter from
    * a dictionary (which is broadcast-scale by assumption). Hit arrays are
    * sorted (section, mention, concept) so match emission order is pinned. */
  def dictStructures(entries: Array[DictEntry]): (LongKeyMap[Array[DictHit]], LongHashSet) = {
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
    (m, ft)
  }

  /** Distributed gazetteer annotation: docs → fused broadcast-hash probe
    * (`matchDoc`). Result spans still overlap — feed through
    * OverlapResolve. `caseSensitive=true` runs the uc-dict pass: dict
    * mentions are matched against case-PRESERVED doc n-grams (dict entries
    * must then carry the exact-cased mention, e.g. "THE"). */
  /** Explicit driver-collect cap: the gazetteer design ASSUMES a
    * broadcast-scale dictionary (the reference's is ~1M entries). Beyond
    * this, fail loudly instead of OOMing the driver — the beyond-broadcast
    * path is the blocking+scoring pipeline, not the gazetteer. */
  val MaxBroadcastDictEntries: Long = 20000000L

  private[operators] def collectDict(dict: Dataset[DictEntry]): Array[DictEntry] =
    collectCapped(dict, "dictionary",
      "route beyond-broadcast-scale matching through LinkagePipeline")

  /** Driver collect of a dictionary-scale relation under the same cap —
    * the cap's one gate: None above it, for callers with an exact
    * beyond-cap path. r6 limit-probe: limit(cap+1) bounds the driver
    * collect AT the cap — the former count-then-collect paid a second
    * full pass over the derivation, and (unlike this form) collected
    * everything once the count passed (guide §1.2). */
  private[graft] def collectCapped[T](ds: Dataset[T]): Option[Array[T]] = {
    val rows = ds.limit((MaxBroadcastDictEntries + 1).toInt).collect()
    if (rows.length <= MaxBroadcastDictEntries) Some(rows) else None
  }

  /** [[collectCapped]] for callers without a beyond-cap path: fails with a
    * named `require` above the cap. */
  private[operators] def collectCapped[T](ds: Dataset[T], what: String,
                                          hint: String): Array[T] = {
    val rows = collectCapped(ds)
    require(rows.nonEmpty,
      s"$what has > $MaxBroadcastDictEntries entries (broadcast cap) — $hint")
    rows.get
  }

  def annotate(docs: Dataset[Doc], dict: Dataset[DictEntry],
               maxTokens: Int = 6, minStart: Int = 100,
               caseSensitive: Boolean = false)
              (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val (dictMap, firstTokens) = dictStructures(collectDict(dict))
    val dmB = spark.sparkContext.broadcast(dictMap)
    val ftB = spark.sparkContext.broadcast(firstTokens)
    docs.flatMap(d =>
      matchDoc(d.doc_id, d.text, maxTokens, minStart, dmB.value, ftB.value, caseSensitive))
  }

  /** Same fused annotation over a flat (doc_id, text) table — the shape an
    * Iceberg/parquet doc table scan feeds directly (2 string columns per
    * row, no span-struct deserialization). */
  def annotateText(docs: Dataset[(String, String)], dict: Dataset[DictEntry],
                   maxTokens: Int = 6, minStart: Int = 100,
                   caseSensitive: Boolean = false)
                  (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val (dictMap, firstTokens) = dictStructures(collectDict(dict))
    val dmB = spark.sparkContext.broadcast(dictMap)
    val ftB = spark.sparkContext.broadcast(firstTokens)
    docs.flatMap { case (id, text) =>
      matchDoc(id, text, maxTokens, minStart, dmB.value, ftB.value, caseSensitive)
    }
  }

  /** Fused single-dict annotate + per-doc overlap resolution in ONE narrow
    * flatMap — zero shuffles. `OverlapResolve.apply` after `annotateText`
    * is semantically identical but pays a full shuffle of every annotation
    * row (serialize → hash-exchange → collect_list → rebuild) just to
    * regroup rows that were ALL produced by the same matchDoc call; at 4M
    * docs that shuffle (and its allocation) was the dominant scaling cost
    * of the storage-read annotate job. Equivalence pinned by the
    * DictionaryMatchSpec differential. */
  def annotateTextResolved(docs: Dataset[(String, String)], dict: Dataset[DictEntry],
                           maxTokens: Int = 6, minStart: Int = 100,
                           caseSensitive: Boolean = false)
                          (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val (dictMap, firstTokens) = dictStructures(collectDict(dict))
    val dmB = spark.sparkContext.broadcast(dictMap)
    val ftB = spark.sparkContext.broadcast(firstTokens)
    docs.flatMap { case (id, text) =>
      OverlapResolve.removeOverlaps(
        matchDoc(id, text, maxTokens, minStart, dmB.value, ftB.value, caseSensitive))
    }
  }

  /** Fused two-dict inference: lc + uc matching AND per-doc overlap
    * resolution in a single narrow flatMap — the whole 1st-place inference
    * (`mimic_predict.py:31-49` + join_predictions) becomes ONE doc pass
    * with ZERO shuffles: all of a doc's annotations are produced by the
    * same `matchDocDual` call, so `OverlapResolve.removeOverlaps` (a pure
    * per-doc function) runs in-row instead of behind a groupBy-on-doc_id
    * shuffle. Output is identical to
    * joinPredictions(annotate(lc), annotate(uc, caseSensitive=true)) —
    * pinned by the differential in DictionaryMatchSpec. */
  def annotateDualResolved(docs: Dataset[Doc],
                           lcDict: Dataset[DictEntry], ucDict: Dataset[DictEntry],
                           maxTokens: Int = 6, minStart: Int = 100)
                          (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val (lcMap, lcFt) = dictStructures(collectDict(lcDict))
    val (ucMap, ucFt) = dictStructures(collectDict(ucDict))
    val lcMapB = spark.sparkContext.broadcast(lcMap)
    val lcFtB = spark.sparkContext.broadcast(lcFt)
    val ucMapB = spark.sparkContext.broadcast(ucMap)
    val ucFtB = spark.sparkContext.broadcast(ucFt)
    docs.flatMap(d => OverlapResolve.removeOverlaps(
      matchDocDual(d.doc_id, d.text, maxTokens, minStart,
        lcMapB.value, lcFtB.value, ucMapB.value, ucFtB.value)))
  }

  /** Max token length of any dictionary term — drives candidate n-gram depth. */
  def maxDictTokens(dict: Seq[DictEntry]): Int =
    if (dict.isEmpty) 1 else dict.iterator.map(_.mention.count(_ == ' ') + 1).max

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
