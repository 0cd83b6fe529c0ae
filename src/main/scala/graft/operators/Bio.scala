package graft.operators

import graft.functions.TextFns
import graft.model.Doc
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** BIO sequence labeling glue (SURVEY §2.9 C4/C5).
  *
  * C4: char spans → per-token BIO labels via offset bisect — a faithful
  * transcription of `get_labels` (`2nd Place/src/data.py:43-53`): spans are
  * processed in sorted order, `li = bisect_left(starts, s)` /
  * `ri = bisect_left(starts, e)`, token li gets `B-cls` (written even when
  * the token range is empty) and tokens li+1..ri-1 get `I-cls`; later spans
  * overwrite earlier ones.
  *
  * C5: BIO decode back to mentions — `fix_spans` + `join_classes_bio`
  * (`2nd Place/submission/infer.py:83-125`): drop O tokens, then a per-doc
  * sweep merges a B-headed run with following I tokens of the same class
  * while each char gap (next start − previous token end) is ≤ 2; an I that
  * cannot merge starts its own group and — its head not being a B — never
  * accepts merges. Group class = head label minus the "B-"/"I-" prefix;
  * finally offsets shrink to the whitespace-stripped surface
  * (`s += len(t)-len(t.lstrip()); e = s + len(t.strip())`).
  *
  * Both directions run per-doc inside `flatMapGroups` (the O3 sweep shape —
  * decisions feed forward, so a window `lag` cannot express the merge), so
  * they parallelize over docs and never materialize a doc's tokens outside
  * its partition.
  */
object Bio {

  /** Per-doc cogroup scaffold shared by both directions: doc text keyed by
    * id against a per-doc row group, `f(docId, text, rows)` applied once
    * per doc row — each row is its own document, as in
    * `LinkagePipeline.perDoc` — with every row of its doc id. */
  private def perDocCogroup[R: org.apache.spark.sql.Encoder, O: org.apache.spark.sql.Encoder](
      docs: Dataset[Doc], rows: Dataset[R])(key: R => String)(
      f: (String, String, Iterator[R]) => IterableOnce[O])
      (implicit spark: SparkSession): Dataset[O] = {
    import spark.implicits._
    docs.map(d => (d.doc_id, d.text))
      .groupByKey(_._1)
      .cogroup(rows.groupByKey(key)) { (docId, ds, rs) =>
        val group = rs.toIndexedSeq
        ds.flatMap { case (_, text) => f(docId, text, group.iterator).iterator }
      }
  }

  /** C4. `spans` columns: (doc_id, start, end, cls). Output: one row per
    * token — (doc_id, ti, tstart, tend, label) with label ∈
    * {"O", "B-<cls>", "I-<cls>"}. Tokens are TextFns.tokensWithOffsets
    * (maximal alnum runs, original-offset [start,end)). A span whose li
    * lands past the last token (possible only if it starts after every
    * token start) is skipped instead of crashing — the reference indexes
    * labels[li] unguarded because its spans always begin on a token. */
  def bioLabels(docs: Dataset[Doc], spans: DataFrame)
               (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sp = spans.select("doc_id", "start", "end", "cls")
      .as[(String, Int, Int, String)]
    perDocCogroup(docs, sp)(_._1) { (docId, text, ss) =>
      val toks = TextFns.tokensWithOffsets(text)
      val starts = toks.map(_._2)
      val labels = Array.fill(toks.length)("O")
      // spans sorted like Python's list sort: (start, end, cls)
      val ordered = ss.map { case (_, s, e, c) => (s, e, c) }.toSeq.sorted
      for ((s, e, c) <- ordered) {
        val li = bisectLeft(starts, s)
        val ri = bisectLeft(starts, e)
        if (li < labels.length) {
          labels(li) = s"B-$c"
          var i = li + 1
          while (i < ri && i < labels.length) { labels(i) = s"I-$c"; i += 1 }
        }
      }
      toks.indices.map(i => (docId, i, toks(i)._2, toks(i)._3, labels(i)))
    }.toDF("doc_id", "ti", "tstart", "tend", "label")
  }

  /** bisect.bisect_left over a sorted IndexedSeq. */
  private def bisectLeft(xs: IndexedSeq[Int], v: Int): Int = {
    var lo = 0; var hi = xs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (xs(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** C5. `labeled` columns: (doc_id, tstart, tend, label) — typically
    * [[bioLabels]] output. Returns mentions (doc_id, start, end, term,
    * cls) after the merge sweep and strip adjustment against the doc
    * text. */
  def decodeMentions(docs: Dataset[Doc], labeled: DataFrame)
                    (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // O's are dropped BEFORE the shuffle (the decode drops them first
    // anyway, infer.py:111, and they are the majority of tokens)
    val lb = labeled.select("doc_id", "tstart", "tend", "label")
      .filter(org.apache.spark.sql.functions.col("label") =!= "O")
      .as[(String, Int, Int, String)]
    perDocCogroup(docs, lb)(_._1) { (docId, text, ls) =>
      // token spans in sequence order (O's already gone)
      val spans = ls.map { case (_, s, e, c) => (s, e, c) }
        .toSeq.sortBy(t => (t._1, t._2))
      // join_classes_bio: res[-1] mutates end on merge, keeps head cls
      val res = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
      for ((s, e, c) <- spans) {
        res.lastOption match {
          case Some((sp, ep, cp)) if {
            val diff = s - ep
            (diff == 0 || diff == 1 || diff == 2) &&
              cp.startsWith("B") && c.startsWith("I") &&
              cp.drop(2) == c.drop(2)
          } => res(res.length - 1) = (sp, e, cp)
          case _ => res += ((s, e, c))
        }
      }
      res.map { case (s0, e0, c) =>
        val t = text.substring(s0, math.min(e0, text.length))
        val lead = t.length - dropLeadingWs(t)
        val s = s0 + lead
        val e = s + trimmedLen(t)
        (docId, s, e, text.substring(s, e), c.drop(2))
      }
    }.toDF("doc_id", "start", "end", "term", "cls")
  }

  /** Fused C4→C5 chain (r6, guide §1.2 "remove unnecessary passes"): the
    * bio_decode query formerly ran bioLabels (cogroup #1 over docs+spans),
    * filtered the O's, joined a doc-length table (a THIRD pass over docs)
    * to extend token ends one char, then decodeMentions (cogroup #2 over
    * docs+labels) — two doc shuffles and an extra doc scan for a chain
    * that is per-doc end to end. This runs label assignment, the +1
    * token-end extension (capped at text length) and the merge/strip
    * decode in ONE per-doc cogroup: identical output (token tstarts are
    * strictly increasing, so decode's (tstart, tend) sort order IS token
    * order), pinned row-for-row against the unfused chain by BioSpec. */
  def labelDecodeFused(docs: Dataset[Doc], spans: DataFrame)
                      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sp = spans.select("doc_id", "start", "end", "cls")
      .as[(String, Int, Int, String)]
    perDocCogroup(docs, sp)(_._1) { (docId, text, ss) =>
      val toks = TextFns.tokensWithOffsets(text)
      val starts = toks.map(_._2)
      val labels = Array.fill(toks.length)("O")
      val ordered = ss.map { case (_, s, e, c) => (s, e, c) }.toSeq.sorted
      for ((s, e, c) <- ordered) {
        val li = bisectLeft(starts, s)
        val ri = bisectLeft(starts, e)
        if (li < labels.length) {
          labels(li) = s"B-$c"
          var i = li + 1
          while (i < ri && i < labels.length) { labels(i) = s"I-$c"; i += 1 }
        }
      }
      // decode sweep over non-O tokens in token (= tstart) order, each
      // token end extended one char like the bio_decode chain
      val res = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
      var i = 0
      while (i < toks.length) {
        val lab = labels(i)
        if (lab != "O") {
          val s = toks(i)._2
          val e = math.min(toks(i)._3 + 1, text.length)
          res.lastOption match {
            case Some((sp0, ep, cp)) if {
              val diff = s - ep
              (diff == 0 || diff == 1 || diff == 2) &&
                cp.startsWith("B") && lab.startsWith("I") &&
                cp.drop(2) == lab.drop(2)
            } => res(res.length - 1) = (sp0, e, cp)
            case _ => res += ((s, e, lab))
          }
        }
        i += 1
      }
      res.map { case (s0, e0, c) =>
        val t = text.substring(s0, math.min(e0, text.length))
        val lead = t.length - dropLeadingWs(t)
        val s = s0 + lead
        val e = s + trimmedLen(t)
        (docId, s, e, text.substring(s, e), c.drop(2))
      }
    }.toDF("doc_id", "start", "end", "term", "cls")
  }

  /** len(t.lstrip()) — Python lstrip drops all leading whitespace. */
  private def dropLeadingWs(t: String): Int = {
    var i = 0
    while (i < t.length && Character.isWhitespace(t.charAt(i))) i += 1
    t.length - i
  }

  /** len(t.strip()). */
  private def trimmedLen(t: String): Int = {
    var i = 0
    while (i < t.length && Character.isWhitespace(t.charAt(i))) i += 1
    var j = t.length
    while (j > i && Character.isWhitespace(t.charAt(j - 1))) j -= 1
    j - i
  }
}
