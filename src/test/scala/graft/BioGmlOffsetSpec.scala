package graft

import graft.model.{Doc, DocSpan}
import graft.operators.{Bio, Graph, OffsetFix}
import graft.sources.{Gml, Readers}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-5 additions: BIO align/decode (C4/C5), the GML and
  * JSON round-trips (S7/F20), the offset fix (F7), and shortest-path /
  * neighbourhood BFS (G3). Each Spark operator is checked against a
  * literal in-memory transcription of the reference Python. */
class BioGmlOffsetSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def doc(id: String, text: String) =
    Doc(id, Seq(DocSpan("text", text, "", 0)))

  // ---- literal get_labels transcription (2nd Place/src/data.py:43-53) ----
  private def getLabelsRef(starts: IndexedSeq[Int],
                           spans: Seq[(Int, Int, String)]): Array[String] = {
    val labels = Array.fill(starts.length)("O")
    for ((s, e, l) <- spans.sorted) {
      def bl(v: Int) = { var lo = 0; var hi = starts.length
        while (lo < hi) { val m = (lo + hi) >>> 1; if (starts(m) < v) lo = m + 1 else hi = m }
        lo }
      val li = bl(s); val ri = bl(e)
      if (li < labels.length) {
        labels(li) = s"B-$l"
        for (i <- (li + 1) until math.min(ri, labels.length)) labels(i) = s"I-$l"
      }
    }
    labels
  }

  test("C4 bioLabels matches the get_labels transcription, incl. overwrites") {
    val text = "acute flank pain, no fever today. stable vitals noted"
    // spans: overlapping + nested + one starting past the last token start
    val spans = Seq(
      (0, 16, "finding"),            // acute flank pain
      (6, 16, "procedure"),          // later span overwrites: flank pain
      (22, 27, "finding"),           // fever
      (34, 47, "body structure"),    // stable vitals
      (53, 54, "finding"))           // past last token start ("noted" starts at 48): li beyond -> B lands on no token? starts at 53 < none
    val docs = spark.createDataset(Seq(doc("d1", text)))
    val spanDf = spans.map { case (s, e, c) => ("d1", s, e, c) }
      .toDF("doc_id", "start", "end", "cls")
    val got = Bio.bioLabels(docs, spanDf).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .sortBy(_._1)
    val toks = graft.functions.TextFns.tokensWithOffsets(text)
    val want = getLabelsRef(toks.map(_._2), spans)
    assert(got.map(_._4).toSeq == want.toSeq)
    assert(got.map(t => (t._2, t._3)).toSeq == toks.map(t => (t._2, t._3)).toSeq)
    // the later span really did overwrite
    assert(want.count(_ == "B-procedure") == 1)
  }

  test("C4 span with empty token range still writes its B label") {
    val text = "aa bb cc"
    val docs = spark.createDataset(Seq(doc("d1", text)))
    // span [4,4) : li = ri = bisect(starts=[0,3,6], 4) = 2 -> B at token 2
    val spanDf = Seq(("d1", 4, 4, "x")).toDF("doc_id", "start", "end", "cls")
    val got = Bio.bioLabels(docs, spanDf).collect()
      .map(r => (r.getInt(1), r.getString(4))).sortBy(_._1)
    assert(got.toSeq == Seq((0, "O"), (1, "O"), (2, "B-x")))
  }

  test("C4 duplicate doc rows are each their own document") {
    val text = "aa bb cc"
    val spanDf = Seq(("d1", 3, 5, "x")).toDF("doc_id", "start", "end", "cls")
    def labels(n: Int) = Bio.bioLabels(spark.createDataset(Seq.fill(n)(doc("d1", text))), spanDf)
      .collect().map(r => (r.getInt(1), r.getString(4))).sorted.toSeq
    assert(labels(1) == Seq((0, "O"), (1, "B-x"), (2, "O")))
    assert(labels(2) == labels(1).flatMap(l => Seq(l, l)))
  }

  // ---- literal join_classes_bio + fix_spans (infer.py:83-125) ----
  private def fixSpansRef(text: String,
                          spans: Seq[(Int, Int, String)]): Seq[(Int, Int, String, String)] = {
    val nonO = spans.filter(_._3 != "O")
    val res = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    for ((s, e, c) <- nonO) {
      res.lastOption match {
        case Some((sp, ep, cp)) if (s - ep) >= 0 && (s - ep) <= 2 &&
          cp.startsWith("B") && c.startsWith("I") && cp.drop(2) == c.drop(2) =>
          res(res.length - 1) = (sp, e, cp)
        case _ => res += ((s, e, c))
      }
    }
    res.toSeq.map { case (s0, e0, c) =>
      val t = text.substring(s0, e0)
      val s = s0 + (t.length - t.dropWhile(_.isWhitespace).length)
      val e = s + t.trim.length
      (s, e, text.substring(s, e), c.drop(2))
    }
  }

  test("C5 decodeMentions merges B-I runs with gaps <=2 and strips whitespace") {
    val text = "left knee  pain and some x right elbow swelling end"
    // token spans with ends extended to include the following char (the
    // tokenizer-offset shape); I after unmatched I must NOT merge
    val labeled = Seq(
      (0, 5, "B-f"),    // "left " ext
      (5, 10, "I-f"),   // "knee " + double space -> gap test
      (11, 16, "I-f"),  // " pain" slice has leading ws after merge
      (17, 21, "O"),
      (25, 30, "I-g"),  // orphan I: own group, head I never merges
      (30, 32, "I-g"),  // gap 0 but head is I -> no merge
      (33, 39, "B-g"),
      (39, 45, "I-f"),  // class mismatch -> no merge
      (46, 55, "B-h"))  // extends past text end? text len 52 -> clamp below
    val clamped = labeled.map { case (s, e, c) => (s, math.min(e, text.length), c) }
    val docs = spark.createDataset(Seq(doc("d1", text)))
    val lblDf = clamped.map { case (s, e, c) => ("d1", s, e, c) }
      .toDF("doc_id", "tstart", "tend", "label")
    val got = Bio.decodeMentions(docs, lblDf).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getString(3), r.getString(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = fixSpansRef(text, clamped).sortBy(t => (t._1, t._2))
    assert(got == want)
    assert(want.exists(_._3 == "left knee  pain")) // merged across gap 1
    assert(want.forall { case (s, e, t, _) => !t.startsWith(" ") && !t.endsWith(" ") && e - s == t.length })
  }

  test("C4→C5 fused labelDecodeFused equals the unfused chain (r6)") {
    // multi-doc corpus with overlapping/nested/tie spans so label
    // overwrites, merges and the +1 end extension are all live
    val texts = Seq(
      "acute flank pain, no fever today. stable vitals noted",
      "aa bb cc dd ee ff gg hh",
      "left knee  pain and some x right elbow swelling end",
      "single")
    val docs = spark.createDataset(texts.zipWithIndex.map { case (t, i) => doc(s"d$i", t) })
    val spans = Seq(
      ("d0", 0, 16, "finding"), ("d0", 6, 16, "procedure"),
      ("d0", 22, 27, "finding"), ("d0", 34, 47, "body structure"),
      ("d1", 0, 8, "f"), ("d1", 9, 14, "g"), ("d1", 15, 23, "f"),
      ("d2", 0, 15, "f"), ("d2", 33, 47, "g"),
      ("d3", 0, 6, "h"))
    val spanDf = spans.toDF("doc_id", "start", "end", "cls")
    // unfused chain exactly as the bio_decode query ran it pre-r6
    val labeled = Bio.bioLabels(docs, spanDf)
      .filter(col("label") =!= "O")
    val docLen = docs.map(d => (d.doc_id, d.text.length)).toDF("doc_id", "n")
    val extended = labeled.join(docLen, "doc_id")
      .withColumn("tend", least(col("tend") + 1, col("n")))
      .select("doc_id", "tstart", "tend", "label")
    val chain = Bio.decodeMentions(docs, extended).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3), r.getString(4)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    val fused = Bio.labelDecodeFused(docs, spanDf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3), r.getString(4)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(fused == chain)
    assert(fused.nonEmpty)
  }

  test("F7 offset fix: closed form equals the cumsum-of-marks reference") {
    val texts = Seq(
      "a  bb   c d  ",
      "  lead", "no doubles here", "x  y", "   ", "ab",
      "w  x  y  z  w  x  y  z  padpad")
    for ((tx, di) <- texts.zipWithIndex) {
      // reference: mark 2nd+ space of each run, cumsum, shift (data.py:60-86)
      val marks = tx.indices.map(i => if (i > 0 && tx(i) == ' ' && tx(i - 1) == ' ') 1 else 0)
      val cum = marks.scanLeft(0)(_ + _).tail // cum(i) inclusive of i
      val docs = Seq((s"d$di", tx)).toDF("doc_id", "text")
      val spans = tx.indices.flatMap(s => Seq(s))
        .map(s => (s"d$di", s, math.min(s + 3, tx.length - 1), "c"))
        .toDF("doc_id", "start", "end", "cls")
      val got = OffsetFix.fixSpans(docs, spans).collect()
        .map(r => (r.getAs[Int]("start"), r.getAs[Int]("new_start"), r.getAs[Int]("new_end")))
      for ((s, ns, ne) <- got) {
        val e = math.min(s + 3, tx.length - 1)
        assert(ns == s - cum(s), s"start $s in '$tx'")
        assert(ne == e - cum(e), s"end $e in '$tx'")
      }
    }
  }

  test("F17 findTagOffsets: stripped-coordinate pairs, includeTags branch, malformed input") {
    import graft.functions.TextFns.findTagOffsets
    val t2 = "ab <t>cd</t> ef <t>gh</t>"
    // stripped = "ab cd ef gh": pairs land exactly on cd / gh
    assert(findTagOffsets(t2) == Seq((3, 5), (9, 11)))
    val stripped = t2.replace("<t>", "").replace("</t>", "")
    assert(findTagOffsets(t2).map { case (s, e) => stripped.substring(s, e) } ==
      Seq("cd", "gh"))
    // includeTags: raw start, end shifted by one start-tag length
    assert(findTagOffsets(t2, includeTags = true) == Seq((3, 5), (16, 18)))
    // start tag with no end tag ends the scan (reference behavior)
    assert(findTagOffsets("x <t>ab") == Seq.empty)
    // stray end tag before the first start tag is ignored
    assert(findTagOffsets("a</t>b<t>c</t>") == Seq((6, 7)))
    // nested tags pair outer-start with inner-end, then stop
    assert(findTagOffsets("<t><t>a</t></t>") == Seq((0, 4)))
    assert(findTagOffsets("") == Seq.empty)
  }

  test("S7 GML round-trip preserves nodes, edges, and escaped labels") {
    val nodes = Seq((1L, "plain"), (2L, "with \"quotes\""), (3L, "amp & both \" x"),
      (4L, "line1\nline2\rcr & \"q\"")).toDF("id", "label")
    val edges = Seq((2L, 1L, "is a"), (3L, 1L, "part \"of\" & more"))
      .toDF("source", "target", "etype")
    val dir = java.nio.file.Files.createTempDirectory("gml_spec").toString + "/g.gml"
    Gml.write(nodes, edges, dir)
    // single-line records, wrapper present
    val lines = spark.read.text(dir).collect().map(_.getString(0))
    assert(lines.head == "graph [ directed 1" && lines.last == "]")
    assert(lines.count(_.startsWith("node [ ")) == 4) // newline label stays one record
    val (rn, re) = Gml.read(spark, dir)
    assert(rn.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "plain"), (2L, "with \"quotes\""), (3L, "amp & both \" x"),
        (4L, "line1\nline2\rcr & \"q\"")))
    assert(re.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ==
      Set((2L, 1L, "is a"), (3L, 1L, "part \"of\" & more")))
  }

  test("F20 JSON synonym dict round-trip") {
    val syn = Seq((100003L, Seq("acute pain", "pain, acute")),
      (100019L, Seq("fever"))).toDF("concept_id", "synonyms")
    val dir = java.nio.file.Files.createTempDirectory("syn_spec").toString + "/s"
    Readers.writeSynJson(syn, dir)
    val back = Readers.readSynJson(spark, dir)
    assert(back.schema == Readers.synJsonSchema)
    assert(back.collect().map(r => (r.getLong(0), r.getSeq[String](1).toList)).toSet ==
      Set((100003L, List("acute pain", "pain, acute")), (100019L, List("fever"))))
  }

  test("F16 SequenceMatcher transcription matches CPython difflib vector-for-vector") {
    import graft.functions.DiffLib
    def blocks(a: String, b: String) =
      new DiffLib.SequenceMatcher(a, b).getMatchingBlocks
        .map(m => (m.a, m.b, m.size)).toList
    // expected values generated with CPython 3 difflib.SequenceMatcher(None, a, b)
    assert(blocks("abcabc", "abcabc") == List((0, 0, 6), (6, 6, 0)))
    assert(blocks("the quick brown fox", "the quiet brown fox") ==
      List((0, 0, 7), (9, 9, 10), (19, 19, 0)))
    // tag-injected echo (the reference's actual use case)
    assert(blocks("no fever or chills noted", "no <t>fever</t> or <t>chills</t> noted") ==
      List((0, 0, 3), (3, 6, 5), (8, 15, 4), (12, 22, 6), (18, 32, 6), (24, 38, 0)))
    // repeated-word salad: tie-breaking on earliest i then j
    assert(blocks("batch batch batch stream spark", "batch stream batch spark spark") ==
      List((12, 0, 13), (25, 19, 5), (30, 30, 0)))
    assert(blocks("", "abc") == List((0, 3, 0)))
    assert(blocks("abc", "") == List((3, 0, 0)))
    // autojunk: len(b) >= 200 makes popular chars unable to seed matches —
    // difflib collapses the interior to two blocks; a transcription
    // without autojunk returns many more
    val a6 = "stream value spark the table key table stream scan the key merge the table spark spark table merge table key spark the scan table merge scan the scan scan spark the merge the key value batch spark value key table scan batch key value table scan scan merge stream table key table scan the scan merge row key spark stream"
    val b6 = { // a6.replace("value", "VALUE", 3) — first three occurrences
      var s = a6; for (_ <- 1 to 3) s = s.replaceFirst("value", "VALUE"); s
    }
    assert(blocks(a6, b6) == List((0, 0, 7), (202, 202, 117), (319, 319, 0)))
    // echo with prefix drift + tags + a trailing typo
    assert(blocks("chief complaint: left knee pain for three days, worse at night",
      "complaint: left <t>knee pain</t> for three days, worse at nite") ==
      List((6, 0, 16), (22, 19, 9), (31, 32, 28), (61, 60, 1), (62, 62, 0)))
    // find_matching_sequences wrapper: dummy and zero-length dropped,
    // match text carried
    val ms = DiffLib.findMatchingSequences("no fever or chills noted",
      "no <t>fever</t> or <t>chills</t> noted")
    assert(ms.map(_._3) == Seq("no ", "fever", " or ", "chills", " noted"))
    assert(ms.head == ((0, 3), (0, 3), "no "))
  }

  test("G3 shortest paths and neighbourhood on a known graph") {
    // 1<-2,3; 2<-4,5; 3<-6; 5<-7 (child, parent); plus cross edge 6<-4? keep tree + one diamond: 7<-4 too
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L), (6L, 3L), (7L, 5L), (7L, 4L))
      .toDF("child", "parent")
    val sp = Graph.shortestPaths(edges, Seq(1L).toDF("root")).collect()
      .map(r => (r.getLong(1), r.getInt(2))).toMap
    assert(sp == Map(2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2, 6L -> 2, 7L -> 3))
    // undirected 2-hop neighbourhood of 7: {4,5} at 1; {2} at 2 via both parents
    val nb = Graph.neighbourhood(edges, Seq(7L).toDF("root"), steps = 2).collect()
      .map(r => (r.getLong(1), r.getInt(2))).toMap
    assert(nb == Map(4L -> 1, 5L -> 1, 2L -> 2))
    // steps=1: parents + children only
    val nb1 = Graph.neighbourhood(edges, Seq(2L).toDF("root"), steps = 1).collect()
      .map(r => (r.getLong(1), r.getInt(2))).toMap
    assert(nb1 == Map(1L -> 1, 4L -> 1, 5L -> 1))
    // shortestPaths fails LOUDLY instead of silently truncating the table
    // when the graph is deeper than maxDist (neighbourhood's bound is
    // semantic and still truncates quietly)
    val chain = (2L to 6L).map(i => (i, i - 1)).toDF("child", "parent")
    val ex = intercept[IllegalArgumentException] {
      Graph.shortestPaths(chain, Seq(1L).toDF("root"), maxDist = 3).collect()
    }
    assert(ex.getMessage.contains("maxDist"))
    // ...but a deepest node sitting EXACTLY at maxDist is a complete
    // result, not a truncation
    assert(Graph.shortestPaths(chain, Seq(1L).toDF("root"), maxDist = 5)
      .count() == 5)
    assert(Graph.neighbourhood(chain, Seq(1L).toDF("root"), steps = 2)
      .count() == 2)
  }
}
