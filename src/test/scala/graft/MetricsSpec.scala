package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.metrics.Metrics

class MetricsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  def df(rows: (String, Int, Int, Long)*) =
    rows.toDF("doc_id", "start", "end", "concept_id")

  test("IoU(x, x) = 1") {
    val x = df(("d1", 0, 10, 1L), ("d1", 20, 30, 2L), ("d2", 5, 9, 1L))
    val (_, macroIou) = Metrics.macroCharIou(x, x)
    assert(math.abs(macroIou - 1.0) < 1e-12)
  }

  test("hand-computed interval IoU") {
    // concept 1: pred [0,10) gt [5,15) -> inter 5, union 15, iou 1/3
    // concept 2: pred only -> iou 0
    val pred = df(("d1", 0, 10, 1L), ("d1", 30, 40, 2L))
    val gt = df(("d1", 5, 15, 1L))
    val (per, macroIou) = Metrics.macroCharIou(pred, gt)
    val m = per.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(m(1L) - 1.0 / 3.0) < 1e-12)
    assert(m(2L) == 0.0)
    assert(math.abs(macroIou - (1.0 / 3.0) / 2) < 1e-12)
  }

  test("interval form equals char-painting form on random non-overlapping spans") {
    // driver-side char painter (direct transcription of the reference scorer)
    def paint(rows: Seq[(String, Int, Int, Long)]): Map[Long, Set[(String, Int)]] =
      rows.flatMap { case (d, s, e, c) => (s until e).map(ch => (c, (d, ch))) }
        .groupBy(_._1).map { case (c, v) => c -> v.map(_._2).toSet }
    def charIou(pred: Seq[(String, Int, Int, Long)], gt: Seq[(String, Int, Int, Long)]): Double = {
      val p = paint(pred); val g = paint(gt)
      val concepts = p.keySet ++ g.keySet
      val ious = concepts.toSeq.map { c =>
        val ps = p.getOrElse(c, Set.empty); val gs = g.getOrElse(c, Set.empty)
        val u = (ps ++ gs).size
        if (u == 0) 0.0 else (ps & gs).size.toDouble / u
      }
      ious.sum / ious.size
    }
    // deterministic pseudo-random non-overlapping spans per doc
    def spans(seed: Int): Seq[(String, Int, Int, Long)] =
      (0 until 6).flatMap { d =>
        var pos = graft.fixtures.Synth.hn(20, seed.toLong, d.toLong)
        (0 until 8).map { k =>
          val len = 1 + graft.fixtures.Synth.hn(12, seed.toLong, d.toLong, k.toLong)
          val gap = 1 + graft.fixtures.Synth.hn(9, seed.toLong, d.toLong, k.toLong, 5L)
          val s = pos; pos += len + gap
          (s"d$d", s, s + len, (1 + graft.fixtures.Synth.hn(5, seed.toLong, k.toLong, 7L)).toLong)
        }
      }
    val pred = spans(1); val gt = spans(2)
    val (_, macroIou) = Metrics.macroCharIou(df(pred: _*), df(gt: _*))
    assert(math.abs(macroIou - charIou(pred, gt)) < 1e-12)
  }

  test("per-note set IoU") {
    val pred = df(("d1", 0, 5, 1L), ("d1", 6, 9, 2L))
    val gt = df(("d1", 0, 5, 1L), ("d1", 10, 12, 3L))
    val m = Metrics.perNoteSetIou(pred, gt).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(m("d1") - 1.0 / 3.0) < 1e-12)
  }

  test("per-note term P/R/F1 (M3)") {
    val pred = Seq(("d1", "cough"), ("d1", "fever"), ("d2", "pain")).toDF("doc_id", "term")
    val gt = Seq(("d1", "cough"), ("d1", "rash")).toDF("doc_id", "term")
    val m = Metrics.perNoteTermPrf(pred, gt).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(m("d1") == ((0.5, 0.5, 0.5)))
    assert(m("d2") == ((0.0, 0.0, 0.0))) // pred only, no gt
  }

  test("hit@k (M4)") {
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L, 5L, 6L), 1L),  // hit@1
      (Seq(9L, 2L, 3L, 4L, 5L, 6L), 5L),  // hit@5 (rank 5)
      (Seq(9L, 8L, 7L, 6L, 5L, 1L), 1L),  // hit@10 only (rank 6)
      (Seq(9L, 8L, 7L, 6L, 5L, 4L), 99L)) // miss
      .toDF("candidates", "truth")
    val r = Metrics.hitAtK(df, Seq(1, 5, 10)).head()
    assert(r.getDouble(0) == 0.25) // hit@1
    assert(r.getDouble(1) == 0.5)  // hit@5
    assert(r.getDouble(2) == 0.75) // hit@10
  }

  test("align-accuracy (J11 exact form): semi-filter both sides, accuracy@k") {
    // keys: (n1,0) in both; (n1,10) gt-only (dropped); (n2,5) pred-only
    // (dropped); (n2,20) in both. Aligned rows: 2.
    val gt = Seq(("n1", 0, 7L), ("n1", 10, 9L), ("n2", 20, 3L))
      .toDF("note_id", "start", "concept_id")
    val pred = Seq(
      ("n1", 0, "7,1,2,3,4,5,6,8,9,10,11,12,13,14,15,16,17,18,19,20"), // truth at rank 1
      ("n2", 5, "9,9,9"),
      ("n2", 20, "1,2,4,5,6,7,8,9,10,11,3,12,13,14,15,16,17,18,19,20")) // truth 3 at rank 11
      .toDF("note_id", "start", "top_concept_id")
    val r = Metrics.alignAccuracy(gt, pred).head()
    assert(r.getDouble(0) == 0.5)  // acc@1: only n1/0
    assert(r.getDouble(1) == 0.5)  // acc@5
    assert(r.getDouble(2) == 0.5)  // acc@10: rank 11 still out
    assert(r.getDouble(3) == 1.0)  // full list: both hit
  }

  test("align-accuracy on an empty side: no aligned rows, no NPE") {
    val gt = Seq(("n1", 0, 7L)).toDF("note_id", "start", "concept_id")
    val pred = Seq(("n1", 0, "7,1")).toDF("note_id", "start", "top_concept_id")
    // a global max over zero groups is NULL; the duplicate probe must
    // read it as "no duplicates", and accuracy over zero rows is NULL
    for ((g, p) <- Seq((gt.limit(0), pred), (gt, pred.limit(0)), (gt.limit(0), pred.limit(0)))) {
      val r = Metrics.alignAccuracy(g, p).head()
      assert((0 until 4).forall(r.isNullAt), s"expected NULL accuracies, got $r")
    }
  }

  test("pairwise F1 symmetric and correct on small sets") {
    val p = Seq(("a", "b"), ("a", "c"), ("x", "y")).toDF("a", "b")
    val g = Seq(("a", "b"), ("x", "y"), ("m", "n")).toDF("a", "b")
    val (prec, rec, f1) = Metrics.pairwiseF1(p, g)
    assert(math.abs(prec - 2.0 / 3.0) < 1e-12)
    assert(math.abs(rec - 2.0 / 3.0) < 1e-12)
    val (p2, r2, f2) = Metrics.pairwiseF1(g, p)
    assert(math.abs(p2 - rec) < 1e-12 && math.abs(r2 - prec) < 1e-12)
    assert(math.abs(f1 - f2) < 1e-12)
  }
}
