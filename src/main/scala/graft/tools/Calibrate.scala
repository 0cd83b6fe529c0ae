package graft.tools

import graft.fixtures.Synth
import graft.functions.TextFns
import graft.operators.PairwiseScoring

/** Offline weight calibration for the logistic pairwise scorer: prints the
  * feature values of the hardest positive and negative pairs on the
  * synthetic corpus so the fusion weights/bias can be chosen with a margin.
  * (The reference tunes its thresholds the same way — against train notes,
  * `1st Place/src/mimic_train.py:314-324`.) */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val nConcepts = 400
    def feats(a: String, b: String): (Double, Double, Double) = {
      val f = PairwiseScoring.featuresPure(a, b)
      (f.jw, f.levRatio, f.cos)
    }
    // positives: every surface variant vs its dictionary forms
    var posRows = Vector.empty[(Double, Double, Double, String, String)]
    for (i <- 0 until nConcepts if i % 50 != 49; occ <- 0 until 6) {
      val v = TextFns.normalize(Synth.surfaceVariant(i, occ.toLong * 977L + i))
      for (t <- Seq(Synth.conceptName(i), Synth.permSynonym(i)).map(TextFns.normalize)) {
        val (jw, levr, cos) = feats(v, t)
        posRows :+= ((jw, levr, cos, v, t))
      }
    }
    // negatives: cross-concept dictionary-term pairs that share a block key
    val terms = (0 until nConcepts).filter(_ % 50 != 49).flatMap { i =>
      Seq(Synth.conceptName(i), Synth.permSynonym(i)).map(t => (TextFns.normalize(t), i))
    } ++ (0 until nConcepts).filter(_ % 50 != 49).flatMap { i =>
      (0 until 4).map(o => (TextFns.normalize(Synth.surfaceVariant(i, o.toLong * 31L)), i))
    }
    val byKey = terms.distinct.flatMap { case (t, i) =>
      graft.operators.Blocking.keysFor(t).map(k => (k, (t, i)))
    }.groupBy(_._1)
    var negRows = Vector.empty[(Double, Double, Double, String, String)]
    val seen = scala.collection.mutable.Set.empty[(String, String)]
    for ((_, vs) <- byKey; Seq((ta, ia), (tb, ib)) <- vs.map(_._2).distinct.combinations(2)
         if ia != ib && !seen((ta, tb))) {
      seen += ((ta, tb))
      val (jw, levr, cos) = feats(ta, tb)
      negRows :+= ((jw, levr, cos, ta, tb))
    }
    def lin(w1: Double, w2: Double, w3: Double)(r: (Double, Double, Double, String, String)) =
      w1 * r._1 + w2 * r._2 + w3 * r._3
    for ((w1, w2, w3) <- Seq((0.3, 0.4, 0.3), (0.25, 0.45, 0.3), (0.2, 0.5, 0.3),
      (0.2, 0.45, 0.35), (0.34, 0.33, 0.33), (0.15, 0.55, 0.3), (0.1, 0.6, 0.3))) {
      val l = lin(w1, w2, w3) _
      val minPos = posRows.minBy(l)
      val maxNeg = negRows.maxBy(l)
      println(f"w=($w1,$w2,$w3)  minPos=${l(minPos)}%.4f  maxNeg=${l(maxNeg)}%.4f  margin=${l(minPos) - l(maxNeg)}%.4f")
      println(f"   hardest pos: jw=${minPos._1}%.3f levr=${minPos._2}%.3f cos=${minPos._3}%.3f  '${minPos._4}' ~ '${minPos._5}'")
      println(f"   hardest neg: jw=${maxNeg._1}%.3f levr=${maxNeg._2}%.3f cos=${maxNeg._3}%.3f  '${maxNeg._4}' ~ '${maxNeg._5}'")
    }
    println(s"pos=${posRows.size} neg=${negRows.size}")
  }
}
