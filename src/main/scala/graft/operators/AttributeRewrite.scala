package graft.operators

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import java.util.regex.Pattern

/** Attribute postprocess rewrite — the W3/F18 consumer stage
  * (`1st Place/src/mimic_postprocess_attributes.py:6-105`): for every
  * annotation whose concept has attribute children in the term-extension
  * table, look at a ±`maxChars` window bounded by the PREVIOUS and NEXT
  * annotation (the reference's lag/lead bounds), search up to
  * `maxWordsBefore`/`maxWordsAfter` words around the mention for the
  * attribute word in its case variants ("left", "Left", "LEFT", "L",
  * "left-sided"), and on a hit rewrite the annotation to the SPECIFIC child
  * concept — extending the span over the attribute word when it directly
  * precedes (follows) the mention.
  *
  * Spark shape: the term-extension table is dimension-scale → broadcast
  * map; docs ⋈ annotations via typed cogroup so each doc's text crosses the
  * wire once and prev/next bounds come from the per-doc sorted array (no
  * window-function shuffle beyond the doc_id co-partitioning).
  */
object AttributeRewrite {

  val MaxWordsBefore = 2
  val MaxWordsAfter = 2
  val MaxChars = 20

  /** Case variants the reference searches (`mimic_postprocess_attributes.py:73-79`). */
  def sideWords(attribute: String): Seq[String] = {
    val base = Seq(attribute, attribute.capitalize, attribute.toUpperCase)
    if (attribute == "left" || attribute == "right")
      base ++ Seq(attribute.head.toUpper.toString, attribute + "-sided")
    else base
  }

  /** Pure per-doc rewrite (driver-side oracle + executor). `anns` must be
    * sorted by start (the reference iterates the per-note frame in order). */
  def rewriteDoc(text: String, anns: IndexedSeq[Annotation],
                 att: Map[Long, Seq[(String, Long)]],
                 doBefore: Boolean = true, doAfter: Boolean = false): Seq[Annotation] =
    anns.indices.map { i =>
      val a = anns(i)
      val cand = att.getOrElse(a.concept_id, Seq.empty)
      if (cand.isEmpty) a
      else {
        val aTxt = text.substring(math.min(a.start, text.length),
          math.min(a.end, text.length))
        val prevEnd = if (i > 0) Some(anns(i - 1).end) else None
        val nextStart = if (i < anns.length - 1) Some(anns(i + 1).start) else None
        val leftLim = prevEnd.map(pe => math.max(pe + 1, a.start - MaxChars))
          .getOrElse(math.max(0, a.start - MaxChars))
        val rightLim = nextStart.map(ns => math.min(ns - 1, a.end + MaxChars))
          .getOrElse(math.min(a.end + MaxChars, text.length - 1))
        val lo = math.max(0, math.min(leftLim, text.length))
        val hi = math.max(lo, math.min(rightLim, text.length))
        val window = text.substring(lo, hi)
        val rx = Pattern.compile(
          "(?:\\b\\S+\\s*){0," + MaxWordsBefore + "}" + Pattern.quote(aTxt) +
            "\\b(?:\\s*\\S+\\s*?){0," + MaxWordsAfter + "}")
        val m = rx.matcher(window)
        if (!m.find() || aTxt.isEmpty) a
        else {
          val matched = m.group(0)
          val cut = matched.indexOf(aTxt)
          val txtBefore = matched.substring(0, math.max(cut, 0))
          val txtAfter = matched.substring(math.min(cut + aTxt.length, matched.length))
          val wordsBefore = txtBefore.split("\\s+").filter(_.nonEmpty)
          val wordsAfter = txtAfter.split("\\s+").filter(_.nonEmpty)
          var found = false
          var newStart = a.start
          var newEnd = a.end
          var newConcept = a.concept_id
          val it = cand.iterator
          while (!found && it.hasNext) {
            val (attribute, specific) = it.next()
            val sides = sideWords(attribute)
            if (doBefore && !found) {
              val indBefore = wordsBefore.indices.filter(k => sides.contains(wordsBefore(k)))
              if (indBefore.nonEmpty) {
                newConcept = specific
                if (indBefore.head == wordsBefore.length - 1) {
                  val delta = txtBefore.length -
                    txtBefore.replaceAll("\\s+$", "").length
                  newStart = a.start - wordsBefore.last.length - delta
                }
                found = true
              }
            }
            if (doAfter && !found) {
              val indAfter = wordsAfter.indices.filter(k => sides.contains(wordsAfter(k)))
              if (indAfter.nonEmpty) {
                newConcept = specific
                if (indAfter.head == 0) {
                  val delta = txtAfter.length -
                    txtAfter.replaceAll("^\\s+", "").length
                  newEnd = a.end + wordsAfter.head.length + delta
                }
                found = true
              }
            }
          }
          if (found) a.copy(start = newStart, end = newEnd, concept_id = newConcept)
          else a
        }
      }
    }

  /** Distributed rewrite: docs ⋈ annotations cogroup + broadcast attribute
    * table. `attTable` needs columns (general_id, specific_id,
    * additional_word); candidate order is pinned to specific_id asc (the
    * reference iterates its CSV row order — ours is deterministic). */
  def apply(docs: Dataset[Doc], anns: Dataset[Annotation], attTable: DataFrame,
            doBefore: Boolean = true, doAfter: Boolean = false,
            maxBroadcastRows: Long = 5000000L)
           (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val attDs = attTable
      .select(col("general_id").cast("long"), col("specific_id").cast("long"),
        col("additional_word"))
      .as[(Long, Long, String)]
    // one bounded collect: an over-size table fails loudly without
    // reaching the driver (guide §1.2)
    val rows = ConnectedComponents.collectWithin(attDs, maxBroadcastRows)
    require(rows.nonEmpty,
      s"attribute table has > $maxBroadcastRows rows (broadcast cap)")
    val att: Map[Long, Seq[(String, Long)]] = rows.get.toSeq
      .groupBy(_._1)
      .map { case (g, rs) =>
        g -> rs.sortBy(_._2).map(r => (r._3, r._2))
      }
    val attB = spark.sparkContext.broadcast(att)
    docs.groupByKey(_.doc_id).cogroup(anns.groupByKey(_.doc_id)) {
      (_, docIt, annIt) =>
        docIt.toSeq.headOption match {
          case None => Iterator.empty
          case Some(d) =>
            rewriteDoc(d.text, annIt.toIndexedSeq.sortBy(a => (a.start, a.end)),
              attB.value, doBefore, doAfter).iterator
        }
    }
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
