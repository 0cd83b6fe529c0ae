package graft.operators

import graft.functions.TextFns
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A11 — interval-match remove/add classification
  * (`3rd Place/remove-add-lists.py:151-258`): compare two annotation sets
  * (e.g. ground truth vs inference) per note, classify every span of each
  * side against the other side's spans as same / included / intersect / no,
  * tally per TERM, count the term's raw corpus occurrences, and derive the
  * to_remove / to_add ratios the 3rd-place solution uses to curate its
  * dictionary.
  *
  * Classification (check_indices, transcribed): walk the other side's
  * spans in (start, end, term) order, skip non-overlapping, return the
  * first overlap's class — "same" exact interval, "included" either
  * containment, "intersect" exactly one endpoint inside. Tally quirks are
  * bug-faithful: the B side never tallies "same" (the reference's second
  * loop has no `same` branch) and "both" counts A-side same/included/
  * intersect plus B-side included/intersect.
  *
  * Spark shape: one cogroup on note id (both sides' spans are per-doc
  * bounded), then a per-term hash aggregation; occurrence counting is a
  * rolling-hash n-gram scan joined against the broadcast term set — the
  * same allocation-free shape as DictionaryMatch.
  */
object SpanCompare {

  /** check_indices transcription. `others` must be sorted (start, end, term). */
  def classify(start: Int, end: Int, others: IndexedSeq[(Int, Int)]): String = {
    var i = 0
    while (i < others.length) {
      val (ps, pe) = others(i)
      if (!(end <= ps || start >= pe)) {
        if (start == ps && end == pe) return "same"
        if ((ps <= start && pe >= end) || (start <= ps && end >= pe)) return "included"
        val loIn = ps <= start && start <= pe
        val hiIn = ps <= end && end <= pe
        if (loIn != hiIn) return "intersect"
      }
      i += 1
    }
    "no"
  }

  case class SpanRow(doc_id: String, start: Int, end: Int, term: String)

  /** Per-term tallies: both, only_a, only_b, same, included, intersect.
    * Inputs: DataFrames with (doc_id, start, end, term). */
  def termTallies(a: DataFrame, b: DataFrame)
                 (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val aRows = a.select(col("doc_id"), col("start"), col("end"), col("term")).as[SpanRow]
    val bRows = b.select(col("doc_id"), col("start"), col("end"), col("term")).as[SpanRow]
    val tallies = aRows.groupByKey(_.doc_id).cogroup(bRows.groupByKey(_.doc_id)) {
      (_, aIt, bIt) =>
        val as = aIt.toIndexedSeq.sortBy(r => (r.start, r.end, r.term))
        val bs = bIt.toIndexedSeq.sortBy(r => (r.start, r.end, r.term))
        val bSpans = bs.map(r => (r.start, r.end))
        val aSpans = as.map(r => (r.start, r.end))
        // emit (term, both, only_a, only_b, same, included, intersect)
        val fromA = as.iterator.map { r =>
          classify(r.start, r.end, bSpans) match {
            case "same"      => (r.term, 1L, 0L, 0L, 1L, 0L, 0L)
            case "included"  => (r.term, 1L, 0L, 0L, 0L, 1L, 0L)
            case "intersect" => (r.term, 1L, 0L, 0L, 0L, 0L, 1L)
            case _           => (r.term, 0L, 1L, 0L, 0L, 0L, 0L)
          }
        }
        // B side: "same" deliberately untallied (reference quirk)
        val fromB = bs.iterator.map { r =>
          classify(r.start, r.end, aSpans) match {
            case "included"  => (r.term, 1L, 0L, 0L, 0L, 1L, 0L)
            case "intersect" => (r.term, 1L, 0L, 0L, 0L, 0L, 1L)
            case "no"        => (r.term, 0L, 0L, 1L, 0L, 0L, 0L)
            case _           => (r.term, 0L, 0L, 0L, 0L, 0L, 0L)
          }
        }
        fromA ++ fromB
    }.toDF("term", "both", "only_a", "only_b", "same", "included", "intersect")
    tallies.groupBy("term").agg(
      sum(col("both")).as("both"), sum(col("only_a")).as("only_a"),
      sum(col("only_b")).as("only_b"), sum(col("same")).as("same"),
      sum(col("included")).as("included"), sum(col("intersect")).as("intersect"))
  }

  /** Raw occurrence counts of each (normalized) term across the corpus —
    * the reference's per-term regex findall (`remove-add-lists.py:152-156`),
    * inverted into one rolling-hash n-gram scan per doc joined against the
    * broadcast term set (no guards, no destem: the raw pattern count). */
  def termOccurrences(docs: Dataset[Doc], terms: DataFrame)
                     (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val termsDs = terms.select(col("term")).distinct().as[String]
    // one bounded collect: the gate keeps at most the cap (guide §1.2)
    val cap = 20000000
    val collected = ConnectedComponents.collectWithin(termsDs, cap)
    require(collected.nonEmpty,
      s"termOccurrences broadcasts the term set: > $cap terms")
    val termList = collected.get
    val maxTokens = if (termList.isEmpty) 1
      else termList.iterator.map(_.count(_ == ' ') + 1).max
    val hashes = spark.sparkContext.broadcast {
      val s = new graft.functions.LongHashSet(termList.length)
      termList.foreach(t => s.add(TextFns.fingerprint64(t)))
      s
    }
    val counts = docs.flatMap { d =>
      val text = d.text
      val n = text.length
      val seen = scala.collection.mutable.LongMap.empty[Long]
      var p = 0
      // token bounds scan with inline rolling hashes
      val starts = Array.newBuilder[Int]; val ends = Array.newBuilder[Int]
      while (p < n) {
        if (Character.isLetterOrDigit(text.charAt(p))) {
          starts += p
          while (p < n && Character.isLetterOrDigit(text.charAt(p))) p += 1
          ends += p
        } else p += 1
      }
      val ts = starts.result(); val te = ends.result()
      var i = 0
      while (i < ts.length) {
        var h = 1125899906842597L
        var j = i
        while (j < ts.length && j - i < maxTokens) {
          if (j > i) h = 31 * h + ' '
          var k = ts(j)
          while (k < te(j)) { h = 31 * h + Character.toLowerCase(text.charAt(k)); k += 1 }
          if (hashes.value.contains(h))
            seen.update(h, seen.getOrElse(h, 0L) + 1L)
          j += 1
        }
        i += 1
      }
      seen.iterator.map { case (h, c) => (h, c) }
    }.toDF("term_hash", "occ")
      .groupBy("term_hash").agg(sum(col("occ")).as("occurrences"))
    val fp = udf((s: String) => TextFns.fingerprint64(s))
    // r6: the join-back reads the ALREADY-COLLECTED distinct term list as a
    // local relation instead of re-deriving terms.distinct() from its
    // upstream scan a second time (guide §1.2) — identical rows by
    // construction (termList IS that distinct set).
    spark.createDataset(termList.toSeq).toDF("term")
      .withColumn("term_hash", fp(col("term")))
      .join(counts, Seq("term_hash"), "left_outer")
      .select(col("term"), coalesce(col("occurrences"), lit(0L)).as("occurrences"))
  }

  /** The full remove/add summary (`remove-add-lists.py:236-258`): tallies +
    * occurrences + curation ratios (null where the reference divides by 0). */
  def removeAddSummary(docs: Dataset[Doc], a: DataFrame, b: DataFrame)
                      (implicit spark: SparkSession): DataFrame = {
    val tallies = termTallies(a, b)
    val occ = termOccurrences(docs,
      a.select(col("term")).union(b.select(col("term"))).distinct())
    tallies.join(occ, Seq("term"), "left_outer")
      .na.fill(0L, Seq("occurrences"))
      .withColumn("to_remove",
        round(col("both") / nullif(col("only_b").cast("double"), lit(0.0)), 4))
      .withColumn("to_remove2",
        round((col("occurrences") - col("both")) /
          nullif(col("only_b").cast("double"), lit(0.0)), 4))
      .withColumn("to_add",
        round(col("both") / nullif(col("only_a").cast("double"), lit(0.0)), 4))
      .withColumn("to_add2",
        round(col("occurrences") /
          nullif((col("only_a") + col("both")).cast("double"), lit(0.0)), 4))
      .withColumn("term_length", length(col("term")))
  }
}
