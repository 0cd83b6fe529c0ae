package graft.metrics

import graft.operators.Blocking
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Evaluation queries — SURVEY.md §2.12.
  *
  * M1 macro char IoU: the reference paints each char of each note with its
  * concept into sparse doc×char matrices and takes per-concept IoU
  * (`1st Place/src/scoring.py:10-47`). Both prediction and ground truth are
  * non-overlapping intervals per note (invariant checked at
  * `1st Place/src/mimic_dev_main.py:165-169`), so the char matrix collapses
  * to interval arithmetic: per (note, concept) the intersection is an
  * interval-overlap join, |pred| and |gt| are plain sums, and
  * union = |pred| + |gt| − intersection. Exactly equal to the painted form
  * on non-overlapping inputs, and it never materializes a char dimension —
  * the step that makes the reference's scorer O(total chars).
  *
  * Inputs are DataFrames with columns (doc_id, start, end, concept_id).
  */
object Metrics {

  private def lenByConcept(df: DataFrame, out: String): DataFrame =
    df.groupBy("concept_id").agg(sum(col("end") - col("start")).as(out))

  /** Per-concept char IoU + the macro average (metric = official score). */
  def macroCharIou(pred: DataFrame, gt: DataFrame): (DataFrame, Double) = {
    val p = pred.select(col("doc_id"), col("start").as("ps"), col("end").as("pe"), col("concept_id"))
    val g = gt.select(col("doc_id").as("gdoc"), col("start").as("gs"), col("end").as("ge"),
      col("concept_id").as("gcid"))
    val inter = p.join(g,
        p("doc_id") === g("gdoc") && p("concept_id") === g("gcid") &&
          greatest(col("ps"), col("gs")) < least(col("pe"), col("ge")))
      .groupBy(col("concept_id"))
      .agg(sum(least(col("pe"), col("ge")) - greatest(col("ps"), col("gs"))).as("inter"))
    val joined = lenByConcept(pred, "plen")
      .join(lenByConcept(gt, "glen"), Seq("concept_id"), "full_outer")
      .join(inter, Seq("concept_id"), "left_outer")
      .na.fill(0L, Seq("plen", "glen", "inter"))
      .withColumn("union", col("plen") + col("glen") - col("inter"))
      .withColumn("iou",
        when(col("union") === 0, lit(0.0)) // guard from 2nd Place/submission/iou.py:42-45
          .otherwise(col("inter").cast("double") / col("union")))
    val macroAvg = joined.agg(avg(col("iou"))).head().getDouble(0)
    (joined.select(col("concept_id"), col("iou")), macroAvg)
  }

  /** M2 per-note concept-set IoU (`1st Place/src/note_scoring.py:9-25`). */
  def perNoteSetIou(pred: DataFrame, gt: DataFrame): DataFrame = {
    val p = pred.groupBy("doc_id").agg(collect_set(col("concept_id")).as("pset"))
    val g = gt.groupBy(col("doc_id")).agg(collect_set(col("concept_id")).as("gset"))
    p.join(g, Seq("doc_id"), "full_outer")
      .withColumn("pset", coalesce(col("pset"), array()))
      .withColumn("gset", coalesce(col("gset"), array()))
      .select(col("doc_id"),
        (size(array_intersect(col("pset"), col("gset"))).cast("double") /
          size(array_union(col("pset"), col("gset")))).as("iou"))
  }

  /** M3: set-based P/R/F1 of mention texts per note
    * (`3rd Place/src/metrics.py:5-52`). Inputs carry (doc_id, term). */
  def perNoteTermPrf(pred: DataFrame, gt: DataFrame): DataFrame = {
    val p = pred.groupBy("doc_id").agg(collect_set(col("term")).as("pset"))
    val g = gt.groupBy(col("doc_id")).agg(collect_set(col("term")).as("gset"))
    p.join(g, Seq("doc_id"), "full_outer")
      .withColumn("pset", coalesce(col("pset"), array()))
      .withColumn("gset", coalesce(col("gset"), array()))
      .withColumn("n_inter", size(array_intersect(col("pset"), col("gset"))).cast("double"))
      .withColumn("precision",
        when(size(col("pset")) === 0, 0.0).otherwise(col("n_inter") / size(col("pset"))))
      .withColumn("recall",
        when(size(col("gset")) === 0, 0.0).otherwise(col("n_inter") / size(col("gset"))))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0.0, 0.0)
          .otherwise(lit(2) * col("precision") * col("recall") / (col("precision") + col("recall"))))
      .select(col("doc_id"), col("precision"), col("recall"), col("f1"))
  }

  /** M4: hit@k linking accuracy — truth present in the first k candidates
    * (`3rd Place/src/metrics.py:119-144`). Input: (candidates array<long>,
    * truth long); returns one row with hit@k for each k. */
  def hitAtK(df: DataFrame, ks: Seq[Int] = Seq(1, 5, 10, 20)): DataFrame = {
    val aggs = ks.map(k =>
      avg(when(array_contains(slice(col("candidates"), 1, k), col("truth")), 1.0)
        .otherwise(0.0)).as(s"hit_at_$k"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** J11 exact form — align-then-accuracy over two annotation tables
    * (`3rd Place/src/metrics.py:79-144`): both sides are semi-filtered to
    * the (note_id, start) keys present in BOTH (`filter_matching_rows`),
    * the surviving rows aligned on that key, and linking accuracy@k
    * computed as string membership of the truth concept in the first k
    * entries of the comma-packed candidate list (`compute_accuracy`; the
    * reference's last tier uses the WHOLE list, not a slice). Inputs:
    * gt(note_id, start, concept_id), pred(note_id, start, top_concept_id).
    * (note_id, start) must be unique per side — the reference aligns by
    * row position after identical key filtering, which is only well-defined
    * under that invariant. */
  def alignAccuracy(gt: DataFrame, pred: DataFrame): DataFrame = {
    // the positional alignment is only well-defined when (note_id, start)
    // is unique per side — a duplicated key would multiply rows through the
    // inner join and silently skew accuracy@k. Enforced fail-fast (ADVICE
    // r3): cheap dimension-scale aggregations, loud error over silent drift.
    // r6 (guide §1.2): the two per-side duplicate probes were two driver
    // actions each re-deriving its input; one union-tagged aggregation
    // checks both sides in a single job. Loud failure semantics unchanged.
    val dupRow = gt.select(col("note_id"), col("start"), lit("gt").as("side"))
      .unionByName(pred.select(col("note_id"), col("start"), lit("pred").as("side")))
      .groupBy(col("side"), col("note_id"), col("start"))
      .agg(count(lit(1)).as("c"))
      // a global max over zero groups is NULL: coalesce so empty sides pass
      .agg(coalesce(max(when(col("c") > 1 && col("side") === "gt", 1).otherwise(0)), lit(0))
          .as("gt_dup"),
        coalesce(max(when(col("c") > 1 && col("side") === "pred", 1).otherwise(0)), lit(0))
          .as("pred_dup"))
      .head()
    require(dupRow.getInt(0) == 0,
      "alignAccuracy: gt has duplicate (note_id, start) keys — " +
        "positional alignment undefined")
    require(dupRow.getInt(1) == 0,
      "alignAccuracy: pred has duplicate (note_id, start) keys — " +
        "positional alignment undefined")
    // r6: with (note_id, start) unique per side (just asserted), the
    // reference's intersect-keys + two semi-filters + align collapses to a
    // single inner join on the key — identical surviving rows, one shuffle
    // instead of four (guide §2.4 "remove shuffles outright").
    val aligned = gt.join(pred, Seq("note_id", "start"))
      .withColumn("cands", split(col("top_concept_id"), ","))
      .withColumn("truth", col("concept_id").cast("string"))
    def acc(k: Int): org.apache.spark.sql.Column = round(avg(
      when(array_contains(slice(col("cands"), 1, k), col("truth")), 1.0)
        .otherwise(0.0)), 4)
    aligned.agg(
      acc(1).as("acc_at_1"), acc(5).as("acc_at_5"), acc(10).as("acc_at_10"),
      round(avg(when(array_contains(col("cands"), col("truth")), 1.0)
        .otherwise(0.0)), 4).as("acc_at_20"))
  }

  /** M7 pairwise F1 over (a, b) pair sets with a < b pinned by the caller.
    *
    * ONE action (r6, guide §1.2 "don't compute things twice"): the former
    * count/count/intersect-count shape ran THREE driver actions, each
    * re-deriving its input pair universe from scratch (the intersect
    * re-derived BOTH) — four evaluations of the upstream join for three
    * numbers. Tagging each side (pred=1, gold=2), unioning, and summing the
    * tag per distinct pair yields |P| (tag 1 or 3), |G| (2 or 3) and |P∩G|
    * (3) from a single hash-aggregated pass — same distinct-set semantics,
    * two upstream evaluations inside one job, one driver barrier. */
  def pairwiseF1(pred: DataFrame, gold: DataFrame): (Double, Double, Double) = {
    // presence flags + max-aggregation instead of per-side distinct + tag
    // sum: identical set semantics (max(p)/max(g) is exactly "appears in
    // pred/gold"), but the pair bags cross ONE exchange (the groupBy, with
    // map-side partial max deduplicating early) instead of three (two
    // distincts + the tag-sum groupBy)
    val tagged = pred.select(col("a"), col("b"), lit(1).as("p"), lit(0).as("g"))
      .unionByName(gold.select(col("a"), col("b"), lit(0).as("p"), lit(1).as("g")))
    val row = tagged.groupBy(col("a"), col("b"))
      .agg(max(col("p")).as("p"), max(col("g")).as("g"))
      .agg(
        count(when(col("p") === 1, 1)).as("np"),
        count(when(col("g") === 1, 1)).as("ng"),
        count(when(col("p") === 1 && col("g") === 1, 1)).as("ni")).head()
    val np = row.getLong(0).toDouble
    val ng = row.getLong(1).toDouble
    val ni = row.getLong(2).toDouble
    val prec = if (np == 0) 0.0 else ni / np
    val rec = if (ng == 0) 0.0 else ni / ng
    val f1 = if (prec + rec == 0) 0.0 else 2 * prec * rec / (prec + rec)
    (prec, rec, f1)
  }

  /** M7's counts over the mention pairs a < b that share a block key
    * carried by at most `hotKeyCap` mention rows, each pair counted once
    * per pair of its two mentions' `labels ⋈ assignments` rows (the
    * `linkage_pairwise_f1` oracle's multiplicity): `n` all of them, `tp`
    * same component and same cid, `fp` same component only, `fn` same cid
    * only. */
  final case class PairCounts(tp: Long, fp: Long, fn: Long, n: Long)

  /** [[PairCounts]] without building the mention pairs. Mentions of one
    * surface carry the same keys, so the sum factorises into E, the ordered
    * surface pairs (s, t) sharing a cold key, and cells C(norm, component,
    * cid) that sum w, an id's rows of `labels ⋈ assignments`. Σ over E of
    * C(s)·C(t) counts every ordered pair of ids, each id with itself
    * included when (s, s) ∈ E; those diagonal terms are subtracted and the
    * rest halved. The largest join is over E. A key's frequency is its
    * mention rows, as in the oracle. Inputs: `mentions(id, norm)`, one row
    * per mention row (an id has one norm); `labels(id, cid)`;
    * `assignments(id, component)`. */
  private[graft] def sameKeyPairCounts(mentions: DataFrame, labels: DataFrame, assignments: DataFrame,
                                       hotKeyCap: Int)(implicit spark: SparkSession): PairCounts = {
    import spark.implicits._
    val keys = mentions.groupBy("norm").agg(count(lit(1))).as[(String, Long)]
      .flatMap { case (norm, m) => Blocking.keyHashesFor(norm).distinct.map(k => (norm, k, m)) }
      .toDF("norm", "key", "m")
    val cold = keys.join(keys.groupBy("key").agg(sum("m").as("f")).filter(col("f") <= hotKeyCap), "key")
      .select(col("key"), col("norm"))
    val e = cold.toDF("key", "s").join(cold.toDF("key", "t"), "key").select("s", "t").distinct()
    val w = labels.join(assignments, "id").join(mentions.select("id", "norm").distinct(), "id")
      .groupBy("id", "norm", "component", "cid").agg(count(lit(1)).as("w"))
    val cells = w.groupBy("norm", "component", "cid").agg(sum("w").as("w"))
    val selfPaired = w.join(e.filter(col("s") === col("t")).select(col("s").as("norm")), "norm")
    def side(df: DataFrame, x: String, keep: String*): DataFrame = df.select(keep.map(col) ++ Seq(
      col("norm").as(x), col("component").as(s"comp_$x"), col("cid").as(s"cid_$x"),
      col("w").cast("decimal(38,0)").as(s"w_$x")): _*)
    def terms(pairs: DataFrame, sign: Int): DataFrame = pairs.select(
      (col("w_s") * col("w_t") * sign).as("xy"),
      (col("comp_s") === col("comp_t")).as("pred"), (col("cid_s") === col("cid_t")).as("gold"))
    val xy = col("xy")
    val row = terms(e.join(side(cells, "s"), "s").join(side(cells, "t"), "t"), 1)
      .union(terms(side(selfPaired, "s", "id").join(side(selfPaired, "t", "id"), "id"), -1))
      .agg(sum(xy), sum(when(col("pred"), xy)), sum(when(col("gold"), xy)),
        sum(when(col("pred") && col("gold"), xy)))
      .head()
    val Seq(n, pred, gold, tp) =
      (0 until 4).map(i => Option(row.getDecimal(i)).fold(BigInt(0))(d => BigInt(d.toBigInteger)) / 2)
    require(n.isValidLong, s"sameKeyPairCounts: $n pairs overflow BIGINT")
    PairCounts(tp.toLong, (pred - tp).toLong, (gold - tp).toLong, n.toLong)
  }
}
