package graft.plans

import graft.functions.TextFns
import graft.model._
import graft.operators._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end record-linkage pipeline (north rule / SURVEY §7.1):
  *
  *   mentions ∪ dictionary-term nodes
  *     → blocking keys (exact + sorted-neighborhood + MinHash-LSH bands)
  *     → candidate pairs (hot keys frequency-capped)
  *     → batched pairwise scoring (JW + Levenshtein + cosine, logistic fusion)
  *     → similarity edges (score ≥ 0.5) ∪ structural term→concept edges
  *     → large-star/small-star transitive clustering
  *     → mention → cluster assignment
  *
  * Node id scheme: "m:<doc:start:end>" mentions (assignment output only),
  * "s:<norm>" distinct mention surfaces (the clustering nodes), "t:<norm>"
  * dictionary terms, "c:<conceptId>" concepts. Term-term pairs are never
  * scored into edges —
  * dictionary terms carry known distinct concepts (the reference never merges
  * concepts; its dict keeps only unambiguous keys,
  * `1st Place/src/mimic_train.py:342-345`). A cluster containing a "c:" node
  * is that concept's entity; clusters without one are unlinked-mention groups.
  */
object LinkagePipeline {

  case class Result(assignments: DataFrame, // (id, component)
                    scored: DataFrame,      // (a, b, jw, lev_ratio, cos, score)
                    blockKeys: DataFrame,   // (id, key) MENTION-level keys
                    keyFreq: DataFrame,     // (key, freq) skew report
                    nodeKeys: DataFrame = null, // (id, key) node-level keys (keyFreq's input)
                    persisted: Seq[DataFrame] = Seq.empty) {
    /** Release every DataFrame `run` cached — call once the outputs are
      * materialized (or when evicting a memoized Result). Handles both
      * persisted frames (unpersist) and lazily localCheckpoint'd frames,
      * whose blocks live on the underlying RDD rather than in the SQL
      * cache manager — those are freed by unpersisting the LogicalRDD
      * leaves directly (otherwise they linger until GC, which matters for
      * the repeated-sample bench protocol at ladder scale). */
    def release(): Unit = persisted.foreach { df =>
      df.unpersist()
      // only the frame's OWN root checkpoint is freed — walking the whole
      // lineage would also unpersist LogicalRDD leaves the Result does not
      // own (e.g. a caller-provided checkpointed mentions frame reachable
      // through scored's plan); every checkpoint run() creates is tracked
      // individually in `persisted`, so root-only covers them all
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(false)
        case _ => ()
      }
    }
  }

  /** Extract mention nodes for labeled spans via typed cogroup — the doc text
    * is never replicated per mention (one pass per doc, J5 semantics with the
    * substring done doc-side). */
  def mentionsFromSpans(docs: Dataset[Doc], spans: Dataset[GoldAnnotation])
                       (implicit spark: SparkSession): Dataset[Mention] = {
    import spark.implicits._
    mentionsFromText(docs.map(d => (d.doc_id, d.text)), spans)
  }

  /** Same extraction over a flat (doc_id, text) table — the Iceberg/parquet
    * doc-table scan shape. */
  def mentionsFromText(docsText: Dataset[(String, String)], spans: Dataset[GoldAnnotation])
                      (implicit spark: SparkSession): Dataset[Mention] = {
    import spark.implicits._
    docsText.groupByKey(_._1).cogroup(spans.groupByKey(_.doc_id)) {
      (_, docIt, spanIt) =>
        docIt.toSeq.headOption match {
          case None => Iterator.empty
          case Some((docId, text)) => docMentions(docId, text, spanIt)
        }
    }
  }

  /** The per-doc body of [[mentionsFromText]]: one sectioned mention per
    * span, in span order. */
  def docMentions(docId: String, text: String, spans: Iterator[GoldAnnotation]): Iterator[Mention] = {
    val secs = Sectioning.sections(docId, text)
    spans.map { g =>
      val surface = text.substring(g.start, math.min(g.end, text.length))
      Mention(docId, g.start, g.end, surface,
        TextFns.normalize(surface), Sectioning.sectionAt(secs, g.start))
    }
  }

  /** Unambiguous dictionary terms (mention → unique concept), reference
    * `most_common unique` semantics. */
  def unambiguousDict(dict: Dataset[DictEntry]): DataFrame =
    dict.toDF().groupBy("mention")
      .agg(countDistinct(col("concept_id")).as("nc"), min(col("concept_id")).as("concept_id"))
      .filter(col("nc") === 1)
      .select(col("mention"), col("concept_id"))

  /** Canonicalization: mentions with identical normalized surfaces are
    * interchangeable for linking, so the pipeline links DISTINCT SURFACES
    * ("s:<norm>" nodes), not individual mentions — exactly the reference's
    * shape (dictionaries and embedding DBs are keyed by distinct strings).
    * Measured effect: 40k docs produce ~144M mention-level candidate pairs
    * but only a few million surface-level ones — same clusters, ~50× less
    * shuffle. Mention assignments are projected back by a join on norm. */
  private[graft] def surfaceNodesOf(mentions: Dataset[Mention], d: DataFrame): DataFrame = {
    val surfaceNodes = mentions.toDF().select(col("norm")).distinct()
      .select(concat(lit("s:"), col("norm")).as("id"), col("norm"))
    val termNodes = d.select(concat(lit("t:"), col("mention")).as("id"), col("mention").as("norm"))
    surfaceNodes.union(termNodes).distinct()
  }

  private[graft] def structEdgesOf(d: DataFrame): DataFrame =
    d.select(concat(lit("t:"), col("mention")).as("a"),
      concat(lit("c:"), col("concept_id")).as("b"))

  /** OPT-IN uniform spread of candidate pairs ahead of the CPU-heavy
    * scoring stage: `repartition(4 × shuffle parallelism, hash(a, b))`.
    * Scoring cost is per-ROW (Levenshtein is O(|a|·|b|)) with zero
    * locality requirement — the argmax aggregate reshuffles by `a` anyway
    * — so hashing on the near-unique pair itself is the uniform
    * distribution, and the explicit partition count keeps AQE from
    * coalescing a cheap-to-shuffle/expensive-to-compute exchange into few
    * fat tasks.
    *
    * NOT in the default plan, by measurement (400k docs, local[16], same
    * session): the shipped fused join→score→cache stage ran 105-132 s;
    * inserting this spread made it 176-199 s — the extra full exchange of
    * the norm-carrying pair rows costs more on a memory-bound host than
    * the residual post-salting skew it insures against (AQE skew-join
    * splitting plus `Blocking`'s frequency cap + salted replication
    * already bound the reducer sizes). Reach for it when a corpus's key
    * distribution defeats the cap+salt envelope — the observed failure
    * mode (one reduce partition running 350+ s of single-threaded
    * Levenshtein while 15 threads idle) appears when scoring is fused
    * with an UN-materialized argmax chain; see the `persistScored`
    * scaladoc on `run`. */
  private[graft] def scoringSpread(pairs: DataFrame)
                                  (implicit spark: SparkSession): DataFrame =
    pairs.repartition(spark.sessionState.conf.numShufflePartitions * 4,
      col("a"), col("b"))

  /** Per-surface argmax link edge (see `run` scaladoc). Hash-aggregated
    * `min_by` on (−score, b) instead of a row_number window: identical
    * output (threshold-first commutes with argmax — the best candidate
    * above threshold IS the argmax when it passes; min of (−score, b)
    * reproduces the score DESC, b ASC tie-break), but with map-side
    * partial aggregation the full sort shuffle of the scored-pairs table —
    * the pipeline's largest intermediate — disappears. */
  private[graft] def argmaxEdges(scored: DataFrame): DataFrame =
    scored
      .filter(col("a").startsWith("s:") && col("b").startsWith("t:") &&
        col("score") >= 0.5)
      .groupBy(col("a"))
      .agg(min_by(col("b"), struct(negate(col("score")).as("ns"), col("b"))).as("b"))
      .select(col("a"), col("b"))

  /** Mention-level assignments: every mention inherits its surface's
    * component; surfaces with no edges fall back to their own surface node
    * (same-surface mentions still co-cluster). */
  private[graft] def mentionAssignments(mentions: Dataset[Mention], components: DataFrame): DataFrame = {
    val surfaceComp = components.filter(col("id").startsWith("s:"))
      .select(expr("substring(id, 3)").as("norm2"), col("component"))
    mentions.toDF()
      .select(concat(lit("m:"), col("doc_id"), lit(":"), col("start"), lit(":"), col("end")).as("id"),
        col("norm"))
      .join(surfaceComp, col("norm") === col("norm2"), "left_outer")
      .select(col("id"),
        coalesce(col("component"), concat(lit("s:"), col("norm"))).as("component"))
  }

  /** @param persistScored cache the scored-pairs table (the pipeline's
    *   largest intermediate). Keep true (the default) even when the caller
    *   never reads `Result.scored`: the cache boundary is a materialization
    *   point that pins the expensive scoring expressions (Levenshtein + JW +
    *   ngram-cosine) to exactly ONE evaluation per pair. Without it the
    *   argmax consumer's filter (`score >= 0.5`) and `min_by` sort key
    *   (`-score`) each re-derive the score from the raw norms — they sit in
    *   different operators, and codegen's common-subexpression elimination
    *   does not span operator boundaries — and the measured effect is not a
    *   constant factor but a cliff: the 400k-doc ladder job went 105 s →
    *   440-590 s at local[16] un-persisted (stack dumps showed executor
    *   threads re-running `levenshteinDistance` inside the downstream
    *   stages). The flag exists for callers that substitute their OWN
    *   materialization boundary (e.g. `runCheckpointed`, where the scored
    *   stage commits to parquet). */
  def run(mentions: Dataset[Mention], dict: Dataset[DictEntry],
          weights: PairwiseScoring.Weights = PairwiseScoring.Weights(),
          hotKeyCap: Int = 1000, persistScored: Boolean = true)
         (implicit spark: SparkSession): Result = {
    import org.apache.spark.storage.StorageLevel
    val d = unambiguousDict(dict)
    // nodes and keys feed several downstream operators (key-freq, pairs,
    // final assignment join) — without persistence every reuse re-runs doc
    // generation + the mention cogroup + minhashing, which was the dominant
    // non-scaling cost in the bench
    // r6 second session: the multi-consumer frames below are cached via
    // LAZY localCheckpoint instead of persist — same storage level, same
    // one-evaluation guarantee, but each boundary presents a LogicalRDD
    // leaf to everything above it, so the ~10 downstream actions plan
    // against small trees instead of re-analyzing the full cached lineage
    // (the dict_train lesson: the formatted plan shrank >100x and the
    // driver-side planning cost with it). `Result.release()` frees the
    // checkpoint blocks explicitly.
    val nodes = surfaceNodesOf(mentions, d).localCheckpoint(false)

    val keysN = Blocking.blockKeysWithNorm(nodes).localCheckpoint(false)
    val keys = keysN.select(col("id"), col("key"))
    val keyFreq = Blocking.keyFrequencies(keys)
    // BIPARTITE blocking: the argmax link step only consumes surface→term
    // pairs (term-term edges would merge labeled distinct entities;
    // surface-surface co-reference flows transitively through the shared
    // term/concept nodes), so only cross-side pairs are generated —
    // measured ~10× fewer pairs than the self-join at 100k docs
    val pairs = Blocking.candidatePairsBipartite(
      keysN.filter(col("id").startsWith("s:")),
      keysN.filter(col("id").startsWith("t:")), hotKeyCap)
    val scoredBase = PairwiseScoring.scoreInline(pairs, weights)
    val scored =
      if (persistScored) scoredBase.persist(StorageLevel.MEMORY_AND_DISK)
      else scoredBase
    // Linking edges use BEST-CANDIDATE semantics (the reference's top-k →
    // threshold → pick-best shape, `2nd Place/submission/infer.py:184-232`,
    // `3rd Place/src/snomedctentitylinking.py:603-646`): each surface keeps
    // only its highest-scoring dictionary term, if above threshold. An
    // absolute threshold alone cannot separate near-identical cross-concept
    // strings ("localized X" vs "generalized X"); argmax can, because the
    // surface's own term always outscores the confusable one. Surface-surface
    // scores remain in `scored` (pair diagnostics) but never form edges —
    // transitivity through concept nodes links co-referent surfaces.
    val simEdges = argmaxEdges(scored)
    // STAR CONTRACTION before the transitive closure: the t:→c: edges are
    // a function (unambiguousDict gives every term exactly ONE concept), so
    // rewriting each s:→t: link to s:→c: and unioning the term assignments
    // back AFTER the loop yields identical components (each component holds
    // at most one c:, which is also its lexicographic min — "c:" < "s:" <
    // "t:"), but the iterated edge set has diameter 1 instead of 2+: CC
    // converges in ~1 round instead of ~10, removing most of the stage
    // barriers that capped pipeline scaling efficiency (VERDICT r2 #5).
    // Pinned identical to CC over the uncontracted union in LinkageF1Spec.
    val termConcept = d.select(concat(lit("t:"), col("mention")).as("b"),
      concat(lit("c:"), col("concept_id")).as("concept_node"))
    // termConcept is dict-scale (one row per unambiguous dictionary term,
    // corpus-independent) — broadcast it so the contraction join never
    // shuffles the argmax edges
    val contracted = simEdges.join(broadcast(termConcept), "b")
      .select(col("a"), col("concept_node").as("b"))
    val components = ConnectedComponents(contracted)
      .union(termConcept.select(col("b").as("id"), col("concept_node").as("component")))
      .localCheckpoint(false)

    val nodeAssignments = nodes.select(col("id"))
      .join(components, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    // r6 (guide §5): persist the assignments — the F1 gate joins them TWICE
    // (pair side a and side b) and the clusters query counts them first;
    // un-persisted, each consumer re-ran the mention/node assignment joins.
    val assignments = mentionAssignments(mentions, components).union(nodeAssignments)
      .localCheckpoint(false)

    // mention-level block keys (for the F1 universe / skew diagnostics):
    // PERSISTED — the F1 gate consumes this table twice (universe self-join
    // + count); unpersisted it re-ran the mention extraction and the
    // norm→key distinct per consumer (VERDICT r2 #3)
    val mentionKeys = mentions.toDF()
      .select(concat(lit("m:"), col("doc_id"), lit(":"), col("start"), lit(":"), col("end")).as("id"),
        col("norm").as("mnorm"))
      .join(keysN.select(col("norm"), col("key")).distinct(), col("mnorm") === col("norm"))
      .select(col("id"), col("key"))
      .localCheckpoint(false)
    Result(assignments, scored, mentionKeys, keyFreq, nodeKeys = keys,
      persisted = Seq(nodes, keysN, components, mentionKeys, assignments) ++
        (if (persistScored) Seq(scored) else Nil))
  }

  /** Checkpoint-resumable variant: every stage commits to `workDir` through
    * a StageRunner (parquet + per-partition lineage + atomic manifest); a
    * rerun resumes from the last committed stage (north rule R1/R2). */
  def runCheckpointed(mentions: Dataset[Mention], dict: Dataset[DictEntry],
                      workDir: String,
                      weights: PairwiseScoring.Weights = PairwiseScoring.Weights(),
                      hotKeyCap: Int = 1000,
                      failAfterStage: Option[String] = None)
                     (implicit spark: SparkSession): (Result, StageRunner) = {
    val runner = new StageRunner(workDir, failAfterStage,
      config = s"weights=$weights,hotKeyCap=$hotKeyCap")
    val d = runner.stage("dict") { unambiguousDict(dict) }
    val nodes = runner.stage("nodes") { surfaceNodesOf(mentions, d) }
    val keysN = runner.stage("block_keys") { Blocking.blockKeysWithNorm(nodes) }
    val keyFreq = runner.stage("key_freq") {
      Blocking.keyFrequencies(keysN.select(col("id"), col("key")))
    }
    val pairs = runner.stage("pairs") {
      Blocking.candidatePairsBipartite(
        keysN.filter(col("id").startsWith("s:")),
        keysN.filter(col("id").startsWith("t:")), hotKeyCap)
    }
    val scored = runner.stage("scored") { PairwiseScoring.scoreInline(pairs, weights) }
    // same star contraction as `run` (see there): the committed "edges"
    // artifact is the contracted surface→concept edge set
    val termConcept = d.select(concat(lit("t:"), col("mention")).as("b"),
      concat(lit("c:"), col("concept_id")).as("concept_node"))
    val edges = runner.stage("edges") {
      argmaxEdges(scored).join(broadcast(termConcept), "b")
        .select(col("a"), col("concept_node").as("b"))
    }
    val components = runner.stage("components") {
      ConnectedComponents(edges)
        .union(termConcept.select(col("b").as("id"), col("concept_node").as("component")))
    }
    val assignments = runner.stage("assignments") {
      val nodeAssignments = nodes.select(col("id"))
        .join(components, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      mentionAssignments(mentions, components).union(nodeAssignments)
    }
    val mentionKeys = mentions.toDF()
      .select(concat(lit("m:"), col("doc_id"), lit(":"), col("start"), lit(":"), col("end")).as("id"),
        col("norm").as("mnorm"))
      .join(keysN.select(col("norm"), col("key")).distinct(), col("mnorm") === col("norm"))
      .select(col("id"), col("key"))
    (Result(assignments, scored, mentionKeys, keyFreq,
      nodeKeys = keysN.select(col("id"), col("key"))), runner)
  }

  /** Mention → concept link table: mentions clustered with a "c:" node. */
  def mentionConcepts(r: Result): DataFrame = {
    val conceptOfComponent = r.assignments
      .filter(col("id").startsWith("c:"))
      .select(col("component"), substring(col("id"), 3, 32).cast("long").as("concept_id"))
    r.assignments.filter(col("id").startsWith("m:"))
      .join(conceptOfComponent, "component")
      .select(col("id").as("mention_id"), col("concept_id"))
  }
}
