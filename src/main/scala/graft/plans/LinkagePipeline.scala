package graft.plans

import graft.functions.{LongHashSet, LongKeyMap, TextFns}
import graft.model._
import graft.operators._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The end-to-end record-linkage pipeline (north rule / SURVEY §7.1):
  *
  *   mentions ∪ dictionary-term nodes
  *     → blocking keys (exact + sorted-neighborhood + MinHash-LSH bands)
  *     → candidate pairs (hot keys frequency-capped)
  *     → pairwise scoring (JW + Levenshtein + cosine, logistic fusion)
  *     → per-surface argmax edge (score ≥ 0.5) to the best term's concept
  *     → transitive clustering
  *     → mention → cluster assignment
  *
  * Node id scheme: "m:<doc:start:end>" mentions (assignment output only),
  * "s:<norm>" distinct mention surfaces (the clustering nodes), "t:<norm>"
  * dictionary terms, "c:<conceptId>" concepts. Term-term pairs are never
  * scored into edges — dictionary terms carry known distinct concepts (the
  * reference never merges concepts; its dict keeps only unambiguous keys,
  * `1st Place/src/mimic_train.py:342-345`). A cluster containing a "c:" node
  * is that concept's entity; clusters without one are unlinked-mention groups.
  *
  * Two paths, one answer. The term side is dictionary-scale, so [[run]]
  * collects the dictionary under the gazetteer's cap
  * (`DictionaryMatch.MaxBroadcastDictEntries` = 20M rows), builds the
  * unambiguous terms and their block-key index on the driver
  * ([[TermIndex]]) and broadcasts them (SparkER's broadcast blocking index,
  * EDBT 2019). Spark then runs three corpus-scale steps: the distinct
  * surfaces; one aggregation that counts the surface side's rows of the
  * index's keys for the hot-key cap; and one narrow pass in which each
  * surface looks up its candidate terms, applies the length slack, scores
  * them and emits its argmax edge straight to the concept node. On this
  * path the transitive clustering is a closed form: the edges are a
  * function from surfaces to concepts, so each component is a star
  * labelled by its concept node ("c:" < "s:"; a surface with no edge is
  * its own component), and the edge rows are the component relation.
  * While they fit `ConnectedComponents.LocalSolveCap` (2M rows) they are
  * collected, and the mention, surface and term assignments are lookups
  * in them. Above either cap runs today's exact path: above the
  * dictionary cap the operator chain ([[Chain]]: shuffled blocking,
  * scoring, argmax, contraction join, `ConnectedComponents` and
  * assignment joins), above the component cap the assignment joins. The
  * chain is also the body of [[runCheckpointed]], and the reference
  * `LinkBroadcastSpec` pins [[run]] to; a [[Result]]'s diagnostic frames
  * are built from the chain on first read.
  *
  * Driver memory on the broadcast path: the term index measured 330–680 B
  * per unambiguous term (Spark's `SizeEstimator`, Synth dictionaries of
  * 4.7k–219k terms; ~18 key rows per term, less per term the more keys the
  * terms share): ≈ 1.4 GB per 2M terms and up to ≈ 14 GB at the 20M-row
  * cap, plus the collected rows while it is built and one copy per
  * executor. The collected component map holds ≤ 2M entries (≈ 200 B
  * each with their strings, ≈ 0.4 GB). The index build took 2.7 s for
  * 219k terms on a 4-core driver (key hashing runs on every core).
  */
object LinkagePipeline {

  /** A run's `assignments` (id, component) and its diagnostic frames, built
    * on first read, once per Result and its copies: `scored` (a, b, jw,
    * lev_ratio, cos, score), `keyFreq` (key, freq) skew report and
    * `nodeKeys` (id, key) node-level keys, keyFreq's input. */
  final class Result private[plans] (val assignments: DataFrame, val persisted: Seq[DataFrame],
                                     diagnostics: Diagnostics) {
    def scored: DataFrame = diagnostics.frames.scored
    def keyFreq: DataFrame = diagnostics.frames.keyFreq
    def nodeKeys: DataFrame = diagnostics.frames.nodeKeys
    def copy(persisted: Seq[DataFrame] = persisted): Result = new Result(assignments, persisted, diagnostics)
    /** Frees `persisted` (what `run`'s owner handed over) and what the
      * diagnostics have materialised so far. Call it once the outputs are
      * materialised or the Result is evicted; else cut blocks wait for GC. */
    def release(): Unit = (persisted ++ diagnostics.owner.handOff()).foreach(Materialize.free)
  }

  object Result {
    def apply(assignments: DataFrame, scored: DataFrame, keyFreq: DataFrame,
              nodeKeys: DataFrame = null, persisted: Seq[DataFrame] = Seq.empty): Result =
      new Result(assignments, persisted, new Diagnostics(_ => new Frames(scored, keyFreq, nodeKeys)))
  }

  /** The diagnostic frames; `scored` is built on its own first read. */
  private[plans] final class Frames(scoredF: => DataFrame, val keyFreq: DataFrame, val nodeKeys: DataFrame) {
    lazy val scored: DataFrame = scoredF
  }

  /** [[Result]]'s diagnostic frames, built on first read through `owner`. */
  private[plans] final class Diagnostics(build: Materialize.Owner => Frames) {
    val owner = new Materialize.Owner
    lazy val frames: Frames = build(owner)
  }

  /** Extract mention nodes for labeled spans — the doc text is never
    * replicated per mention (one pass per doc, J5 semantics with the
    * substring done doc-side). */
  def mentionsFromSpans(docs: Dataset[Doc], spans: Dataset[GoldAnnotation])
                       (implicit spark: SparkSession): Dataset[Mention] = {
    import spark.implicits._
    mentionsFromText(docs.map(d => (d.doc_id, d.text)), spans)
  }

  /** Same extraction over a flat (doc_id, text) table — the Iceberg/parquet
    * doc-table scan shape — as a broadcast-label pass ([[perDoc]]). */
  def mentionsFromText(docsText: Dataset[(String, String)], spans: Dataset[GoldAnnotation])
                      (implicit spark: SparkSession): Dataset[Mention] =
    mentionsFromText(docsText, spans, LabelsCap)

  private[graft] def mentionsFromText(docsText: Dataset[(String, String)], spans: Dataset[GoldAnnotation],
                                      labelsCap: Long)(implicit spark: SparkSession): Dataset[Mention] = {
    import spark.implicits._
    perDoc(docsText, spans, ConnectedComponents.collectWithin(spans, labelsCap).map(broadcastSpans))(
      (docId, text, ss) => docMentions(docId, text, ss.iterator))
  }

  /** Max gold spans broadcast grouped by doc id ([[perDoc]]): labels are
    * labelled-scale (the reference trains on 204 notes), docs corpus-scale.
    * A span measured 74–76 B so grouped (`SizeEstimator`, Synth golds of
    * 40–4,000 docs, ~6 per doc, each doc id its own string as collected):
    * ≈ 0.16 GB at the cap, plus one copy per executor. */
  private[graft] val LabelsCap: Long = 1L << 21

  private[graft] type SpansByDoc = Broadcast[Map[String, IndexedSeq[GoldAnnotation]]]

  private[graft] def broadcastSpans(golds: Array[GoldAnnotation])(implicit spark: SparkSession): SpansByDoc =
    spark.sparkContext.broadcast(golds.toIndexedSeq.groupBy(_.doc_id))

  /** The per-doc kernel of every doc⋈gold pass: `f(doc_id, text, spans)`
    * once per doc row — each row is its own document — with every span of
    * its doc id (none if it has none). Spans whose doc id has no doc row
    * reach no call; a null doc id meets the null-id spans. With `byDoc` it
    * is a narrow pass over the docs; without it (above the labels cap) the
    * exact fallback cogroups docs and spans by doc id. */
  private[graft] def perDoc[T: Encoder](docs: Dataset[(String, String)], spans: Dataset[GoldAnnotation],
                                        byDoc: Option[SpansByDoc])
                                       (f: (String, String, IndexedSeq[GoldAnnotation]) => Iterator[T])
                                       (implicit spark: SparkSession): Dataset[T] = {
    import spark.implicits._
    byDoc match {
      case Some(b) => docs.flatMap(d => f(d._1, d._2, b.value.getOrElse(d._1, IndexedSeq.empty)))
      case None => docs.groupByKey(_._1).cogroup(spans.groupByKey(_.doc_id)) { (docId, dIt, sIt) =>
        val ss = sIt.toIndexedSeq
        dIt.flatMap(d => f(docId, d._2, ss))
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
  private[graft] def surfaceNodesOf(mentions: Dataset[Mention], d: DataFrame): DataFrame =
    nodesOf(mentions.toDF().select(col("norm")), d)

  /** Surface nodes of the distinct values of `norms`' `norm` column ∪ the
    * term nodes of `d`. */
  private def nodesOf(norms: DataFrame, d: DataFrame): DataFrame = {
    val surfaceNodes = norms.distinct()
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
    * with an UN-materialized argmax chain; see `inMemory`. */
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

  /** Links `mentions` against `dict` (see the object doc for the two
    * paths). Every mention, surface and term gets an assignment; the
    * `scored`, `keyFreq` and `nodeKeys` frames are built by the operator
    * chain on first read.
    *
    * Linking edges use BEST-CANDIDATE semantics (the reference's top-k →
    * threshold → pick-best shape, `2nd Place/submission/infer.py:184-232`,
    * `3rd Place/src/snomedctentitylinking.py:603-646`): each surface keeps
    * only its highest-scoring dictionary term, if above threshold. An
    * absolute threshold alone cannot separate near-identical cross-concept
    * strings ("localized X" vs "generalized X"); argmax can, because the
    * surface's own term always outscores the confusable one. */
  def run(mentions: Dataset[Mention], dict: Dataset[DictEntry],
          weights: PairwiseScoring.Weights = PairwiseScoring.Weights(),
          hotKeyCap: Int = 1000)
         (implicit spark: SparkSession): Result = {
    import spark.implicits._
    ConnectedComponents.collectWithin(dict.toDF().select(col("mention"), col("concept_id")).as[(String, Long)],
      DictionaryMatch.MaxBroadcastDictEntries) match {
      case Some(terms) => runBroadcast(mentions, dict, TermIndex(terms), weights, hotKeyCap,
        ConnectedComponents.LocalSolveCap)
      case None => runChain(mentions, dict, weights, hotKeyCap)
    }
  }

  /** [[run]] above the dictionary cap: the operator chain, cut in memory. */
  private[graft] def runChain(mentions: Dataset[Mention], dict: Dataset[DictEntry],
                              weights: PairwiseScoring.Weights, hotKeyCap: Int)
                             (implicit spark: SparkSession): Result = Materialize.scope { m =>
    val chain = new Chain(mentions, mentions.toDF().select(col("norm")), dict, weights,
      hotKeyCap, inMemory(m, checkpointed = Set("nodes", "block_keys", "components", "assignments")))
    val assignments = chain.assignments()
    Result(assignments, chain.scored, chain.keyFreq, chain.nodeKeys, persisted = m.handOff())
  }

  /** The dictionary-scale path of [[run]]: the distinct surfaces,
    * hash-partitioned on the norm at the session's shuffle-partition count
    * so the hot-key and score passes run one task per partition; the score
    * pass's (surface, concept node) rows are the component relation,
    * collected while it has at most `componentCap` rows. */
  private[graft] def runBroadcast(mentions: Dataset[Mention], dict: Dataset[DictEntry],
                                  ix: TermIndex, weights: PairwiseScoring.Weights,
                                  hotKeyCap: Int, componentCap: Long)
                                 (implicit spark: SparkSession): Result = Materialize.scope { m =>
    import spark.implicits._
    val sc = spark.sparkContext
    val ixB = sc.broadcast(ix)
    val surfaces = m.cut(mentions.toDF().select(col("norm"))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("norm"))
      .distinct().as[String], eager = false)
    val hot = {
      val rows = surfaces.flatMap(n => ixB.value.sharedKeys(n)).toDF("key")
        .groupBy(col("key")).agg(count(lit(1))).collect()
      val set = new LongHashSet(rows.length)
      rows.foreach { r =>
        if (r.getLong(1) + ix.keyRows(r.getLong(0)) > hotKeyCap) set.add(r.getLong(0))
      }
      sc.broadcast(set)
    }
    val score: (String, String) => Double = PairwiseScoring.scorePure(_, _, weights)
    // the argmax edges are the component relation (see the object doc);
    // the gate scores every partition in one job
    val components = surfaces.flatMap { n =>
      val t = ixB.value.best(n, hot.value, score)
      if (t < 0) None else Some(("s:" + n, ixB.value.conceptNodes(t)))
    }.toDF("id", "component")
    val termConcept = ConnectedComponents.parallelizeLocal(
      ix.ids.indices.map(i => (ix.ids(i), ix.conceptNodes(i)))).toDF("id", "component")
    val assignments = m.cut(ConnectedComponents.collectWithin(components, componentCap) match {
      case Some(rows) =>
        val comp = new java.util.HashMap[String, String](math.max(16, rows.length * 2))
        rows.foreach(r => comp.put(r.getString(0), r.getString(1)))
        val compB = sc.broadcast(comp)
        def componentOf(norm: String): String =
          if (norm == null) null else { val id = "s:" + norm; compB.value.getOrDefault(id, id) }
        mentions.toDF().select(col("doc_id"), col("start"), col("end"), col("norm"))
          .as[(String, Int, Int, String)]
          .map { case (doc, s, e, n) => (if (doc == null) null else s"m:$doc:$s:$e", componentOf(n)) }
          .union(surfaces.map(n => ("s:" + n, componentOf(n))))
          .toDF("id", "component")
          .union(termConcept)
      case None =>
        // above the cap the assignment joins read the rows through a cut
        assignmentsOf(mentions,
          surfaces.select(concat(lit("s:"), col("norm")).as("id")).union(termConcept.select(col("id"))),
          m.cut(components, eager = false).union(termConcept))
    }, eager = false)
    new Result(assignments, m.handOff(), new Diagnostics(d => {
      val chain = new Chain(mentions, surfaces.toDF("norm"), dict, weights, hotKeyCap,
        inMemory(d, checkpointed = Set.empty))
      new Frames(chain.scored, chain.keyFreq, chain.nodeKeys)
    }))
  }

  /** The operator chain — nodes → block keys → candidate pairs → scoring
    * → argmax edges → star contraction → components → assignment joins —
    * the exact path of [[run]] above the dictionary cap and the body of
    * [[runCheckpointed]]. Each named stage goes through `cut`, which
    * decides its materialisation; `scored` reaches its cut on first use,
    * so a Result that never reads it caches nothing. The frames are lazy
    * until an action or a cut evaluates them; [[assignments]] runs the
    * clustering. The surface nodes are the distinct `norm`s of `norms`:
    * the mentions', or [[run]]'s own cut of them, so that the lazy
    * frames of its Result read no frame it does not own. */
  private final class Chain(mentions: Dataset[Mention], norms: DataFrame, dict: Dataset[DictEntry],
                            weights: PairwiseScoring.Weights, hotKeyCap: Int, cut: Cut)
                           (implicit spark: SparkSession) {
    val d: DataFrame = cut("dict")(unambiguousDict(dict))
    val nodes: DataFrame = cut("nodes")(nodesOf(norms, d))
    val keysN: DataFrame = cut("block_keys")(Blocking.blockKeysWithNorm(nodes))
    val nodeKeys: DataFrame = keysN.select(col("id"), col("key"))
    val keyFreq: DataFrame = cut("key_freq")(Blocking.keyFrequencies(nodeKeys))
    // BIPARTITE blocking: the argmax link step only consumes surface→term
    // pairs (term-term edges would merge labeled distinct entities;
    // surface-surface co-reference flows transitively through the shared
    // term/concept nodes), so only cross-side pairs are generated —
    // measured ~10× fewer pairs than the self-join at 100k docs
    val pairs: DataFrame = cut("pairs")(Blocking.candidatePairsBipartite(
      keysN.filter(col("id").startsWith("s:")),
      keysN.filter(col("id").startsWith("t:")), hotKeyCap))
    lazy val scored: DataFrame = cut("scored")(PairwiseScoring.scoreInline(pairs, weights))

    def assignments(): DataFrame = {
      // STAR CONTRACTION before the transitive closure: the t:→c: edges are
      // a function (unambiguousDict gives every term exactly ONE concept),
      // so rewriting each s:→t: link to s:→c: and unioning the term
      // assignments back AFTER the loop yields identical components (each
      // component holds at most one c:, which is also its lexicographic min
      // — "c:" < "s:" < "t:"), but the iterated edge set has diameter 1
      // instead of 2+: CC converges in ~1 round instead of ~10 (VERDICT r2
      // #5). Pinned identical to CC over the uncontracted union in
      // LinkageF1Spec. termConcept is dict-scale — broadcast it so the
      // contraction join never shuffles the argmax edges.
      val termConcept = d.select(concat(lit("t:"), col("mention")).as("b"),
        concat(lit("c:"), col("concept_id")).as("concept_node"))
      val links = argmaxEdges(scored) // the "scored" stage runs before "edges"
      val edges = cut("edges") {
        links.join(broadcast(termConcept), "b").select(col("a"), col("concept_node").as("b"))
      }
      val components = cut("components") {
        ConnectedComponents(edges)
          .union(termConcept.select(col("b").as("id"), col("concept_node").as("component")))
      }
      cut("assignments")(assignmentsOf(mentions, nodes.select(col("id")), components))
    }
  }

  /** A named materialisation boundary of the [[Chain]]. */
  private type Cut = String => (=> DataFrame) => DataFrame

  /** [[run]]'s cuts, held by `m`: a lazy cache of "scored", which pins the
    * scoring expressions to ONE evaluation per pair (without it the argmax
    * filter `score >= 0.5` and `min_by` key `-score` each re-derive the
    * score, as codegen's CSE does not span operators: the 400k-doc ladder
    * job went 105 s → 440-590 s at local[16]); and a lazy cut of the
    * `checkpointed` stages, which several consumers read: one evaluation,
    * and a LogicalRDD leaf to plan against (the dict_train lesson: the
    * formatted plan shrank >100x). */
  private def inMemory(m: Materialize.Owner, checkpointed: Set[String]): Cut = stage => df =>
    if (stage == "scored") m.cache(df) else if (checkpointed(stage)) m.cut(df, eager = false) else df

  /** Mention assignments ∪ node assignments: every node gets its
    * component, or itself when it is in no component. */
  private def assignmentsOf(mentions: Dataset[Mention], nodeIds: DataFrame,
                            components: DataFrame): DataFrame =
    mentionAssignments(mentions, components).union(nodeIds
      .join(components, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component")))

  /** Checkpoint-resumable variant: every stage of the [[Chain]] commits to
    * `workDir` through a StageRunner (parquet + per-partition lineage +
    * atomic manifest); a rerun resumes from the last committed stage
    * (north rule R1/R2). */
  def runCheckpointed(mentions: Dataset[Mention], dict: Dataset[DictEntry],
                      workDir: String,
                      weights: PairwiseScoring.Weights = PairwiseScoring.Weights(),
                      hotKeyCap: Int = 1000,
                      failAfterStage: Option[String] = None)
                     (implicit spark: SparkSession): (Result, StageRunner) = {
    val runner = new StageRunner(workDir, failAfterStage,
      config = s"weights=$weights,hotKeyCap=$hotKeyCap")
    val chain = new Chain(mentions, mentions.toDF().select(col("norm")), dict, weights, hotKeyCap,
      stage => df => runner.stage(stage)(df))
    val assignments = chain.assignments()
    (Result(assignments, chain.scored, chain.keyFreq, nodeKeys = chain.nodeKeys), runner)
  }

  /** The dictionary side of [[run]]'s broadcast path, built on the driver
    * from the collected dictionary: the unambiguous terms
    * ([[unambiguousDict]] transcribed) sorted by their "t:" ids in Spark's
    * UTF-8 binary order — the order `argmaxEdges`' `min_by` breaks score
    * ties in, which differs from `String.compareTo` for supplementary
    * characters — so a tie goes to the smaller index; and the block-key
    * index: key → one term index per (term, key) row of
    * `Blocking.blockKeysWithNorm`, the term side of the key table. */
  private[graft] final class TermIndex(val ids: Array[String], val norms: Array[String],
                                       val conceptNodes: Array[String],
                                       postings: LongKeyMap[Array[Int]]) extends Serializable {
    private val lengths = norms.map(n => UTF8String.fromString(n).numChars)

    /** The term-side rows of key `k`. */
    def keyRows(k: Long): Int = {
      val p = postings.get(k)
      if (p == null) 0 else p.length
    }

    /** The surface's key rows whose key some term carries. */
    def sharedKeys(norm: String): Iterator[Long] =
      Blocking.keyHashesFor(norm).iterator.filter(k => postings.get(k) != null)

    /** The surface's argmax term, or -1: among the terms sharing a key
      * outside `hot` whose code-point length is within `Blocking.LenSlack`
      * (the bipartite blocking's candidates), the highest `score` ≥ 0.5,
      * the smaller index on equal scores. */
    def best(norm: String, hot: LongHashSet, score: (String, String) => Double): Int = {
      val len = UTF8String.fromString(norm).numChars
      var cands = new Array[Int](32)
      var n = 0
      Blocking.keyHashesFor(norm).foreach { k =>
        val p = if (hot.contains(k)) null else postings.get(k)
        if (p != null) p.foreach { t =>
          if (math.abs(lengths(t) - len) <= Blocking.LenSlack) {
            if (n == cands.length) cands = java.util.Arrays.copyOf(cands, 2 * n)
            cands(n) = t
            n += 1
          }
        }
      }
      java.util.Arrays.sort(cands, 0, n)
      var best = -1
      var bestScore = 0.0
      var i = 0
      while (i < n) {
        val t = cands(i)
        if (i == 0 || t != cands(i - 1)) {
          val s = score(norm, norms(t))
          if (s >= 0.5 && (best < 0 || s > bestScore)) { best = t; bestScore = s }
        }
        i += 1
      }
      best
    }
  }

  private[graft] object TermIndex {
    /** From collected (mention, concept_id) dictionary rows. */
    def apply(dict: Array[(String, Long)]): TermIndex = {
      val concept = new java.util.HashMap[String, java.lang.Long]()
      val ambiguous = new java.util.HashSet[String]()
      dict.foreach { case (m, c) =>
        require(m != null, "LinkagePipeline.run: the dictionary has a null mention")
        val prev = concept.putIfAbsent(m, c)
        if (prev != null && prev.longValue != c) ambiguous.add(m)
      }
      val terms = concept.entrySet.toArray(Array.empty[java.util.Map.Entry[String, java.lang.Long]])
        .filterNot(e => ambiguous.contains(e.getKey))
        .map(e => (UTF8String.fromString("t:" + e.getKey), e.getKey, "c:" + e.getValue))
        .sortWith((x, y) => x._1.compareTo(y._1) < 0)
      val norms = terms.map(_._2)
      val keys = new Array[Array[Long]](norms.length)
      java.util.Arrays.parallelSetAll[Array[Long]](keys, i => Blocking.keyHashesFor(norms(i)))
      val lists = new java.util.HashMap[java.lang.Long, scala.collection.mutable.ArrayBuilder.ofInt]()
      norms.indices.foreach { i =>
        keys(i).foreach { k =>
          lists.computeIfAbsent(k, _ => new scala.collection.mutable.ArrayBuilder.ofInt) += i
        }
      }
      val postings = new LongKeyMap[Array[Int]](lists.size)
      lists.forEach((k, b) => postings.put(k, b.result()))
      new TermIndex(terms.map(_._1.toString), norms, terms.map(_._3), postings)
    }
  }
}
