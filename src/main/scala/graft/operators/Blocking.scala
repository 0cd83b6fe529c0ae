package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Candidate blocking (north rule: char-n-gram MinHash-LSH + sorted-
  * neighborhood keys; the Spark-first generalization of the reference's
  * gazetteer containment join J7).
  *
  * A mention emits:
  *   - "ex:<norm>"        exact normalized key (the reference's dict key)
  *   - "st:<sorted toks>" sorted-neighborhood key (stop-words dropped) —
  *                        permutation-invariant ("fracture of acute femur" ≡
  *                        "acute femur fracture")
  *   - "mh:<band>:<h>"    MinHash-LSH band keys over char 3-grams
  *                        (k=64 sig, 16 bands × 4 rows) — typo-tolerant
  *
  * Skew strategy (SURVEY §4): blocking keys are Zipfian. We (1) drop keys
  * hotter than `hotKeyCap` exactly like the reference's frequency blacklist
  * (`1st Place/src/mimic_train.py:30-42` drops unigrams seen >2000×), and
  * (2) leave residual skew to AQE's skew-join splitting. The per-key
  * frequency table doubles as the lineage/metrics skew report.
  */
object Blocking {

  val stopWords: Set[String] = Set("of", "the", "a", "an", "in", "on", "and", "or", "to")

  val MinHashK = 64
  val RowsPerBand = 4

  /** Max code-point length difference of a candidate pair: pairs further
    * apart can never clear the match threshold. */
  val LenSlack = 10

  /** Pure per-string key generation (driver oracle + executor). */
  def keysFor(norm: String): Seq[String] = {
    val toks = norm.split(' ').filter(t => t.nonEmpty && !stopWords.contains(t))
    val sorted = toks.sorted.mkString(" ")
    val mh = TextFns.bandKeys(TextFns.minHashSignature(norm, MinHashK), RowsPerBand)
    (Seq("ex:" + norm, "st:" + sorted) ++ mh).distinct
  }

  /** Hashed key generation — the production path: the same key FAMILIES as
    * `keysFor` (exact / sorted-neighborhood / MinHash bands) as 64-bit
    * hashes, domain-separated by seed, so the key table and every
    * downstream shuffle carries 8-byte longs instead of strings. A band
    * hash collision only adds a candidate pair that exact scoring then
    * rejects — blocking keys never decide semantics. */
  def keyHashesFor(norm: String): Array[Long] = {
    val toks = norm.split(' ').filter(t => t.nonEmpty && !stopWords.contains(t))
    val sorted = toks.sorted.mkString(" ")
    val sig = TextFns.minHashSignature(norm, MinHashK)
    val bands = MinHashK / RowsPerBand
    val out = new Array[Long](2 + bands)
    // poly-family key hashes (r5; previously murmur): exactly replayable in
    // the linkage_clusters / linkage_pairwise_f1 DuckDB oracles, which
    // re-derive the whole blocking universe from exported norms
    out(0) = TextFns.polyKeyHash(norm, 0x45781L)   // "ex:"
    out(1) = TextFns.polyKeyHash(sorted, 0x57a9dL) // "st:"
    var b = 0
    while (b < bands) {
      var h = 0xcbf29ce484222325L ^ (b * 0x9e3779b97f4a7c15L)
      var r = 0
      while (r < RowsPerBand) {
        h ^= sig(b * RowsPerBand + r)
        h *= 0x100000001b3L
        r += 1
      }
      out(2 + b) = h
      b += 1
    }
    out
  }

  /** Key-frequency table — the skew/lineage metric and the hot-key filter. */
  def keyFrequencies(keys: DataFrame): DataFrame =
    keys.groupBy("key").agg(count(lit(1)).as("freq"))

  /** Candidate pairs: self-equi-join on block key, canonical a < b, distinct.
    *
    * Skew handling, in order:
    *  1. keys hotter than `hotKeyCap` are DROPPED (frequency blacklist, the
    *     reference's semantics for ultra-frequent terms) — their O(freq²)
    *     blowup never materializes;
    *  2. keys with freq in (saltThreshold, hotKeyCap] go through SALTED
    *     REPLICATION: the left side is hashed into `salts` sub-keys, the
    *     right side replicated to every sub-key — pair semantics identical
    *     (each (a,b) joins exactly once, via a's salt), but one hot key's
    *     work spreads over `salts` reducers instead of one straggler;
    *  3. residual imbalance is left to AQE skew-join splitting.
    */
  def candidatePairs(keys: DataFrame, hotKeyCap: Int = 1000,
                     saltThreshold: Int = 300, salts: Int = 8)
                    (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val freq = keyFrequencies(keys).filter(col("freq") <= hotKeyCap)
    val pruned = keys.join(freq, "key")
      .select(col("key"), col("id"), col("freq"))

    val cold = pruned.filter(col("freq") <= saltThreshold).select(col("key"), col("id"))
    val coldPairs = cold.toDF("key", "a").join(cold.toDF("key", "b"), "key")
      .filter(col("a") < col("b")).select(col("a"), col("b"))

    // salting joins on (key, salt) — type-agnostic (string or hashed keys)
    val hot = pruned.filter(col("freq") > saltThreshold).select(col("key"), col("id"))
    val saltedLeft = hot.select(col("key"),
      pmod(xxhash64(col("id")), lit(salts)).as("salt"), col("id").as("a"))
    val replicatedRight = hot.select(col("key"), col("id").as("b"))
      .crossJoin(spark.range(salts.toLong).toDF("salt"))
      .select(col("key"), col("salt"), col("b"))
    val hotPairs = saltedLeft.join(replicatedRight, Seq("key", "salt"))
      .filter(col("a") < col("b")).select(col("a"), col("b"))

    coldPairs.union(hotPairs).distinct()
  }

  /** Key table that carries the norm alongside (id, key) — lets the pair
    * join emit (a, b, norm_a, norm_b) directly, so scoring needs NO second
    * join against a node table: the candidate path becomes
    * key-join → length prefilter → narrow scoring — one pair shuffle
    * instead of three (distinct + two norm joins). */
  def blockKeysWithNorm(nodes: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    nodes.select(col("id"), col("norm")).as[(String, String)]
      .flatMap { case (id, norm) => keyHashesFor(norm).map(k => (id, k, norm)) }
      .toDF("id", "key", "norm")
  }

  /** BIPARTITE candidate pairs: left keys × right keys on the block key —
    * for consumers that only ever use cross-side pairs (the linkage
    * pipeline's argmax links surfaces to dictionary TERMS; surface-surface
    * and term-term pairs never become edges). Generating only the cross
    * pairs cuts the pair/scoring volume ~10× vs the self-join (measured:
    * 18.5M → ~2M pairs at 100k docs) and removes the a<b dedup concern.
    * Same hot-key capping and salting as the self-join (left side salted,
    * right side replicated). */
  def candidatePairsBipartite(keysLeft: DataFrame, keysRight: DataFrame,
                              hotKeyCap: Int = 1000,
                              saltThreshold: Int = 300, salts: Int = 8,
                              lenSlack: Int = LenSlack)
                             (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val freq = keyFrequencies(
      keysLeft.select(col("id"), col("key"))
        .union(keysRight.select(col("id"), col("key"))))
      .filter(col("freq") <= hotKeyCap)
    val lenOk = abs(length(col("norm_a")) - length(col("norm_b"))) <= lenSlack
    val l = keysLeft.join(freq, "key")
      .select(col("key"), col("id").as("a"), col("norm").as("norm_a"), col("freq"))
    val r = keysRight.join(freq, "key")
      .select(col("key"), col("id").as("b"), col("norm").as("norm_b"), col("freq"))

    val coldPairs = l.filter(col("freq") <= saltThreshold).drop("freq")
      .join(r.filter(col("freq") <= saltThreshold).drop("freq"), "key")
      .filter(lenOk)
      .select(col("a"), col("b"), col("norm_a"), col("norm_b"))

    val hotL = l.filter(col("freq") > saltThreshold).drop("freq")
      .select(col("key"), pmod(xxhash64(col("a")), lit(salts)).as("salt"),
        col("a"), col("norm_a"))
    val hotR = r.filter(col("freq") > saltThreshold).drop("freq")
      .crossJoin(spark.range(salts.toLong).toDF("salt"))
      .select(col("key"), col("salt"), col("b"), col("norm_b"))
    val hotPairs = hotL.join(hotR, Seq("key", "salt"))
      .filter(lenOk)
      .select(col("a"), col("b"), col("norm_a"), col("norm_b"))

    // no distinct: measured duplicate factor is only ~1.35× (most pairs
    // arrive via one or two shared keys) and the downstream argmax is
    // duplicate-tolerant — a full-row shuffle costs more than re-scoring
    // the duplicates
    coldPairs.union(hotPairs)
  }
}
