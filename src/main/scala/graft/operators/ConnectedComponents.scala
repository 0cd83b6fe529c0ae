package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Transitive closure via alternating large-star / small-star (the public
  * MapReduce CC algorithm of Kiveris et al., "Connected Components in
  * MapReduce and Beyond"). Converges in O(log n) rounds — the reference's
  * recursive NetworkX traversals (`2nd Place/src/snomed_graph.py:212-256`)
  * re-expressed as iterative Dataset joins, per the north rule.
  *
  * Works on string node ids (lexicographic min is the component
  * representative — deterministic, no 64-bit-hash collision risk).
  * Each round `localCheckpoint`s to cut lineage (SURVEY §7.4.4).
  *
  * large-star: for each node u, m = min(Γ(u) ∪ {u}); emit (v, m) ∀v ∈ Γ(u), v > u
  * small-star: orient edges to (max, min); m = min(N(u) ∪ {u}) = min N(u);
  *             emit (v, m) ∀v ∈ N(u) \ {m}, plus (u, m)
  *
  * LOCAL CONTRACTION (round 5): before the star rounds, edges are
  * range-partitioned by endpoint and each partition is collapsed by an
  * in-memory union-find into (local root → member) star edges. Connectivity
  * is preserved exactly (a connected subset is replaced by a star), and the
  * WHICH-root choice cannot affect the output — the star rounds recompute
  * the true component minimum over all surviving nodes — so the JVM's
  * natural ordering is safe even where it diverges from Spark's UTF8
  * binary collation. On locality-shaped graphs (id-adjacent chains — the
  * hierarchy/skip-chain workloads), a range partition co-locates whole
  * component segments and the loop converges in ~1-2 rounds instead of
  * ~log(diameter): at 1000 executors that removes most of the per-round
  * stage barriers, the dominant cost of iterated CC at scale. The
  * contraction replaces (and implicitly performs) the input `distinct`,
  * so it costs the one exchange that dedup already paid. Per-task memory
  * is bounded by `ContractCap` union-find entries; past the cap, edges
  * pass through uncontracted (correctness unaffected).
  */
object ConnectedComponents {

  /** Max union-find entries per task before overflow edges pass through
    * uncontracted: bounds task memory at ~a few hundred MB of id strings,
    * the same envelope as Spark's own hash-aggregate maps. */
  private[operators] val ContractCap = 1 << 22

  /** Max edge rows for which the whole component problem is solved by ONE
    * driver-side union-find instead of the star loop (r6, guide §1.2): the
    * r5 contraction already ran an in-memory union-find per PARTITION —
    * when the entire (already-checkpointed) edge set fits the same few-
    * hundred-MB envelope, running it once over all edges removes every
    * star round, signature action and assignment shuffle. The probe is a
    * bounded `limit(cap+1)` collect from the checkpoint cache, so driver
    * intake can never exceed the cap; beyond it the loop runs unchanged
    * (fact-scale edge sets — the 100 TB mention graph — keep the
    * distributed algorithm). */
  private[graft] val LocalSolveCap = 1 << 21

  /** The local-solve cap's one gate: the rows of `df` when it has at most
    * `cap` of them, else None. A bounded `limit(cap + 1)` collect, clamped
    * BEFORE the +1 (cap + 1 overflows at Long.MaxValue). */
  private[graft] def collectWithin(df: DataFrame, cap: Long): Option[Array[org.apache.spark.sql.Row]] =
    if (cap <= 0) None
    else {
      val rows = df.limit(math.min(cap, Int.MaxValue - 1L).toInt + 1).collect()
      if (rows.length <= cap) Some(rows) else None
    }

  /** Spark's default StringType collation is UTF8 binary — least/greatest
    * compare the UTF-8 byte sequences unsigned, which DIVERGES from Java's
    * UTF-16 `String.compareTo` for supplementary characters. The local
    * solve must pick the same component representative the star loop
    * would, so its string ordering replays the byte comparison exactly. */
  private val Utf8Ordering: Ordering[Any] = new Ordering[Any] {
    def compare(x: Any, y: Any): Int = {
      val a = x.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }

  /** edges(a, b) → assignment(id, component) for every endpoint. */
  def apply(edgesIn: DataFrame, maxIter: Int = 40,
            localCap: Long = LocalSolveCap)
           (implicit spark: SparkSession): DataFrame = {
    // materialize the input once: cuts whatever upstream plan produced the
    // edges (UDF filters, joins) so the iteration joins against a stable
    // leaf — required for the loop anyway, and avoids re-executing the
    // upstream pipeline for the nodes scan
    val edges0 = edgesIn.select(col("a"), col("b")).localCheckpoint()

    // dimension-scale fast path: one driver union-find over the collected
    // edge set, component = min member under the SAME ordering the loop's
    // least/greatest would compute (see Utf8Ordering). Taken only when both
    // endpoint columns share one type: least/greatest promote mixed
    // Int/Long ids, a boxed-value union-find would not.
    val idType = edges0.schema.head.dataType
    val localOrd: Option[Ordering[Any]] =
      if (edges0.schema(1).dataType != idType) None
      else idType match {
        case LongType => Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
        case IntegerType => Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
        case StringType => Some(Utf8Ordering)
        case _ => None
      }
    val local = localOrd.flatMap(_ => collectWithin(edges0, localCap))
    if (local.nonEmpty) {
      // the checkpointed input is fully consumed — free its blocks now
      // instead of waiting for GC (matters for repeated-sample benches)
      freeCheckpoint(edges0)
      return localAssignments(local.get, idType, localOrd.get)
    }

    val nodes = edges0.select(col("a").as("id")).toDF("id")
      .union(edges0.select(col("b").as("id")).toDF("id")).distinct()

    val norm = edges0.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
    // LAZY checkpoint (r6): the signature aggregation right below is the
    // action that materializes it — one pass (contract + cache + hash)
    // instead of an eager checkpoint pass plus a separate signature pass,
    // the same trick the loop already used for its per-round checkpoints.
    var edges = contractStars(norm, spark)
      .localCheckpoint(false)

    var stable = false
    var iter = 0
    var sig = signature(edges)
    while (!stable && iter < maxIter) {
      val ls = largeStar(edges)
      // LAZY localCheckpoint: the signature aggregation below is the one
      // action that materializes the checkpoint — one pass per round
      // (compute + cache + aggregate), not a checkpoint pass plus a
      // separate count+hash pass
      val ss = smallStar(ls).localCheckpoint(false)
      val newSig = signature(ss)
      stable = newSig == sig
      sig = newSig
      edges = ss
      iter += 1
    }

    // after convergence every edge is (node, root); roots + isolated nodes map to themselves
    val assign = edges.select(col("v"), col("u")).toDF("id", "component")
      .union(edges.select(col("u"), col("u")).toDF("id", "component"))
      .groupBy("id").agg(min(col("component")).as("component"))
    nodes.join(assign, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Unpersists the checkpoint blocks under `df`'s LogicalRDD leaves. */
  private[operators] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** The whole-graph union-find behind the dimension-scale fast path:
    * every endpoint becomes a node (self-loops and null-sided rows
    * register their endpoints but never union — exactly what the loop's
    * `a =!= b` null-rejecting filter plus the nodes-scan left_outer
    * coalesce produce), roots are kept at the ordering minimum, and each
    * node maps to its root — the min member of its component, the same
    * label the converged star rounds assign. */
  private def localAssignments(rows: Array[org.apache.spark.sql.Row],
                               idType: org.apache.spark.sql.types.DataType,
                               ord: Ordering[Any])
                              (implicit spark: SparkSession): DataFrame = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    rows.foreach { row =>
      val a = row.get(0)
      val b = row.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      if (a != null && b != null && a != b) {
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) {
          if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](parent.size)
    val keys = parent.keySet().toArray
    keys.foreach { k => out += org.apache.spark.sql.Row(k, find(k)) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("component", idType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq,
        math.max(1, math.min(spark.sparkContext.defaultParallelism, 1 + out.size / 4096))),
      schema)
  }

  private def signature(edges: DataFrame): (Long, String) = {
    // decimal(38,0) accumulation: order-independent and ANSI-overflow-safe
    val r = edges.agg(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")), lit(0))
        .cast("string").as("h")).head()
    (r.getLong(0), r.getString(1))
  }

  /** Undirected adjacency as (u, neighbor v). */
  private def adjacency(edges: DataFrame): DataFrame =
    edges.select(col("u"), col("v")).toDF("u", "v")
      .union(edges.select(col("v"), col("u")).toDF("u", "v"))

  private def largeStar(edges: DataFrame): DataFrame = {
    val adj = adjacency(edges)
    val mins = adj.groupBy("u")
      .agg(least(min(col("v")), first(col("u"))).as("m"))
    adj.filter(col("v") > col("u"))
      .join(mins, "u")
      .select(least(col("v"), col("m")).as("u"), greatest(col("v"), col("m")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Partition-local union-find contraction of normalized (u ≤ v) edges.
    * Range-partitions by endpoint so id-adjacent edges co-locate, then
    * emits (root → member) star edges per partition (duplicate input edges
    * collapse as no-op unions — this replaces the former input distinct).
    * Falls back to a plain distinct for node types without a typed path. */
  private def contractStars(norm: DataFrame, spark: SparkSession): DataFrame = {
    val ranged = norm.repartitionByRange(col("u"), col("v"))
    norm.schema.head.dataType match {
      case LongType =>
        contractTyped[Long](ranged, Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      case IntegerType =>
        contractTyped[Int](ranged, Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt))
      case StringType =>
        contractTyped[String](ranged, Encoders.tuple(Encoders.STRING, Encoders.STRING))
      case _ => norm.distinct()
    }
  }

  private def contractTyped[T](ranged: DataFrame, enc: Encoder[(T, T)])
                              (implicit ord: Ordering[T]): DataFrame = {
    val cap = ContractCap
    ranged.as[(T, T)](enc)
      .mapPartitions(it => contractPartition(it, cap))(enc)
      .toDF("u", "v")
      // defensive re-orientation: the loop's invariant is Spark's own
      // least/greatest; the local root was chosen by JVM ordering
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
  }

  /** In-memory union-find over one partition's edges; past `cap` distinct
    * nodes, further edges with unseen endpoints pass through unchanged. */
  private[graft] def contractPartition[T](it: Iterator[(T, T)], cap: Int)
                                             (implicit ord: Ordering[T]): Iterator[(T, T)] = {
    val parent = new java.util.HashMap[T, T]()
    val passthrough = scala.collection.mutable.ArrayBuffer.empty[(T, T)]
    def find(x: T): T = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    while (it.hasNext) {
      val (a, b) = it.next()
      if (parent.size >= cap && !(parent.containsKey(a) && parent.containsKey(b)))
        passthrough += ((a, b))
      else {
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) {
          if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    }
    val stars = scala.collection.mutable.ArrayBuffer.empty[(T, T)]
    val keys = parent.keySet().iterator()
    while (keys.hasNext) {
      val k = keys.next()
      val r = find(k)
      if (r != k) stars += ((r, k))
    }
    stars.iterator ++ passthrough.iterator
  }

  private def smallStar(edges: DataFrame): DataFrame = {
    val o = edges.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val mins = o.groupBy("u").agg(min(col("v")).as("m"))
    val reattach = o.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(least(col("v"), col("m")).as("u"), greatest(col("v"), col("m")).as("v"))
    val selfToMin = mins.select(col("m"), col("u")).toDF("u", "v")
    reattach.toDF("u", "v").union(selfToMin)
      .filter(col("u") =!= col("v"))
      .distinct()
  }
}
