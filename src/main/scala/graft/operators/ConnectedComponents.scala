package graft.operators

import graft.plans.Materialize
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

/** Transitive closure via alternating large-star / small-star (the public
  * MapReduce CC algorithm of Kiveris et al., "Connected Components in
  * MapReduce and Beyond"). Converges in O(log n) rounds — the reference's
  * recursive NetworkX traversals (`2nd Place/src/snomed_graph.py:212-256`)
  * re-expressed as iterative Dataset joins, per the north rule.
  *
  * The component label is the minimum member under Spark's own
  * `least`/`greatest` order (for strings the UTF-8 binary collation) —
  * deterministic, no 64-bit-hash collision risk. Each round is a
  * `Materialize` cut, which cuts lineage (SURVEY §7.4.4), and frees the
  * round it supersedes.
  *
  * large-star: for each node u, m = min(Γ(u) ∪ {u}); emit (v, m) ∀v ∈ Γ(u), v > u
  * small-star: orient edges to (max, min); m = min(N(u) ∪ {u}) = min N(u);
  *             emit (v, m) ∀v ∈ N(u) \ {m}, plus (u, m)
  *
  * LOCAL PATH: a dimension-scale edge set (≤ `localCap` rows) is solved by
  * ONE driver-side [[UnionFind]] instead of the star loop — no star round,
  * signature action or assignment shuffle. [[localEdges]] is the gate, the
  * same one [[Graph]]'s walks use: every input it rejects takes the exact
  * loop.
  *
  * LOCAL CONTRACTION: before the star rounds, edges are range-partitioned
  * by endpoint and each partition is collapsed by the same union-find into
  * (local root → member) star edges. Connectivity is preserved exactly (a
  * connected subset is replaced by a star), and the WHICH-root choice
  * cannot affect the output — the star rounds recompute the true component
  * minimum over all surviving nodes — so the JVM's natural ordering is
  * safe there even where it diverges from Spark's collation. On
  * locality-shaped graphs (id-adjacent chains — the hierarchy/skip-chain
  * workloads), a range partition co-locates whole component segments and
  * the loop converges in ~1-2 rounds instead of ~log(diameter): at 1000
  * executors that removes most of the per-round stage barriers, the
  * dominant cost of iterated CC at scale. The contraction replaces (and
  * implicitly performs) the input `distinct`, so it costs the one exchange
  * that dedup already paid. Per-task memory is bounded by `ContractCap`
  * union-find entries; past the cap, edges pass through uncontracted
  * (correctness unaffected).
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
    * star round, signature action and assignment shuffle. The edges reach
    * the driver through [[collectWithin]], which keeps at most the cap;
    * beyond it the loop runs unchanged (fact-scale edge sets — the 100 TB
    * mention graph — keep the distributed algorithm). */
  private[graft] val LocalSolveCap = 1 << 21

  /** [[collectWithin]] of one relation. */
  private[graft] def collectWithin[T](ds: Dataset[T], cap: Long): Option[Array[T]] =
    collectWithin(Seq(ds -> cap)).map(_.head.asInstanceOf[Array[T]])

  /** The one bounded driver collect, behind the local-solve and dictionary
    * caps: each relation's rows, in order and decoded by its own encoder, if
    * each has at most its cap (> 0) of them, else None. Driver rows (a
    * `LocalRelation` plan, e.g. `createDataset`; the optimizer runs only if
    * the analyzed plan is none) take no job; the rest take ONE job over all
    * their partitions, each task shipping ≤ cap + 1 rows (clamped, so
    * Long.MaxValue does not wrap), the driver keeping rows only while their
    * relation fits and cancelling the job once one does not. */
  private[graft] def collectWithin(rels: Seq[(Dataset[_], Long)]): Option[Seq[Array[_]]] = {
    def local(p: LogicalPlan) = Some(p).collect { case lr: LocalRelation => lr }
    val driverRows = rels.map { case (ds, _) =>
      local(ds.queryExecution.analyzed).orElse(local(ds.queryExecution.optimizedPlan)) }
    val remote = rels.indices.filter(driverRows(_).isEmpty)
    if (rels.indices.exists(i => rels(i)._2 <= 0 || driverRows(i).exists(_.data.length > rels(i)._2))) None
    else readWithin(remote.map(rels)).map { rows =>
      val read = remote.zip(rows).toMap
      rels.indices.map { i =>
        val plan = driverRows(i).getOrElse(rels(i)._1.queryExecution.optimizedPlan)
        decode(rels(i)._1, plan.output, driverRows(i).fold(read(i))(_.data.toArray))
      }
    }
  }

  /** `rows` of a plan with `output`, decoded as `ds` decodes them. */
  private def decode[T](ds: Dataset[T], output: Seq[Attribute], rows: Array[InternalRow]): Array[T] = {
    val enc = encoderFor(ds.encoder)
    rows.map(enc.resolveAndBind(output).createDeserializer())(enc.clsTag)
  }

  /** The rows of `rels` by one job, or None once one passes its cap. */
  private def readWithin(rels: Seq[(Dataset[_], Long)]): Option[Seq[Array[InternalRow]]] = {
    val rdds = rels.map { case (ds, cap) =>
      val ship = math.min(cap, Int.MaxValue - 1L).toInt + 1
      ds.queryExecution.toRdd.mapPartitions(it => Iterator(it.take(ship).map(_.copy()).toArray))
    }
    val firstPart = rdds.scanLeft(0)(_ + _.getNumPartitions)
    val kept = new Array[Array[InternalRow]](firstPart.last)
    val overflowed = rdds.nonEmpty && {
      val sc = rdds.head.sparkContext
      val received = new Array[Long](rels.size)
      val overflow = Promise[Unit]()
      // the handler runs on the scheduler's thread, one call at a time
      val job = sc.submitJob(sc.union(rdds), (it: Iterator[Array[InternalRow]]) => it.next(), kept.indices,
        (p: Int, rows: Array[InternalRow]) => {
          val r = firstPart.lastIndexWhere(_ <= p)
          received(r) += rows.length
          if (received(r) <= rels(r)._2) kept(p) = rows else overflow.trySuccess(())
        }, ())
      Await.ready(Future.firstCompletedOf(Seq(job, overflow.future))(ExecutionContext.parasitic), Duration.Inf)
      if (overflow.isCompleted) job.cancel() else job.value.get.get // rethrows a failure
      overflow.isCompleted
    }
    if (overflowed) None
    else Some(rels.indices.map(r => (firstPart(r) until firstPart(r + 1)).flatMap(kept(_)).toArray))
  }

  /** The one gate of every local graph path (here and in [[Graph]]): the
    * rows of the two-column edge relation `edges`, with the ordering the
    * union-find needs, when both endpoint columns — and `rootType`, for a
    * walk from given roots — share one of the types below, no endpoint is
    * null, and the rows fit `cap`; else None and the caller runs its exact
    * distributed loop.
    *
    * The local structures key on boxed JVM values, which is why the types
    * are a whitelist: a boxed Integer never equals a Long (the loops' joins
    * and `least`/`greatest` promote mixed Int/Long ids), and an Array[Byte]
    * compares by identity (a BinaryType walk would find no edge at all).
    * Null endpoints take the loops, whose null-rejecting joins are the
    * contract. The orderings are the loops' `least`/`greatest` order; for
    * strings that is Spark's UTF-8 binary collation, which differs from
    * UTF-16 `String.compareTo` on supplementary characters. */
  private[operators] def localEdges(edges: DataFrame, cap: Long,
                                    rootType: Option[DataType] = None)
      : Option[(Array[Row], Ordering[Any])] = {
    val ord: Option[Ordering[Any]] = (edges.schema.map(_.dataType) ++ rootType).distinct match {
      case Seq(IntegerType) => Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
      case Seq(LongType) => Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
      case Seq(StringType) => Some(Ordering.by((x: Any) => UTF8String.fromString(x.asInstanceOf[String])))
      case _ => None
    }
    for {
      o <- ord
      rows <- collectWithin(edges, cap)
      if !rows.exists(r => r.isNullAt(0) || r.isNullAt(1))
    } yield (rows, o)
  }

  /** A driver-side collection as an RDD of ~4096-element slices. */
  private[graft] def parallelizeLocal[T: ClassTag](xs: Seq[T])
                                                  (implicit spark: SparkSession): RDD[T] =
    spark.sparkContext.parallelize(xs,
      math.max(1, math.min(spark.sparkContext.defaultParallelism, 1 + xs.size / 4096)))

  /** edges(a, b) → assignment(id, component) for every endpoint. */
  def apply(edgesIn: DataFrame, maxIter: Int = 40,
            localCap: Long = LocalSolveCap)
           (implicit spark: SparkSession): DataFrame = Materialize.scope { m =>
    // the input, cut once: the loop and the nodes scan read a stable leaf,
    // not the upstream plan (UDF filters, joins)
    val edges0 = m.cut(edgesIn.select(col("a"), col("b")), eager = true)
    localEdges(edges0, localCap) match {
      case Some((rows, ord)) =>
        m.free(edges0) // fully consumed: freed now, not at GC
        localAssignments(rows, edges0.schema.head.dataType, ord)
      case None => starLoop(edges0, maxIter, m)
    }
  }

  private def starLoop(edges0: DataFrame, maxIter: Int, m: Materialize.Owner): DataFrame = {
    val nodes = edges0.select(col("a").as("id")).toDF("id")
      .union(edges0.select(col("b").as("id")).toDF("id")).distinct()

    val norm = edges0.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
    // LAZY cuts here and per round (r6): the signature aggregation is the
    // action that materializes each, one pass (compute + cache + hash)
    var edges = m.cut(contractStars(norm), eager = false)

    var stable = false
    var iter = 0
    var sig = signature(edges)
    while (!stable && iter < maxIter) {
      val ss = m.cut(smallStar(largeStar(edges)), eager = false)
      val newSig = signature(ss)
      stable = newSig == sig
      sig = newSig
      m.free(edges) // superseded (round 1: the contraction)
      edges = ss
      iter += 1
    }

    // the output reads the input cut and the last round: they leave the
    // scope with it and are freed with its lineage, at GC
    m.handOff()
    // after convergence every edge is (node, root); roots + isolated nodes map to themselves
    val assign = edges.select(col("v"), col("u")).toDF("id", "component")
      .union(edges.select(col("u"), col("u")).toDF("id", "component"))
      .groupBy("id").agg(min(col("component")).as("component"))
    nodes.join(assign, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Union-find with path compression whose roots are each set's
    * `ord`-minimum member — under the loop's order, the label the
    * converged star rounds assign. */
  private final class UnionFind[T](ord: Ordering[T]) {
    private val parent = new java.util.HashMap[T, T]()
    def size: Int = parent.size
    def contains(x: T): Boolean = parent.containsKey(x)
    def find(x: T): T = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    /** Registers both endpoints (a self-loop only registers) and joins their sets. */
    def union(a: T, b: T): Unit = {
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    /** Calls `f(member, root)` for every registered member. */
    def foreach(f: (T, T) => Unit): Unit = parent.keySet.forEach(k => f(k, find(k)))
  }

  /** The whole-graph union-find behind the local path: every endpoint
    * becomes a node (self-loops register their endpoint but never union —
    * what the loop's `a =!= b` filter plus the nodes-scan left_outer
    * coalesce produce), and each node maps to its component minimum. */
  private def localAssignments(rows: Array[Row], idType: DataType, ord: Ordering[Any])
                              (implicit spark: SparkSession): DataFrame = {
    val uf = new UnionFind[Any](ord)
    rows.foreach(r => uf.union(r.get(0), r.get(1)))
    val out = new ArrayBuffer[Row](uf.size)
    uf.foreach((k, r) => out += Row(k, r))
    spark.createDataFrame(parallelizeLocal(out.toSeq),
      StructType(Seq(StructField("id", idType), StructField("component", idType))))
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
  private def contractStars(norm: DataFrame): DataFrame = {
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
    val uf = new UnionFind[T](ord)
    val passthrough = ArrayBuffer.empty[(T, T)]
    it.foreach { case e @ (a, b) =>
      if (uf.size >= cap && !(uf.contains(a) && uf.contains(b))) passthrough += e
      else uf.union(a, b)
    }
    val stars = ArrayBuffer.empty[(T, T)]
    uf.foreach((k, r) => if (r != k) stars += ((r, k)))
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
