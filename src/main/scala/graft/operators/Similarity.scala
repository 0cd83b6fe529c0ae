package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — the J12 kNN join of the reference
  * (`2nd Place/submission/infer.py:184-232`: query @ DB^T then top-k, run
  * separately per concept class; `3rd Place/src/vectorDB.py`: Faiss index)
  * re-expressed Spark-first.
  *
  * - bruteForceTopK: broadcast the database matrix, mapPartitions over the
  *   queries with a bounded top-k heap — one narrow pass, no shuffle. This
  *   is exactly the reference's batched matmul, distributed over query
  *   partitions. Baseline + oracle. The DB is collected to the driver, so a
  *   hard size guard (`maxBroadcastRows`) rejects inputs that must instead
  *   go through `lshTopK` — at 100 TB the query side streams but the DB
  *   side must stay broadcast-scale (the reference's concept DB is ~200k
  *   vectors, well inside).
  * - lshTopK: random-hyperplane signatures → bucket join on IDS ONLY →
  *   distinct id pairs → vectors re-attached by two narrow joins → exact
  *   rescoring → top-k. The wide embedding arrays cross the shuffle once
  *   per pair, never once per shared bucket.
  *
  * Both support the reference's per-class partitioning
  * (`2nd Place/submission/infer.py:184-232` runs one kNN per
  * body/find/proc class): pass `classCol` and neighbors are searched
  * within the same class only.
  */
object Similarity {

  /** Deterministic pseudo-random unit hyperplanes (hash-derived, seedless). */
  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { d =>
        // gaussian-ish via sum of 4 uniform hashes (CLT), deterministic
        var s = 0.0
        var r = 0
        while (r < 4) {
          val h = graft.fixtures.Synth.h(p.toLong, d.toLong, r.toLong)
          s += (h.toDouble / Long.MaxValue)
          r += 1
        }
        s / 2.0
      }
    }

  /** Sign signature of v against the hyperplanes, packed into a Long. */
  def hyperplaneSig(v: Array[Float], planes: Array[Array[Double]]): Long = {
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      var dot = 0.0
      val pl = planes(p)
      val n = math.min(v.length, pl.length)
      var i = 0
      while (i < n) { dot += v(i) * pl(i); i += 1 }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Exact top-k cosine neighbors per query vector, searched within the
    * query's class when `classCol` is set. `sim` is rounded to 4 decimals
    * BEFORE ranking (ties broken by neighbor id) so the ranking is
    * reproducible across engines. */
  def bruteForceTopK(emb: DataFrame, k: Int = 5,
                     classCol: Option[String] = None,
                     maxBroadcastRows: Long = 2000000L)
                    (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cls = classCol.map(col).getOrElse(lit(0))
    val rows = emb.select(col("vec_id"), col("embedding"), cls.cast("int").as("cls"))
      .as[(Long, Seq[Float], Int)]
    // one bounded collect: the gate caps driver intake
    val collected = ConnectedComponents.collectWithin(rows, maxBroadcastRows)
    require(collected.nonEmpty,
      s"bruteForceTopK collects the DB to the driver: > cap " +
        s"$maxBroadcastRows rows — use lshTopK for beyond-broadcast-scale databases")
    // per-class DB: the reference holds one matrix per concept class
    val db: Map[Int, Array[(Long, Array[Float])]] = collected.get
      .groupBy(_._3)
      .map { case (c, rs) => c -> rs.map { case (id, v, _) => (id, v.toArray) }.sortBy(_._1) }
    val dbB = spark.sparkContext.broadcast(db)
    rows.mapPartitions { it =>
      it.flatMap { case (qid, qv, qc) =>
        val data = dbB.value.getOrElse(qc, Array.empty[(Long, Array[Float])])
        val q = qv.toArray
        // bounded top-k: (simRounded desc, neighbor asc)
        val ord = Ordering.by[(Long, Double), (Double, Long)] {
          case (id, s) => (-s, id)
        }
        var heap = Vector.empty[(Long, Double)]
        data.foreach { case (nid, nv) =>
          if (nid != qid) {
            val s = math.rint(TextFns.cosine(q, nv) * 10000) / 10000.0
            val cand = (nid, s)
            if (heap.size < k) {
              heap = (heap :+ cand).sorted(ord)
            } else if (ord.lt(cand, heap.last)) {
              heap = (heap.init :+ cand).sorted(ord)
            }
          }
        }
        heap.zipWithIndex.map { case ((nid, s), r) => (qid, nid, s, r + 1) }
      }
    }.toDF("vec_id", "neighbor_id", "sim", "rnk")
  }

  /** LSH-bucketed ANN: candidates share ≥1 signature chunk (and the class,
    * when `classCol` is set); exact cosine on candidates only; top-k per
    * query (same rounding/tie rules as bruteForceTopK).
    *
    * Scale shape: the bucket self-join and the candidate distinct carry
    * (id, id) pairs only — the 64-float vectors are attached to the
    * DEDUPLICATED pairs by two id-keyed joins, so each vector crosses the
    * wire O(pairs) not O(pairs × shared buckets). */
  /** Per-vector hyperplane signature table (vec_id, cls, sig) — the narrow
    * first stage of `lshTopK`, exposed so the ann_lsh oracle can export the
    * engine's signatures and re-derive buckets → candidates → exact top-k
    * independently in SQL (everything downstream of the signature is then
    * cross-engine-verified; the signature function itself is pinned by
    * SimilaritySpec determinism + recall gates). */
  def hyperplaneSigs(emb: DataFrame, nPlanes: Int = 16,
                     classCol: Option[String] = None)
                    (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val planes = spark.sparkContext.broadcast(hyperplanes(nPlanes, 64))
    val cls = classCol.map(col).getOrElse(lit(0))
    emb.select(col("vec_id"), col("embedding"), cls.cast("long").as("cls"))
      .as[(Long, Seq[Float], Long)]
      .map { case (id, v, c) => (id, c, hyperplaneSig(v.toArray, planes.value)) }
      .toDF("vec_id", "cls", "sig")
  }

  /** `sigsOverride` lets a caller that already materialized
    * [[hyperplaneSigs]] (e.g. the ann_lsh Verify export) share that one
    * computation instead of the signature stage running twice; it must be
    * the output of `hyperplaneSigs(emb, nPlanes, classCol)` for the same
    * arguments. */
  def lshTopK(emb: DataFrame, k: Int = 5, nPlanes: Int = 16, chunkBits: Int = 4,
              classCol: Option[String] = None,
              sigsOverride: Option[DataFrame] = None)
             (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sigs = sigsOverride.getOrElse(hyperplaneSigs(emb, nPlanes, classCol))
    val nChunks = nPlanes / chunkBits
    // bucket rows carry ids only — never the vectors
    val chunked = sigs.select(col("vec_id"),
      explode(array((0 until nChunks).map(c =>
        concat(col("cls"), lit(":" + c + ":"), shiftright(col("sig"), c * chunkBits)
          .bitwiseAND(lit((1 << chunkBits) - 1).cast("long")))): _*)).as("bucket"))
    val cand = chunked.toDF("vec_id", "bucket")
      .join(chunked.toDF("neighbor_id", "bucket"), "bucket")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select("vec_id", "neighbor_id").distinct()
    // re-attach the two vectors to the deduplicated id pairs
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val withVecs = cand
      .join(vecs.toDF("vec_id", "qv"), "vec_id")
      .join(vecs.toDF("neighbor_id", "nv"), "neighbor_id")
    val cos = udf((x: Seq[Float], y: Seq[Float]) =>
      math.rint(TextFns.cosine(x.toArray, y.toArray) * 10000) / 10000.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    withVecs.withColumn("sim", cos(col("qv"), col("nv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("sim"), col("rnk"))
  }
}
