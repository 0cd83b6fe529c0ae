package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Chunking, Graph}
import org.apache.spark.sql.functions._

class GraphChunkingSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  test("ancestor closure on a known tree") {
    // tree: 1<-2,3; 2<-4,5; 3<-6; 5<-7 (child, parent)
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L), (6L, 3L), (7L, 5L))
      .toDF("child", "parent")
    val anc = Graph.ancestorClosure(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(anc == Set((2L, 1L), (3L, 1L), (4L, 2L), (4L, 1L), (5L, 2L), (5L, 1L),
      (6L, 3L), (6L, 1L), (7L, 5L), (7L, 2L), (7L, 1L)))
    val desc = Graph.descendants(edges, Seq(2L).toDF("root")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(desc == Set((2L, 4L), (2L, 5L), (2L, 7L)))
  }

  test("BFS local fast path ≡ frontier-join loop (differential, incl. a cycle)") {
    // tree + diamond (7 has parents 4 AND 5) + cycle 1→7→5→2→1 (child, parent)
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L), (6L, 3L), (7L, 5L),
      (7L, 4L), (1L, 7L)).toDF("child", "parent")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.toList).toSet
    // edgeCap = 0 forces the fact-scale frontier loop; default takes the
    // collected-adjacency local path — outputs must be row-identical
    assert(pairs(Graph.ancestorClosure(edges)) ==
      pairs(Graph.ancestorClosure(edges, edgeCap = 0)))
    val roots = Seq(1L, 6L).toDF("root")
    assert(pairs(Graph.descendants(edges, roots)) ==
      pairs(Graph.descendants(edges, roots, edgeCap = 0)))
    assert(pairs(Graph.shortestPaths(edges, roots)) ==
      pairs(Graph.shortestPaths(edges, roots, edgeCap = 0)))
    assert(pairs(Graph.neighbourhood(edges, roots, steps = 2)) ==
      pairs(Graph.neighbourhood(edges, roots, steps = 2, edgeCap = 0)))
    // the cycle reaches the root itself: (1, 1) must be in the closure
    assert(pairs(Graph.ancestorClosure(edges)).contains(List(1L, 1L)))
    // the loud maxDist truncation guard fires identically on BOTH paths
    val chain = (2L to 6L).map(i => (i, i - 1)).toDF("child", "parent")
    val exLocal = intercept[IllegalArgumentException] {
      Graph.shortestPaths(chain, Seq(1L).toDF("root"), maxDist = 3).collect()
    }
    assert(exLocal.getMessage.contains("maxDist"))
    val exLoop = intercept[IllegalArgumentException] {
      Graph.shortestPaths(chain, Seq(1L).toDF("root"), maxDist = 3, edgeCap = 0)
        .collect()
    }
    assert(exLoop.getMessage.contains("maxDist"))
    // null endpoints: the gate routes them to the loop on every BFS
    val withNull = Seq((Some(2L), Some(1L)), (Some(3L), Some(2L)), (Some(4L), None),
      (None, Some(3L))).toDF("child", "parent")
    val nullRoots = Seq(1L, 4L).toDF("root")
    assert(pairs(Graph.ancestorClosure(withNull)) ==
      pairs(Graph.ancestorClosure(withNull, edgeCap = 0)))
    assert(pairs(Graph.descendants(withNull, nullRoots)) ==
      pairs(Graph.descendants(withNull, nullRoots, edgeCap = 0)))
    assert(pairs(Graph.shortestPaths(withNull, nullRoots)) ==
      pairs(Graph.shortestPaths(withNull, nullRoots, edgeCap = 0)))
  }

  test("a null endpoint that reaches a cycle is emitted once per node") {
    // (child, parent): null→1, 1→2, 2→1
    val edges = Seq((Option.empty[Long], 1L), (Some(1L), 2L), (Some(2L), 1L)).toDF("child", "parent")
    val want = List[(Any, Any)]((null, 1L), (null, 2L), (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
      .sortBy(_.toString)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0), r.get(1))).toList.sortBy(_.toString)
    assert(rows(Graph.ancestorClosure(edges, maxIter = 10)) == want, "default edgeCap")
    assert(rows(Graph.ancestorClosure(edges, maxIter = 10, edgeCap = 0)) == want, "edgeCap = 0")
  }

  test("depth bounds: local walk ≡ frontier loop on an 11-edge chain") {
    val chain = (2L to 12L).map(i => (i, i - 1)).toDF("child", "parent")
    val roots = Seq(1L).toDF("root")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.toList).toSet
    for ((maxIter, nAnc, nDesc) <- Seq((1, 21, 2), (2, 30, 3), (3, 38, 4))) {
      val anc = pairs(Graph.ancestorClosure(chain, maxIter))
      assert(anc.size == nAnc, s"maxIter $maxIter")
      assert(anc == pairs(Graph.ancestorClosure(chain, maxIter, edgeCap = 0)))
      val desc = pairs(Graph.descendants(chain, roots, maxIter))
      assert(desc.size == nDesc, s"maxIter $maxIter")
      assert(desc == pairs(Graph.descendants(chain, roots, maxIter, edgeCap = 0)))
    }
  }

  test("BinaryType ids walk to full depth on every BFS") {
    // chain 4 -> 3 -> 2 -> 1 on one-byte ids: an Array[Byte] hash key
    // compares by identity, so a local walk would find no edge at all
    def id(i: Int) = Array(i.toByte)
    val edges = Seq((id(2), id(1)), (id(3), id(2)), (id(4), id(3))).toDF("child", "parent")
    val roots = Seq(id(1)).toDF("root")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case x => x }.toList).toSet
    val anc = rows(Graph.ancestorClosure(edges))
    assert(anc.size == 6 && anc == rows(Graph.ancestorClosure(edges, edgeCap = 0)))
    val desc = rows(Graph.descendants(edges, roots))
    assert(desc.size == 3 && desc == rows(Graph.descendants(edges, roots, edgeCap = 0)))
    val dist = rows(Graph.shortestPaths(edges, roots))
    assert(dist.size == 3 && dist == rows(Graph.shortestPaths(edges, roots, edgeCap = 0)))
  }

  test("Int-child / Long-parent graphs walk to full depth on every BFS") {
    // chain 4 -> 3 -> 2 -> 1 plus 5 -> 3: child Int, parent Long. A boxed
    // local walk would stop at depth 1 (Integer 3 never equals Long 3L);
    // the gate must route these to the frontier loop
    val edges = Seq((2, 1L), (3, 2L), (4, 3L), (5, 3L)).toDF("child", "parent")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.map(_.toString).toList).toSet
    val anc = pairs(Graph.ancestorClosure(edges))
    assert(anc == pairs(Graph.ancestorClosure(edges, edgeCap = 0)))
    assert(anc.contains(List("4", "1")), s"depth-3 ancestor missing: $anc")
    // an unbounded cap must not wrap the limit probe to limit(0)
    val longEdges = Seq((2L, 1L), (3L, 2L), (4L, 3L)).toDF("child", "parent")
    assert(pairs(Graph.ancestorClosure(longEdges, edgeCap = Long.MaxValue)) ==
      pairs(Graph.ancestorClosure(longEdges, edgeCap = 0)))
    for (roots <- Seq(Seq(1L).toDF("root"), Seq(1).toDF("root"))) {
      val desc = pairs(Graph.descendants(edges, roots))
      assert(desc == pairs(Graph.descendants(edges, roots, edgeCap = 0)))
      assert(desc.contains(List("1", "4")), s"depth-3 descendant missing: $desc")
      val dist = pairs(Graph.shortestPaths(edges, roots))
      assert(dist == pairs(Graph.shortestPaths(edges, roots, edgeCap = 0)))
      assert(dist.contains(List("1", "4", "3")))
    }
  }

  test("every BFS evaluates its upstream edge plan once, on either path") {
    val evals = spark.sparkContext.longAccumulator("edge rows evaluated")
    val counted = udf((c: Long) => { evals.add(1); c }).asNondeterministic()
    val n = 40L
    // a 39-edge chain 40 -> 39 -> ... -> 1 over 3 partitions
    val edges = spark.range(2, n + 1, 1, 3)
      .select(counted(col("id")).as("child"), (col("id") - 1).as("parent"))
    val roots = Seq(1L).toDF("root")
    // edgeCap 5 < 39 edges: the limit probe fails and the frontier loop runs
    for (cap <- Seq(5L, 4000000L)) {
      val runs = Seq[() => org.apache.spark.sql.DataFrame](
        () => Graph.ancestorClosure(edges, edgeCap = cap),
        () => Graph.descendants(edges, roots, edgeCap = cap),
        () => Graph.shortestPaths(edges, roots, edgeCap = cap))
      for ((run, i) <- runs.zipWithIndex) {
        evals.reset()
        val out = run().count()
        assert(out > 0)
        assert(evals.value == n - 1, s"cap $cap, BFS #$i: ${evals.value} edge rows evaluated")
      }
    }
  }

  test("isolate removal keeps only edge endpoints") {
    val nodes = Seq(1L, 2L, 3L, 99L).toDF("id")
    val edges = Seq((2L, 1L), (3L, 1L)).toDF("child", "parent")
    val kept = Graph.removeIsolates(nodes, edges).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("sentence splitting covers all non-whitespace and respects boundaries") {
    val text = "First sentence. Second one!\nThird?? And a last one"
    val ss = Chunking.sentences(text)
    assert(ss.nonEmpty)
    for (Seq((_, e1), (s2, _)) <- ss.sliding(2) if ss.length > 1) assert(e1 <= s2)
    val covered = ss.map { case (s, e) => text.substring(s, e).trim }.mkString(" ")
    assert(covered.contains("First sentence") && covered.contains("And a last one"))
  }

  test("chunk spans track offsets, respect budgets, and preserve text") {
    val (docsSeq, _) = graft.fixtures.Synth.corpus(15, 100)
    for (d <- docsSeq) {
      val text = d.text
      val chunks = Chunking.chunkSpans(text, maxTokens = 20, mergeTokens = 60)
      // offsets valid and non-overlapping
      for (Seq((_, e1), (s2, _)) <- chunks.sliding(2) if chunks.length > 1) assert(e1 <= s2)
      for ((s, e) <- chunks) {
        assert(s >= 0 && e <= text.length && s < e)
        assert(Chunking.tokenCount(text, s, e) <= 60)
      }
      // every non-whitespace char of the text lands in some chunk
      val inChunk = new Array[Boolean](text.length)
      for ((s, e) <- chunks; i <- s until e) inChunk(i) = true
      for (i <- 0 until text.length if !text.charAt(i).isWhitespace)
        assert(inChunk(i), s"char $i '${text.charAt(i)}' of ${d.doc_id} not covered")
    }
  }

  test("distributed chunking returns consistent token counts") {
    val (docsSeq, _) = graft.fixtures.Synth.corpus(10, 100)
    val chunks = Chunking.apply(spark.createDataset(docsSeq)).collect()
    assert(chunks.nonEmpty)
    val byDoc = docsSeq.map(d => d.doc_id -> d.text).toMap
    for (c <- chunks)
      assert(c.n_tokens == Chunking.tokenCount(byDoc(c.doc_id), c.start, c.end))
  }
}
