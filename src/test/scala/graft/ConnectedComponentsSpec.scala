package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ConnectedComponents
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  def cc(edges: Seq[(String, String)]): Map[String, String] = {
    ConnectedComponents(edges.toDF("a", "b")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("two separate components with min representative") {
    val m = cc(Seq(("b", "a"), ("b", "c"), ("x", "y")))
    assert(m("a") == "a" && m("b") == "a" && m("c") == "a")
    assert(m("x") == "x" && m("y") == "x")
  }

  test("deep chain collapses to one component (log-round convergence)") {
    val n = 300
    val edges = (1 until n).map(i => (f"n$i%04d", f"n${i - 1}%04d"))
    val m = cc(edges)
    assert(m.values.toSet == Set("n0000"))
    assert(m.size == n)
  }

  test("the star loop holds its input cut and last round, whatever the round count") {
    // the deep chain, its labels scattered over partitions that AQE does
    // not coalesce, so the contraction cannot collapse it
    val n = 300
    def label(i: Int) = f"n${i * 7919 % n}%04d"
    val edges = (1 until n).map(i => (label(i), label(i - 1))).toDF("a", "b")
    withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      def components(maxIter: Int) =
        ConnectedComponents(edges, maxIter, localCap = 0).select("component").distinct().count()
      assert(components(3) > 1, "three rounds converged: the loop would run fewer than four")
      // the registry holds RDDs weakly: pin what each job sees, so that only
      // an explicit free, not GC, takes a round out of it
      val sc = spark.sparkContext
      val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
      val pin = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          sc.getPersistentRDDs.values.foreach(pinned.add)
      }
      val before = sc.getPersistentRDDs.keySet
      sc.addSparkListener(pin)
      val out = try ConnectedComponents(edges, localCap = 0) finally sc.removeSparkListener(pin)
      assert(out.select("component").distinct().collect().map(_.getString(0)).toSeq == Seq("n0000"))
      val grown = sc.getPersistentRDDs.keySet -- before
      assert(pinned.size > 2 && grown.size <= 2, s"the loop left ${grown.size} cut rounds cached")
    }
  }

  test("self edges and isolated nodes map to themselves") {
    val m = cc(Seq(("a", "a"), ("b", "c")))
    assert(m("a") == "a" && m("b") == "b" && m("c") == "b")
  }

  test("matches driver-side union-find on a pseudo-random graph") {
    val edges = (0 until 400).map { i =>
      val u = graft.fixtures.Synth.hn(120, i.toLong, 1L)
      val v = graft.fixtures.Synth.hn(120, i.toLong, 2L)
      (f"v$u%03d", f"v$v%03d")
    }
    // union-find oracle
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(x: String, y: String): Unit = {
      val rx = find(x); val ry = find(y)
      if (rx != ry) { if (rx < ry) parent(ry) = rx else parent(rx) = ry }
    }
    edges.foreach { case (u, v) => union(u, v) }
    // normalize oracle roots to the min member of each component
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    val oracle = byRoot.flatMap { case (_, members) =>
      val m = members.min; members.map(_ -> m)
    }
    val got = cc(edges)
    assert(got == oracle)
  }

  test("long-typed chain across many partitions (local-contraction path)") {
    // a q19-shaped graph: one long id-adjacent chain + a disjoint star,
    // spread over enough partitions that contraction must stitch segments
    val chain = (1L until 5000L).map(i => (i - 1, i))
    val star = (0L until 50L).map(i => (1000000L, 1000000L + i + 1))
    val edges = spark.sparkContext.parallelize(chain ++ star, 16).toDF("a", "b")
    val m = ConnectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 5000L).forall(m(_) == 0L))
    assert((0L to 50L).forall(i => m(1000000L + i) == 1000000L))
  }

  test("output is invariant to input partitioning (contraction root choice is neutral)") {
    val edges = (0 until 300).map { i =>
      val u = graft.fixtures.Synth.hn(90, i.toLong, 3L)
      val v = graft.fixtures.Synth.hn(90, i.toLong, 4L)
      (f"p$u%03d", f"p$v%03d")
    }
    val layouts = Seq(
      edges.toDF("a", "b").coalesce(1),
      spark.sparkContext.parallelize(edges, 7).toDF("a", "b"),
      spark.sparkContext.parallelize(edges.reverse, 23).toDF("a", "b"))
    val results = layouts.map { df =>
      ConnectedComponents(df).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    assert(results.distinct.size == 1)
  }

  test("local union-find fast path ≡ star loop (differential, incl. collation edge)") {
    // pseudo-random string graph: localCap = 0 forces the distributed loop
    val edges = (0 until 400).map { i =>
      val u = graft.fixtures.Synth.hn(120, i.toLong, 5L)
      val v = graft.fixtures.Synth.hn(120, i.toLong, 6L)
      (f"w$u%03d", f"w$v%03d")
    }
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(asMap(ConnectedComponents(edges.toDF("a", "b"))) ==
      asMap(ConnectedComponents(edges.toDF("a", "b"), localCap = 0)))
    // supplementary character vs high-BMP char: Java String.compareTo says
    // U+1F600 < U+FFFD (surrogate 0xD83D < 0xFFFD) but Spark's UTF8 binary
    // collation says U+FFFD < U+1F600 (EF BF BD < F0 9F 98 80) — the local
    // path must pick the loop's representative, not the JVM's
    val emoji = new String(Character.toChars(0x1F600))
    val tricky = Seq((emoji, "\uFFFD"), ("zz", "zy")).toDF("a", "b")
    val local = asMap(ConnectedComponents(tricky))
    val loop = asMap(ConnectedComponents(tricky, localCap = 0))
    assert(local == loop)
    assert(local(emoji) == "\uFFFD") // the UTF8-binary minimum
    // long-typed differential too (q19's id domain)
    val lEdges = ((1L until 200L).map(i => (i - 1, i)) ++ Seq((500L, 500L)))
      .toDF("a", "b")
    val l1 = ConnectedComponents(lEdges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val l2 = ConnectedComponents(lEdges, localCap = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1 == l2 && l1(500L) == 500L)
    // null endpoints: the gate routes them to the loop
    val withNull = Seq(("a", "b"), ("b", null), (null, "c"), ("c", "d")).toDF("a", "b")
    assert(asMap(ConnectedComponents(withNull)) ==
      asMap(ConnectedComponents(withNull, localCap = 0)))
  }

  test("mixed Int/Long endpoints take the loop; an unbounded cap does not overflow") {
    // a: Int, b: Long — the local union-find keys on boxed values and would
    // never unify 1 with 1L; the loop's least/greatest promote to Long
    val mixed = Seq((1, 2L), (2, 3L), (7, 7L), (8, 9L)).toDF("a", "b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = asMap(ConnectedComponents(mixed, localCap = 0))
    assert(asMap(ConnectedComponents(mixed)) == loop)
    assert(loop == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 8L, 9L -> 8L))
    // localCap + 1 used to overflow Int for caps >= Int.MaxValue
    val chain = (1L until 20L).map(i => (i - 1, i)).toDF("a", "b")
    assert(asMap(ConnectedComponents(chain, localCap = Long.MaxValue)) ==
      asMap(ConnectedComponents(chain, localCap = 0)))
  }

  test("contraction cap overflow passes edges through with connectivity intact") {
    // cap=4 distinct nodes: most of the chain overflows to passthrough;
    // the emitted edge set must still connect the full chain
    val edges = (1 to 20).map(i => (i - 1, i))
    val out = ConnectedComponents
      .contractPartition[Int](edges.iterator, cap = 4).toSeq
    val parent = scala.collection.mutable.Map[Int, Int]()
    def find(x: Int): Int = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    out.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert((0 to 20).map(find).toSet.size == 1)
    // and the star edges it did emit stay within the node universe
    assert(out.flatMap(e => Seq(e._1, e._2)).toSet.subsetOf((0 to 20).toSet))
  }
}
