package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pr(edges: Seq[(String, String, Long)], iters: Int) =
    Graph.pageRank(edges.toDF("src", "dst", "w"), "src", "dst", "w",
        iterations = iters)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("two-node cycle is the exact fixed point: 1e6 micro each, any iters") {
    // base 150000 + incoming 85% of the peer's full rank = 1e6 exactly,
    // so the uniform start never moves — and integer arithmetic means
    // "never moves" is bit-exact, not approximately-stationary.
    for (it <- Seq(1, 7)) {
      val got = pr(Seq(("a", "b", 1L), ("b", "a", 1L)), it)
      assert(got == Map(
        "a" -> ((1000000L, 1L, 1L)),
        "b" -> ((1000000L, 1L, 1L))))
    }
  }

  test("dangling mass redistributes; totals conserved on a floor-free graph") {
    // a -> b, b dangling. Hand-computed integer trajectory:
    // iter1: dang=1e6, base=150000+425000=575000, a->b carries 850000
    // iter2: dang=1425000, base=755625, a->b carries 488750
    val one = pr(Seq(("a", "b", 1L)), 1)
    assert(one == Map(
      "a" -> ((575000L, 1L, 0L)),
      "b" -> ((1425000L, 0L, 1L))))
    val two = pr(Seq(("a", "b", 1L)), 2)
    assert(two == Map(
      "a" -> ((755625L, 1L, 0L)),
      "b" -> ((1244375L, 0L, 1L))))
    assert(two.values.map(_._1).sum == 2000000L)
  }

  test("hub ranks above spokes; mass never exceeds n microunits") {
    // star: three spokes each point at the hub, hub points back at s1.
    // h and s1 form a 2-cycle, so synchronous iteration oscillates
    // between them with period 2 — assert only the parity-stable facts:
    // both cycle members dominate the no-inflow spokes, which tie exactly.
    val got = pr(Seq(("s1", "h", 1L), ("s2", "h", 1L), ("s3", "h", 1L),
      ("h", "s1", 1L)), 10)
    assert(got("h")._1 > got("s2")._1)
    assert(got("s1")._1 > got("s2")._1) // s1 gets the hub's outflow
    assert(got("s2")._1 == got("s3")._1) // symmetric spokes tie exactly
    // floor loss only shrinks mass, never grows it
    assert(got.values.map(_._1).sum <= 4000000L)
    assert(got.values.map(_._1).sum > 3900000L)
  }

  test("degree columns count parallel edges and zero-fill") {
    val got = pr(Seq(("a", "b", 2L), ("a", "b", 3L)), 1)
    assert(got("a")._2 == 2L && got("a")._3 == 0L)
    assert(got("b")._2 == 0L && got("b")._3 == 2L)
  }

  test("personalized: all-nodes seed set reduces exactly to uniform PageRank") {
    val edges = Seq(("s1", "h", 1L), ("s2", "h", 1L), ("s3", "h", 1L),
      ("h", "s1", 1L))
    val uniform = pr(edges, 5)
    val allSeeds = Graph.pageRank(edges.toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 5,
        seeds = Seq("h", "s1", "s2", "s3"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(allSeeds == uniform)
  }

  test("personalized: teleport + dangling mass lands only on the seed") {
    // a -> b, seed a. iter1: dangling = pr_b = 1e6;
    // base_a = 15e6*2/(100*1) + 85e6/100 = 300000 + 850000 = 1150000;
    // a->b carries 850000; b gets NO base.
    val got = Graph.pageRank(Seq(("a", "b", 1L)).toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 1, seeds = Seq("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 1150000L, "b" -> 850000L))
    assert(got.values.sum == 2000000L) // conservation holds here too
  }

  test("personalized: a seed absent from the graph raises") {
    intercept[IllegalArgumentException](
      Graph.pageRank(Seq(("a", "b", 1L)).toDF("src", "dst", "w"),
        "src", "dst", "w", seeds = Seq("zz")))
  }

  test("guards: iteration range, damping range, empty graph, w<=0 dropped") {
    val e = Seq(("a", "b", 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException](
      Graph.pageRank(e, "src", "dst", "w", iterations = 0))
    intercept[IllegalArgumentException](
      Graph.pageRank(e, "src", "dst", "w", dampingPct = 100))
    intercept[IllegalArgumentException](
      Graph.pageRank(Seq.empty[(String, String, Long)].toDF("src", "dst", "w"),
        "src", "dst", "w"))
    // zero-weight edges are dropped entirely -> empty graph raises too
    intercept[IllegalArgumentException](
      Graph.pageRank(Seq(("a", "b", 0L)).toDF("src", "dst", "w"),
        "src", "dst", "w"))
  }

  test("exactness envelope: a weight past pr·85·w < 2^63 raises ArithmeticException") {
    // 1e6 · 85 · w > 2^63 on the first round's only contribution
    val e = Seq(("a", "b", Long.MaxValue / 1000)).toDF("src", "dst", "w")
    val err = intercept[Exception](
      Graph.pageRank(e, "src", "dst", "w", iterations = 1).collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), err)
  }

  test("node keys: a binary node column is rejected by name") {
    val e = Seq((Array[Byte](1), Array[Byte](2), 1L)).toDF("from_bytes", "dst", "w")
    val err = intercept[IllegalArgumentException](
      Graph.pageRank(e, "from_bytes", "dst", "w"))
    assert(err.getMessage.contains("from_bytes"))
  }

  test("node keys: Long ids rank exactly as the same graph with String ids") {
    val es = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (1L, 4L, 1L),
      (3L, 3L, 1L))
    val longs = Graph.pageRank(es.toDF("src", "dst", "w"), "src", "dst", "w")
      .collect().map(r => r.getLong(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(longs == pr(es.map { case (a, b, w) => (a.toString, b.toString, w) }, 10))
  }

  test("node keys: a null id keeps SQL join semantics") {
    // n = 3 and nothing dangles. The null src joins no rank, so a gets
    // only the base 150000; b -> null still carries 850000 to the null
    // node, which is left out of the report
    val e = Seq(("a", "b", 1L), (null, "a", 1L), ("b", null, 1L))
      .toDF("src", "dst", "w")
    val got = Graph.pageRank(e, "src", "dst", "w", iterations = 1).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map("a" -> ((150000L, 1L, 1L)), "b" -> ((1000000L, 1L, 1L))))
  }

  /** (jobs, most tasks in any stage) of the Spark jobs `body` submits
    * with 200 shuffle partitions. */
  private def jobProfile(body: => Unit): (Int, Int) = {
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    val (_, jobs) =
      try JobRecorder.record(spark)(body)
      finally spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    (jobs.size, jobs.map(_.stageInfos.map(_.numTasks).max).maxOption.getOrElse(0))
  }

  test("one lineage: 10 rounds submit as many jobs as 1, and no stage " +
      "runs more tasks than the edge frame has partitions") {
    // three range slices and no exchange: the checkpointed edge frame
    // keeps exactly 3 partitions, against 200 shuffle partitions
    val edges = spark.range(0, 60, 1, 3).select((col("id") % 7).as("src"),
      ((col("id") * 3 + 1) % 9).as("dst"), (col("id") % 4 + 1).as("w"))
    def profile(iters: Int): (Int, Int) =
      jobProfile(Graph.pageRank(edges, "src", "dst", "w", iterations = iters).collect())
    val (jobs1, tasks1) = profile(1)
    val (jobs10, tasks10) = profile(10)
    assert(jobs10 == jobs1, s"$jobs1 jobs at 1 round, $jobs10 at 10")
    assert(tasks1 <= 3 && tasks10 <= 3, s"$tasks1 / $tasks10 tasks in a stage")
  }

  /** The integer recurrence in plain Scala, written from its definition:
    * node -> (pr_micros, out_degree, in_degree). */
  private def referencePr(edges: Seq[(Int, Int, Long)], iters: Int,
                          seeds: Set[Int]): Map[Int, (Long, Long, Long)] = {
    val es = edges.filter(_._3 > 0)
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val outTotal = es.groupMapReduce(_._1)(_._3)(_ + _)
    val (n, k) = (nodes.size.toLong, seeds.size.toLong)
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(outTotal.contains).map(rank).sum
      val in = es.groupMapReduce(_._2)(e =>
        rank(e._1) * 85 * e._3 / (100 * outTotal(e._1)))(_ + _)
      rank = nodes.map { v =>
        val base =
          if (k == 0) 15L * 1000000L / 100 + 85 * dangling / (100 * n)
          else if (seeds(v)) 15L * 1000000L * n / (100 * k) + 85 * dangling / (100 * k)
          else 0L
        v -> (base + in.getOrElse(v, 0L))
      }.toMap
    }
    nodes.map(v => v -> ((rank(v), es.count(_._1 == v).toLong,
      es.count(_._2 == v).toLong))).toMap
  }

  test("property: the operator equals a plain-Scala integer recurrence " +
      "on random graphs, uniform and personalized, at 1, 2 and 10 rounds") {
    val rnd = new scala.util.Random(20261019L)
    for (g <- 1 to 3) {
      val m = 4 + rnd.nextInt(8)
      // random arcs with self-loops, parallel edges and some zero weights;
      // node m is a sink (dangling), node m + 1 only ever has w = 0 arcs
      val es = Seq.fill(3 * m)((rnd.nextInt(m), rnd.nextInt(m), rnd.nextInt(5).toLong)) ++
        Seq((0, 0, 2L), (0, 0, 1L), (1, m, 3L), (2, m, 1L), (m + 1, 1, 0L))
      val df = es.toDF("src", "dst", "w")
      val present = es.filter(_._3 > 0).flatMap(e => Seq(e._1, e._2)).distinct
      val seedSets = Seq(Set.empty[Int],
        rnd.shuffle(present).take(1 + rnd.nextInt(present.size)).toSet)
      for (seeds <- seedSets; iters <- Seq(1, 2, 10)) {
        val got = Graph.pageRank(df, "src", "dst", "w", iterations = iters,
            seeds = seeds.toSeq)
          .collect().map(r => r.getInt(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
        assert(got == referencePr(es, iters, seeds),
          s"graph $g, seeds $seeds, $iters rounds")
      }
    }
  }

  test("triangles: complete graphs hit transitivity 1, paths and stars 0") {
    import graft.operators.Graph
    def stats(es: Seq[(Long, Long)]) =
      Graph.triangleStats(es.toDF("src", "dst"), "src", "dst")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).head
    assert(stats(Seq((1L, 2L), (2L, 3L), (1L, 3L))) == ((3L, 3L, 3L, 1L, 10000L)))
    // K4: 4 triangles, 12 wedges
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(stats(k4) == ((4L, 6L, 12L, 4L, 10000L)))
    // path 1-2-3-4: one wedge per inner node, no closure
    assert(stats(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == ((4L, 3L, 2L, 0L, 0L)))
    // star: all wedges at the hub, zero triangles
    assert(stats(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))) ==
      ((5L, 4L, 6L, 0L, 0L)))
  }

  test("triangles: duplicate and reversed edges are normalized away") {
    import graft.operators.Graph
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L))
    val r = Graph.triangleStats(messy.toDF("src", "dst"), "src", "dst")
      .collect().head
    assert(r.getLong(1) == 3L && r.getLong(3) == 1L)
  }

  /** The census from its definition: every node triple of the
    * normalized simple graph. */
  private def referenceTriangles(edges: Seq[(Option[Long], Option[Long])]) = {
    val es = edges.collect { case (Some(a), Some(b)) if a != b => (a min b, a max b) }.toSet
    val nodes = es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val wedges = nodes.map { n =>
      val d = es.count(e => e._1 == n || e._2 == n).toLong
      d * (d - 1) / 2
    }.sum
    val tri = nodes.combinations(3).count { case Seq(a, b, c) =>
      es((a, b)) && es((a, c)) && es((b, c)) }.toLong
    if (nodes.isEmpty) (0L, None, None, 0L, 0L)
    else (nodes.size.toLong, Some(es.size.toLong), Some(wedges), tri,
      if (wedges > 0) 3L * tri * 10000L / wedges else 0L)
  }

  private def triangleRow(df: org.apache.spark.sql.DataFrame) = {
    val r = Graph.triangleStats(df, "src", "dst").collect().head
    def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
    (r.getLong(0), opt(1), opt(2), r.getLong(3), r.getLong(4))
  }

  test("triangles property: the row equals a brute-force census over every " +
      "node triple on random graphs, the empty graph included") {
    import org.apache.spark.sql.types.LongType
    val rnd = new scala.util.Random(20261019L)
    val graphs = Seq.empty[(Option[Long], Option[Long])] +: (1 to 8).map { _ =>
      val m = 3 + rnd.nextInt(10)
      def id = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(m).toLong)
      val es = Seq.fill(3 * m)((id, id)) // self-loops and null endpoints
      es ++ es.take(m).map(_.swap) ++ es.take(3) // reversed and duplicates
    }
    for (es <- graphs) {
      val df = es.toDF("src", "dst")
      assert(triangleRow(df) == referenceTriangles(es), es)
    }
    assert(triangleRow(graphs.head.toDF("src", "dst")) == ((0L, None, None, 0L, 0L)))
    val schema = Graph.triangleStats(graphs(1).toDF("src", "dst"), "src", "dst").schema
    assert(schema.map(f => (f.name, f.dataType, f.nullable)) == Seq(
      ("n_nodes", LongType, false), ("n_edges", LongType, true),
      ("n_wedges", LongType, true), ("n_triangles", LongType, false),
      ("transitivity_pm", LongType, true)))
  }

  test("triangle keys: Int ids give the same row as Long ids") {
    val es = Seq((1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 5), (4, 2))
    assert(triangleRow(es.toDF("src", "dst")) ==
      triangleRow(es.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")))
    assert(triangleRow(es.toDF("src", "dst")) == ((4L, Some(6L), Some(12L), 4L, 10000L)))
  }

  test("triangle keys: a string node column is rejected by name") {
    val e = Seq(("a", 2L)).toDF("from_name", "dst")
    val err = intercept[IllegalArgumentException](
      Graph.triangleStats(e, "from_name", "dst"))
    assert(err.getMessage.contains("from_name"))
  }

  test("triangles: one lineage with nothing persisted, at most 2 jobs, and " +
      "no stage wider than the partitioner") {
    // three range slices and no exchange: the partitioner has
    // max(3, defaultParallelism) partitions, against 200 shuffle partitions
    val edges = spark.range(0, 240, 1, 3).select((col("id") % 17).as("src"),
      ((col("id") * 7 + 3) % 19).as("dst"))
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    val (jobs, tasks) = jobProfile(Graph.triangleStats(edges, "src", "dst").collect())
    assert(jobs <= 2, s"$jobs jobs")
    assert(tasks <= math.max(3, sc.defaultParallelism), s"$tasks tasks in a stage")
    assert((sc.getPersistentRDDs.keySet -- persisted).isEmpty,
      sc.getPersistentRDDs.keySet -- persisted)
  }

  test("capped triangles: non-binding cap reproduces the exact count, " +
      "census all-zero") {
    // K4 has max out-degree 3 under any orientation, so cap=8 keeps
    // every arc: capped count == exact count, zero drops, 10000 pm kept
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toDF("src", "dst")
    val r = Graph.triangleStatsCapped(k4, "src", "dst", maxOut = 8)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 6L, 12L)))
    assert(r.getLong(3) == 8L) // cap echoed
    assert((r.getLong(4), r.getLong(5), r.getLong(6)) == ((0L, 0L, 0L)))
    assert(r.getLong(7) == 4L && r.getLong(8) == 10000L)
  }

  test("capped triangles: binding cap drops the LARGEST-t arcs, count " +
      "is a lower bound, census is exact") {
    // K5, all degrees tie at 4 -> orientation is id-ascending, so
    // N+(1)={2,3,4,5}, N+(2)={3,4,5}, N+(3)={4,5}, N+(4)={5}. cap=2
    // keeps 1->{2,3}, 2->{3,4}, 3->{4,5}, 4->{5}: of the 10 exact
    // triangles only the three arc-complete triples (1,2,3), (2,3,4),
    // (3,4,5) survive.
    val k5 = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b))
      .toDF("src", "dst")
    val exact = Graph.triangleStats(k5, "src", "dst").collect().head
    val r = Graph.triangleStatsCapped(k5, "src", "dst", maxOut = 2)
      .collect().head
    assert(exact.getLong(3) == 10L)
    assert(r.getLong(7) == 3L) // lower bound, deterministic survivors
    assert(r.getLong(4) == 2L) // truncated sources: nodes 1 (dout 4), 2 (dout 3)
    assert(r.getLong(5) == 3L) // arcs dropped: (4-2) + (3-2)
    // out-wedges lost: (C(4,2)-C(2,2)) + (C(3,2)-C(2,2)) = 5 + 2
    assert(r.getLong(6) == 7L)
    assert(r.getLong(8) == 10000L * 7 / 10) // kept arcs 7 of 10
    // frame columns stay the ORIGINAL graph's (q178's instrument frame)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((5L, 10L, 30L)))
    assert(r.getLong(2) == exact.getLong(2))
  }

  test("capped triangles: empty edge set yields the all-zero row") {
    val r = Graph.triangleStatsCapped(
        Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst", maxOut = 4)
      .collect().head
    assert((0 to 8).filter(_ != 3).forall(i => r.getLong(i) == 0L))
    assert(r.getLong(3) == 4L)
  }

  private def lpa(edges: Seq[(String, String, Long)], rounds: Int) =
    Graph.labelPropagationBipartite(edges.toDF("l", "r", "w"), "l", "r", "w",
        rounds)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("bipartite LPA: weight majority wins, components stay separate") {
    // s1 hears c1 (w=3) and c2 (w=1) -> adopts c1; c2 then follows s1
    // back to c1's community. The (c3, s2) component never mixes in.
    val got = lpa(Seq(("c1", "s1", 3L), ("c2", "s1", 1L), ("c3", "s2", 5L)), 1)
    assert(got == Map("c1" -> "c1", "c2" -> "c1", "s1" -> "c1",
      "c3" -> "c3", "s2" -> "c3"))
  }

  test("bipartite LPA: exact weight ties adopt the smaller label") {
    val got = lpa(Seq(("c2", "s1", 2L), ("c1", "s1", 2L)), 1)
    assert(got("s1") == "c1" && got("c1") == "c1" && got("c2") == "c1")
  }

  test("bipartite LPA: fixed rounds replay deterministically") {
    val edges = Seq(("c1", "s1", 1L), ("c2", "s1", 1L), ("c2", "s2", 4L),
      ("c3", "s2", 1L), ("c3", "s3", 2L))
    assert(lpa(edges, 3) == lpa(edges, 3))
    // one round already coarsens: every node carries a customer label
    assert(lpa(edges, 1).values.toSet.subsetOf(Set("c1", "c2", "c3")))
  }

  private def bfs(edges: Seq[(String, String)], seeds: Seq[String], depth: Int) =
    Graph.bfsLayers(edges.toDF("a", "b"), "a", "b", seeds, depth)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("BFS layers: path graph yields one node per hop, both directions") {
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"))
    assert(bfs(path, Seq("a"), 4) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
    // seeding the middle walks outward both ways
    assert(bfs(path, Seq("b"), 4) == Map(0L -> 1L, 1L -> 2L, 2L -> 1L))
  }

  test("BFS layers: unreachable nodes surface as the dist=-1 row") {
    val got = bfs(Seq(("a", "b"), ("e", "f")), Seq("a"), 2)
    assert(got == Map(0L -> 1L, 1L -> 1L, -1L -> 2L))
  }

  test("BFS layers: multi-seed frontier and loud non-exhaustion") {
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"))
    assert(bfs(path, Seq("a", "d"), 3) == Map(0L -> 2L, 1L -> 2L))
    val e = intercept[IllegalArgumentException](bfs(path, Seq("a"), 2))
    assert(e.getMessage.contains("not exhausted"))
  }
}
