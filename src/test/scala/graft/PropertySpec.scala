package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Coerce, Dedup, Normalize}
import graft.util.Names

/** Property-style invariants (SURVEY §5.3). Inputs are ScalaCheck-generated
  * with a fixed seed, evaluated in batched DataFrames (one Spark job per
  * property, not per case). */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(42L)).get

  private val asciiWord: Gen[String] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))

  test("decamelize is idempotent and lowercase") {
    val inputs = sample(Gen.listOfN(3, asciiWord).map(_.mkString("")), 200)
    inputs.foreach { s =>
      val once = Names.decamelize(s)
      assert(Names.decamelize(once) == once, s"not idempotent for $s")
      assert(once == once.toLowerCase)
    }
  }

  test("event-name normalization: column impl == driver impl on random strings") {
    val weird = Gen.oneOf(asciiWord, Gen.oneOf("&", " ", "A B", "xY", "S&P", "a1B2c"))
    val inputs = sample(Gen.listOfN(4, weird).map(_.mkString(" ")), 100)
    val viaCol = inputs.toDF("e")
      .select(Normalize.normalizeEventNameCol(col("e")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(viaCol == inputs.map(Names.normalizeEventName))
  }

  test("coercion conservation: |misfits| == cells nulled, for any value mix") {
    val cell: Gen[String] = Gen.oneOf(
      Gen.chooseNum(-1000000L, 1000000L).map(_.toString), // castable
      asciiWord.suchThat(s => s.exists(_.isLetter)),       // misfit
      Gen.const(null: String))                             // null: no misfit
    val rows = sample(cell, 500).zipWithIndex.map { case (v, i) => (s"m$i", v) }
    val df = rows.toDF("message_id", "payload")
    val target = StructType(Seq(
      StructField("message_id", StringType), StructField("payload", LongType)))
    val r = Coerce.coerce(df, target, "t")
    val expectedMisfits = rows.count { case (_, v) =>
      v != null && scala.util.Try(v.toLong).isFailure
    }
    assert(r.misfits.count() == expectedMisfits)
    assert(r.main.filter(col("payload").isNull).count() ==
      rows.count { case (_, v) => v == null } + expectedMisfits)
  }

  test("deterministic dedup is a projection fixpoint (ingest twice == once)") {
    val rows = sample(for {
      k <- Gen.chooseNum(0, 20)
      v <- Gen.chooseNum(0L, 1000L)
      p <- asciiWord
    } yield (k, v, p), 300)
    val df = rows.toDF("k", "v", "p")
    val once  = Dedup.dedupDeterministic(df, Seq("k"), Seq(col("v").desc, col("p").desc))
    val twice = Dedup.dedupDeterministic(
      once.unionByName(df), Seq("k"), Seq(col("v").desc, col("p").desc))
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("last-write-wins matches reference reduction on the driver") {
    val rows = sample(for {
      u <- Gen.chooseNum(0, 15)
      ver <- Gen.chooseNum(0L, 50L)
      m <- asciiWord
    } yield (u.toString, ver, m), 200)
    val expected = rows.groupBy(_._1).map { case (u, g) =>
      u -> g.maxBy(r => (r._2, r._3))._3
    }
    val got = Dedup.lastWriteWins(rows.toDF("user_id", "ver", "message_id"),
        Seq("user_id"), "ver", Seq(col("message_id").desc))
      .collect().map(r => r.getAs[String]("user_id") -> r.getAs[String]("message_id")).toMap
    assert(got == expected)
  }

  test("flatten preserves row count and leaf values on generated nested JSON") {
    val leaf = Gen.chooseNum(0, 999)
    val objs = sample(for {
      a <- leaf; b <- leaf; c <- leaf; n <- Gen.chooseNum(0, 3)
    } yield (a, b, c, n), 100)
    val lines = objs.zipWithIndex.map { case ((a, b, c, n), i) =>
      val arr = (0 until n).map(j => s"""{"sku":"s$j"}""").mkString(",")
      s"""{"id":$i,"outerKey":{"innerVal":$a,"deep":{"x":$b}},"countVal":$c,"items":[$arr]}"""
    }
    val flat = graft.ingest.JsonFlatten.flatten(spark.read.json(lines.toDS))
    assert(flat.count() == objs.length)
    assert(flat.columns.contains("outer_key_inner_val"))
    assert(flat.columns.contains("outer_key_deep_x"))
    val maxN = objs.map(_._4).max
    (0 until maxN).foreach(j => assert(flat.columns.contains(s"items_${j}_sku")))
    val sums = flat.agg(sum("outer_key_inner_val"), sum("outer_key_deep_x"), sum("count_val"))
      .head()
    assert(sums.getLong(0) == objs.map(_._1.toLong).sum)
    assert(sums.getLong(1) == objs.map(_._2.toLong).sum)
    assert(sums.getLong(2) == objs.map(_._3.toLong).sum)
  }

  test("asofJoin matches a driver-side reference on random series") {
    val gen = for {
      key <- Gen.chooseNum(0, 5)
      t <- Gen.chooseNum(0L, 50L)
      v <- Gen.chooseNum(0L, 999L)
    } yield (key.toLong, t, v)
    // dedup right rows per (key, t) — the operator's documented contract
    val rightRows = sample(gen, 60).groupBy(r => (r._1, r._2))
      .map(_._2.maxBy(_._3)).toSeq
    val leftRows = sample(gen, 80).map(r => (r._1, r._2, r._3)).distinct
    val out = graft.operators.AsofJoin.asofJoin(
        leftRows.toDF("k", "t", "payload"), rightRows.toDF("k", "t", "rv"),
        Seq("k"), "t", Seq("rv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    leftRows.foreach { case (k, t, p) =>
      val expect = rightRows.filter(r => r._1 == k && r._2 <= t)
        .sortBy(_._2).lastOption.map(_._3)
      assert(out((k, t, p)) == expect, s"key=$k t=$t")
    }
    assert(out.size == leftRows.size)
  }

  test("rangeJoin matches a driver-side containment scan on random data") {
    val pts = sample(for {
      id <- Gen.chooseNum(0L, 10000L); t <- Gen.chooseNum(0L, 500L)
    } yield (id, t), 60).distinct
    // interval ids made unique by index: two intervals sharing an id but
    // not a range would legitimately emit identical projected rows and
    // fool the duplicate check below
    val ivs = sample(for {
      s0 <- Gen.chooseNum(0L, 480L); len <- Gen.chooseNum(0L, 120L)
    } yield (s0, s0 + len), 40).zipWithIndex
      .map { case ((s0, e0), i) => (i.toLong, s0, e0) }
    val gotRows = graft.operators.RangeJoin.rangeJoin(
        pts.toDF("pid", "t"), "t", ivs.toDF("iid", "s", "e"), "s", "e", binSize = 37)
      .select("pid", "t", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // a pair meets in exactly ONE bin — duplicate emission is a bug the
    // set comparison alone would mask
    assert(gotRows.length == gotRows.distinct.length)
    val expected = (for {
      (pid, t) <- pts; (iid, s, e) <- ivs if s <= t && t <= e
    } yield (pid, t, iid)).toSet
    assert(gotRows.toSet == expected)
  }

  test("dupClusters matches a driver-side union-find on random graphs") {
    // one distributed run over the union of several generated graphs,
    // disjoint id ranges so components can't bleed between cases
    val graphs: Seq[Seq[(Long, Long)]] = (0 until 8).map { g =>
      val base = g * 1000L
      val nodes = 5 + g * 3
      sample(for {
        a <- Gen.chooseNum(0, nodes - 1)
        d <- Gen.chooseNum(1, nodes - 1)
      } yield {
        val b = (a + d) % nodes
        (base + math.min(a, b), base + math.max(a, b))
      }, 2 + g * 4).distinct
    }
    val allEdges = graphs.flatten
    val got = graft.operators.NearDup.dupClusters(allEdges.toDF("id_a", "id_b"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap

    // oracle: plain union-find over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    allEdges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(v => v -> find(v)).toMap
    assert(got == expected)
  }

  test("waterFill is always feasible: alloc in [0, cap], total within budget, saturation consistent") {
    import graft.operators.BudgetAlloc
    val stratum = for {
      cap <- Gen.chooseNum(0L, 5000L)
      w <- Gen.chooseNum(1L, 9L)
    } yield (cap, w)
    val cases = sample(Gen.zip(Gen.listOfN(12, stratum), Gen.chooseNum(1L, 30000L)), 12)
    for (((strata, budget), i) <- cases.zipWithIndex) {
      val df = strata.zipWithIndex.map { case ((c, w), j) => (s"s$j", c, w) }
        .toDF("s", "cap", "weight")
      val out = BudgetAlloc.waterFill(df, "s", "cap", "weight",
          Seq(budget).toDF("b"))
        .collect().map(r => (r.getLong(1), r.getBoolean(3), r.getLong(4)))
      out.foreach { case (cap, sat, alloc) =>
        assert(alloc >= 0L && alloc <= cap, s"case $i: alloc bound")
        assert(!sat || alloc == cap, s"case $i: saturated means full cap")
      }
      assert(out.map(_._3).sum <= budget, s"case $i: over-commit")
      // if anything is unsaturated the budget must be ~spent (within one
      // truncation unit per stratum) OR every unsaturated alloc hit cap
      val totalCap = out.map(_._1).sum
      if (totalCap <= budget)
        assert(out.forall(_._2), s"case $i: budget covers caps -> all saturated")
    }
  }

  test("Gini stays in [0, 10000) and responds to concentration") {
    import graft.operators.Profile
    val masses = sample(Gen.listOfN(30, Gen.chooseNum(0L, 200L)), 10)
    for ((ms, i) <- masses.zipWithIndex if ms.sum > 0) {
      val df = ms.zipWithIndex.map { case (m, j) => (s"g", m) }.toDF("g", "y")
      val gini = Profile.giniIndex(df, "g", "y").collect()(0).getLong(3)
      assert(gini >= 0L && gini < 10000L, s"case $i: gini=$gini")
    }
  }

  test("conformal coverage meets the 1-alpha target on exchangeable integer scores") {
    import graft.operators.Conformal
    // deterministic pseudo-random residuals via a hash mix: exchangeable
    // between the md5 calibration/test splits by construction
    val rows = (1L to 4000L).map { k =>
      val r = (k * 2654435761L) % 97L // arbitrary 97-value score domain
      (k, 100L + r, 100L)
    }
    val Array(out) = Conformal.coverageReport(
      rows.toDF("k", "y", "y_hat").withColumn("g", lit("all")),
      "k", "y", "y_hat", Seq("g"), alphaNum = 1, alphaDen = 10, salt = "pp")
      .collect()
    val pm = out.getAs[Long]("coverage_pm")
    assert(pm >= 8800L, s"coverage_pm=$pm must sit at/above ~90%")
  }

  test("dispersion of a constant-rate feed is below the burst flag; a planted burst trips it") {
    import graft.operators.Profile
    val calm = (1 to 400).map(i => ("calm", 3L + (i % 2)))
    val bursty = (1 to 399).map(_ => ("burst", 1L)) :+ (("burst", 400L))
    val out = Profile.dispersionIndex((calm ++ bursty).toDF("g", "y"), "g", "y")
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(!out("calm") && out("burst"))
  }

  test("triangle census invariants: 3*triangles <= wedges on random graphs") {
    import graft.operators.Graph
    val edgeGen = Gen.zip(Gen.chooseNum(1L, 25L), Gen.chooseNum(1L, 25L))
    for (seed <- 1 to 3) {
      val es = sample(Gen.listOfN(120, edgeGen), seed * 7).flatten
        .filter { case (a, b) => a != b }
      if (es.nonEmpty) {
        val r = Graph.triangleStats(es.toDF("s", "d"), "s", "d").collect()(0)
        val (wedges, tri) = (r.getLong(2), r.getLong(3))
        assert(3L * tri <= wedges, s"3*$tri <= $wedges")
        assert(r.getLong(4) >= 0L && r.getLong(4) <= 10000L)
      }
    }
  }

  test("Mann-Whitney: swapping the groups mirrors U and the effect exactly") {
    import graft.operators.Inference
    val rows = sample(Gen.zip(Gen.chooseNum(0L, 30L), Gen.oneOf(0, 1)), 300)
    val df = rows.toDF("v", "g")
    val fwd = Inference.mannWhitney(df, "v", "g").collect().head
    val rev = Inference.mannWhitney(
      df.select(col("v"), (lit(1) - col("g")).as("g")), "v", "g").collect().head
    // U_A + U_B = n_a*n_b (in 2x units), so u2 mirrors around 2*n_a*n_b
    assert(fwd.getAs[Long]("u2_a") + rev.getAs[Long]("u2_a") ==
      2L * fwd.getAs[Long]("n_a") * fwd.getAs[Long]("n_b"))
    assert(fwd.getAs[Long]("tie_term") == rev.getAs[Long]("tie_term"))
    assert(fwd.getAs[Boolean]("significant") == rev.getAs[Boolean]("significant"))
    // r mirrors in sign up to the +-1 toward-zero truncation asymmetry
    assert(math.abs(fwd.getAs[Long]("r_ppm") + rev.getAs[Long]("r_ppm")) <= 1L)
  }

  test("mutual information: symmetric in its arguments, bounded by both entropies") {
    import graft.operators.Inference
    val rows = sample(Gen.zip(Gen.chooseNum(0, 4), Gen.chooseNum(0, 3)), 400)
    val df = rows.toDF("a", "b")
    val ab = Inference.mutualInformation(df, "a", "b").collect().head
    val ba = Inference.mutualInformation(
      df.select(col("b").as("a"), col("a").as("b")), "a", "b").collect().head
    assert(ab.getAs[Long]("mi_micronats") == ba.getAs[Long]("mi_micronats"))
    assert(ab.getAs[Long]("h_a_micronats") == ba.getAs[Long]("h_b_micronats"))
    // MI <= min(H_A, H_B) up to the per-term half-micronat quantization
    val mi = ab.getAs[Long]("mi_micronats")
    assert(mi <= ab.getAs[Long]("h_a_micronats") + 5L)
    assert(mi <= ab.getAs[Long]("h_b_micronats") + 5L)
    assert(mi >= -5L) // MI >= 0 modulo quantization
  }

  test("chi2 / kappa stay inside their algebraic ranges on random tables") {
    import graft.operators.Inference
    val rows = sample(Gen.zip(Gen.chooseNum(0, 3), Gen.chooseNum(0, 3)), 300)
    val df = rows.toDF("a", "b")
    val chi = Inference.chiSquareAudit(df, "a", "b").collect().head
    assert(chi.getAs[Long]("v2_ppm") >= 0L &&
      chi.getAs[Long]("v2_ppm") <= 1000000L)
    val kap = Inference.cohenKappa(df, "a", "b").collect().head
    assert(kap.getAs[Long]("po_ppm") >= 0L && kap.getAs[Long]("po_ppm") <= 1000000L)
    assert(kap.getAs[Long]("pe_ppm") >= 0L && kap.getAs[Long]("pe_ppm") <= 1000000L)
    assert(kap.getAs[Long]("kappa_ppm") <= 1000000L)
  }

  test("OLS and Theil-Sen agree exactly on noiseless integer lines") {
    import graft.operators.Trend
    val specs = sample(Gen.zip(Gen.chooseNum(-50L, 50L), Gen.chooseNum(-100L, 100L)), 8)
    val pts = specs.zipWithIndex.flatMap { case ((m, b), i) =>
      (0L to 9L).map(x => (s"k$i", x, m * x + b)) }
    val ols = Trend.olsTrend(pts.toDF("k", "x", "y"), "k", "x", "y")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("slope_ppm")).toMap
    val ts = Trend.theilSen(pts.toDF("k", "x", "y"), "k", "x", "y")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("ts_slope_micro")).toMap
    specs.zipWithIndex.foreach { case ((m, _), i) =>
      assert(ols(s"k$i") == m * 1000000L, s"ols k$i")
      assert(ts(s"k$i") == m * 1000000L, s"theilSen k$i")
    }
  }

  test("changepoint and ACF statistics respect their normalization bounds") {
    import graft.operators.Trend
    val ys = sample(Gen.chooseNum(0L, 100L), 60)
    val series = ys.zipWithIndex.map { case (y, i) => (s"k${i % 3}", i.toLong, y) }
      .toDF("k", "x", "y")
    Trend.changePoint(series, "k", "x", "y").collect().foreach { r =>
      val pm = r.getAs[Long]("d_max_pm")
      assert(pm >= 0L && pm <= 1000000L) // |nP_t - tS| <= nS always
    }
    Trend.acf(series, "k", "x", "y", 3).collect().foreach { r =>
      if (!r.isNullAt(r.fieldIndex("acf_pm"))) {
        val pm = r.getAs[Long]("acf_pm")
        assert(pm >= -1000000L && pm <= 1000000L) // Cauchy-Schwarz
      }
    }
  }

  test("BH step-up: clearing the strictest bar guarantees rejection; reject set is a prefix") {
    import graft.operators.Experiment
    val crits = Seq(6634897L, 5411894L, 4709292L, 4217885L, 3841459L)
    val z2s = sample(Gen.chooseNum(0L, 10000000L), 5)
    val df = z2s.zipWithIndex.map { case (z, i) => (s"m$i", z) }.toDF("metric", "z2_ppm")
    val out = Experiment.bhFinish(df, "metric", crits)
      .collect().sortBy(_.getAs[Long]("p_rank"))
    // prefix property: once a rank is not rejected, none below it are
    val rejects = out.map(_.getAs[Boolean]("reject"))
    assert(!rejects.dropWhile(identity).contains(true))
    // Bonferroni domination: z2 >= strictest crit => always rejected
    out.foreach { r =>
      if (r.getAs[Long]("z2_ppm") >= crits.head)
        assert(r.getAs[Boolean]("reject"))
    }
  }

  test("audience overlap: set algebra bounds hold on random memberships") {
    import graft.operators.Audience
    val rows = sample(Gen.zip(Gen.chooseNum(1L, 80L), Gen.oneOf("a", "b", "c")), 300)
    val out = Audience.overlapMatrix(rows.toDF("u", "et"), "u", "et",
      Seq("a", "b", "c")).collect()
    out.foreach { r =>
      val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      val (both, any) = (r.getAs[Long]("n_both"), r.getAs[Long]("n_any"))
      assert(both <= math.min(na, nb) && math.max(na, nb) <= any)
      assert(any <= r.getAs[Long]("n_users"))
      if (any > 0) {
        val j = r.getAs[Long]("jaccard_pm")
        assert(j >= 0L && j <= 1000L)
      }
    }
  }

  test("WoE IV and PSI are non-negative by the shared-sign argument, on random tables") {
    import graft.operators.{LiftAudit, Drift}
    val lab = sample(Gen.zip(Gen.chooseNum(0L, 5L), Gen.oneOf(true, false)), 400)
    val woe = LiftAudit.woeTable(lab.toDF("band", "label"), col("band"), "label")
      .collect()
    assert(woe.head.getAs[Long]("iv_micro") >= 0L)
    woe.filterNot(_.isNullAt(woe.head.fieldIndex("term")))
      .foreach(r => assert(r.getAs[Long]("term") >= 0L))
    val psi = Drift.psiReport(
      lab.toDF("cell", "e"), col("e"), col("cell").cast("string")).collect()
    assert(psi.head.getAs[Long]("psi_micro") >= 0L)
  }

  test("bootstrap CI: ordered bounds, deterministic across identical calls") {
    import graft.operators.Bootstrap
    val rows = sample(Gen.chooseNum(0L, 50L), 200).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = rows.toDF("u", "v")
    val a = Bootstrap.meanCi(df, "u", "v", reps = 32, loPm = 25, hiPm = 975, salt = "p")
      .collect().head
    val b = Bootstrap.meanCi(df, "u", "v", reps = 32, loPm = 25, hiPm = 975, salt = "p")
      .collect().head
    assert(a.getAs[Long]("ci_lo_micro") <= a.getAs[Long]("ci_hi_micro"))
    assert(a.toSeq == b.toSeq) // bit-identical re-run
  }

  test("survival: risk set shrinks, cumulative hazard grows, hazards bounded") {
    import graft.operators.Survival
    val subj = sample(Gen.zip(Gen.chooseNum(0L, 20L), Gen.oneOf(0L, 1L)), 300)
    val out = Survival.nelsonAalen(subj.toDF("dur", "observed")).collect()
    val risk = out.map(_.getAs[Long]("at_risk"))
    assert(risk.zip(risk.tail).forall { case (a, b) => a > b })
    val cum = out.map(_.getAs[Long]("cum_hazard_ppm"))
    assert(cum.zip(cum.tail).forall { case (a, b) => a <= b })
    out.foreach { r =>
      val h = r.getAs[Long]("hazard_ppm")
      assert(h >= 0L && h <= 1000000L)
      assert(r.getAs[Long]("events") + r.getAs[Long]("censored") <=
        r.getAs[Long]("at_risk"))
    }
  }

  test("rrf fusion: ranks are a 1..n permutation and scores decay with rank") {
    import graft.operators.Fusion
    val la = sample(Gen.chooseNum(1L, 60L), 40).distinct.zipWithIndex
      .map { case (id, i) => (id, i + 1) }
    val lb = sample(Gen.chooseNum(30L, 90L), 40).distinct.zipWithIndex
      .map { case (id, i) => (id, i + 1) }
    val out = Fusion.reciprocalRank(
      Seq("a" -> la.toDF("id", "rank"), "b" -> lb.toDF("id", "rank")),
      "id", "rank", topK = 25).collect()
    assert(out.map(_.getAs[Int]("fused_rank")).toList == (1 to out.length).toList)
    val scores = out.map(_.getAs[Long]("rrf_micro"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // every score is the exact sum of its members' reciprocal terms
    out.foreach { r =>
      def term(idx: Int) = if (r.isNullAt(idx)) 0L
        else 1000000L / (60L + r.getLong(idx))
      assert(r.getAs[Long]("rrf_micro") ==
        term(r.fieldIndex("rank_a")) + term(r.fieldIndex("rank_b")))
    }
  }

  test("ks: D is symmetric in the samples and bounded in [0, 10000]") {
    import graft.operators.Drift
    val rows = sample(Gen.zip(Gen.chooseNum(0L, 30L), Gen.oneOf(true, false)), 400)
      .map { case (v, a) => ("k", v.toDouble, a) }
    val df = rows.toDF("k", "v", "a")
    val fwd = Drift.ksTwoSample(df, "k", "v", col("a")).collect().head
    val rev = Drift.ksTwoSample(df, "k", "v", !col("a")).collect().head
    assert(fwd.getAs[Long]("d_pm") == rev.getAs[Long]("d_pm"))
    assert(fwd.getAs[Boolean]("reject") == rev.getAs[Boolean]("reject"))
    assert(fwd.getAs[Long]("d_pm") >= 0L && fwd.getAs[Long]("d_pm") <= 10000L)
    assert(fwd.getAs[Long]("n_a") == rev.getAs[Long]("n_b"))
  }

  test("k-core nesting: the (k+1)-core is contained in the k-core") {
    import graft.operators.Graph
    val edges = sample(
      Gen.zip(Gen.chooseNum(1L, 22L), Gen.chooseNum(1L, 22L)), 140)
      .filter { case (a, b) => a != b }
    val df = edges.toDF("u", "v")
    val k3 = Graph.kCore(df, "u", "v", k = 3).collect()
      .map(_.getAs[Long]("node")).toSet
    val k4 = Graph.kCore(df, "u", "v", k = 4).collect()
      .map(_.getAs[Long]("node")).toSet
    assert(k4.subsetOf(k3))
    Graph.kCore(df, "u", "v", k = 3).collect()
      .foreach(r => assert(r.getAs[Long]("core_degree") >= 3L))
  }

  test("top-k turnover: set algebra consistent, hand case correct") {
    import graft.operators.Audience
    // week 0 head: users 1,2 (k=2); week 1 head: users 2,3 -> stay 1
    val rows = Seq.fill(5)((1L, 0L)) ++ Seq.fill(4)((2L, 0L)) ++
      Seq.fill(1)((9L, 0L)) ++
      Seq.fill(5)((2L, 1L)) ++ Seq.fill(4)((3L, 1L)) ++ Seq.fill(1)((1L, 1L))
    val out = Audience.topKTurnover(rows.toDF("u", "w"), "u", "w", k = 2)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_stay") == 1L)
    assert(r.getAs[Long]("n_enter") == 1L && r.getAs[Long]("n_exit") == 1L)
    assert(r.getAs[Long]("jaccard_pm") == 3333L) // 1 of 3
    // invariants on a random feed
    val rnd = sample(Gen.zip(Gen.chooseNum(1L, 30L), Gen.chooseNum(0L, 3L)), 400)
    Audience.topKTurnover(rnd.toDF("u", "w"), "u", "w", k = 5).collect()
      .foreach { x =>
        assert(x.getAs[Long]("n_stay") + x.getAs[Long]("n_enter") ==
          x.getAs[Long]("n_next"))
        assert(x.getAs[Long]("n_stay") + x.getAs[Long]("n_exit") ==
          x.getAs[Long]("n_prev"))
        assert(x.getAs[Long]("jaccard_pm") <= 10000L)
      }
  }

  test("retention by segment: offset 0 is always 100%, shares bounded") {
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    import graft.operators.Funnel
    val rows = sample(Gen.zip(Gen.chooseNum(1L, 25L),
      Gen.zip(Gen.chooseNum(0L, 20L * 86400000L), Gen.oneOf("a", "b"))), 300)
      .zipWithIndex.map { case ((u, (ms, et)), i) => (u, ms, et, i.toLong) }
    val df = rows.toDF("user_id", "ms", "event_type", "event_id")
      .withColumn("ts", timestamp_millis(col("ms")))
    val out = Funnel.retentionBySegment(df, "user_id", "ts", "event_type",
      "event_id", periodMs = 7L * 86400000L).collect()
    // every user is active in their own first period, by construction
    out.filter(_.getAs[Long]("period_offset") == 0L)
      .foreach(r => assert(r.getAs[Long]("share_pm") == 10000L))
    out.foreach { r =>
      assert(r.getAs[Long]("share_pm") <= 10000L)
      assert(r.getAs[Long]("n_active") <= r.getAs[Long]("n_segment"))
      assert(r.getAs[Long]("period_offset") >= 0L)
    }
  }

  test("tail ratios: survivors are monotone non-increasing and bounded by units") {
    import graft.operators.Profile
    val vals = sample(Gen.chooseNum(0L, 300L), 250)
    val out = Profile.tailRatios(vals.toDF("v"), "v", k0 = 2L, doublings = 6)
      .collect().sortBy(_.getAs[Long]("k"))
    val surv = out.map(_.getAs[Long]("survivors"))
    assert(surv.zip(surv.tail).forall { case (a, b) => a >= b })
    assert(surv.forall(s => s >= 0L && s <= out.head.getAs[Long]("n_units")))
  }
}
