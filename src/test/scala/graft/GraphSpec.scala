package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** G1 PageRank semantics the round-replay oracle can't see: hand-computed
  * scores on a known graph and structural invariants on the fixture run.
  */
class GraphSpec extends SparkSuite {
  import TestSpark.spark.implicits._

  test("G1 pagerank: hand-computed star graph, exact integer rounds") {
    // undirected star: center 0 — leaves 1,2,3 (both edge directions fed)
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    // round 1: mass(0)=3·(1e6 DIV 1)=3e6 → (150e6+850·3e6) DIV 1e3 = 2_700_000
    //          mass(leaf)=1e6 DIV 3=333_333 → (150e6+850·333_333) DIV 1e3 = 433_333
    val r1 = Graph.pageRank(edges, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(0L -> 2700000L, 1L -> 433333L, 2L -> 433333L, 3L -> 433333L))
    // round 2: mass(0)=3·(433_333 DIV 1)=1_299_999 → 1_254_999
    //          mass(leaf)=2_700_000 DIV 3=900_000 → 915_000
    val r2 = Graph.pageRank(edges, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(0L -> 1254999L, 1L -> 915000L, 2L -> 915000L, 3L -> 915000L))
  }

  test("G2 triangles: hand-computed K4-minus-an-edge; == naive id-ordered count on fixture") {
    // edges (1,2)(1,3)(1,4)(2,3)(2,4): triangles {1,2,3} and {1,2,4};
    // degrees 3,3,2,2 → wedges 3+3+1+1 = 8; cc = 3·2·1000 DIV 8 = 750
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("a", "b")
    val r = Graph.triangleStats(und).first()
    assert((r.getAs[Long]("n_edges"), r.getAs[Long]("n_wedges"),
      r.getAs[Long]("n_triangles"), r.getAs[Long]("cc_permille")) == (5L, 8L, 2L, 750L))
    // fixture co-purchase graph: degree-oriented count == naive a<b<c join
    val t = Tables(spark, sf)
    val fix = t.lineitem.alias("l1")
      .join(t.lineitem.alias("l2"), col("l1.l_orderkey") === col("l2.l_orderkey"))
      .filter(col("l1.l_partkey") < col("l2.l_partkey"))
      .select(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
      .distinct()
    val got = Graph.triangleStats(fix).first().getAs[Long]("n_triangles")
    val e1 = fix.select(col("a"), col("b"))
    val naive = e1.select(col("a"), col("b").as("m"))
      .join(fix.select(col("a").as("m"), col("b").as("c")), "m")
      .join(fix.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .count()
    assert(got == naive && got > 0L)
    // negative ids exercise the signed long-array intersection kernel
    // (sorted-adjacency order must hold for ids below zero too):
    // triangle {-1, 0, 1} must still count
    val neg = Seq((-1L, 0L), (-1L, 1L), (0L, 1L)).toDF("a", "b")
    val nr = Graph.triangleStats(neg).first()
    assert((nr.getAs[Long]("n_edges"), nr.getAs[Long]("n_triangles")) == (3L, 1L))
  }

  test("G3 label propagation: two triangles + bridge converge to two communities") {
    // triangles {1,2,3} and {4,5,6} bridged 3–4; synchronous rounds with
    // smallest-label tie-break, hand-traced:
    //   l1: 1→2 2→1 3→1 4→3 5→4 6→4
    //   l2: 1→1 2→1 3→1 4→4 5→3 6→3
    //   l3: 1→1 2→1 3→1 4→3 5→3 6→3   (stable from here)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r1 = Graph.labelPropagation(edges, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L, 6L -> 4L))
    val r4 = Graph.labelPropagation(edges, iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r4 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    // fixture run: every node labeled, labels are node ids, strictly fewer
    // communities than nodes (the vote collapses SOMETHING), rerun-stable
    val fix = Graph.g3LabelProp(spark, sf).collect()
    val nodes = fix.map(_.getLong(0)).toSet
    val comms = fix.map(_.getLong(1)).toSet
    assert(fix.length == nodes.size && comms.subsetOf(nodes) && comms.size < nodes.size)
    val rerun = Graph.g3LabelProp(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fix.map(r => r.getLong(0) -> r.getLong(1)).toMap == rerun)
    // twin-honesty pin: the idiomatic window-rank loop computes the
    // ENGINE's answer (same integer labels, same (cnt desc, label)
    // tie-break), so its TWINS.json ratio prices the same task
    assertSameRows(graft.TailTwins.twinFrame(spark, sf, "g3_label_prop"),
      Graph.g3LabelProp(spark, sf))
    // partitioning invariance: the per-round argmax is a total order
    // (min_by over struct(−cnt, label)), so a different physical layout
    // cannot change any round's winner
    val und7 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L))
    val edges7 = (und7 ++ und7.map(_.swap)).toDF("src", "dst").repartition(7)
    val r7 = Graph.labelPropagation(edges7, iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r7 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    // long-run path: iters = 9 crosses the LpaCkptEvery = 8 checkpoint
    // barrier (lineage truncation + superseded-round unpersist); the
    // labeling is stable from round 3, so the answer must not change
    val r9 = Graph.labelPropagation(edges7, iters = Graph.LpaCkptEvery + 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r9 == r7)
  }

  test("G1c/G3b convergence stops: exact fixpoint, == fixed-round, quiescence, oscillation cap") {
    // 4-cycle (regular, degree 2): the uniform start is EXACTLY
    // invariant — mass(v) = 2·(1e6 DIV 2) = 1e6 → score = 1e6 — so the
    // delta stop fires after one round even at ε = 0
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val cycEdges = (cyc ++ cyc.map(_.swap)).toDF("src", "dst")
    val conv = Graph.pageRankConverged(cycEdges, epsMicro = 0L).collect()
    assert(conv.forall(r => r.getAs[Int]("rounds") == 1))
    assert(conv.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 1000000L, 1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
    // star graph, ε = 0 under a 3-round cap: any prefix of converged
    // rounds is bit-identical to the fixed-round form (and if the stop
    // fired early, the fixed point persists — F(s) = s — so equality
    // holds either way)
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val star = (und ++ und.map(_.swap)).toDF("src", "dst")
    assertSameRows(
      Graph.pageRankConverged(star, epsMicro = 0L, maxIters = 3)
        .select(col("node"), col("score")),
      Graph.pageRank(star, iters = 3))
    // LPA quiescence: two triangles + bridge is stable from round 3, so
    // round 4 changes nothing → rounds = 4, converged, labels == the
    // fixed-round answer
    val und2 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L))
    val edges2 = (und2 ++ und2.map(_.swap)).toDF("src", "dst")
    val lc = Graph.labelPropagationConverged(edges2).collect()
    assert(lc.forall(r => r.getAs[Int]("rounds") == 4 && r.getAs[Boolean]("converged")))
    assert(lc.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    // synchronous-LPA oscillation (the reason the declared query is
    // fixed-round): a single undirected edge swaps labels forever —
    // the cap must fire with converged = false, never an infinite loop
    val osc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val lo = Graph.labelPropagationConverged(osc, maxIters = 6).collect()
    assert(lo.forall(r => r.getAs[Int]("rounds") == 6 && !r.getAs[Boolean]("converged")))
    // fixture graph: converged-capped == fixed-round at the same cap
    // (same bit-exact-prefix argument, on real data)
    val t = Tables(spark, sf)
    val flows = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("s"), (col("o_custkey") * 2 + 1).as("c"))
      .distinct()
    val fixEdges = flows.select(col("s").as("src"), col("c").as("dst"))
      .unionByName(flows.select(col("c").as("src"), col("s").as("dst")))
    assertSameRows(
      Graph.pageRankConverged(fixEdges, epsMicro = 0L, maxIters = 3)
        .select(col("node"), col("score")),
      Graph.pageRank(fixEdges, iters = 3))
    // one round past the LpaCkptEvery barrier: the fixed-round form
    // truncates lineage at round 8, the converged form every round, and
    // the fixture graph is still moving, so the converged run uses them all
    val long = Graph.LpaCkptEvery + 1
    val convLong = Graph.pageRankConverged(fixEdges, epsMicro = 0L, maxIters = long)
    assert(convLong.collect().forall(_.getAs[Int]("rounds") == long))
    assertSameRows(convLong.select(col("node"), col("score")),
      Graph.pageRank(fixEdges, iters = long))
  }

  test("G1c declared query exercises the convergence exit, not the cap") {
    // the declared eps/cap pair must leave margin at fixture scale —
    // if this starts failing, re-derive DeclaredPrEpsMicro from the
    // measured delta trajectory (Scaladoc at the constant)
    val rows = Graph.g1PageRankConverged(spark, sf).collect()
    assert(rows.length == 20)
    val rounds = rows.head.getAs[Int]("rounds")
    assert(rows.forall(_.getAs[Int]("rounds") == rounds))
    assert(rounds > 1 && rounds <= Graph.DeclaredPrMaxIters - 4,
      s"declared convergence landed at $rounds of cap ${Graph.DeclaredPrMaxIters}")
  }

  test("LPA symmetric-input guard: source-only nodes fail loudly") {
    // directed misuse: node 9 has out-edges only — before the guard it
    // silently vanished from the label frame (ADVICE r13); now both LPA
    // forms must refuse it
    val directed = Seq((9L, 1L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val e1 = intercept[IllegalArgumentException] {
      Graph.labelPropagation(directed)
    }
    assert(e1.getMessage.contains("source-only"))
    val e2 = intercept[IllegalArgumentException] {
      Graph.labelPropagationConverged(directed)
    }
    assert(e2.getMessage.contains("source-only"))
  }

  test("converged loops release superseded rounds: the pins a call leaves do not grow with rounds") {
    val sc = spark.sparkContext
    // Spark tracks persisted RDDs weakly: once GC finds a leaked round
    // leaf unreachable, its ContextCleaner frees it, which would hide the
    // leak at random. Holding every persisted RDD seen at a job start
    // keeps a leaked leaf counted until the test ends.
    val held = new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()
    val holder = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sc.getPersistentRDDs.foreach { case (id, rdd) => held.put(id, rdd) }
    }
    sc.addSparkListener(holder)
    // the persistent RDDs a call leaves behind: ids present after it that
    // were not before. The frame is returned so that it stays reachable
    def leftBehind(run: => org.apache.spark.sql.DataFrame)
        : (Int, org.apache.spark.sql.DataFrame) = {
      val before = sc.getPersistentRDDs.keySet
      val df = run
      df.collect()
      ((sc.getPersistentRDDs.keySet -- before).size, df)
    }
    // inputs that use every round, offset by c so no call reuses another
    // call's cached build frames: the star's floored scores never reach
    // an exact fixpoint within 9 rounds, and the single-edge oscillator
    // never quiesces
    def star(c: Long) = {
      val und = Seq((c, c + 1), (c, c + 2), (c, c + 3))
      (und ++ und.map(_.swap)).toDF("src", "dst")
    }
    def osc(c: Long) = Seq((c, c + 1), (c + 1, c)).toDF("src", "dst")
    val (pr3, pr9, lp3, lp9) = try {
      val (pr3, prFrame3) = leftBehind(Graph.pageRankConverged(star(100L), 0L, maxIters = 3))
      val (pr9, prFrame9) = leftBehind(Graph.pageRankConverged(star(200L), 0L, maxIters = 9))
      val (lp3, lpFrame3) = leftBehind(Graph.labelPropagationConverged(osc(300L), maxIters = 3))
      val (lp9, lpFrame9) = leftBehind(Graph.labelPropagationConverged(osc(400L), maxIters = 9))
      for ((df, rounds) <- Seq(prFrame3 -> 3, prFrame9 -> 9, lpFrame3 -> 3, lpFrame9 -> 9))
        assert(df.collect().forall(_.getAs[Int]("rounds") == rounds))
      (pr3, pr9, lp3, lp9)
    } finally sc.removeSparkListener(holder)
    assert(pr3 == pr9, s"pageRankConverged left $pr3 pins at 3 rounds, $pr9 at 9")
    assert(lp3 == lp9, s"labelPropagationConverged left $lp3 pins at 3 rounds, $lp9 at 9")
  }

  test("G1b dangling pagerank: hand-computed star; == integer reference over 3 rounds") {
    // directed star 0 → {1,2,3}: leaves are pure sinks (dangling), N = 4.
    // round 1: dm = 3·1e6, share = dm DIV 4 = 750_000
    //   node 0:    (150e6 + 850·750_000) DIV 1e3             = 787_500
    //   each leaf: inbound = 1e6 DIV 3 = 333_333
    //              (150e6 + 850·(333_333 + 750_000)) DIV 1e3 = 1_070_833
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val r1 = Graph.pageRankDangling(edges, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(0L -> 787500L, 1L -> 1070833L, 2L -> 1070833L, 3L -> 1070833L))
    // multi-round: exact match against a driver-side integer reference
    // replaying the same floored arithmetic
    def ref(iters: Int): Map[Long, Long] = {
      val nodes = Seq(0L, 1L, 2L, 3L)
      var s = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val share = Seq(1L, 2L, 3L).map(s).sum / 4
        val inb = s(0L) / 3
        s = nodes.map(v => v ->
          (150000000L + 850L * ((if (v == 0L) 0L else inb) + share)) / 1000).toMap
      }
      s
    }
    val r3 = Graph.pageRankDangling(edges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 == ref(3))
    // one round past the LpaCkptEvery lineage barrier
    val long = Graph.LpaCkptEvery + 1
    val rLong = Graph.pageRankDangling(edges, iters = long).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rLong == ref(long))
    // the STRICT form must reject the same graph loudly, not drop mass
    val err = intercept[IllegalArgumentException] { Graph.pageRank(edges).collect() }
    assert(err.getMessage.contains("sink-only"))
  }

  test("G1b dangling pagerank fixture: top-20 descending, mass conserved up to floor leak") {
    val top = Graph.g1PageRankDangling(spark, sf).collect()
    assert(top.length == 20)
    val scores = top.map(_.getAs[Long]("score"))
    assert(scores.sameElements(scores.sortBy(-_)), "descending by score")
    assert(scores.forall(_ > 0L))
    // redistribution conserves mass up to floor leak: total ≤ n·unit and
    // well above what sink loss would leave (customers outnumber
    // suppliers, so dropped dangling mass would collapse the total)
    val t = Tables(spark, sf)
    val edges = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("src"), (col("o_custkey") * 2 + 1).as("dst"))
      .distinct()
    val full = Graph.pageRankDangling(edges)
    val n = full.count()
    val total = full.agg(sum("score")).first().getLong(0)
    assert(total <= n * Graph.ScoreUnit)
    assert(total >= (n * Graph.ScoreUnit * 9) / 10,
      "dangling redistribution should hold total mass near n·unit")
  }

  test("G1 pagerank fixture: top-20, positive scores, mass conserved up to floor leak") {
    val top = Graph.g1PageRank(spark, sf).collect()
    assert(top.length == 20)
    val scores = top.map(_.getAs[Long]("score"))
    assert(scores.sameElements(scores.sortBy(-_)), "descending by score")
    assert(scores.forall(_ > 0L))
    // full frame: total mass can only shrink (teleport + floored shares),
    // never grow past n·unit
    val t = Tables(spark, sf)
    val flows = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("s"), (col("o_custkey") * 2 + 1).as("c"))
      .distinct()
    val edges = flows.select(col("s").as("src"), col("c").as("dst"))
      .unionByName(flows.select(col("c").as("src"), col("s").as("dst")))
    val full = Graph.pageRank(edges)
    val n = full.count()
    val total = full.agg(sum("score")).first().getLong(0)
    assert(total <= n * Graph.ScoreUnit)
    assert(total >= n * (Graph.ScoreUnit / 2),
      "teleport floor alone guarantees ≥ 150k per node; mass should not collapse")
  }
}
