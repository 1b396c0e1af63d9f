package graft.operators

import graft.Ckpt._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** G1 (SURVEY.md §2.11): PageRank — iterative weighted graph propagation,
  * the influence/centrality score behind "which suppliers anchor the
  * network" (and, on a doc-link graph, which documents are hubs worth
  * keeping in a training corpus). Generalizes the L7 connected-components
  * machinery from min-label to weighted-mass propagation.
  *
  * Determinism (the oracle replays every round): scores are integer
  * micro-units end to end — contribution = score DIV outdeg, update =
  * (teleport·10⁶ + damping·Σcontrib) DIV 1000 with damping in permille.
  * Integer floor division is identical on any engine; no double ever
  * enters the plan, so round-for-round replay is bit-exact. The floored
  * mass leak (≤ outdeg − 1 µ per node per round) is deterministic and
  * harmless for ranking.
  *
  * Round kernels: every PageRank form runs [[prStep]] over the
  * [[degreeLinked]] edge frame; the fixed-round forms (and
  * [[labelPropagation]]) iterate through [[fixedRounds]], the
  * convergence-driven forms through [[convergedRounds]]. Each round is
  * one keyed join (edges ⋈ scores on src), one partial-aggregated sum
  * per dst, and a node-frame-sized left join for teleport-only nodes —
  * all rows narrow (three int64s). Rounds are fixed in the declared
  * queries so the DuckDB oracle can replay them as CTEs.
  */
object Graph {

  val DefaultIters = 5
  val DefaultDampingPermille = 850L
  val ScoreUnit = 1000000L // 1.0 in integer micro-units

  /** Once-per-(session, graph) memo for the strict-form sink-only
    * precondition check: the check is a deterministic function of the
    * edge frame (all callers root in parquet scans), so re-validating
    * the SAME canonical plan within a session is pure repeated work —
    * one anti-join JOB per declared-query invocation, measured as
    * 0.4 s warm / 3 s cold of g1_pagerank's per-call cost at sf0.1.
    * Keyed by the canonicalized analyzed plan (exact structural
    * equality — normalized expression ids, no hashing shortcut), so a
    * different graph, session, or fixture dir still validates. A
    * FAILED check throws out of the memo build and caches nothing, so
    * a bad graph fails loudly on every call.
    */
  private val ValidatedSinkFree = new graft.SessionCache[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Unit]

  private def requireSinkFree(linked: DataFrame, nodes: DataFrame,
                              who: String): Unit =
    ValidatedSinkFree.getOrElseUpdate(linked.sparkSession,
      linked.queryExecution.analyzed.canonicalized) {
      val sinkOnly = linked.select(col("dst").as("node")).distinct()
        .join(nodes, Seq("node"), "left_anti")
      require(sinkOnly.isEmpty,
        s"$who precondition violated: graph has sink-only nodes (in-edges " +
          "but no out-edges); feed both directions for an undirected graph " +
          "or add self-loops / dangling-mass handling upstream")
    }

  private def requireDamping(dampingPermille: Long): Unit =
    require(dampingPermille >= 0 && dampingPermille <= 1000,
      "damping must be a permille in [0, 1000]")

  /** The out-degree frame (src, d) and the edge frame every round
    * re-reads: (src, dst, d), PRE-HASH-PARTITIONED on the per-round join
    * key so only the node-sized score frame shuffles each iteration (the
    * edge shuffle is paid once, not once per round), and persisted once —
    * lineage stays rooted at the source scan, so re-declared runs
    * cache-match.
    */
  private def degreeLinked(edges: DataFrame): (DataFrame, DataFrame) = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    (deg, edges.join(deg, "src").repartition(col("src")).persist())
  }

  /** The strict forms' graph: the [[degreeLinked]] edges and the
    * src-derived node frame. The documented precondition is ENFORCED,
    * not just stated: a node with in-edges but no out-edges would be
    * silently absent from the node frame — its rows vanish and its
    * inbound mass is discarded. One anti-join over the pinned frames per
    * call, never per round, memoized per (session, canonical graph) —
    * see [[ValidatedSinkFree]].
    */
  private def strictGraph(edges: DataFrame, who: String): (DataFrame, DataFrame) = {
    val (_, linked) = degreeLinked(edges)
    val nodes = linked.select(col("src").as("node")).distinct().persist()
    requireSinkFree(linked, nodes, who)
    (linked, nodes)
  }

  /** One PageRank round: `left` (node-complete, keyed by `node`)
    * left-joined to the round's inbound mass Σ score DIV d per dst; the
    * result is `left`'s columns plus the updated score (teleport +
    * damping · (mass + share)) DIV 1000 — `share` is the per-node
    * dangling share, absent for the strict forms.
    */
  private def prStep(left: DataFrame, linked: DataFrame, scores: DataFrame,
                     dampingPermille: Long, share: Option[Long] = None): DataFrame = {
    val inbound = linked
      .join(scores.select(col("node").as("src"), col("score")), "src")
      .groupBy(col("dst")).agg(sum(expr("score DIV d")).as("mass"))
      .withColumnRenamed("dst", "node")
    val teleport = (1000L - dampingPermille) * ScoreUnit
    val mass = share.fold("coalesce(mass, 0L)")(s => s"(coalesce(mass, 0L) + ${s}L)")
    left.join(inbound, Seq("node"), "left_outer")
      .select(left.columns.toSeq.map(col) :+
        expr(s"($teleport + $dampingPermille * $mass) DIV 1000").as("score"): _*)
  }

  /** Lineage-truncation period of the fixed-round loops: never reached at
    * the declared round counts, it bounds plan depth on long runs.
    */
  val LpaCkptEvery = 8

  /** The fixed-round loop: `iters` applications of `step` from `init`,
    * the lazy Pregel idiom. Every round frame is `persist()`ed — within a
    * run that keeps a later reference from recomputing the chain, and
    * across runs Spark's cache manager matches the canonicalized plan,
    * so a re-executed declared query reads the cached frames. The loop
    * has no per-round action of its own, so AQE plans each round's join
    * from actual sizes. Every [[LpaCkptEvery]] rounds (never after the
    * last) a `materialize()` barrier truncates lineage: it is the first
    * point anything is computed, so there the rounds pinned since the
    * previous barrier are unpersisted and that barrier's leaf is
    * released — a long run pins at most [[LpaCkptEvery]] + 1 round
    * frames and one leaf.
    */
  private def fixedRounds(init: DataFrame, iters: Int)
                         (step: DataFrame => DataFrame): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    var cur = init.persist()
    var pinned = List(cur)
    var barrier: Option[DataFrame] = None
    for (i <- 1 to iters) {
      cur = step(cur).persist()
      pinned ::= cur
      if (i % LpaCkptEvery == 0 && i < iters) {
        cur = cur.materialize()
        pinned.foreach(_.unpersist(false))
        pinned = Nil
        barrier.foreach(_.release())
        barrier = Some(cur)
      }
    }
    cur
  }

  /** The convergence-driven loop: each round materializes `step(prev)`
    * as a new leaf and reads the round's driver scalar through
    * `stop(next, prev)`; once it has, the previous leaf is released, so
    * the loop holds at most two round leaves at a time. Returns the last
    * leaf, the update passes run (≥ 1) and whether `stop` fired before
    * the `maxIters` cap.
    *
    * Rounds are truncated EVERY round, unlike [[fixedRounds]]: a stop
    * check that joins consecutive rounds references the previous round's
    * subtree twice, and Catalyst's tree-walking analysis treats the
    * shared subtree as two copies — analysis cost doubled per round,
    * measured ×1.8/round on the sf0.1 flow graph (56 s for an 8-round
    * run under persist chaining; per-round truncation keeps every
    * round's plan constant-depth at ~0.5 s/round).
    */
  private[operators] def convergedRounds(init: DataFrame, maxIters: Int)
                                        (step: DataFrame => DataFrame)
                                        (stop: (DataFrame, DataFrame) => Boolean)
      : (DataFrame, Int, Boolean) = {
    require(maxIters >= 1, "maxIters must be >= 1")
    var leaf = init.materialize()
    var rounds = 0
    var done = false
    while (!done && rounds < maxIters) {
      rounds += 1
      val next = step(leaf).materialize()
      done = stop(next, leaf)
      leaf.release()
      leaf = next
    }
    (leaf, rounds, done)
  }

  /** Fixed-round PageRank over a directed edge list (`src`, `dst`).
    * Every node must have at least one out-edge (feed an undirected graph
    * as both directions — see [[g1PageRank]]); dangling-node mass
    * redistribution is [[pageRankDangling]]'s job, and the precondition
    * is ENFORCED (loud failure, not missing rows).
    * Output: (node, score) for every node, scores in micro-units.
    */
  def pageRank(edges: DataFrame, iters: Int = DefaultIters,
               dampingPermille: Long = DefaultDampingPermille): DataFrame = {
    requireDamping(dampingPermille)
    val (linked, nodes) = strictGraph(edges, "pageRank")
    fixedRounds(nodes.select(col("node"), lit(ScoreUnit).as("score")), iters) { s =>
      prStep(nodes, linked, s, dampingPermille)
    }
  }

  /** G1b: fixed-round PageRank with DANGLING-MASS redistribution — the
    * standard completion for graphs where some nodes have in-edges but no
    * out-edges (a real doc-link or shipping-flow graph is full of them).
    * Each round, the total score mass sitting on dangling nodes is folded
    * back uniformly: every node's update sees
    * `coalesce(inbound, 0) + (danglingMass DIV N)` where N is the node
    * count — the per-node share floors in micro-units, so the arithmetic
    * stays pure BIGINT and the oracle replays every round bit-exactly
    * (same integer contract as [[pageRank]]; the extra floor leak is
    * ≤ N−1 µ per round, deterministic).
    *
    * Scale shape: [[pageRank]]'s plus, per round, ONE 1-row aggregate
    * over the persisted score frame (the dangling mass), read as a
    * driver scalar and inlined as a literal — bounded metadata, never a
    * second corpus pass. The scalar is deterministic, so re-declared
    * plans still canonically match the cache. (Both in-plan alternatives
    * were measured WORSE on the declared query: folding dm in as a
    * broadcast 1-row cross join with lazy rounds ran 1.5×, and the same
    * with localCheckpoint barriers 3.5×.) Node frame is src ∪ dst (a
    * sink-only node must hold score), with the dangling flag precomputed
    * once.
    */
  def pageRankDangling(edges: DataFrame, iters: Int = DefaultIters,
                       dampingPermille: Long = DefaultDampingPermille): DataFrame = {
    requireDamping(dampingPermille)
    // the edge list feeds FOUR consumers here (degrees, the linked join,
    // and the node frame's union + dangling flag) — pin it, or an
    // expensive edge build (a fact-table join + distinct) re-executes
    // once per consumer
    val e = edges.persist()
    val (deg, linked) = degreeLinked(e)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .join(deg.select(col("src").as("node"), lit(true).as("__out")),
        Seq("node"), "left_outer")
      .select(col("node"), col("__out").isNull.as("dangling"))
      .persist()
    // the DIV-N share denominator: loop-invariant, computed ONCE
    val n = nodes.count()
    require(n > 0, "pageRankDangling: empty graph")
    fixedRounds(nodes.select(col("node"), col("dangling"), lit(ScoreUnit).as("score")),
      iters) { s =>
      val dm = s.filter(col("dangling"))
        .agg(coalesce(sum(col("score")), lit(0L))).first().getLong(0)
      prStep(nodes, linked, s, dampingPermille, Some(dm / n))
    }.select(col("node"), col("score"))
  }

  /** G2: triangle count + global clustering coefficient, degree-oriented —
    * the standard distributed triangle algorithm: orient every undirected
    * edge from its lower-(degree, id) endpoint to the higher one, generate
    * wedges only from ORIENTED out-neighbor pairs, and close each wedge
    * against the oriented edge set. Orientation is the whole scale story:
    * out-degrees in the oriented DAG are O(√m), so wedge generation is
    * O(m^1.5) total instead of Σ deg² (a hub with a million neighbors
    * would otherwise emit 10¹² wedges); every triangle is counted exactly
    * once, from its lowest-ordered corner.
    *
    * Input: undirected edges as canonical (a, b) with a < b, no
    * duplicates. Output: one row — edge/wedge/triangle counts and the
    * global clustering coefficient 3·T/wedges as an exact integer
    * permille (DIV; no float in the plan).
    */
  def triangleStats(undRaw: DataFrame): DataFrame = {
    // the edge set feeds FOUR consumers (degrees, orientation, closure,
    // totals) — pin once or the upstream edge build (often a fact-table
    // self-join) re-executes per consumer. persist() throughout this
    // operator (not materialize): one-shot multi-consumer frames with
    // bounded lineage recompute fine on executor loss, skip the
    // barrier-job cost, and keep the chain rooted at the scan so
    // re-declared runs cache-match (the round-13 pinning discipline)
    val und = undRaw.persist()
    val deg = und.select(col("a").as("v")).unionByName(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .persist() // vertex-sized; feeds two orientation joins + totals
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    // orient low → high by (degree, id): struct comparison gives the
    // lexicographic (d, v) order both engines agree on
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a"))
        .otherwise(col("b")).as("src"),
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("b"))
        .otherwise(col("a")).as("dst"))
      .persist() // feeds the adjacency build AND the per-edge probe
    // Adjacency-INTERSECTION closure: under a total-order orientation
    // each triangle has exactly one vertex with out-edges to the other
    // two, so T = Σ over oriented edges (u,v) of |N⁺(u) ∩ N⁺(v)| counts
    // every triangle exactly once. Neighbor lists are sorted once per
    // VERTEX (array_sort over collect_list — out-degree is capped at
    // O(√m) by the (degree, id) orientation, so per-group state is
    // bounded at any graph size), and each edge's intersection is one
    // codegen'd linear merge walk ([[graft.functions.SortedIntersectSize]],
    // long variant). The earlier form materialized the O(m^1.5) wedge
    // FRAME and shuffled it against the edge set — the same Σ(d⁺)²
    // element comparisons, but as an exchange of hundreds of millions of
    // packed-key rows instead of a tight loop inside the probe-side scan
    // (measured: 3.0 s → sub-second closure on sf0.1's 1.2M-edge
    // co-purchase graph, and the wedge exchange grows ~m^1.5 while the
    // adjacency frame grows ~m). Also gone: the id-bounds head() job the
    // packed-key cut needed.
    val adj = oriented.groupBy(col("src"))
      .agg(array_sort(collect_list(col("dst"))).as("nb"))
      .persist() // vertex-sized (Σ|nb| = m); probed on BOTH edge ends
    val tri = oriented
      .join(adj.select(col("src").as("u"), col("nb").as("nu")),
        col("src") === col("u"))
      // left join: a dst with NO out-edges (an order-maximal vertex) has
      // no adjacency row; its intersection is empty, not a lost edge
      .join(adj.select(col("src").as("v"), col("nb").as("nv")),
        col("dst") === col("v"), "left")
      .select(coalesce(
        graft.functions.SortedIntersectSizeCol(col("nu"), col("nv")).cast("long"),
        lit(0L)).as("t"))
      // coalesce: SUM over an edgeless graph is NULL where the old
      // count(*) form said 0 — the totals row must keep saying 0
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
    val totals = und.agg(count(lit(1)).as("n_edges")).crossJoin(
      deg.agg(sum(expr("d * (d - 1) DIV 2")).as("n_wedges"))).crossJoin(tri)
    totals.select(col("n_edges"), col("n_wedges"), col("n_triangles"),
      expr("3 * n_triangles * 1000 DIV nullif(n_wedges, 0)").as("cc_permille"))
  }

  /** G2 declared query: triangle census of the part co-purchase graph —
    * parts are linked when some order contains both (the "bought
    * together" graph). Canonical a<b edges, exact integer output.
    */
  def g2Triangles(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val und = t.lineitem.alias("l1")
      .join(t.lineitem.alias("l2"), col("l1.l_orderkey") === col("l2.l_orderkey"))
      .filter(col("l1.l_partkey") < col("l2.l_partkey"))
      .select(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
      .distinct()
    triangleStats(und)
  }
  /** The supplier–customer shipping graph: one row per distinct
    * supplier→customer lineitem flow, with the two keyspaces
    * disambiguated arithmetically — supplier s → 2s, customer c → 2c+1 —
    * in columns named (`from`, `to`).
    */
  private def flows(spark: SparkSession, dir: String,
                    from: String = "s", to: String = "c"): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as(from), (col("o_custkey") * 2 + 1).as(to))
      .distinct()
  }

  /** [[flows]] fed in both directions as (`src`, `dst`): the undirected,
    * dangling-free form of the graph.
    */
  private def bothWays(flows: DataFrame): DataFrame =
    flows.select(col("s").as("src"), col("c").as("dst"))
      .unionByName(flows.select(col("c").as("src"), col("s").as("dst")))

  /** G1 declared query: PageRank over the undirected supplier–customer
    * shipping graph ([[flows]] in both directions). Top-20 by score.
    */
  def g1PageRank(spark: SparkSession, dir: String): DataFrame =
    // pin the flow list BEFORE the flip-union: the two union branches
    // are separate lineages, so the lineitem⋈orders + distinct build
    // would execute once per branch (and again under the degree
    // aggregate). persist(), not materialize(), so the whole declared
    // chain stays rooted at the parquet scan and re-declared runs
    // cache-match
    pageRank(bothWays(flows(spark, dir).persist()))
      .orderBy(col("score").desc, col("node"))
      .limit(20)

  /** G1b declared query: dangling-aware PageRank over the DIRECTED
    * supplier→customer shipping-flow graph — the natural dangling case:
    * every customer node is a pure sink (in-edges only), so without
    * redistribution 100·(|customers|/|nodes|)% of the mass would vanish
    * per round. Top-20 by score — the most flow-central parties when
    * mass is conserved.
    */
  def g1PageRankDangling(spark: SparkSession, dir: String): DataFrame =
    pageRankDangling(flows(spark, dir, "src", "dst"))
      .orderBy(col("score").desc, col("node"))
      .limit(20)

  /** Default delta threshold (micro-units) and round cap for
    * [[pageRankConverged]]: stop when no node's score moved more than
    * ε µ in a round. ε = 1000 µ = 10⁻³ of a unit score resolves
    * rankings long before the floor-leak noise floor; the cap bounds a
    * non-converging run (integer floor arithmetic can cycle without
    * ever reaching an exact fixpoint).
    */
  val DefaultPrEpsMicro = 1000L
  val DefaultConvergedMaxIters = 50

  /** G1c: PageRank iterated to a DELTA-THRESHOLD stop — the
    * convergence-criterion variant of [[pageRank]] for real long runs
    * (the declared queries stay fixed-round so the DuckDB oracle can
    * replay them as CTEs; a 100-round converging run can't be a CTE
    * chain). Same strict-form precondition (every node has an
    * out-edge), same integer micro-unit arithmetic, so any prefix of
    * rounds is bit-identical to [[pageRank]] at that round count —
    * GraphSpec pins converged == fixed-round on the fixture graph and
    * the early stop on an exactly-converging hand graph.
    *
    * Per round this adds ONE 1-row aggregate, max |Δscore|, read by
    * [[convergedRounds]]. The update joins the PREVIOUS score frame
    * (node-complete by construction), which lets one join both drive
    * the update AND carry `prev` into the materialized round frame: the
    * delta then aggregates the already-checkpointed rows instead of
    * paying a second node⋈node join job per round (measured 6.0 → 4.7 s
    * on the declared 8-round query at sf0.1).
    *
    * Output: (node, score, rounds) — rounds = update passes executed
    * (the stop check compares round t to t−1, so rounds ≥ 1).
    */
  def pageRankConverged(edges: DataFrame, epsMicro: Long = DefaultPrEpsMicro,
                        maxIters: Int = DefaultConvergedMaxIters,
                        dampingPermille: Long = DefaultDampingPermille): DataFrame = {
    require(epsMicro >= 0, "epsMicro must be >= 0")
    requireDamping(dampingPermille)
    val (linked, nodes) = strictGraph(edges, "pageRankConverged")
    val (leaf, rounds, _) = convergedRounds(
      nodes.select(col("node"), lit(ScoreUnit).as("score")), maxIters) { prev =>
      val s = prev.select(col("node"), col("score"))
      prStep(s.select(col("node"), col("score").as("prev")), linked, s, dampingPermille)
        .select(col("node"), col("score"), col("prev"))
    } { (next, _) =>
      next.agg(coalesce(max(abs(col("score") - col("prev"))), lit(0L)))
        .first().getLong(0) <= epsMicro
    }
    leaf.select(col("node"), col("score")).withColumn("rounds", lit(rounds))
  }

  /** Declared-query convergence parameters for [[g1PageRankConverged]]:
    * the eps is coarse on purpose — the declared form demonstrates the
    * delta-threshold STOP SEMANTICS under the oracle gate (the oracle
    * replays [[DeclaredPrMaxIters]] rounds as CTEs and selects the stop
    * round with the same `first round with max |Δ| ≤ ε` rule), while
    * keeping the engine-side round count (and the generated SQL) small;
    * production long runs use [[pageRankConverged]]'s tighter
    * [[DefaultPrEpsMicro]]. The cap bounds the generated oracle SQL —
    * GraphSpec pins that the fixture graph actually STOPS below it at
    * every test scale, so the declared query always exercises the
    * convergence exit, not the cap. Parameters are measurement-derived
    * twice over: on the shipping-flow graph max |Δ| decays at exactly
    * the damping rate (0.85×/round) from a scale-stable ~8.5 score
    * units (replayed round-for-round in DuckDB at sf0.001/0.01/0.1),
    * so ε = 4.5 units stops at round 8 at every scale with ≥ 4 rounds
    * of cap margin; AND the round count itself is the declared-query
    * cost driver — a 21-round run (ε = 0.6) measured 56 s cold at
    * sf0.1 because every round-boundary action re-plans the
    * ever-deeper persisted lineage (~3 s/action by round 20; per-round
    * localCheckpoint truncation only improved it to ~16 s by trading
    * plan depth for barrier copies), while 8 rounds stay in the
    * dangling query's measured cost class. Long runs at tighter ε
    * remain [[pageRankConverged]]'s contract; this pair prices the
    * DECLARED demonstration.
    */
  val DeclaredPrEpsMicro = 4500000L
  val DeclaredPrMaxIters = 12

  /** G1c declared query: delta-threshold PageRank over the same
    * undirected supplier–customer shipping graph as [[g1PageRank]].
    * Top-20 by score, with the converged round count on every row —
    * the long-run stop semantics under the driver's hash gate.
    */
  def g1PageRankConverged(spark: SparkSession, dir: String): DataFrame =
    pageRankConverged(bothWays(flows(spark, dir).persist()),
      epsMicro = DeclaredPrEpsMicro, maxIters = DeclaredPrMaxIters)
      .orderBy(col("score").desc, col("node"))
      .limit(20)

  val DefaultLpaIters = 4

  /** The LPA symmetric-input guard ([[labelPropagation]]'s analogue of
    * [[pageRank]]'s sink-only check, mirrored direction): each round's
    * label frame is keyed by dst, so a node with OUT-edges but no
    * in-edges silently vanishes from the frame after round 1 — and a
    * quiescence check would then be declared over a shrunken node set.
    * Directed misuse must fail loudly, not lose nodes. One anti-join,
    * paid once per call, never per round.
    */
  private def requireSymmetricLpaInput(edges: DataFrame, op: String): Unit = {
    val srcOnly = edges.select(col("src").as("node")).distinct()
      .join(edges.select(col("dst").as("node")).distinct(),
        Seq("node"), "left_anti")
    require(srcOnly.isEmpty,
      s"$op precondition violated: graph has source-only nodes (out-edges " +
        "but no in-edges) — they would silently drop out of the label frame " +
        "after round 1; feed both directions for an undirected graph")
  }

  /** Round 0 of label propagation: every node labeled with its own id. */
  private def ownLabels(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))

  /** One LPA round: (dst, label) vote counts — map-side partial combine
    * absorbs locally hot labels — then the per-dst argmax via
    * `min_by(label, struct(−cnt, label))`, which is partial-combinable
    * where a rank window would sort every vote group, and breaks ties on
    * the smallest label. No per-node neighbor lists ever materialize.
    */
  private def lpaStep(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("node").as("src"), col("label")), "src")
      .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("dst"))
      .agg(min_by(col("label"), struct((-col("cnt")).as("nc"), col("label")))
        .as("label"))
      .withColumnRenamed("dst", "node")

  /** G3: synchronous label propagation (Raghavan et al. 2007) — community
    * detection by iterated neighborhood majority vote. Every node starts
    * labeled with its own id; each round ([[lpaStep]]), every node adopts
    * the label most frequent among its NEIGHBORS (ties broken by smallest
    * label, so every round is a deterministic function of the previous
    * one — no RNG, no visit order). Fixed rounds (declared query:
    * [[DefaultLpaIters]]) keep the op oracle-replayable round-for-round
    * and sidestep the oscillation non-termination of convergence-driven
    * synchronous LPA on bipartite structures.
    *
    * Input: symmetric edge list (`src`, `dst`) — feed both directions for
    * an undirected graph, as with [[pageRank]]. The guard
    * ([[requireSymmetricLpaInput]]) is skippable with `validate = false`
    * where the caller constructs symmetry, as [[g3LabelProp]] does.
    *
    * LPA has NO per-round action, so the whole fixed-round run
    * ([[fixedRounds]]) is declared LAZILY as ONE Spark job (measured: the
    * eager per-round `materialize()` form ran 5× slower at fixture scale
    * for zero scale benefit).
    */
  def labelPropagation(edges: DataFrame, iters: Int = DefaultLpaIters,
                       validate: Boolean = true): DataFrame = {
    if (validate) requireSymmetricLpaInput(edges, "labelPropagation")
    fixedRounds(ownLabels(edges), iters)(lpaStep(edges, _))
      .select(col("node"), col("label").as("community"))
  }

  /** G3b: label propagation iterated to QUIESCENCE — stop when a round
    * changes no label (the natural LPA stopping rule; Raghavan et al.
    * §3). The declared query stays fixed-round (oracle-replayable);
    * this variant is the long-run form. Synchronous LPA can OSCILLATE
    * on bipartite structure (a 2-cycle of label swaps that never
    * quiesces — the supplier–customer flow graph is exactly such a
    * graph), so `maxIters` is a hard cap, not a formality; a run that
    * hits the cap returns the cap-round labels with `converged =
    * false`. The no-change check is ONE 1-row aggregate per round over
    * the node-sized join of consecutive label frames, read by
    * [[convergedRounds]].
    *
    * Output: (node, community, rounds, converged) — rounds = update
    * passes executed (≥ 1). Symmetric input is ENFORCED, as in
    * [[labelPropagation]].
    */
  def labelPropagationConverged(edges: DataFrame,
                                maxIters: Int = DefaultConvergedMaxIters): DataFrame = {
    requireSymmetricLpaInput(edges, "labelPropagationConverged")
    val (leaf, rounds, quiet) = convergedRounds(ownLabels(edges), maxIters)(
      lpaStep(edges, _)) { (next, prev) =>
      next.join(prev.select(col("node"), col("label").as("prev")), "node")
        .agg(coalesce(sum(when(col("label") =!= col("prev"), 1L)
          .otherwise(0L)), lit(0L)))
        .first().getLong(0) == 0L
    }
    leaf.select(col("node"), col("label").as("community"),
      lit(rounds).as("rounds"), lit(quiet).as("converged"))
  }

  /** G3 declared query: communities of the undirected supplier–customer
    * shipping graph ([[flows]] in both directions), one row per node
    * after [[DefaultLpaIters]] rounds.
    */
  def g3LabelProp(spark: SparkSession, dir: String): DataFrame =
    // no pin on the flows: the run is ONE action (labelPropagation is
    // lazy), so the flow build's distinct exchange is shared by every
    // consumer via ReuseExchange. validate = false: the flip-union
    // CONSTRUCTS symmetry, so the source-only guard (two distinct +
    // anti-join jobs per run, ~0.5 s warm at sf0.1) would prove nothing
    labelPropagation(bothWays(flows(spark, dir)), validate = false)
      .orderBy(col("node"))
}
