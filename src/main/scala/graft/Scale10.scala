package graft


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical 10× scale proof (round-14 mandate): every 100 TB claim in
  * SCALING.md was plan-asserted but only ever MEASURED at sf0.1. This
  * main synthesizes a deterministic 10× corpus under /tmp (never
  * touching /root/testdata), re-measures the most expensive declared
  * queries at 1× and 10×, and gates on two falsifiable properties:
  *
  *  1. **Near-linear growth** on the COLD (build-path) time:
  *     cold(F×)/cold(1×) ≤ [[superlinearRatio]] per query (fixed
  *     constants — codebook training, plan time, session overhead —
  *     push real ratios BELOW F; a ratio well above F means
  *     something grows super-linearly with data). Warm best-of-2 is
  *     reported alongside for the serving steady state, but the gate
  *     is cold: warm runs read the persisted stage frames the cold run
  *     built and would mask a super-linear build.
  *  2. **No REQUIRED single-partition stage**: during every F× run a
  *     QueryExecutionListener walks each executed plan for a
  *     `ShuffleExchangeExec` with `SinglePartition` output feeding
  *     anything but a global aggregate or collect-limit — the
  *     plan-level serialization point that would strangle a
  *     1000-executor cluster regardless of data size. Any hit FAILS
  *     the run (exit 1). The gate is deliberately PLAN-level, not a
  *     runtime numTasks check: a first cut flagged `numTasks == 1 &&
  *     records > 100k` and false-positived on AQE coalescing a
  *     few-MB 215k-row shuffle to one partition — which is AQE doing
  *     its job at test scale (more bytes → more partitions), not a
  *     structural bottleneck. Driver-scalar 1-row aggregates pass by
  *     the global-aggregate allowance, bounded by construction.
  *
  * Expansion semantics — same distribution, 10× volume, as disjoint
  * key-remapped copies (k = 0..9, id' = id·10 + k):
  *  - documents: per-copy TOKEN NAMESPACE — every NON-stopword token
  *    suffixed with the copy digit. Identical copies would EXPLODE
  *    pair-bounded ops quadratically (10 exact copies of a near-dup
  *    cluster of size c is a cluster of size 10c → 100× the verified
  *    pairs) — that would measure a data-distribution change, not
  *    engine scaling. Namespacing keeps each copy's similarity
  *    structure exactly the 1× structure. Stopwords stay VERBATIM and
  *    the suffix is one character: a first cut suffixed every token
  *    with `_k` and the Gopher gate's stop-hit + mean-word-length
  *    rules then kept 0 of 50,000 docs — quality-gated pipelines
  *    (l0_pipeline) measured an EMPTY corpus and their "scaling" was
  *    meaningless. A cross-copy-identical 8-gram now requires 8
  *    consecutive stopwords (≈ never in the fixture soup), so dedup
  *    structure is still per-copy. n_chars is recomputed (the fixture
  *    invariant n_chars = len(text)).
  *  - embeddings: vec_id remapped, vectors/labels kept (ANN work scales
  *    with corpus size; probe ids stay resolvable — id 0 maps to 0).
  *  - events: event_id/user_id remapped → 10× independent user series.
  *  - lineitem/orders: orderkey/suppkey/custkey/partkey remapped → the
  *    shipping-flow graph becomes 10 disjoint copies of the 1× graph.
  *  - dimension tables are copied as-is (no measured query joins a
  *    remapped fact key to a dimension; documented limitation of the
  *    synthetic dir rather than a silent one).
  *
  * Usage: `tools/run.sh graft.Scale10 [baseSfDir] [workDir]`; writes
  * SCALE10.json (one JSON object) to the repo root unless overridden
  * via SPARK_GRAFT_SCALE10_OUT. Reuses an existing synthesized dir
  * when its marker file matches the base dir (delete workDir to force
  * re-synthesis).
  */
object Scale10 {

  /** Queries measured — the expensive tail of BENCH_FULL.all_queries.
    * SPARK_GRAFT_SCALE_QUERIES subsets (comma-separated). Each (query,
    * scale) row also records its OUTPUT row count (no-silent-caps:
    * output-bound growth must be tellable from algorithmic blowup in
    * the artifact itself).
    */
  val Measured: Seq[String] = {
    val all = Seq(
      "l6_ngram_simjoin", "o7_gap_fill", "g1_pagerank_dangling", "l3_pq_topk",
      "m9_overlap_matrix", "l9_fuzzy_decontam", "l1_substr_dedup", "l6_simjoin",
      "l0_pipeline", "l4_bpe_encode")
    sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(all)
  }

  /** Default expansion factor; arg 3 overrides (the 100× stretch run
    * writes SCALE100.json via SPARK_GRAFT_SCALE10_OUT).
    */
  val DefaultFactor = 10
  /** Growth-gate ceiling for t(F×)/t(1×): linear is ~F minus fixed
    * constants; F·1.2 allows measurement noise without letting a
    * quadratic term (which lands near F² at factor F) pass.
    */
  def superlinearRatio(factor: Int): Double = factor * 1.2

  /** Required-single-partition exchanges in an executed plan that feed
    * anything but a global aggregate or collect-limit (see the class
    * Scaladoc). Returns one "consumer <- Exchange SinglePartition"
    * string per hit. Walks THROUGH wrapper nodes (AQE roots, query
    * stages, codegen, AQE shuffle reads) and INTO persisted frames'
    * cached plans, so a pin can't hide its exchange.
    */
  private[graft] def singlePartitionViolations(
      root: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children
    }
    def transparent(p: SparkPlan): Boolean = p match {
      case _: AdaptiveSparkPlanExec | _: QueryStageExec |
           _: WholeStageCodegenExec | _: InputAdapter |
           _: AQEShuffleReadExec => true
      case _ => false
    }
    def realChildren(p: SparkPlan): Seq[SparkPlan] =
      kids(p).flatMap(c => if (transparent(c)) realChildren(c) else Seq(c))
    // Bounded-metadata allowance (the RelationalSpec bounded-window
    // inventory rule): a single-partition stage whose input chain
    // reaches an AGGREGATE before any join or source scan carries rows
    // bounded by a group count (per-partition offset tables, cut-point
    // frames), not corpus rows — legitimate at any scale.
    def boundedByAggregate(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
      case m: InMemoryTableScanExec => boundedByAggregate(m.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => boundedByAggregate(a.executedPlan)
      case q: QueryStageExec => boundedByAggregate(q.plan)
      case l if l.children.isEmpty => false // source scan / leaf
      case other => other.children.forall(boundedByAggregate)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def visit(n: SparkPlan): Unit = if (seen.add(n)) {
      val allowed = n.isInstanceOf[BaseAggregateExec] ||
        n.isInstanceOf[CollectLimitExec]
      realChildren(n).foreach {
        case ex: ShuffleExchangeExec if ex.outputPartitioning == SinglePartition =>
          if (!allowed && !boundedByAggregate(ex.child))
            out += s"${n.nodeName} <- Exchange SinglePartition"
          visit(ex)
        case c => visit(c)
      }
    }
    val start = if (transparent(root)) realChildren(root) else Seq(root)
    start.foreach(visit)
    out.toSeq
  }

  /** Plan-audit listener: applies [[singlePartitionViolations]] to every
    * action's executed plan while enabled.
    */
  final class PlanAudit extends org.apache.spark.sql.util.QueryExecutionListener {
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var enabled = false
    override def onSuccess(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit =
      if (enabled)
        singlePartitionViolations(qe.executedPlan).foreach(violations.add)
    override def onFailure(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()
  }

  private def expandFacts(spark: SparkSession, base: String, out: String,
                          factor: Int): Unit = {
    def copies(df: DataFrame, f: Int => DataFrame): DataFrame =
      (0 until factor).map(f).reduce(_ unionByName _)

    val stops = typedLit(graft.operators.TextOps.GopherRequiredStops)
    val docs = spark.read.parquet(s"$base/documents.parquet")
    copies(docs, k => docs.select(
      (col("doc_id") * factor + k).as("doc_id"),
      array_join(transform(split(col("text"), " "),
        t => when(array_contains(stops, t), t)
          .otherwise(concat(t, lit(k.toString)))), " ").as("text"),
      col("lang"), col("source")))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    copies(emb, k => emb.select(
      (col("vec_id") * factor + k).as("vec_id"), col("embedding"), col("label")))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val ev = spark.read.parquet(s"$base/events.parquet")
    copies(ev, k => ev.select(
      (col("event_id") * factor + k).as("event_id"), col("ts"),
      (col("user_id") * factor + k).as("user_id"),
      col("event_type"), col("value"), col("props")))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val liKeys = Set("l_orderkey", "l_partkey", "l_suppkey")
    copies(li, k => li.select(li.columns.map(c =>
      if (liKeys(c)) (col(c) * factor + k).as(c) else col(c)).toIndexedSeq: _*))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val ord = spark.read.parquet(s"$base/orders.parquet")
    val ordKeys = Set("o_orderkey", "o_custkey")
    copies(ord, k => ord.select(ord.columns.map(c =>
      if (ordKeys(c)) (col(c) * factor + k).as(c) else col(c)).toIndexedSeq: _*))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    // dimensions: verbatim copies (see the Scaladoc limitation note)
    for (t <- Seq("region", "nation", "customer", "supplier", "part")) {
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = args.drop(1).headOption.getOrElse("/tmp/graft_scale10")
    val factor = args.drop(2).headOption.map(_.toInt).getOrElse(DefaultFactor)
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val outJson = sys.env.getOrElse("SPARK_GRAFT_SCALE10_OUT",
      java.nio.file.Paths.get(sys.props("user.dir"), "SCALE10.json").toString)
    require(!work.startsWith("/root/testdata"), "workDir must not touch the fixtures")
    val tenx = s"$work/sf${factor}x"
    val marker = java.nio.file.Paths.get(s"$work/.synth_from_$factor")
    val spark = Engine.session("graft-scale10")
    val loadStart = Bench.loadAvg1m()

    val synthT0 = System.nanoTime()
    // marker carries a synth VERSION: changing the expansion semantics
    // must invalidate a previously synthesized dir
    val markerVal = s"$base#v2#f$factor"
    val reuse = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker)).trim == markerVal
    if (!reuse) {
      expandFacts(spark, base, tenx, factor)
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.writeString(marker, markerVal)
    }
    val synthSec = (System.nanoTime() - synthT0) / 1e9

    val audit = new PlanAudit
    val qs = SparkEntry.queries

    /** (cold, warm) for one (query, scale), measured in a FRESH
      * `spark.newSession()` with the shared cache cleared:
      *
      *  - cold = first run — the BUILD path, what must scale linearly.
      *    The fresh session is the load-bearing part: graft's
      *    SessionCache memos key on the SparkSession instance, so
      *    1×-side memos built by the prepass (or a previous
      *    measurement) CANNOT leak in — without this, a memoized chain
      *    like l6_simjoin measured 0.7 s "cold" at 1× against a
      *    genuine 23 s build at 10× and the ratio was meaningless in
      *    one direction, while WITHOUT the prepass the 1× side paid
      *    session codegen/JIT the 10× side got for free and it was
      *    meaningless in the other.
      *  - warm = best of the next 2 — the re-declared-run serving
      *    steady state the TWINS protocol measures, for context.
      */
    def time(name: String, dir: String, auditOn: Boolean): (Double, Double, Long) = {
      val s = spark.newSession()
      spark.catalog.clearCache() // CacheManager is SharedState-global
      // ExecutionListenerManager is per-session — register on the fresh
      // session so every action's executed plan reaches the audit
      s.listenerManager.register(audit)
      audit.enabled = auditOn
      def once(): Double =
        Bench.timed(qs(name)(s, dir).write.format("noop").mode("overwrite").save())
      val cold = once()
      val warm = (1 to 2).map(_ => once()).min
      // no-silent-caps: record the OUTPUT row count at this scale, so an
      // output-bound ratio (e.g. l6_simjoin, whose verified-pair count
      // grows ∝ factor by construction) is distinguishable from an
      // algorithmic blowup in the artifact itself (untimed; memos warm)
      val rows = qs(name)(s, dir).count()
      audit.enabled = false
      (cold, warm, rows)
    }

    // Session prepass: run every measured query once at 1× BEFORE any
    // timing. Spark's codegen cache is keyed by generated code — the
    // same plan SHAPE on either dir hits it — so without this the 1×
    // cold run would pay janino/JIT compilation the 10× cold run gets
    // for free (observed: first-query cold ratio 0.53, i.e. the 1× side
    // was charged session warmup). Memoized per-dir session chains
    // (codebook training etc.) still land in each scale's own cold run;
    // the 10× side pays its own — the conservative direction for a gate.
    Measured.foreach { name =>
      qs(name)(spark, base).write.format("noop").mode("overwrite").save()
    }

    val rows = Measured.map { name =>
      val (c1, w1, n1) = time(name, base, auditOn = false)
      val before = audit.violations.size
      val (c10, w10, n10) = time(name, tenx, auditOn = true)
      Thread.sleep(300) // let async listener events drain
      // Free the previous query's shuffle files NOW: Spark's
      // ContextCleaner only unregisters a shuffle once its
      // ShuffleDependency is JVM-GC'd, and with a mostly-idle heap the
      // collector can sit for many minutes (spark.cleaner.periodicGC
      // defaults to 30 min) while dead shuffle data accumulates on
      // disk — at factor 100 earlier queries' retained shuffles share
      // the box's ~78 GB scratch with the live query's spill. An
      // explicit GC per measured query bounds scratch usage to the
      // live query's own working set. (Not sufficient for l6_simjoin
      // at factor 100: ITS OWN verify-join spill exceeds the box — the
      // pair stream carries shingle sets — measured and documented in
      // SCALING.md rather than capped silently.)
      System.gc()
      val viol = audit.violations.toArray.drop(before)
        .map(_.asInstanceOf[String]).toSeq.distinct
      (name, c1, w1, c10, w10, viol, n1, n10)
    }

    val loadEnd = Bench.loadAvg1m()
    val gate = superlinearRatio(factor)
    val anyViol = rows.exists(_._6.nonEmpty)
    val anySuper = rows.exists { case (_, c1, _, c10, _, _, _, _) => c10 / c1 > gate }
    val qJson = rows.map { case (name, c1, w1, c10, w10, viol, n1, n10) =>
      val vs = viol.map(v => "\"" + v.replace("\"", "'") + "\"")
        .mkString("[", ",", "]")
      f""""$name":{"cold1x_sec":$c1%.3f,"coldNx_sec":$c10%.3f,"cold_ratio":${c10 / c1}%.2f,""" +
        f""""warm1x_sec":$w1%.3f,"warmNx_sec":$w10%.3f,""" +
        f""""rows1x":$n1,"rowsNx":$n10,"single_partition_violations":$vs}"""
    }.mkString(",")
    val json =
      s"""{"generator":"graft.Scale10","base":"$base","factor":$factor,""" +
        s""""action":"warm best-of-2 noop write","synth_sec":${"%.1f".format(synthSec)},""" +
        s""""superlinear_gate":$gate,"gate_kind":"required-single-partition-exchange",""" +
        s""""start_1m":$loadStart,"end_1m":$loadEnd,"contended":${loadStart > 4.0 || loadEnd > 4.0},""" +
        s""""pass":${!anyViol && !anySuper},"queries":{$qJson}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
    spark.stop()
    if (anyViol || anySuper) {
      System.err.println("SCALE10 GATE FAILED" +
        (if (anyViol) " [one-task stage over record limit]" else "") +
        (if (anySuper) " [super-linear growth]" else ""))
      sys.exit(1)
    }
  }
}
