package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — times the headline queries (names match BASELINE.md)
  * at SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Two actions are reported, because they measure different things:
  *
  *  - `queries`/`value`: warm best-of-3 under `count()` — the contract
  *    BASELINE.md's round-1 vanilla numbers were measured under, kept
  *    for round-over-round and engine-vs-baseline comparability. A bare
  *    count lets Catalyst prune un-consumed aggregate expressions and
  *    eliminate final sorts, on BOTH sides of the comparison equally.
  *  - `queries_full`: warm best-of-3 under a noop-sink write — full
  *    materialization of every output column, nothing pruned. Compare
  *    against BASELINE.md's "full materialization" vanilla table (same
  *    action, measured by `graft.BaselineBench`).
  *
  * The line also carries `all_queries`: one single-shot noop-write
  * timing per declared query (headline included, measured on the same
  * uniform basis), so regressions in the non-headline tail are
  * machine-diffable round over round (the SCALING.md audit, emitted by
  * the artifact instead of hand-refreshed). SPARK_GRAFT_BENCH_ALL
  * promotes every all_queries entry to warm best-of-3 (slow, dev
  * audit); SPARK_GRAFT_BENCH_HEADLINE_ONLY skips the map for quick
  * loops.
  */
object Bench {
  /** Headline metrics — keep names identical to BASELINE.md rows. */
  val headline: Seq[String] =
    Seq("q1_pricing_summary", "q3_join_agg", "window_topk", "tumbling_window")

  /** 1-minute load average from /proc/loadavg (-1 where unreadable,
    * e.g. non-Linux). Recorded at artifact start and end so a run taken
    * on a contended box is machine-discountable: two rounds of phantom
    * 2–5× "regressions" traced to ambient load, each costing a manual
    * re-measurement.
    */
  private def loadAvg1m(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Cumulative CPU seconds of THIS JVM (-1 where the JMX bean is
    * unavailable). cpu_sec ≫ wall_sec × cores means the measured
    * queries themselves saturated the box; cpu_sec ≪ expectation with
    * inflated wall times means SOMETHING ELSE did.
    */
  private def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val wallT0 = System.nanoTime()
    val loadStart = loadAvg1m()
    val spark = Engine.session("graft-bench")
    val qs = SparkEntry.queries
    val headlineOnly = sys.env.contains("SPARK_GRAFT_BENCH_HEADLINE_ONLY")
    val singleShot = sys.env.contains("SPARK_GRAFT_BENCH_SINGLESHOT")

    // A crashing or missing query must surface as a -1 sentinel, never as
    // a short "time until it threw" that silently shrinks the total.
    def once(name: String, full: Boolean): Double = {
      val t0 = System.nanoTime()
      try {
        val df = qs(name)(spark, sfDir)
        if (full) df.write.format("noop").mode("overwrite").save() else df.count()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
    }
    // warm-up + best-of-3: ambient load on a shared box adds hundreds of
    // ms of one-sided noise; min is the robust stat
    def rigorous(name: String, full: Boolean): Double = {
      val warm = once(name, full)
      if (warm < 0) -1.0
      else Seq(once(name, full), once(name, full), once(name, full)).min
    }

    val results = headline.map { name =>
      if (!qs.contains(name)) {
        System.err.println(s"[bench] $name not in registry"); name -> -1.0
      } else name -> rigorous(name, full = false)
    }
    val resultsFull = headline.map { name =>
      name -> (if (qs.contains(name)) rigorous(name, full = true) else -1.0)
    }
    // all_queries is measured UNIFORMLY: warm best-of-3 per query (same
    // basis as the headline) — the round-7 artifact proved single-shot
    // numbers on a contended box are pure noise (unchanged queries
    // "regressed" 2–12×), so min-of-3 is the only form comparable round
    // over round. Session-level caches (the shared l6 chain) warm on the
    // first run exactly as a real session would; the reported min is the
    // steady-state query cost. SPARK_GRAFT_BENCH_SINGLESHOT restores the
    // cheap one-pass map for quick dev loops.
    // The memoized l6 near-dup chain (shared by l6_simjoin /
    // l6_dedup_docs / l8_cluster_sample / l0_pipeline) builds once per
    // session, so per-query warm best-of-3 reports steady-state cost
    // with the build paid during a warm-up pass. Surface the build as
    // its own artifact field — a one-time cost a cluster deployment
    // schedules like an index build must stay visible, not vanish into
    // an unreported warm-up.
    def timedBuild(label: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try { body; (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $label build failed: ${e.getMessage}")
        -1.0
      }
    }
    val sharedBuild: Double =
      if (headlineOnly) -1.0
      else timedBuild("l6 chain") {
        graft.operators.Dedup.l6DedupDocs(spark, sfDir).count() }
    // the catalog's exact ANALYZE pass: memoized per session (s7_profile
    // and the approx gate's acceptance band both consume it), so its
    // one-time cost must surface here — warm per-query minima would
    // otherwise hide it entirely
    val s7Build: Double =
      if (headlineOnly) -1.0
      else timedBuild("s7 exact profile") {
        graft.operators.Profile.s7Profile(spark, sfDir).count() }
    // the HLL++ sketch catalog: memoized per session like the exact pass
    // (its warm declared-query cost is the ~50-row read, not the sweep)
    val s7ApproxBuild: Double =
      if (headlineOnly) -1.0
      else timedBuild("s7 approx sketch") {
        graft.operators.Profile.s7ProfileApprox(spark, sfDir).count() }
    // the corpus BM25 table: memoized per session (l4_bm25, m3_mrr and
    // m5_ndcg all consume it) — an index build, surfaced like the others
    val bm25Build: Double =
      if (headlineOnly) -1.0
      else timedBuild("bm25 table") {
        graft.operators.TextOps.defaultBm25(spark, sfDir).count() }
    // the PQ codebooks (joint Lloyd chain): memoized per session like the
    // IVF centroids — an index build a deployment schedules once
    val pqBuild: Double =
      if (headlineOnly) -1.0
      else timedBuild("pq codebooks") {
        graft.operators.Similarity.defaultPqBooks(Tables(spark, sfDir)).count() }
    // the NB classifier train+score frame: memoized per session
    // (l4_quality_classifier, m7_calibration, m7_confusion all consume
    // it) — a model training a deployment schedules once
    val nbBuild: Double =
      if (headlineOnly) -1.0
      else timedBuild("nb classifier") {
        graft.operators.TextOps.defaultNbScored(spark, sfDir).count() }
    // the decontamination bloom filter: built once per benchmark and
    // memoized per session (l9_bloom_decontam consumes it) — an index
    // build like the PQ codebooks, surfaced the same way
    val bloomBuild: Double =
      if (headlineOnly) -1.0
      else timedBuild("bloom filter") {
        graft.operators.Curation.defaultBloomBuild(spark, sfDir) }
    val tail = qs.keys.toSeq.sorted.filterNot(headline.contains)
    // SPARK_GRAFT_BENCH_QUERIES=a,b,c restricts the per-query map — dev
    // loop for timing one query's change without a full pass
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val allResults =
      if (headlineOnly) Nil
      else (headline.filter(qs.contains) ++ tail)
        .filter(n => only.forall(_.contains(n)))
        .map { n =>
          n -> (if (singleShot) once(n, full = true) else rigorous(n, full = true))
        }

    // ms precision is plenty; raw Double.toString (17 sig digits) tripled
    // the line size and got the round-6 artifact truncated mid-key by the
    // driver's log-tail capture
    // Locale.ROOT: the f"" interpolator is locale-sensitive, and a JVM
    // defaulting to a comma-decimal locale would emit "1,234" — invalid
    // JSON — into the artifact
    def fmt(v: Double) =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def toJson(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = if (results.exists(_._2 < 0)) -1.0 else results.map(_._2).sum
    val allJson =
      if (headlineOnly) ""
      else s""","shared_build":{"l6_chain":${fmt(sharedBuild)},"s7_exact_profile":${fmt(s7Build)},"s7_approx_sketch":${fmt(s7ApproxBuild)},"bm25":${fmt(bm25Build)},"pq_books":${fmt(pqBuild)},"nb_classifier":${fmt(nbBuild)},"bloom_filter":${fmt(bloomBuild)}},"all_queries":${toJson(allResults.sortBy(_._1))}"""
    // contention evidence: ambient load at both ends plus this JVM's own
    // cpu-vs-wall split — a reader can discount an inflated artifact
    // (load ≫ cores in use, or wall ≫ cpu/cores) without re-running it
    // `cores` is the SESSION's core count (local[$cores] from
    // $SPARK_GRAFT_CPUS) — the driver's low-core scaling run reads it to
    // confirm the env was honored; r16 reported availableProcessors here
    // and the c8 run self-described as 32-core, tripping the driver's
    // suspect_cpus_ignored flag. The host's processor count stays
    // available as host_cores for load-average context.
    val loadJson = {
      val cores = Engine.defaultCores
      val hostCores = Runtime.getRuntime.availableProcessors
      s""","load":{"start_1m":${fmt(loadStart)},"end_1m":${fmt(loadAvg1m())},"cores":$cores,"host_cores":$hostCores,"jvm_cpu_sec":${fmt(processCpuSec())},"wall_sec":${fmt((System.nanoTime() - wallT0) / 1e9)},"contended":${loadStart > 2.0}}"""
    }
    // a FILTERED or headline-only dev-loop run must not clobber the
    // committed full artifact — partial maps default to /tmp, only a
    // full pass lands in the repo (explicit SPARK_GRAFT_BENCH_OUT
    // overrides either way). A CONTENDED-box run is likewise diverted:
    // three rounds running, artifacts taken beside ambient load have
    // manufactured phantom 2–12× regressions that each cost a manual
    // re-measure, so a start load-average above 2 (an idle box sits
    // ~0.1; the round-9 poisoned artifact started at 7.86) keeps the
    // last clean artifact committed and parks this run in /tmp. Gate on
    // AMBIENT load only — the jvm_cpu/wall ratio also shipped in `load`
    // is for readers, not gating: local[32] on sf0.1 legitimately runs
    // ~4–5 cores busy, indistinguishable from a mildly starved box.
    val contended = loadStart > 2.0
    if (contended)
      System.err.println(f"[bench] start_1m=$loadStart%.2f > 2: contended box, " +
        "diverting artifact to /tmp (committed BENCH_FULL.json left untouched)")
    val defaultOut =
      if (headlineOnly || singleShot || only.isDefined || contended) "/tmp/BENCH_FULL.json"
      else java.nio.file.Paths.get(sys.props("user.dir"), "BENCH_FULL.json").toString
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    // The ONE-LINE contract the driver parses is the LAST JSON line of
    // stdout, and per the r16 verdict it must carry the FULL per-query
    // map (all_queries + shared_build) — the r16 compact-final-line
    // variant parsed cleanly but left the driver's round-over-round PERF
    // compare with n_common=0. The same artifact goes to a FILE as the
    // durable copy (it lands in the repo and is committed) since the
    // driver's ARCHIVED stdout excerpt is tail-truncated.
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${toJson(results)},"queries_full":${toJson(resultsFull)}$allJson$loadJson,"all_queries_file":"$outPath","sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (full + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full artifact written to $outPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // Compact headline-only line FIRST (a human-readable summary that
    // always survives a tail capture whole), then the full artifact LAST
    // after spark.stop()'s log noise is flushed.
    println(s"""{"metric":"headline","value":${fmt(total)},"unit":"sec","queries":${toJson(results)},"queries_full":${toJson(resultsFull)}$loadJson,"all_queries_file":"$outPath","sf":"$sfDir"}""")
    spark.stop()
    println(full)
  }
}
