package graft

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
  * The line also carries `all_queries`: one warm best-of-3 noop-write
  * timing per declared query (headline included, measured on the same
  * uniform basis), so regressions in the non-headline tail are
  * machine-diffable round over round (the SCALING.md audit, emitted by
  * the artifact instead of hand-refreshed).
  *
  * The timing kernel below ([[timed]], [[warmBest]], [[fmt]],
  * [[loadAvg1m]]) is the one every measurement main shares.
  */
object Bench {
  /** Headline metrics — keep names identical to BASELINE.md rows. */
  val headline: Seq[String] =
    Seq("q1_pricing_summary", "q3_join_agg", "window_topk", "tumbling_window")

  /** Wall seconds of one run of `body`. */
  private[graft] def timed(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Warm best-of-3: one untimed warm-up run, then the minimum of 3 timed
    * runs — ambient load on a shared box adds hundreds of ms of one-sided
    * noise, so min is the robust stat. A run that throws yields the -1
    * sentinel and one `[label] name failed: …` line on stderr, never a
    * short "time until it threw" that silently shrinks a total.
    */
  private[graft] def warmBest(label: String, name: String)(body: => Any): Double =
    try { body; Seq.fill(3)(timed(body)).min }
    catch { case e: Throwable =>
      System.err.println(s"[$label] $name failed: ${e.getMessage}")
      -1.0
    }

  /** Seconds as artifact JSON: ms precision (raw Double.toString's 17
    * significant digits tripled the line size and got the round-6
    * artifact truncated mid-key by a log-tail capture), "-1"
    * for a failure. Locale.ROOT: the f"" interpolator is locale-sensitive,
    * and a comma-decimal JVM locale would emit "1,234" — invalid JSON.
    */
  private[graft] def fmt(v: Double): String =
    if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private[graft] def toJson(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  /** 1-minute load average from /proc/loadavg (-1 where unreadable,
    * e.g. non-Linux). Recorded at artifact start and end so a run taken
    * on a contended box is machine-discountable: two rounds of phantom
    * 2–5× "regressions" traced to ambient load, each costing a manual
    * re-measurement.
    */
  private[graft] def loadAvg1m(): Double =
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

    def rigorous(name: String, full: Boolean): Double =
      if (!qs.contains(name)) {
        System.err.println(s"[bench] $name not in registry"); -1.0
      } else warmBest("bench", name) {
        val df = qs(name)(spark, sfDir)
        if (full) df.write.format("noop").mode("overwrite").save() else df.count()
      }

    val results = headline.map(n => n -> rigorous(n, full = false))
    val resultsFull = headline.map(n => n -> rigorous(n, full = true))
    // The session-memoized index builds, timed once each in this order.
    // Warm per-query best-of-3 pays a build during a warm-up pass and
    // reports steady-state cost, so a one-time cost a cluster deployment
    // schedules like an index build must surface here, not vanish into
    // an unreported warm-up:
    //  - l6_chain: the near-dup chain (l6_simjoin, l6_dedup_docs,
    //    l8_cluster_sample, l0_pipeline);
    //  - s7_exact_profile / s7_approx_sketch: the catalog's exact ANALYZE
    //    pass (s7_profile and the approx gate's acceptance band) and the
    //    HLL++ sketch catalog;
    //  - bm25: the corpus BM25 table (l4_bm25, m3_mrr, m5_ndcg);
    //  - pq_books: the PQ codebooks (joint Lloyd chain);
    //  - nb_classifier: the NB train+score frame (l4_quality_classifier,
    //    m7_calibration, m7_confusion);
    //  - bloom_filter: the decontamination filter (l9_bloom_decontam).
    import graft.operators.{Curation, Dedup, Profile, Similarity, TextOps}
    val builds: Seq[(String, () => Any)] = Seq(
      "l6_chain" -> (() => Dedup.l6DedupDocs(spark, sfDir).count()),
      "s7_exact_profile" -> (() => Profile.s7Profile(spark, sfDir).count()),
      "s7_approx_sketch" -> (() => Profile.s7ProfileApprox(spark, sfDir).count()),
      "bm25" -> (() => TextOps.defaultBm25(spark, sfDir).count()),
      "pq_books" -> (() => Similarity.defaultPqBooks(Tables(spark, sfDir)).count()),
      "nb_classifier" -> (() => TextOps.defaultNbScored(spark, sfDir).count()),
      "bloom_filter" -> (() => Curation.defaultBloomBuild(spark, sfDir)))
    val sharedBuild = builds.map { case (key, build) =>
      key -> (try timed(build()) catch { case e: Throwable =>
        System.err.println(s"[bench] $key build failed: ${e.getMessage}")
        -1.0
      })
    }
    // SPARK_GRAFT_BENCH_QUERIES=a,b,c restricts the per-query map — dev
    // loop for timing one query's change without a full pass
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    // all_queries is measured UNIFORMLY: warm best-of-3 noop per query —
    // the round-7 artifact proved single-shot numbers on a contended box
    // are pure noise (unchanged queries "regressed" 2–12×). The headline
    // entries are the queries_full values, measured under that protocol.
    val fullByName = resultsFull.toMap
    val allResults = qs.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .map(n => n -> fullByName.getOrElse(n, rigorous(n, full = true)))

    val total = if (results.exists(_._2 < 0)) -1.0 else results.map(_._2).sum
    val allJson =
      s""","shared_build":${toJson(sharedBuild)},"all_queries":${toJson(allResults)}"""
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
    // a FILTERED dev-loop run must not clobber the
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
      if (only.isDefined || contended) "/tmp/BENCH_FULL.json"
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
