package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{Engine, Registry}
import graft.operators.{Curation, TextOps}
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: `workload=<name> data=<fixture root>
  * out=<run dir> seed=<n> seconds=<s> trace=<0|1> launched_ms=<epoch ms>`.
  * Writes `result.json` (timings, layer numbers, check inputs) and the
  * rows the checks read into `out`; run.py does the DuckDB comparisons.
  */
object Main {
  /** After the cold pass (or drain) come untimed warm-up passes, then the
    * measured ones. Passes keep getting faster for a minute and more while
    * the JIT compiles the engine, so the count of measured passes is fixed
    * by `--seconds` and the nominal pass length, never by the clock: every
    * run then measures the same passes of the same JVM history, and their
    * median is not moved by one or two passes that still lag.
    */
  def rounds(seconds: Double, nominalS: Double): Int =
    math.max(3, math.ceil(seconds / nominalS).toInt)

  final case class Batch(name: String, scale: String, queries: Seq[String],
                         builds: Seq[(String, (SparkSession, String) => Unit)])

  /** One batch workload at the scale of the correctness run: the headline
    * relational quartet and the construction-heavy outer join (driver-bound:
    * frame construction, Catalyst planning and job scheduling), then two
    * session-memoized builds, one consumer of each and TF-IDF over the
    * corpus (executor-bound: task time and shuffle).
    */
  val Workload = Batch("batch_sf0.01", "sf0.01", Seq(
    "j2_outer_join", "q1_pricing_summary", "q3_join_agg", "tumbling_window",
    "window_topk", "l4_quality_classifier", "l4_tfidf", "l9_bloom_decontam").sorted, Seq(
    "nb_classifier" -> ((s, d) => { TextOps.defaultNbScored(s, d).count(); () }),
    "bloom_filter" -> ((s, d) => Curation.defaultBloomBuild(s, d))))
  val WarmUpPasses = 4
  val NominalPassS = 4.0

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = Paths.get(opt("out"))
    exitWithParent()
    if (opt.get("mode").contains("oracle-sql")) {
      val oracle = Registry.oracleSql
      val byScale = Map(Workload.scale ->
        Workload.queries.flatMap(q => oracle.get(q).map(q -> _)).toMap)
      Files.write(out.resolve("oracle_sql.json"), Json.render(byScale).getBytes(StandardCharsets.UTF_8))
      return
    }
    val traced = opt("trace") == "1"
    val spark = Engine.session("perfbench")
    val liveMs = System.currentTimeMillis()
    val common = Map[String, Any](
      "setup_s" -> (liveMs - opt("launched_ms").toLong) / 1000.0,
      "cores" -> spark.sparkContext.defaultParallelism)
    val result = try {
      opt("workload") match {
        case Workload.name =>
          val trace = if (traced) Some(new Trace(spark, full = true)) else None
          runBatch(spark, Workload, s"${opt("data")}/${Workload.scale}", opt("seconds").toDouble,
            trace, out)
        case MqPipeline.Name =>
          MqPipeline.run(spark, s"${opt("data")}/${MqPipeline.Scale}", opt("seed").toLong,
            opt("seconds").toDouble, new Trace(spark, full = traced), out)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally spark.stop()
    Files.write(out.resolve("result.json"),
      Json.render(common ++ result).getBytes(StandardCharsets.UTF_8))
  }

  /** run.py holds this JVM's stdin open and never writes to it; end of
    * input means run.py is gone, and the JVM must not outlive it.
    */
  def exitWithParent(): Unit = {
    val t = new Thread(() => {
      while (System.in.read() >= 0) ()
      Runtime.getRuntime.halt(3)
    })
    t.setDaemon(true)
    t.start()
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0))
  }

  /** Run `body` as a traced phase when tracing, else plainly. */
  def phase[T](trace: Option[Trace])(body: => T): (T, Option[PhaseStats]) =
    trace match {
      case Some(t) => val (r, s) = t.phase(body); (r, Some(s))
      case None    => (body, None)
    }

  final case class QueryTime(name: String, constructS: Double, actionS: Double,
                             constructMs: (Long, Long), actionMs: (Long, Long))

  final case class Pass(wallS: Double, queries: Seq[QueryTime], stats: Option[PhaseStats])

  def runBatch(spark: SparkSession, w: Batch, dir: String, seconds: Double,
               trace: Option[Trace], out: java.nio.file.Path): Map[String, Any] = {
    val registry = Registry.queries
    val builds = w.builds.map { case (n, f) => n -> phase(trace)(timed(f(spark, dir))._2) }

    var failed = 0
    def attempt(q: String)(body: => Unit): Unit =
      try body catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $q failed: $e")
      }

    // Timed passes run each frame into the noop sink. The first warm-up
    // pass instead writes each query's rows as one parquet file, which the
    // checks read.
    val rowsDir = out.resolve("rows")
    def pass(write: Boolean): Pass = {
      val (qs, stats) = phase(trace) {
        w.queries.map { q =>
          val c0 = System.currentTimeMillis(); val n0 = System.nanoTime()
          var n1 = n0; var c1 = c0
          attempt(q) {
            val df = registry(q)(spark, dir)
            n1 = System.nanoTime(); c1 = System.currentTimeMillis()
            if (write) df.coalesce(1).write.parquet(rowsDir.resolve(q).toString)
            else df.write.format("noop").mode("overwrite").save()
          }
          val n2 = System.nanoTime(); val c2 = System.currentTimeMillis()
          QueryTime(q, (n1 - n0) / 1e9, (n2 - n1) / 1e9, (c0, c1), (c1, c2))
        }
      }
      Pass(qs.map(q => q.constructS + q.actionS).sum, qs, stats)
    }

    val cold = pass(write = false)
    val warmUp = (1 to WarmUpPasses).map(i => pass(write = i == 1))
    val warm = (1 to rounds(seconds, NominalPassS)).map(_ => pass(write = false))
    val oracle = Registry.oracleSql
    // the builds are paid once per session, inside the cold pass
    val coldS = builds.map(_._2._1).sum + cold.wallS
    def queryMedians(ps: Seq[Pass]): Map[String, Double] = w.queries.map(q => q -> median(
      ps.map(_.queries.find(_.name == q).map(t => t.constructS + t.actionS).get))).toMap

    Map(
      "workload" -> w.name,
      "scale" -> w.scale,
      "builds" -> builds.map { case (n, (s, _)) => n -> s }.toMap,
      "cold_pass_s" -> coldS,
      "warm_up_passes_s" -> warmUp.map(_.wallS),
      "warm_passes_s" -> warm.map(_.wallS),
      "warm_pass_s" -> median(warm.map(_.wallS)),
      "operations" -> (w.queries.size * (1 + warmUp.size + warm.size)),
      "failed" -> failed,
      "queries" -> w.queries,
      "oracle_sql" -> w.queries.flatMap(q => oracle.get(q).map(q -> _)).toMap,
      "cold_queries" -> cold.queries.map(q => q.name -> (q.constructS + q.actionS)).toMap,
      "warm_queries" -> queryMedians(warm),
      "layers" -> (if (trace.isEmpty) Map.empty[String, Any]
                   else batchLayers(builds, coldS, cold, warm)))
  }

  /** Per-layer numbers of a traced batch run, per warm pass (means). */
  def batchLayers(builds: Seq[(String, (Double, Option[PhaseStats]))], coldS: Double,
                  cold: Pass, warm: Seq[Pass]): Map[String, Any] = {
    def per(f: Pass => Double): Double = warm.map(f).sum / warm.size
    def st(p: Pass): PhaseStats = p.stats.get
    Map(
      "traced.warm_pass_s" -> median(warm.map(_.wallS)),
      "traced.cold_pass_s" -> coldS,
      "op_p50_ms" -> median(warm.flatMap(_.queries.map(q => (q.constructS + q.actionS) * 1000))),
      "registry.construct_s" -> per(_.queries.map(_.constructS).sum),
      "registry.construct_cold_s" -> cold.queries.map(_.constructS).sum,
      "registry.construct_jobs" -> per(p => st(p).jobsWithin(p.queries.map(_.constructMs)).toDouble),
      "sched.driver_gap_s" -> per(p => st(p).idleSeconds(p.queries.map(_.actionMs)))) ++
      Layers.executor(warm.map(p => Seq(st(p)))) ++
      builds.map { case (b, (s, _)) => s"build.${b}_s" -> s }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON writer for the result file (numbers, strings, sequences, maps). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
