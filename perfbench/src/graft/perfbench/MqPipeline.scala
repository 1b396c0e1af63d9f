package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.Tables
import graft.perfbench.Main.{median, timed}
import graft.sources.{MqAdmission, MqBroker, MqSource}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}

/** The MQ route-and-window pipeline. The `events` fixture is replayed, in
  * event order and keyed by user, into a topic as a backlog; a seed-chosen
  * 1% of the payloads are truncated. Each drain then runs
  *  1. `Streams.runWithDeadLetter`: good rows to an out topic, bad ones to
  *     a dead-letter topic;
  *  2. `decodeEvents` -> `tumblingCounts` over the out topic, Append mode,
  *     into the memory sink (`Streams.runAvailableNow`).
  * Both read with `Trigger.AvailableNow` and a fixed `maxOffsetsPerTrigger`.
  */
object MqPipeline {
  val Name = "mq_pipeline"
  val Scale = "sf0.1"
  val Partitions = 4
  val MaxOffsetsPerTrigger = 25000L
  /** Larger than the event-time disorder the keyed, proportionally
    * admitted partitions can show at a batch boundary, so no row is late
    * and every closed window can be checked against a plain GROUP BY.
    */
  val Watermark = "1 day"
  val MalformedShare = 0.01
  /** Untimed drains between the cold drain and the measured ones. */
  val WarmUpDrains = 2
  val NominalDrainS = 5.0

  final case class Drain(routeS: Double, windowS: Double, routed: Long, deadLettered: Long,
                         route: PhaseStats, window: PhaseStats) {
    def seconds: Double = routeS + windowS
    def batches: Seq[StreamingQueryProgress] = (route.progress ++ window.progress).toSeq
  }

  def run(spark: SparkSession, dir: String, seed: Long, seconds: Double, trace: Trace,
          out: Path): Map[String, Any] = {
    val fixture = Tables(spark, dir).events
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("event_id").collect()
    val total = fixture.length
    val planted = plantedIndices(total, seed)
    val messages = fixture.indices.map { i =>
      val r = fixture(i)
      val payload = s"""{"event_id":${r.getLong(0)},"ts_us":${r.getLong(1)},""" +
        s""""user_id":${r.getLong(2)},"event_type":"${r.getString(3)}","value":${r.getDouble(4)}}"""
      val value = if (planted(i)) payload.take(payload.length / 2) else payload
      (r.getLong(2).toString, value, r.getLong(1), r.getLong(0))
    }
    val in = "perfbench_in"
    MqBroker.deleteTopic(in)
    MqBroker.createTopic(in, Partitions)
    val (_, publishS) = timed(messages.foreach { case (k, v, ts, _) => MqBroker.publish(in, k, v, ts) })

    val plantedValues = messages.indices.filter(planted).map(messages(_)._2).sorted
    val validIds = messages.indices.filterNot(planted).map(messages(_)._4).toSet
    val failures = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what

    def stream(topic: String): DataFrame =
      spark.readStream.format(MqSource.format).option("topic", topic)
        .option("maxOffsetsPerTrigger", MaxOffsetsPerTrigger.toString).load()

    def checkAdmission(d: Int, leg: String, topic: String, backlog: Long,
                       progress: Seq[StreamingQueryProgress]): Unit = {
      val admitted = MqAdmission.metricsFrame(spark, topic).collect()
        .groupBy(_.getLong(0)).toSeq.map(_._2.map(_.getLong(3)).sum)
      check(admitted.forall(_ <= MaxOffsetsPerTrigger) && admitted.sum == backlog,
        s"drain $d $leg: source admitted ${admitted.mkString(",")} for a backlog of $backlog")
      val rows = progress.map(_.numInputRows)
      check(rows.forall(_ <= MaxOffsetsPerTrigger) && rows.sum == backlog,
        s"drain $d $leg: batches read ${rows.mkString(",")} for a backlog of $backlog")
    }

    var firstWindows: Seq[String] = Nil
    def drain(d: Int): Drain = {
      val (outT, dlqT) = (s"perfbench_out_$d", s"perfbench_dlq_$d")
      Seq(outT, dlqT).foreach { t => MqBroker.deleteTopic(t); MqBroker.createTopic(t, Partitions) }
      Seq(in, outT).foreach(MqAdmission.clear)
      val cp = out.resolve(s"checkpoints/$d")
      val routeIn = stream(in)
      val (routeS, route) = trace.phase(timed(
        Streams.runWithDeadLetter(routeIn, outT, dlqT, cp.resolve("route").toString))._2)
      val windowIn = stream(outT)
      val ((sink, windowS), window) = trace.phase(timed(
        Streams.runAvailableNow(Streams.tumblingCounts(Streams.decodeEvents(windowIn), Watermark),
          s"perfbench_windows_$d", OutputMode.Append, Some(cp.resolve("window").toString))))
      val routed = MqBroker.totalSize(outT)
      val dlq = (0 until Partitions).flatMap(p =>
        MqBroker.fetch(dlqT, p, 0, MqBroker.endOffsets(dlqT)(p)).map(_.value))
      check(routed + dlq.size == total,
        s"drain $d: published $total, routed $routed + dead-lettered ${dlq.size}")
      check(dlq.sorted == plantedValues,
        s"drain $d: dead-letter topic holds ${dlq.size} payloads, ${plantedValues.size} were planted")
      val ids = (0 until Partitions).flatMap(p =>
        MqBroker.fetch(outT, p, 0, MqBroker.endOffsets(outT)(p)).map(m => eventId(m.value)))
      check(ids.size == validIds.size && ids.toSet == validIds,
        s"drain $d: routed ${ids.size} rows / ${ids.toSet.size} ids, ${validIds.size} valid")
      checkAdmission(d, "route", in, total, route.progress.toSeq)
      checkAdmission(d, "window", outT, routed, window.progress.toSeq)

      val windows = sink.select(unix_micros(col("window_start")), col("event_type"), col("n"),
        col("total_value")).collect()
        .map(r => s"${r.getLong(0)},${r.getString(1)},${r.getLong(2)},${r.getDouble(3)}").toSeq.sorted
      if (d == 0) {
        firstWindows = windows
        Files.write(out.resolve("windows.csv"),
          windows.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      } else check(windows == firstWindows, s"drain $d: windows differ from drain 0")
      Seq(outT, dlqT).foreach(MqBroker.deleteTopic)
      spark.catalog.dropTempView(s"perfbench_windows_$d")
      Drain(routeS, windowS, routed, dlq.size, route, window)
    }
    val cold = drain(0)
    val warmUp = (1 to WarmUpDrains).map(drain)
    val warm = (1 to Main.rounds(seconds, NominalDrainS)).map(i => drain(WarmUpDrains + i))
    MqBroker.deleteTopic(in)

    val watermark = cold.window.progress.flatMap(p => Option(p.eventTime.get("watermark"))).lastOption
      .map(w => java.time.Instant.parse(w)).map(i => i.getEpochSecond * 1000000L + i.getNano / 1000)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val warmBatches = warm.flatMap(_.batches)
    Map(
      "workload" -> Name,
      "scale" -> Scale,
      "cold_pass_s" -> cold.seconds,
      "warm_up_passes_s" -> warmUp.map(_.seconds),
      "warm_passes_s" -> warm.map(_.seconds),
      "warm_pass_s" -> median(warm.map(_.seconds)),
      "operations" -> 2 * (1 + warmUp.size + warm.size),
      "failed" -> 0,
      "check_failures" -> failures.toSeq,
      "mq" -> Map(
        "messages" -> total,
        "planted" -> messages.indices.filter(planted),
        "watermark_us" -> watermark.getOrElse(-1L)),
      "layers" -> {
        val perDrain = warm.size.toDouble
        def sumPer(f: StreamingQueryProgress => Double): Double = warmBatches.map(f).sum / perDrain
        def per(f: Drain => Double): Double = warm.map(f).sum / perDrain
        def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
          warm.flatMap(_.window.progress).flatMap(_.stateOperators.toSeq).map(f)
        val streaming = Map[String, Any](
          "mq.publish_s" -> publishS,
          "mq.route_rows_per_s" -> total * perDrain / warm.map(_.routeS).sum,
          "mq.window_rows_per_s" -> warm.map(_.routed).sum / warm.map(_.windowS).sum,
          "mq.latest_offset_ms" -> sumPer(dur(_, "latestOffset")),
          "mq.get_batch_ms" -> sumPer(dur(_, "getBatch")),
          "mq.add_batch_ms" -> sumPer(dur(_, "addBatch")),
          "mq.query_planning_ms" -> sumPer(dur(_, "queryPlanning")),
          "mq.wal_commit_ms" -> sumPer(dur(_, "walCommit")),
          "mq.commit_offsets_ms" -> sumPer(dur(_, "commitOffsets")),
          "mq.batches" -> warmBatches.size / perDrain,
          "mq.rows_per_batch" -> median(warmBatches.map(_.numInputRows.toDouble).filter(_ > 0)),
          "mq.routed_rows" -> per(_.routed.toDouble),
          "mq.dlq_rows" -> per(_.deadLettered.toDouble),
          "state.commit_ms" -> state(_.commitTimeMs.toDouble).sum / perDrain,
          "state.rows_total" -> state(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
          "state.memory_bytes" -> state(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
          "state.rows_dropped_by_watermark" -> state(_.numRowsDroppedByWatermark.toDouble).sum / perDrain,
          "traced.warm_pass_s" -> median(warm.map(_.seconds)),
          "traced.cold_pass_s" -> cold.seconds,
          "op_p50_ms" -> median(warmBatches.map(dur(_, "triggerExecution"))))
        def gap(p: PhaseStats): Double = p.idleSeconds(Seq((p.startMs, p.endMs)))
        if (trace.full) streaming ++
          Layers.executor(warm.map(d => Seq(d.route, d.window))) +
          ("sched.driver_gap_s" -> per(d => gap(d.route) + gap(d.window)))
        else Map.empty[String, Any]
      })
  }

  /** Exactly `MalformedShare` of the message indices, chosen by the seed. */
  def plantedIndices(total: Int, seed: Long): Array[Boolean] = {
    val rng = new java.util.Random(seed)
    val idx = Array.range(0, total)
    val k = math.round(total * MalformedShare).toInt
    for (i <- 0 until k) {
      val j = i + rng.nextInt(total - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
    }
    val planted = new Array[Boolean](total)
    idx.take(k).foreach(planted(_) = true)
    planted
  }

  private val EventId = "\"event_id\":(-?\\d+)".r.unanchored

  private def eventId(json: String): Long = json match {
    case EventId(id) => id.toLong
    case _ => -1L
  }
}
