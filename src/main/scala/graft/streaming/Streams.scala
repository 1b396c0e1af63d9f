package graft.streaming

import java.nio.file.{Files, Paths}

import graft.sources.{MqBroker, MqSource}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.StructType

/** T1–T8 + J8/J9 + S3/S4/S5 (SURVEY.md §2.8): Structured-Streaming
  * operators. Every transform here takes an unbounded DataFrame and
  * returns one, so the SAME code path serves any source (MQ, file, rate)
  * — and, per the Structured Streaming prefix-consistency model, each
  * has a batch twin the scalatest suite checks results against
  * ([[Harness.runAvailableNow]] with `Trigger.AvailableNow`).
  *
  * Scale posture: all stateful ops bound their state with watermarks
  * (T4) — without one, windowed state grows forever at 100 TB/day; the
  * state store shards by groupBy key across executors.
  */
object Streams {

  /** Typed event for the stateful ops. */
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  /** Running per-user session state (T6). */
  final case class UserStats(user_id: Long, n_events: Long, total_value: Double,
                             n_purchases: Long)
  /** Per-user last-seen-event state (T11). */
  final case class LastEvent(us: Long, event_id: Long, event_type: String)
  /** One emitted event transition (T11). */
  final case class Transition(user_id: Long, from_type: String, to_type: String,
                              us: Long)

  // ---------- sources (S2/S3/S4) ----------

  /** S2: unbounded stream from an embedded-MQ topic. */
  def mqStream(spark: SparkSession, topic: String): DataFrame =
    spark.readStream.format(MqSource.format).option("topic", topic).load()

  /** [[s2Admission]] geometry, shared with the Registry oracle builder
    * (no-drift rule): partition count, per-batch row budget, and the
    * base + modulo that bound the fixture-derived backlog so the
    * embedded-broker publish stays trivial at every scale factor.
    */
  val S2AdmissionPartitions = 4
  val S2AdmissionBudget = 32L
  val S2AdmissionBase = 40L
  val S2AdmissionMod = 100L

  /** S2e declared query: the admission-control / BACKPRESSURE
    * observability surface under the oracle hash gate. A deterministic
    * fixture-derived backlog — `S2AdmissionBase + (events-per-residue
    * count mod S2AdmissionMod)` rows on each of [[S2AdmissionPartitions]]
    * partitions, residue = event_id mod partitions — drains through the
    * REAL DSv2 source under Trigger.AvailableNow with
    * maxOffsetsPerTrigger = [[S2AdmissionBudget]]; every batch's
    * (backlog, admitted) vector lands in [[MqAdmission]]'s bounded ring
    * and the query emits the metrics frame. Deterministic end-to-end:
    * the largest-remainder split is a pure function of the running
    * backlog vector, so the DuckDB oracle replays the WHOLE drain —
    * floors, remainder ranks, top-ups, the uncapped final batch — as a
    * recursive CTE over the same derived initial backlog. Driver-side
    * work is bounded by construction: one 4-row collect for the backlog,
    * ≤ ~600 published messages, a partition-count × batch-count metrics
    * frame.
    */
  def s2Admission(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.MqAdmission
    val P = S2AdmissionPartitions
    val t = graft.Tables(spark, dir)
    import spark.implicits._
    val cnts = t.events
      .groupBy(pmod(col("event_id"), lit(P.toLong)).cast("int").as("partition"))
      .agg(count(lit(1)).as("cnt"))
    val backlog = (0 until P).toDF("partition")
      .join(cnts, Seq("partition"), "left")
      .select(col("partition"),
        (lit(S2AdmissionBase) + pmod(coalesce(col("cnt"), lit(0L)),
          lit(S2AdmissionMod))).as("backlog"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val topic = "s2_admission_q"
    MqBroker.deleteTopic(topic); MqAdmission.clear(topic)
    MqBroker.createTopic(topic, P)
    // sticky keys chosen per target partition (keyed-producer placement)
    val keyFor = (0 until P).map(p =>
      p -> (1 to 1000).map(i => s"k$i")
        .find(k => math.floorMod(k.hashCode, P) == p).get).toMap
    for (p <- 0 until P; _ <- 1L to backlog(p))
      MqBroker.publish(topic, keyFor(p), "v", 0L)
    val df = spark.readStream.format(MqSource.format)
      .option("topic", topic)
      .option("maxOffsetsPerTrigger", S2AdmissionBudget.toString).load()
    runToEnd(df.writeStream.foreachBatch((_: DataFrame, _: Long) => ()), None, "s2adm")
    MqAdmission.metricsFrame(spark, topic)
      .orderBy(col("batch_seq"), col("partition"))
  }

  /** S4: decode the MQ `value` JSON payload into typed event columns —
    * the canonical MQ-consumer first step (`from_json` with a declared,
    * not inferred, schema).
    */
  /** The one declared event payload schema — shared by every decode path
    * so the plain and validated decoders can never drift apart.
    */
  val EventSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")

  def decodeEvents(mq: DataFrame): DataFrame = {
    mq.select(from_json(col("value"), EventSchema).as("e"))
      .select(col("e.event_id").as("event_id"),
        timestamp_micros(col("e.ts_us")).as("ts"),
        col("e.user_id").as("user_id"),
        col("e.event_type").as("event_type"),
        col("e.value").as("value"))
  }

  /** S3: built-in rate source (dev/test input: monotonically increasing
    * `value` at `rowsPerSecond`).
    */
  def rateStream(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond.toString).load()

  /** S3: file-based stream over a parquet directory (fixture replay). */
  def fileStream(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  // ---------- event-time windows (T1–T4) ----------

  /** T1+T4: tumbling 1-hour window × event_type with a 10-minute
    * watermark (late rows beyond it are dropped, state is bounded).
    */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** T2: sliding 1-hour window every 30 minutes. */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** T3: gap-based session windows per user (30-minute inactivity gap). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("first_ts"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n"), col("first_ts"))

  /** T5: streaming dedup by event_id within the watermark horizon —
    * exactly-once per key even when the MQ redelivers.
    */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** T5b: streaming NEAR-dup dedup — the dedup key is the rolling-hash
    * MinHash fingerprint of a text column ([[graft.operators.TextOps
    * .fingerprint]]), so re-ingested documents that differ only by small
    * edits outside every 3-token shingle minimum collapse to one row, in
    * one pass, with watermark-bounded state. The streaming face of the
    * L-family dedup: content-keyed like `Dedup.exact`, edit-tolerant
    * like the LSH pipeline, and exactly as partitionable (state shards
    * on the 32-hex fingerprint key).
    */
  def nearDedupStream(docs: DataFrame, textCol: String = "text",
                      tsCol: String = "ts",
                      watermark: String = "10 minutes"): DataFrame = {
    // the transient key column must not clobber (then drop) a caller
    // column of the same name — that would silently change the schema
    val fpCol = "__graft_neardedup_fp"
    require(!docs.columns.contains(fpCol),
      s"input already carries reserved column $fpCol")
    docs
      // short docs (< 1 shingle) fall back to exact text, PREFIXED so the
      // raw-text key space cannot collide with the 32-hex fingerprints
      .withColumn(fpCol, coalesce(
        graft.operators.TextOps.fingerprint(col(textCol)),
        concat(lit("raw|"), col(textCol))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(fpCol)
      .drop(fpCol) // output schema == input schema, like dedupStream
  }

  // ---------- arbitrary state (T6) ----------

  /** T6: per-user running stats via flatMapGroupsWithState — arbitrary
    * user state carried across micro-batches, emitted in Update mode.
    * State is per-key in the executor state store and BOUNDED: an
    * event-time timeout evicts any user idle for `idleTimeoutMs` past the
    * watermark, so cardinality can't grow without limit at scale.
    */
  def userStats(events: Dataset[Event], watermark: String = "10 minutes",
                idleTimeoutMs: Long = 3600L * 1000): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserStats, UserStats](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserStats]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserStats(uid, 0L, 0.0, 0L))
            var n = prev.n_events; var tot = prev.total_value; var np = prev.n_purchases
            batch.foreach { e =>
              n += 1; tot += e.value; if (e.event_type == "purchase") np += 1
            }
            val next = UserStats(uid, n, tot, np)
            state.update(next)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + idleTimeoutMs)
            Iterator.single(next)
          }
      }
  }

  /** T11: streaming event-transition emission — the incremental twin of
    * the batch B3 transition matrix ([[graft.operators.Behavior.transitions]]):
    * per user, every arriving event emits one (from_type → to_type)
    * transition against the last event seen, then becomes the new last.
    * Downstream the matrix is a plain streaming (or batch) count over the
    * emitted transition stream.
    *
    * Ordering discipline: rows WITHIN a micro-batch are processed in
    * (us, event_id) order (same total order as batch B3); an event at or
    * before the user's already-advanced frontier — out-of-order ACROSS
    * micro-batches — is dropped, the same "too late to retro-correct"
    * contract a watermark gives a windowed aggregate. With a keyed
    * (per-user-ordered) source, stream == batch exactly; StreamingSpec
    * pins it. State per user is ONE (us, event_id, type) row, evicted
    * after `idleTimeoutMs` past the watermark.
    */
  def transitionsStream(events: Dataset[Event], watermark: String = "10 minutes",
                        idleTimeoutMs: Long = 3600L * 1000): Dataset[Transition] = {
    import events.sparkSession.implicits._
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000 + (t.getNanos / 1000) % 1000
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[LastEvent]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val ordered = batch.toArray.sortBy(e => (micros(e.ts), e.event_id))
            var prev = state.getOption
            val out = Vector.newBuilder[Transition]
            ordered.foreach { e =>
              val us = micros(e.ts)
              // frontier check: equal-time ties replay deterministically by
              // event_id; anything at/behind the frontier is a late arrival
              if (!prev.exists(p =>
                  p.us > us || (p.us == us && p.event_id >= e.event_id))) {
                prev.foreach(p =>
                  out += Transition(uid, p.event_type, e.event_type, us))
                prev = Some(LastEvent(us, e.event_id, e.event_type))
              }
            }
            prev.foreach(state.update)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + idleTimeoutMs)
            out.result().iterator
          }
      }
  }

  /** T6 (forward-looking surface): the same per-user running stats on the
    * Spark 4 `transformWithState` API — typed [[ValueState]] in the
    * executor state store, idle-user eviction via an event-time timer
    * (re-armed each batch; stale timers deleted so an active user is never
    * evicted by an old one). Differential twin of [[userStats]]: the
    * StreamingSpec asserts both emit identical results. Requires the
    * RocksDB state store provider (transformWithState's backing store).
    */
  class UserStatsProcessor(idleTimeoutMs: Long)
      extends StatefulProcessor[Long, Event, UserStats] {
    @transient private var state: ValueState[UserStats] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserStats](
        "userStats", Encoders.product[UserStats], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[UserStats] = {
      val prev = if (state.exists()) state.get() else UserStats(uid, 0L, 0.0, 0L)
      var n = prev.n_events; var tot = prev.total_value; var np = prev.n_purchases
      rows.foreach { e =>
        n += 1; tot += e.value; if (e.event_type == "purchase") np += 1
      }
      val next = UserStats(uid, n, tot, np)
      state.update(next)
      // one live timer per key: drop the previous batch's, arm the new one.
      // Materialize the timer list BEFORE deleting — mutating the state
      // store while iterating its backing iterator is fragile across store
      // providers (HDFS-backed vs RocksDB).
      val handle = getHandle
      val stale = handle.listTimers().map(_.asInstanceOf[Long]).toList
      stale.foreach(handle.deleteTimer)
      handle.registerTimer(timerValues.getCurrentWatermarkInMs() + idleTimeoutMs)
      Iterator.single(next)
    }

    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[UserStats] = {
      state.clear()
      Iterator.empty
    }
  }

  /** T6 on [[UserStatsProcessor]] — behavioral twin of [[userStats]]. */
  def userStatsTws(events: Dataset[Event], watermark: String = "10 minutes",
                   idleTimeoutMs: Long = 3600L * 1000): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new UserStatsProcessor(idleTimeoutMs),
        TimeMode.EventTime(), OutputMode.Update())
  }

  // ---------- stream joins (J8/J9) ----------

  /** J8: enrich a stream against a static dimension (broadcast at scale —
    * the static side is planned per micro-batch like any batch join).
    */
  def enrich(events: DataFrame, dim: DataFrame, streamKey: String,
             dimKey: String): DataFrame =
    // anchored references: a shared column name must not be ambiguous
    events.join(broadcast(dim), events(streamKey) === dim(dimKey), "left_outer")

  /** J9: stream–stream join — purchases matched to same-user clicks at
    * most 1 hour earlier. Watermarks on BOTH sides + the time-range
    * predicate bound the join state (Spark evicts buffered rows once the
    * watermark passes the range).
    */
  def purchaseAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"), col("user_id").as("c_user"),
      col("ts").as("click_ts")).withWatermark("click_ts", "1 hour")
    val p = purchases.select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
      col("ts").as("purchase_ts"), col("value")).withWatermark("purchase_ts", "1 hour")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
  }

  /** J9b: OUTER stream–stream attribution — unmatched rows null-pad
    * instead of dropping ("left_outer": every purchase emits exactly
    * once; "full_outer": unconverted clicks too). The watermark + the
    * time-range bound are what make the outer side decidable, not just
    * state hygiene: a purchase's null row may emit only once the CLICK
    * watermark has passed `purchase_ts` — before that a qualifying click
    * could still arrive. Consequence at any scale: outer results trail
    * the data by the watermark delay, and a query that stops before the
    * watermark passes a row's bound never emits its null form (the spec
    * drives the flush with a later sentinel event, exactly how a
    * production topic's ongoing traffic does it).
    */
  def purchaseAttributionOuter(clicks: DataFrame, purchases: DataFrame,
                               joinType: String = "left_outer"): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"), col("user_id").as("c_user"),
      col("ts").as("click_ts")).withWatermark("click_ts", "1 hour")
    val p = purchases.select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
      col("ts").as("purchase_ts"), col("value")).withWatermark("purchase_ts", "1 hour")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
      joinType)
  }

  // ---------- sinks + harness (S5, T7, T8) ----------

  /** The one run policy of every sink here: drain the data available now
    * under `Trigger.AvailableNow` and block until the query stops. A
    * caller's `checkpoint` is kept, since a restart resumes from it;
    * without one the run gets a `graft-cp-<name>` temp dir, deleted once
    * the query has stopped.
    */
  private def runToEnd(writer: DataStreamWriter[Row], checkpoint: Option[String],
                       name: String = "run"): Unit = {
    val cp = checkpoint.getOrElse(Files.createTempDirectory(s"graft-cp-$name").toString)
    try writer.trigger(Trigger.AvailableNow()).option("checkpointLocation", cp)
      .start().awaitTermination()
    finally if (checkpoint.isEmpty)
      Files.walk(Paths.get(cp)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
  }

  /** [[runToEnd]] in the foreachBatch form: `f` gets each micro-batch
    * with its batch id.
    */
  private def drain(df: DataFrame, checkpoint: String)(f: (DataFrame, Long) => Unit): Unit =
    runToEnd(df.writeStream.foreachBatch(f), Some(checkpoint))

  /** T8: run a streaming frame to completion over the data available now
    * and return the result table. `Trigger.AvailableNow` + memory sink:
    * the batch-equivalence harness (streaming answer == batch answer on
    * the same prefix). Passing the same `checkpoint` across calls resumes
    * from committed offsets — no batch is reprocessed — but the memory
    * sink itself is NOT fault-tolerant: a resumed call returns only the
    * batches committed after the restart. For durable restart semantics
    * use a foreachBatch/file sink (see [[foreachBatchParquet]] and the
    * restart tests).
    */
  def runAvailableNow(df: DataFrame, name: String, mode: OutputMode,
                      checkpoint: Option[String] = None): DataFrame = {
    runToEnd(df.writeStream.format("memory").queryName(name).outputMode(mode),
      checkpoint, name)
    df.sparkSession.table(name)
  }

  /** S5b: MQ write-back — publish a streaming frame to a broker topic via
    * the DSv2 streaming write path (the produce half of the MQ-app story:
    * consume topic A → transform → produce topic B). Input columns follow
    * the producer convention enforced by [[graft.sources.MqWriterCols]]:
    * required `value` STRING, optional `key` STRING / `timestamp`.
    * At-least-once (task retries may re-publish), same as a Kafka sink;
    * consumers needing exactly-once dedup by key within a watermark (T5).
    */
  def writeToMq(df: DataFrame, topic: String, checkpoint: String): Unit =
    runToEnd(df.writeStream.format(MqSource.format).option("topic", topic)
      .outputMode(OutputMode.Append), Some(checkpoint))

  /** S4b: decode with VALIDITY instead of silent nulls — `from_json`
    * (PERMISSIVE) yields a null struct on unparseable payloads and nulls
    * any type-mismatched FIELD while keeping the rest; every field of
    * [[EventSchema]] is required, so validity demands all of them. This
    * keeps the raw message alongside the parse result and flags it, so a
    * pipeline can ROUTE bad records instead of publishing rows with
    * silently nulled-out fields.
    */
  def decodeEventsValidated(mq: DataFrame): DataFrame = {
    mq.select(col("key"), col("value").as("raw"), col("timestamp"),
      from_json(col("value"), EventSchema).as("e"))
      .withColumn("valid",
        col("e").isNotNull &&
          EventSchema.fieldNames.map(f => col(s"e.$f").isNotNull).reduce(_ && _))
  }

  /** S5c: dead-letter routing — the canonical MQ-consumer error contract:
    * consume topic A, publish decoded-good rows to topic B and every
    * malformed payload (verbatim, so it can be replayed after a fix) to a
    * dead-letter topic. One pass per micro-batch; both publishes ride the
    * MQ sink's batch write path on executors. The batch is cached for
    * the two branch scans and the split is a narrow filter — at scale
    * this is the standard foreachBatch fan-out shape.
    */
  def runWithDeadLetter(mq: DataFrame, outTopic: String, dlqTopic: String,
                        checkpoint: String): Unit =
    drain(decodeEventsValidated(mq), checkpoint) { (batch, _) =>
      batch.persist()
      try {
        routedRows(batch)
          .write.mode("append").format(MqSource.format).option("topic", outTopic).save()
        batch.filter(!col("valid"))
          .select(col("key"), col("raw").as("value"), col("timestamp"))
          .write.mode("append").format(MqSource.format).option("topic", dlqTopic).save()
      } finally { batch.unpersist(); () }
    }

  /** The mainline wire format of a validated event, one definition for
    * the route ([[runWithDeadLetter]]) and the replay
    * ([[replayDeadLetter]]): the valid rows, keyed by user, the decoded
    * event re-encoded as JSON, the source timestamp kept.
    */
  private def routedRows(validated: DataFrame): DataFrame =
    validated.filter(col("valid"))
      .select(col("e.user_id").cast("string").as("key"),
        to_json(col("e")).as("value"), col("timestamp"))

  /** S9b: streaming quality gate — the S9 constraint audit applied
    * in-flight. Every DECODED row is annotated with the names of the
    * scan rules it violates (`array_compact` of per-rule `when`s — one
    * narrow, codegen'd projection, no extra pass per rule); rows with
    * violations route to a quarantine topic CARRYING the rule names
    * (so the quarantine is triageable per rule), clean rows flow on.
    * Same foreachBatch fan-out shape as [[runWithDeadLetter]] — the DLQ
    * handles rows that cannot DECODE, this handles rows that decode but
    * break the data contract; a production pipeline runs both.
    */
  def violationNames(rules: Seq[(String, org.apache.spark.sql.Column)]): org.apache.spark.sql.Column =
    array_compact(array(rules.map { case (n, p) =>
      when(p, lit(n)).otherwise(lit(null).cast("string"))
    }: _*))

  def runWithQualityGate(mq: DataFrame, rules: Seq[(String, org.apache.spark.sql.Column)],
                         outTopic: String, quarantineTopic: String,
                         checkpoint: String): Unit = {
    val annotated = decodeEvents(mq)
      .withColumn("__violated", violationNames(rules))
    drain(annotated, checkpoint) { (batch, _) =>
      batch.persist()
      try {
        batch.filter(size(col("__violated")) === 0)
          .select(col("user_id").cast("string").as("key"),
            to_json(struct(col("event_id"), col("user_id"), col("event_type"),
              col("value"), col("ts"))).as("value"), col("ts").as("timestamp"))
          .write.mode("append").format(MqSource.format).option("topic", outTopic).save()
        // carries ts too: the quarantine topic supports the same
        // fix-rule-then-replay contract as the dead-letter topic, and a
        // replay without the original event time would lose watermark /
        // windowing fidelity downstream
        batch.filter(size(col("__violated")) > 0)
          .select(col("user_id").cast("string").as("key"),
            to_json(struct(col("event_id"), col("__violated").as("violated"),
              col("event_type"), col("value"), col("ts"))).as("value"),
            col("ts").as("timestamp"))
          .write.mode("append").format(MqSource.format)
          .option("topic", quarantineTopic).save()
      } finally { batch.unpersist(); () }
    }
  }

  /** S5d: DLQ REPLAY — the second half of the dead-letter contract.
    * After the producer-side defect is fixed, consume the dead-letter
    * topic as a BATCH (a DLQ is finite by construction), apply the
    * caller's `repair` to each verbatim payload, validate against the
    * same [[EventSchema]] contract as the mainline decode, and publish
    * the now-valid rows back to the mainline topic. Payloads the repair
    * still cannot validate are NOT republished (returned as the second
    * count — they stay parked in the DLQ for the next fix).
    *
    * Exactly-once end to end is the composition the MQ world actually
    * uses: the replay itself is at-least-once (a re-run republishes), and
    * the mainline consumer's watermark dedup ([[dedupStream]] on
    * event_id) absorbs redelivery — asserted in StreamingSpec by running
    * the replay twice and consuming the merged topic.
    */
  def replayDeadLetter(spark: SparkSession, dlqTopic: String, outTopic: String,
                       repair: Column => Column): (Long, Long) = {
    // the SAME validity rule as the mainline decode, by construction —
    // a reimplementation here could drift and re-publish payloads the
    // mainline would immediately dead-letter again (a DLQ loop)
    val validated = decodeEventsValidated(
      spark.read.format(MqSource.format).option("topic", dlqTopic).load()
        .select(col("key"), repair(col("value")).as("value"), col("timestamp")))
    validated.persist()
    try {
      val good = routedRows(validated)
      good.write.mode("append").format(MqSource.format).option("topic", outTopic).save()
      (good.count(), validated.filter(!col("valid")).count())
    } finally { validated.unpersist(); () }
  }

  /** S5: foreachBatch parquet sink — idempotent per-batch overwrite into
    * a batch-id subdirectory; with the checkpoint this is the standard
    * exactly-once file-sink recipe.
    */
  def foreachBatchParquet(df: DataFrame, outDir: String, checkpoint: String): Unit =
    drain(df, checkpoint) { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }

  // ---------- streaming CDC apply (O6 × streaming) ----------

  /** Maintain a latest-wins SNAPSHOT table from a change stream: each
    * micro-batch compacts (previous snapshot ∪ new changes) with
    * [[graft.operators.Relational.upsertCompact]] into a NEW immutable
    * version directory `v<batchId>`, then flips the `LATEST` pointer —
    * a table-format version commit in miniature. Why this shape at
    * scale:
    *  - readers pin a version via [[readSnapshot]] and are never exposed
    *    to a half-written directory (versions are immutable; the pointer
    *    flip is one tiny-file rename);
    *  - a retried batch rebuilds the SAME version from the same
    *    still-present predecessor — idempotent, so checkpoint + retry
    *    gives exactly-once snapshot evolution;
    *  - compaction ranks by the VERSION columns alone, never by arrival:
    *    a replayed change ties with its already-folded copy (identical
    *    rows — either wins), and a late out-of-order change with an
    *    older version loses to the snapshot row exactly as it would
    *    have in one batch compaction of the full log. (An arrival-order
    *    tiebreak here — the tempting "new batch wins" rule — would make
    *    the snapshot diverge from the batch answer under replay or
    *    reordering.);
    *  - tombstones are RETAINED in the stored snapshot (marked
    *    `__tombstone`, filtered by [[readSnapshot]]): dropping a deleted
    *    key outright would let a late out-of-order older upsert
    *    resurrect it in a later batch. A deployment whose changelog is
    *    strictly per-key ordered may vacuum tombstones past its
    *    reordering horizon; that is a retention policy, not a
    *    correctness requirement here.
    * The full-rewrite cost per batch is the honest price of a sorted
    * parquet snapshot without a table format's delta log; the spec pins
    * semantics (final snapshot == one batch compaction of the whole
    * changelog), which would carry over unchanged to a merge-on-read
    * implementation.
    */
  def applyChangesStream(changes: DataFrame, snapshotDir: String, checkpoint: String,
                         keys: Seq[String], versionCols: Seq[String],
                         isDelete: Column,
                         onBeforeCommit: Long => Unit = _ => ()): Unit =
    drain(changes, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      val dir = new java.io.File(snapshotDir)
      dir.mkdirs()
      val tagged = batch.withColumn("__tombstone", isDelete)
      val merged = latestVersion(snapshotDir) match {
        case None => tagged
        case Some(v) => spark.read.parquet(s"$snapshotDir/v$v").unionByName(tagged)
      }
      graft.operators.Relational.latestPerKey(merged, keys, versionCols.map(col))
        .write.mode("overwrite").parquet(s"$snapshotDir/v$id")
      // crash-injection seam for the torn-commit soak (StreamingSpec):
      // a process death exactly here — version fully written, pointer
      // not yet flipped — is the protocol's critical window
      onBeforeCommit(id)
      // pointer flip: write-then-rename, atomic on a POSIX fs
      commitVersion(snapshotDir, id)
    }

  private def latestVersion(snapshotDir: String): Option[Long] = {
    val p = java.nio.file.Paths.get(snapshotDir, "LATEST")
    if (java.nio.file.Files.exists(p))
      Some(java.nio.file.Files.readString(p).trim.toLong)
    else None
  }

  private def commitVersion(snapshotDir: String, id: Long): Unit = {
    val tmp = java.nio.file.Paths.get(snapshotDir, ".LATEST.tmp")
    java.nio.file.Files.writeString(tmp, id.toString)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(snapshotDir, "LATEST"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** A per-key aggregate that can be maintained incrementally: `perBatch`
    * computes it over one micro-batch's rows; `merge` combines two
    * already-aggregated values. Only MERGEABLE aggregates qualify —
    * count→sum, sum→sum, min→min, max→max, an (sum, count) pair for
    * avg, or a SKETCH whose binary state unions (distinct-count as
    * `hll_sketch_agg` merged by `hll_union_agg`, estimated at read —
    * the finalized number alone cannot merge); a median has no merge
    * and needs the full data.
    */
  case class MergeableAgg(name: String, perBatch: Column, merge: Column => Column)

  /** Incremental materialized AGGREGATE view: maintain per-key mergeable
    * aggregates over an append-only stream without ever re-aggregating
    * history. Each micro-batch aggregates ONLY its own rows, then merges
    * with the previous snapshot ((previous ∪ batch-partial) → one
    * key-grouped merge), committed through the same immutable-version +
    * pointer-flip protocol as [[applyChangesStream]] — so snapshot reads
    * are consistent and a retried batch is idempotent. At scale this is
    * the difference between work proportional to the BATCH and work
    * proportional to HISTORY: the merge input is (snapshot keys +
    * batch keys), not all rows ever seen. The spec pins the invariant:
    * final view == one batch aggregation of the entire topic.
    */
  def aggViewStream(events: DataFrame, snapshotDir: String, checkpoint: String,
                    keys: Seq[String], aggs: Seq[MergeableAgg]): Unit =
    drain(events, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      new java.io.File(snapshotDir).mkdirs()
      val partial = batch.groupBy(keys.map(col): _*)
        .agg(aggs.head.perBatch.as(aggs.head.name),
          aggs.tail.map(a => a.perBatch.as(a.name)): _*)
      val merged = latestVersion(snapshotDir) match {
        case None => partial
        case Some(v) =>
          spark.read.parquet(s"$snapshotDir/v$v").unionByName(partial)
            .groupBy(keys.map(col): _*)
            .agg(aggs.head.merge(col(aggs.head.name)).as(aggs.head.name),
              aggs.tail.map(a => a.merge(col(a.name)).as(a.name)): _*)
      }
      merged.write.mode("overwrite").parquet(s"$snapshotDir/v$id")
      commitVersion(snapshotDir, id)
    }

  /** Read the current committed snapshot version — CDC snapshots get
    * their tombstoned keys filtered out; aggregate views pass through.
    * Callers before the first commit get an explicit error, not a
    * schemaless frame.
    */
  def readSnapshot(spark: SparkSession, snapshotDir: String): DataFrame =
    latestVersion(snapshotDir) match {
      case Some(v) =>
        val df = spark.read.parquet(s"$snapshotDir/v$v")
        if (df.columns.contains("__tombstone"))
          df.filter(!col("__tombstone")).drop("__tombstone")
        else df
      case None => throw new IllegalStateException(s"no committed snapshot in $snapshotDir")
    }

  /** L0 × streaming: CONTINUOUS CURATION — maintain the curated
    * training-data manifest over an unbounded documents topic. The L0
    * stages are corpus-GLOBAL by definition (the dup-span gate counts
    * spans across documents, the CCNet cut is a rank over all survivors,
    * bin packing is a corpus prefix sum), so the faithful streaming form
    * is not per-row gating but versioned RECURATION:
    *
    *  1. each micro-batch lands its decoded documents in an immutable
    *     per-batch store directory (`store/b<id>`, overwrite — so a
    *     REPLAYED batch rewrites the same directory instead of
    *     double-appending; work ∝ batch);
    *  2. the SAME composed [[graft.operators.Curation.l0PipelineFrom]]
    *     stages re-run over the accumulated store, and the refreshed
    *     manifest commits through the immutable-version + pointer-flip
    *     protocol of [[applyChangesStream]] (readers pin versions, a
    *     retried batch rebuilds its version idempotently).
    *
    * Step 2 is work ∝ corpus — the honest price of corpus-global
    * semantics (a rank cut cannot be maintained from per-row state). A
    * deployment amortizes it by triggering recuration every N batches or
    * on schedule, while the in-flight per-row stages run continuously at
    * batch cost: S9b ([[runWithQualityGate]]) for the ruleset gate, T5
    * ([[nearDedupStream]]) for near-dedup admission, T12
    * ([[runDriftMonitor]]) for distribution health. StreamingSpec pins
    * the committed manifest == the batch `l0_pipeline` answer over the
    * same corpus, across multiple arrival waves.
    */
  def curationPipelineStream(docs: DataFrame, storeDir: String,
                             manifestDir: String, checkpoint: String): Unit =
    drain(docs, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      new java.io.File(storeDir).mkdirs()
      new java.io.File(manifestDir).mkdirs()
      batch.write.mode("overwrite").parquet(s"$storeDir/b$id")
      val corpus = spark.read.parquet(s"$storeDir/b*")
      graft.operators.Curation.l0PipelineFrom(corpus)
        .write.mode("overwrite").parquet(s"$manifestDir/v$id")
      commitVersion(manifestDir, id)
    }

  /** T12: streaming DRIFT MONITOR — score every micro-batch of documents
    * against a static reference token distribution
    * ([[graft.operators.Eval.driftAgainst]]: in-vocabulary KL in
    * micro-nats + out-of-vocabulary mass) and hand the one-row result to
    * `sink` with the batch id. This is the data-quality counterpart of
    * [[runWithQualityGate]]: the gate judges ROWS, the monitor judges the
    * batch's DISTRIBUTION — the signal that a source went stale or a
    * crawl started emitting garbage even when every row passes its rules.
    *
    * The reference frame is computed once by the caller
    * ([[graft.operators.Eval.referenceCounts]]) — vocabulary-sized, so on
    * a cluster it broadcasts into each batch's join. foreachBatch because
    * the metric is a full re-aggregation per batch, not an incremental
    * state update (a batch's KL is not mergeable across batches).
    */
  def runDriftMonitor(docs: DataFrame, ref: DataFrame, checkpoint: String)
                     (sink: (Long, org.apache.spark.sql.Row) => Unit): Unit =
    drain(docs, checkpoint) { (batch, id) =>
      sink(id, graft.operators.Eval.driftAgainst(batch, ref).head())
    }

  /** T22: streaming MEDIA DECODE — frame-sample arriving media payloads
    * (MJPEG-AVI via [[graft.operators.Multimodal.videoFrameStats]],
    * animated GIF via [[graft.operators.Multimodal.gifFrameStats]],
    * still images via [[graft.operators.Multimodal.imagePixelStats]])
    * as they land. The L13/L5 codecs are STATELESS per-payload Dataset
    * transforms, so the batch operator applies to the micro-batch
    * stream UNCHANGED — the same function object builds the streaming
    * plan; no foreachBatch re-aggregation, no state store, decode
    * parallelism stays map-side and the watermark story is the
    * sink's, not the decoder's. The per-batch sink hand-off exists for
    * the parity spec (each wave's decoded rows == the batch twin on
    * that wave's frame); production code would `writeStream` the
    * transformed frame straight to its sink.
    */
  def runMediaDecode(payloads: DataFrame, checkpoint: String,
                     transform: DataFrame => DataFrame)
                    (sink: (Long, Array[org.apache.spark.sql.Row]) => Unit): Unit =
    drain(transform(payloads), checkpoint) { (batch, id) =>
      sink(id, batch.collect())
    }

  /** T18: streaming embedding-DIVERSITY monitor — the M6 metric per
    * micro-batch of arriving vectors against the STATIC offline-trained
    * coarse quantizer (the T12 drift-monitor shape in embedding space):
    * each wave's per-cell occupancy, shares, and entropy go to `sink`
    * with the batch id, so a collapsing upstream (a dedup gone wrong, a
    * crawl stuck on one template) raises the alarm wave-by-wave even
    * when individual vectors look fine. Centroids are k-row bounded
    * state computed once by the caller ([[graft.operators.Similarity
    * .trainedCentroids]] or the persisted index's centroid frame) —
    * broadcast into each batch's assignment join. foreachBatch because
    * entropy is a full per-batch re-aggregation, not an incremental
    * state update (a batch's entropy is not mergeable across batches).
    * StreamingSpec pins each wave's monitor rows to the batch
    * [[graft.operators.Eval.diversityOf]] twin on that wave's frame.
    */
  def runDiversityMonitor(vecs: DataFrame, centroids: DataFrame,
                          checkpoint: String)
                         (sink: (Long, Array[org.apache.spark.sql.Row]) => Unit): Unit =
    drain(vecs, checkpoint) { (batch, id) =>
      sink(id, graft.operators.Eval.diversityOf(batch, centroids).collect())
    }

  /** T13: streaming ANN SERVING — answer a stream of query vectors
    * against the persisted PQ index
    * ([[graft.operators.Similarity.buildPqIndex]]), the online half of
    * the offline-build/online-probe split: queries arrive as
    * (query_id, q_emb ARRAY<DOUBLE>) rows, each micro-batch is served by
    * the BATCHED probe ([[graft.operators.Similarity.probePqIndexBatch]]
    * — one codes-columns pass for the whole batch, ADC tables for all
    * the batch's queries in one broadcast), and the per-batch answer
    * frame goes to `sink` with the batch id.
    *
    * foreachBatch because a top-k is a per-batch re-ranking against
    * STATIC state (the index), not an incremental stream-state update —
    * the stream-static-join shape, with the join replaced by the probe
    * plan. Work per batch ∝ codes-scan + |batch| bounded rescores;
    * nothing accumulates across batches, so the query runs indefinitely
    * at steady memory. StreamingSpec pins the streamed answers, batch by
    * batch, to the batch [[graft.operators.Similarity.probePqIndexBatch]]
    * over the same query set.
    */
  /** T15: streaming IMPORTANCE-SAMPLING ADMISSION — the quality-weighted
    * gate between S9b's hard ruleset and T12's batch-level drift alarm:
    * every arriving document keeps a PROBABILITY that follows its
    * unigram-NLL score against a STATIC reference LM
    * ([[graft.operators.Curation.importanceRef]] — vocabulary-sized
    * state computed once, broadcast into each batch's join), decided by
    * the same salted hash as the batch sampler, so admission is
    * deterministic under replay and the thinned stream is biased toward
    * in-distribution text without a quality cliff. Per batch the
    * annotated frame (scores, permilles, kept flags) goes to `sink`;
    * no cross-batch state. StreamingSpec pins each batch's annotation to
    * the batch [[graft.operators.Curation.importanceAgainst]] twin, and
    * self-reference scoring to the declared `l8_importance_sample`.
    */
  def runImportanceGate(docs: DataFrame, nllRef: DataFrame, bounds: DataFrame,
                        checkpoint: String)
                       (sink: (Long, DataFrame) => Unit): Unit =
    drain(docs, checkpoint) { (batch, id) =>
      sink(id, graft.operators.Curation.importanceAgainst(batch, nllRef, bounds))
    }

  /** T17: streaming LEARNED-CLASSIFIER ADMISSION — the trained
    * counterpart of [[runImportanceGate]]'s LM gate: every arriving
    * document is scored by the Naive-Bayes reference-resemblance
    * classifier ([[graft.operators.TextOps.nbApply]]) against a model
    * trained ONCE offline ([[graft.operators.TextOps.nbTrain]] — the
    * vocabulary-sized weight frame is the static serving state, exactly
    * the fastText-classifier deployment shape of GPT-3/LLaMA-style
    * curation). Unseen tokens score at the model's smoothing-mass
    * weight, so a wholly-OOV document degrades to the prior+OOV floor
    * instead of erroring. Per batch the scored frame (integer micro-nat
    * log-odds + keep flag) goes to `sink`; no cross-batch state, so
    * work per batch ∝ batch tokens and the query runs indefinitely at
    * steady memory. StreamingSpec pins each batch's scores to the batch
    * [[graft.operators.TextOps.nbApply]] twin, and train+apply on the
    * training corpus to the declared `l4_quality_classifier`.
    */
  def runNbQualityGate(docs: DataFrame, model: graft.operators.TextOps.NbModel,
                       checkpoint: String)
                      (sink: (Long, DataFrame) => Unit): Unit =
    drain(docs, checkpoint) { (batch, id) =>
      sink(id, graft.operators.TextOps.nbApply(batch, model))
    }

  /** T19: STREAMING DECONTAMINATION GATE — arriving train docs checked
    * per micro-batch against a STATIC benchmark corpus (an eval suite is
    * fixed serving state, like T17's trained model weights), with BOTH
    * batch predicates evaluated per wave: exact 5-gram overlap
    * ([[graft.operators.Curation.contaminatedIds]] — verbatim leaks) and
    * fuzzy token-set near-dup
    * ([[graft.operators.Curation.fuzzyContaminatedIds]] — reformatted /
    * reordered leaks the exact grams miss). Each wave's docs are emitted
    * to `sink` with (contaminated_exact, contaminated_fuzzy) flags so
    * the caller routes clean docs to training and quarantines the rest
    * WITH the reason — the decontam counterpart of the S5c dead-letter
    * split.
    *
    * The benchmark frame is materialized ONCE at gate construction
    * (static state; MBs against 100 TB of arriving text) so each wave
    * pays only its own gram/minhash pass plus broadcast joins against
    * the pinned benchmark rows. No cross-batch state: contamination of
    * a doc depends only on the static benchmark, so a replayed wave
    * recomputes identical flags (at-least-once sink, the T12/T15/T17
    * contract), and the accumulated gate decisions equal the batch
    * predicates on the full corpus regardless of wave boundaries
    * (StreamingSpec pins both per-wave and accumulated equality).
    */
  def runDecontamGate(docs: DataFrame, benchmark: DataFrame,
                      checkpoint: String)
                     (sink: (Long, DataFrame) => Unit): Unit = {
    import graft.operators.Curation
    import graft.Ckpt._
    val bench = benchmark.select(col("doc_id"), col("text")).materialize()
    drain(docs, checkpoint) { (batch, id) =>
      val exact = Curation.contaminatedIds(batch, bench)
        .withColumn("__ce", lit(true))
      val fuzzy = Curation.fuzzyContaminatedIds(batch, bench)
        .withColumn("__cf", lit(true))
      sink(id, batch
        .join(exact, Seq("doc_id"), "left")
        .join(fuzzy, Seq("doc_id"), "left")
        .withColumn("contaminated_exact", coalesce(col("__ce"), lit(false)))
        .withColumn("contaminated_fuzzy", coalesce(col("__cf"), lit(false)))
        .drop("__ce", "__cf"))
    }
  }

  /** T20: STREAMING CORPUS-OVERLAP MONITOR — the M9 KMV estimate per
    * micro-batch of arriving documents against a STATIC benchmark sketch
    * (the T18 drift-monitor shape, measured in gram-set space): each
    * wave's estimated Jaccard/containment vs the benchmark goes to
    * `sink` with the batch id, so a contamination REGIME change (a
    * scraper that started pulling the eval suite's source site) raises a
    * wave-level alarm even before T19's per-doc gate quarantines the
    * individual rows — T19 answers WHICH docs, this answers HOW MUCH,
    * per wave, at sketch cost.
    *
    * The benchmark side is ≤ k short strings of bounded state
    * ([[graft.operators.Eval.kmvSketch]] — built once by the caller, a
    * literal in every wave's plan, the trained-centroids discipline);
    * each wave pays ONE narrow gram pass over its own rows
    * ([[graft.operators.Eval.kmvSketchFrame]]) and the estimate
    * arithmetic is [[graft.operators.Eval.overlapFromSketches]] — the
    * SAME code path as the batch metric, so a wave's row equals
    * [[graft.operators.Eval.kmvOverlap]] of (wave docs, benchmark) by
    * construction (StreamingSpec pins it anyway). foreachBatch because
    * a wave's overlap is a full per-batch re-estimate against static
    * state, not a mergeable stream-state update; no cross-batch state,
    * so replayed waves re-emit identical rows (the T12/T15/T17
    * at-least-once sink contract).
    */
  def runOverlapMonitor(docs: DataFrame, benchmarkSketch: Seq[String],
                        checkpoint: String,
                        n: Int = graft.operators.Curation.DecontamN,
                        k: Int = graft.operators.Eval.KmvK)
                       (sink: (Long, org.apache.spark.sql.Row) => Unit): Unit = {
    require(benchmarkSketch.size <= k, s"benchmark sketch larger than k=$k")
    drain(docs, checkpoint) { (batch, id) =>
      val sk = graft.operators.Eval.kmvSketchFrame(batch, n = n, k = k)
        .select(col("sk").as("ska"), typedlit(benchmarkSketch).as("skb"))
      sink(id, graft.operators.Eval.overlapFromSketches(sk, k).head())
    }
  }

  /** T20b: streaming source-overlap MATRIX monitor — [[runOverlapMonitor]]
    * generalized over a grouping column: each wave estimates, PER SOURCE,
    * its overlap against the static benchmark sketch. The whole-wave
    * monitor says HOW MUCH contamination arrived; this says WHICH FEED is
    * responsible (the scraper that started pulling the eval site shows up
    * as one source's containment saturating while the others hold their
    * baseline).
    *
    * Wave cost is the batch M9b discipline unchanged: one narrow gram
    * pass over the wave's rows into grouped k-bounded sketches
    * ([[graft.operators.Eval.sourceVsBenchmarkOverlap]] — the SAME code
    * path a batch caller runs, so a wave's rows equal the batch call on
    * the wave's frame by construction; StreamingSpec pins it), the
    * benchmark a ≤ k-string literal in the plan, and the sink receives
    * #sources-in-wave rows — bounded metadata. foreachBatch for the same
    * reason as the whole-wave monitor: a full per-batch re-estimate
    * against static state, no cross-batch stream state, so replayed
    * waves re-emit identical rows (the at-least-once sink contract).
    */
  def runSourceOverlapMonitor(docs: DataFrame, benchmarkSketch: Seq[String],
                              checkpoint: String, groupCol: String = "source",
                              n: Int = graft.operators.Curation.DecontamN,
                              k: Int = graft.operators.Eval.KmvK)
                             (sink: (Long, Seq[org.apache.spark.sql.Row]) => Unit): Unit = {
    require(benchmarkSketch.size <= k, s"benchmark sketch larger than k=$k")
    drain(docs, checkpoint) { (batch, id) =>
      sink(id, graft.operators.Eval.sourceVsBenchmarkOverlap(
        batch, benchmarkSketch, groupCol = groupCol, n = n, k = k)
        .collect().toSeq)
    }
  }

  /** T14: streaming PQ INDEX INGESTION — the write side of the serving
    * split: vectors arrive on a stream and join the searchable index in
    * SEGMENTS (the Lucene shape), while the codebooks stay the static
    * serving state they are in any PQ deployment:
    *
    *  1. each micro-batch encodes ONLY its own vectors against the
    *     persisted codebooks ([[graft.operators.Similarity.encodePq]] —
    *     work ∝ batch) and lands them as an immutable segment
    *     `codes_seg/b<id>` (overwrite — a replayed batch rewrites its
    *     segment instead of double-appending);
    *  2. the segment MANIFEST (one row per visible segment path, with
    *     the INGEST BATCH IDS the segment covers) commits through the
    *     immutable-version + pointer-flip protocol of
    *     [[applyChangesStream]]: version content = the previously
    *     committed segment set ∪ this batch's segment, a set union that
    *     rebuilds identically whether the crash hit before or after the
    *     pointer flip — readers pin a version and never see a torn
    *     segment list.
    *
    * The covered-batch ids close the one replay window the pointer
    * protocol alone leaves open: if the process dies AFTER the pointer
    * flip but BEFORE the streaming checkpoint records the batch, and
    * [[compactPqSegments]] runs before restart, the replayed batch
    * would otherwise re-add its segment NEXT TO the compacted segment
    * that already absorbed its rows — duplicate vec_ids that double
    * their summed ADC distances in the probe. A replayed batch whose id
    * is already covered by a committed segment commits idempotently
    * without encoding or re-adding anything (StreamingSpec soaks this
    * exact crash point via `onAfterCommit`).
    *
    * Readers ([[probePqIngested]]) union the committed segments — codes
    * are 4-byte columns, so even many segments stay a fraction of the
    * float corpus's scan cost; segment compaction is [[BatchIO]]'s
    * compactor applied to codes parquet, unchanged.
    */
  /** Tombstone classification for the T14 manifest: DELETE segments
    * (vec_id rows to remove from the searchable set) live under
    * `tomb_seg/` and are distinguished from code segments by path — the
    * Lucene `.liv`-file shape, which keeps the manifest schema
    * unchanged for every reader of the (segment, batches) protocol.
    */
  private[graft] def isTombSegment(path: String): Boolean =
    path.contains("/tomb_seg/")

  def runPqIngest(vectors: DataFrame, indexDir: String, checkpoint: String,
                  onBeforeCommit: Long => Unit = _ => (),
                  onAfterCommit: Long => Unit = _ => ()): Unit = {
    val manifestDir = s"$indexDir/manifest"
    drain(vectors, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      new java.io.File(manifestDir).mkdirs()
      import spark.implicits._
      val prior = latestVersion(manifestDir) match {
        case Some(v) => spark.read.parquet(s"$manifestDir/v$v")
          .as[(String, Seq[Long])].collect().toSeq // segment list: index metadata, not data
        case None => Seq.empty[(String, Seq[Long])]
      }
      // replay of a batch some committed segment already covers (crash
      // after pointer flip, possibly compacted since): commit the
      // manifest unchanged — re-adding the segment would duplicate rows.
      // Coverage is per STREAM: ingest ids live on CODE rows only (the
      // delete stream numbers its own batches on tombstone rows).
      val rows =
        if (prior.exists(r => !isTombSegment(r._1) && r._2.contains(id))) prior
        else {
          val books = spark.read.parquet(s"$indexDir/codebooks")
          val segDir = s"$indexDir/codes_seg/b$id"
          graft.operators.Similarity.encodePq(batch, books)
            .write.mode("overwrite").parquet(segDir)
          prior :+ (segDir -> Seq(id))
        }
      rows.toDF("segment", "batches")
        .coalesce(1).write.mode("overwrite").parquet(s"$manifestDir/v$id")
      // crash-injection seam (StreamingSpec torn-commit soak): a death
      // here — segment + manifest version fully written, pointer not
      // flipped — is the protocol's critical window; replay must
      // rebuild the same segment and version idempotently
      onBeforeCommit(id)
      commitVersion(manifestDir, id)
      // second crash-injection seam: death here — pointer flipped, the
      // streaming checkpoint NOT yet holding the batch — is the window
      // the covered-batch check closes
      onAfterCommit(id)
    }
  }

  /** T14b: streaming PQ INDEX DELETION — the index-maintenance half the
    * curation loop needs: the pipeline's own semantic dedup DROPS
    * vectors, and a serving index that only grows would keep answering
    * with them. Deletions land as TOMBSTONE segments (the Lucene
    * live-docs shape): each micro-batch of drop ids writes an immutable
    * `tomb_seg/d<id>` parquet of vec_ids and commits
    * prior-manifest ∪ tombstone-row through the SAME
    * immutable-version + pointer-flip protocol as [[runPqIngest]] —
    * readers anti-join the tombstoned ids ([[probePqIngested]]),
    * compaction purges them physically ([[compactPqSegments]]).
    *
    * Version ids for delete batches live in their own reserved range
    * ([[DeleteIdBase]]+id): the ingest stream and the delete stream
    * both number micro-batches from 0, and the pointer protocol
    * requires version-directory uniqueness. Covered-batch idempotency
    * mirrors ingest but consults TOMBSTONE rows only — and unlike
    * ingest (where re-adding rows duplicates ADC sums), coverage here
    * is not just an optimization: after a compaction has purged a
    * tombstone AND the id has been legitimately re-ingested, an
    * uncovered replay of the old delete batch would wrongly re-delete
    * the new vector. Compaction therefore carries the purged delete
    * ids forward on an empty coverage row (see [[compactPqSegments]]).
    *
    * Writer concurrency: single manifest writer at a time (ingest,
    * delete, or maintenance) — the same deployment contract
    * [[mergePqSegments]] documents.
    */
  val DeleteIdBase = 2000000000L
  def runPqDelete(dropIds: DataFrame, indexDir: String, checkpoint: String,
                  onBeforeCommit: Long => Unit = _ => (),
                  onAfterCommit: Long => Unit = _ => ()): Unit = {
    val manifestDir = s"$indexDir/manifest"
    drain(dropIds, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val v = latestVersion(manifestDir).getOrElse(throw new IllegalStateException(
        s"no committed manifest in $manifestDir — deletes require an ingested index"))
      val prior = spark.read.parquet(s"$manifestDir/v$v")
        .as[(String, Seq[Long])].collect().toSeq
      val rows =
        if (prior.exists(r => isTombSegment(r._1) && r._2.contains(id))) prior
        else {
          val tombDir = s"$indexDir/tomb_seg/d$id"
          batch.select(col("vec_id")).distinct()
            .write.mode("overwrite").parquet(tombDir)
          prior :+ (tombDir -> Seq(id))
        }
      rows.toDF("segment", "batches")
        .coalesce(1).write.mode("overwrite").parquet(s"$manifestDir/v${DeleteIdBase + id}")
      onBeforeCommit(id) // crash seam: torn version, pointer not flipped
      commitVersion(manifestDir, DeleteIdBase + id)
      onAfterCommit(id) // crash seam: pointer flipped, checkpoint behind
    }
  }

  /** Segment GC for a [[runPqIngest]] index: rewrite the committed
    * segment set as ONE compacted segment — with every tombstoned
    * vec_id PURGED physically ([[runPqDelete]]) — and commit a manifest
    * version pointing at it: the maintenance pass every segment-based
    * index needs once the ingest tail grows. Codes are 4-byte columns,
    * so the rewrite is a fraction of a float-corpus copy. Version ids
    * for compactions live in a reserved high range
    * ([[CompactionIdBase]]+n): the pointer protocol only requires
    * version UNIQUENESS (readers follow the pointer, not the max id),
    * and the reserved range keeps a future ingest batch id from ever
    * overwriting a version directory a reader may still be pinned to.
    * Old segments are left on disk — removal is a retention decision
    * for once no reader can pin them. After compaction the next ingest
    * batch unions the compacted segment with its own, exactly as
    * before. Purged tombstones leave their covered delete-batch ids
    * behind on an EMPTY tombstone row, so a late replay of an absorbed
    * delete batch still commits as a no-op (the re-ingestion hazard in
    * [[runPqDelete]]'s doc).
    */
  val CompactionIdBase = 1000000000L
  def compactPqSegments(spark: SparkSession, indexDir: String): Long = {
    val manifestDir = s"$indexDir/manifest"
    import spark.implicits._
    val v = latestVersion(manifestDir).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $manifestDir"))
    val rows = spark.read.parquet(s"$manifestDir/v$v")
      .as[(String, Seq[Long])].collect().toSeq
    val (tombRows, codeRows) = rows.partition(r => isTombSegment(r._1))
    val segs = codeRows.map(_._1).distinct
    // the compacted segment inherits every batch id its inputs covered,
    // so a late replay of any absorbed batch still commits as a no-op
    val covered = codeRows.flatMap(_._2).distinct.sorted
    val newId = CompactionIdBase + v + 1
    val target = s"$indexDir/codes_seg/c$newId"
    val codes = spark.read.parquet(segs: _*)
    val purged =
      if (tombRows.isEmpty) codes
      else codes.join(
        spark.read.parquet(tombRows.map(_._1).distinct: _*).select(col("vec_id")),
        Seq("vec_id"), "left_anti")
    purged.write.mode("overwrite").parquet(target)
    // tombstones are now baked into the codes — drop the tombstone
    // SEGMENTS but keep their covered delete-batch ids on one empty
    // tombstone row, so an absorbed delete batch replays as a no-op
    // (see runPqDelete: re-deleting a re-ingested id is the hazard)
    val tombCovered = tombRows.flatMap(_._2).distinct.sorted
    val manifest =
      if (tombCovered.isEmpty) Seq(target -> covered)
      else {
        val purgedTomb = s"$indexDir/tomb_seg/purged_v$newId"
        Seq.empty[Long].toDF("vec_id")
          .coalesce(1).write.mode("overwrite").parquet(purgedTomb)
        Seq(target -> covered, purgedTomb -> tombCovered)
      }
    manifest.toDF("segment", "batches")
      .coalesce(1).write.mode("overwrite").parquet(s"$manifestDir/v$newId")
    commitVersion(manifestDir, newId)
    newId
  }

  /** Size-tiered BACKGROUND segment merge for a [[runPqIngest]] index —
    * the freshness policy between per-batch ingest (many small segments)
    * and [[compactPqSegments]] (everything → one): merge only the
    * smallest TIER, i.e. the longest size-ascending prefix of segments
    * whose every member is within `tierFactor`× of the smallest, and
    * only when that tier has at least `minMerge` members. Repeated calls
    * converge to a logarithmic segment count (the LSM/Lucene shape)
    * while write amplification stays O(log n) per row instead of the
    * full-compaction O(n).
    *
    * Concurrency with a racing ingest: the merge rewrites IMMUTABLE
    * input segments, so before committing it re-reads the CURRENT
    * manifest and REMAPS — segments added since the merge began are
    * kept, exactly the merge inputs are replaced, and the merged
    * segment inherits the union of its inputs' covered batch ids. If
    * the current manifest no longer contains every input (another
    * maintenance pass won the race), the merge ABORTS (returns None,
    * orphaning only its own unreferenced output — a retention sweep
    * concern, never a correctness one). Maintenance passes are
    * single-writer by deployment contract; the remap makes the
    * merge-vs-INGEST race safe, which StreamingSpec pins by committing
    * an ingest between the merge's rewrite and its manifest commit.
    *
    * Returns the committed manifest version, or None when no tier
    * qualifies or the merge aborted.
    */
  def mergePqSegments(spark: SparkSession, indexDir: String,
                      tierFactor: Long = 4, minMerge: Int = 2,
                      onBeforeCommit: () => Unit = () => ()): Option[Long] = {
    val manifestDir = s"$indexDir/manifest"
    import spark.implicits._
    val v0 = latestVersion(manifestDir).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $manifestDir"))
    // tier selection over CODE segments only: tombstone rows stay in the
    // manifest untouched (the remap below preserves every non-input row);
    // merges union immutable inputs verbatim, tombstones purge at full
    // compaction — re-anti-joining already-absent ids stays correct
    val rows = spark.read.parquet(s"$manifestDir/v$v0")
      .as[(String, Seq[Long])].collect().toSeq
      .filterNot(r => isTombSegment(r._1))
    if (rows.size < minMerge) return None
    // segment weight = on-disk bytes (one recursive FS summary per
    // segment, through the Hadoop FS API so it works on HDFS/S3A too;
    // codes are 4-byte columns so bytes track row count closely)
    def segBytes(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
    }
    val sorted = rows.map { case (seg, b) => (seg, b, segBytes(seg)) }.sortBy(_._3)
    val smallest = math.max(sorted.head._3, 1L)
    val tier = sorted.takeWhile(_._3 <= smallest * tierFactor)
    if (tier.size < minMerge) return None
    val newId = CompactionIdBase + v0 + 1
    val target = s"$indexDir/codes_seg/m$newId"
    spark.read.parquet(tier.map(_._1): _*).write.mode("overwrite").parquet(target)
    onBeforeCommit()
    // remap against the CURRENT manifest: an ingest may have committed
    // while the merge rewrote its (immutable) inputs
    val vNow = latestVersion(manifestDir).getOrElse(v0)
    val current =
      if (vNow == v0) rows
      else spark.read.parquet(s"$manifestDir/v$vNow").as[(String, Seq[Long])].collect().toSeq
    val inputs = tier.map(_._1).toSet
    if (!inputs.subsetOf(current.map(_._1).toSet)) return None // lost the race to another maintenance pass
    val mergedRow = target -> tier.flatMap(_._2).distinct.sorted
    (current.filterNot(r => inputs(r._1)) :+ mergedRow).toDF("segment", "batches")
      .coalesce(1).write.mode("overwrite").parquet(s"$manifestDir/v$newId")
    commitVersion(manifestDir, newId)
    Some(newId)
  }

  /** Serve a query batch off a [[runPqIngest]]-maintained segmented index:
    * read the COMMITTED segment manifest, union the code segments, and
    * delegate to the shared probe core — identical answers to a flat
    * [[graft.operators.Similarity.buildPqIndex]] index over the same
    * vectors (StreamingSpec pins this across arrival waves).
    */
  def probePqIngested(spark: SparkSession, indexDir: String, queries: DataFrame,
                      k: Int, rescoreFrom: DataFrame): DataFrame = {
    val manifestDir = s"$indexDir/manifest"
    val segs = latestVersion(manifestDir) match {
      case Some(v) =>
        import spark.implicits._
        spark.read.parquet(s"$manifestDir/v$v")
          .select("segment").as[String].collect().toSeq.distinct
      case None => throw new IllegalStateException(s"no committed manifest in $manifestDir")
    }
    val (tombSegs, codeSegs) = segs.partition(isTombSegment)
    val codes = spark.read.parquet(codeSegs: _*)
    // live set = codes minus tombstoned ids ([[runPqDelete]]) — an
    // anti-join on the 8-byte key before any ADC work; a compaction
    // bakes the purge in and empties this branch
    val live =
      if (tombSegs.isEmpty) codes
      else codes.join(spark.read.parquet(tombSegs: _*).select(col("vec_id")),
        Seq("vec_id"), "left_anti")
    graft.operators.Similarity.probePqCodes(
      spark.read.parquet(s"$indexDir/codebooks"), live, queries, k, rescoreFrom)
  }

  /** Hard cap on query rows per [[runAnnServe]] micro-batch. The serving
    * contract is interactive-scale query batches (KBs); the cap makes the
    * contract EXECUTABLE — a mis-wired high-volume stream fails with a
    * clear message at the limit instead of OOMing the driver on
    * `collect()`. 64k queries × ~1 KB vector ≈ 64 MB, comfortably inside
    * any driver heap yet far beyond any sane serving batch.
    */
  val AnnServeMaxQueriesPerBatch = 65536

  def runAnnServe(queries: DataFrame, indexDir: String, k: Int,
                  rescoreFrom: DataFrame, checkpoint: String,
                  maxQueriesPerBatch: Int = AnnServeMaxQueriesPerBatch)
                 (sink: (Long, DataFrame) => Unit): Unit =
    drain(queries, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      // the probe broadcasts the query frame into every stage; a
      // micro-batch source is re-playable but not broadcast-friendly,
      // so pin the (KB-sized by contract) batch as a local frame first.
      // limit(cap+1) bounds what can ever reach the driver: the
      // oversize CHECK itself must not collect the oversized batch.
      val rows = batch.limit(maxQueriesPerBatch + 1).collect()
      if (rows.length > maxQueriesPerBatch)
        throw new IllegalStateException(
          s"ANN serve batch $id exceeds $maxQueriesPerBatch query rows; " +
          "this path collects the query batch to the driver by design — " +
          "route bulk scoring through the batch probe (probePqIndexBatch) instead")
      val qFrame = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
        batch.schema)
      sink(id, graft.operators.Similarity.probePqIndexBatch(
        spark, indexDir, qFrame, k, rescoreFrom))
    }

  /** T16: STREAMING SEMANTIC DEDUP — L11 as an admission stream.
    * Vectors arrive as (vec_id, embedding) waves; each wave is assigned
    * to cells of a TRAINED coarse quantizer
    * ([[graft.operators.Similarity.assignCells]] — the same broadcast
    * argmin pass as the batch sweep, trained offline like the T13/T14
    * index), appended to a per-wave immutable store directory, and each
    * arriving vector is DROPPED iff some smaller-id vector already in
    * the store shares its cell with cosine ≥ τ — evaluated with the
    * batch sweep's exact two-stage scoring (codegen'd double screen,
    * exact-DECIMAL confirm at the τ boundary).
    *
    * EQUIVALENCE CONTRACT: when ids are nondecreasing across arrival
    * waves (the MQ-offset discipline every source here provides), the
    * accumulated kept/dropped labels equal the batch
    * [[graft.operators.Similarity.semanticDedup]] single-pass sweep over
    * the full corpus, wave count notwithstanding — because the store
    * keeps EVERY arrival (dropped ones included: the batch greedy is
    * pairwise, a dropped vector still shadows its own neighbors), and
    * the current wave's store write lands before the comparison, so
    * within-wave smaller-id partners participate exactly like the batch
    * sweep's. StreamingSpec pins the per-cell summary equal to the batch
    * answer across 3 waves and under re-runs.
    *
    * Scale shape: per batch, work = assignment (broadcast k-row
    * centroids) + one store read FILTERED to the wave's touched cells
    * (`cell IN (...)` — a bounded list, collected like T14's manifest
    * metadata; at 100 TB the store is written cell-partitioned so the
    * filter prunes partitions, and per-cell population is bounded by the
    * k ∝ n cell-count discipline). Replay-idempotent: a retried wave
    * overwrites its own b<id> directory and recomputes identical labels
    * (at-least-once sink, the T12/T15 contract).
    */
  /** T21: streaming ExactSubstr duplicate-text removal — the
    * [[graft.operators.Dedup.substrDedup]] rewrite applied per arrival
    * wave against the accumulated span-hash store (the T16/T19/T20
    * versioned-store protocol): each wave's span-start frame is written
    * idempotently to `b<batchId>` (replay overwrites the same content),
    * then the wave's docs are rewritten with every occurrence of a
    * duplicated span except the globally-first (over the accumulated
    * corpus so far) removed.
    *
    * Equality contract (the T16 id-ordered-arrival discipline, the
    * MQ-offset shape): when doc_ids are nondecreasing across waves, the
    * per-wave rewrites equal the batch [[Dedup.substrDedup]] over the
    * full accumulated corpus — the canonical (minimal (doc_id, p))
    * occurrence of any span hash lives in the earliest wave containing
    * it, so it is always in the store before any later occurrence
    * arrives, and an earlier doc is never non-canonical w.r.t. a later
    * one. The discipline is ENFORCED, not assumed: each wave's min
    * doc_id is checked against the max doc_id already in the store
    * (prior waves only — a replayed wave's own b<id> directory is
    * excluded, so crash-replay never false-positives) and a violation
    * fails loudly instead of silently diverging from the batch
    * operator. StreamingSpec pins 3 waves == batch and the
    * out-of-order rejection.
    *
    * Scale shape: the store holds one narrow (doc_id, p, h) row per
    * span start (the [[Dedup.spanStarts]] 128-bit two-lane hash struct,
    * never span text); each wave re-reads the store FILTERED to the
    * wave's own hash set (a semi-join — the touched-cells discipline),
    * so the per-wave aggregate is wave-relevant occurrences only, not
    * the full history. The order guard costs two 1-row aggregates per
    * wave: min over the wave, max over the prior-wave store — the max
    * is a narrow single-column scan of the store rows (parquet footer
    * min/max SHORT-CIRCUITING would need
    * spark.sql.parquet.aggregatePushdown, deliberately not relied on),
    * still bounded by the span store's own size, never the corpus.
    */
  def runSubstrDedupStream(docs: DataFrame, storeDir: String, checkpoint: String,
                           n: Int = graft.operators.Dedup.DupSpanN,
                           onAfterStore: Long => Unit = _ => ())
                          (sink: (Long, DataFrame) => Unit): Unit = {
    import graft.operators.{Dedup, TextOps}
    drain(docs, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      new java.io.File(storeDir).mkdirs()
      // enforce the nondecreasing-doc_id arrival contract BEFORE the
      // store write: prior waves only (a replayed wave re-checks
      // against the same priors it originally saw)
      val priorDirs = substrPriorDirs(storeDir, id)
      enforceSubstrIdOrder(spark, priorDirs, batch, id, "runSubstrDedupStream")
      Dedup.spanStarts(batch, n, TextOps.spaceTokenizer)
        .filter(col("p").isNotNull)
        .select(col("doc_id"), col("p"), col("h"))
        .write.mode("overwrite").parquet(s"$storeDir/b$id")
      // crash-injection seam: a death here (wave store written, rewrite
      // not sunk, checkpoint not holding the batch) replays as the same
      // idempotent overwrite + the same rewrite
      onAfterStore(id)
      val wave = spark.read.parquet(s"$storeDir/b$id")
      val acc = spark.read.parquet(s"$storeDir/b*")
        .join(wave.select("h").distinct(), "h")
      val rm = Dedup.removalStarts(wave, acc)
      sink(id, Dedup.rewriteWithRemovals(batch, rm, n, TextOps.spaceTokenizer))
    }
  }

  /** Prior-wave store directories of a T21-family span store,
    * excluding the current wave's own `b<id>` (so crash-replay
    * re-checks against exactly the priors it originally saw).
    */
  private def substrPriorDirs(storeDir: String, id: Long): Seq[String] =
    Option(new java.io.File(storeDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("b") &&
        f.getName != s"b$id")
      .map(_.getPath).toIndexedSeq

  /** The T21-family nondecreasing-doc_id arrival guard. Store rows
    * exist only for span-CARRYING docs, which is exactly right: only
    * they can hold canonical occurrences, so the contract constrains
    * precisely their ids. A prior store with zero rows (all-short
    * waves) yields a null max — no constraint yet, not an error.
    */
  private def enforceSubstrIdOrder(spark: org.apache.spark.sql.SparkSession,
                                   priorDirs: Seq[String], batch: DataFrame,
                                   id: Long, opName: String): Unit =
    if (priorDirs.nonEmpty) {
      val priorMax = Option(spark.read.parquet(priorDirs: _*)
        .agg(max(col("doc_id"))).first().get(0)).map(_.asInstanceOf[Long])
      val waveMin = Option(batch.agg(min(col("doc_id"))).first().get(0))
        .map(_.asInstanceOf[Long])
      for (p <- priorMax; m <- waveMin) {
        require(m >= p,
          s"$opName: out-of-order arrival — wave b$id min " +
            s"doc_id $m < accumulated max $p; the batch-equality " +
            "contract requires nondecreasing doc_ids across waves")
      }
    }

  /** T21b: streaming ExactSubstr removal to the FIXPOINT — the
    * [[graft.operators.Dedup.substrDedupConverged]] semantics as an
    * arrival stream, EXACTLY (StreamingSpec pins the accumulated
    * per-doc output equal to the batch fixpoint over the full corpus,
    * fixture included; the global `rounds` column is corpus-wide in
    * batch and wave-local here, so the comparison drops it).
    *
    * The store holds PER-PASS SPAN SNAPSHOTS, not just final spans:
    * `b<id>/p<r>` = the wave's span frame over its pass-r text
    * (`p0` = as-arrived; a new snapshot is written only when pass r
    * actually removed something — text, and therefore spans, are
    * otherwise unchanged and the floor lookup below reuses the prior
    * snapshot). Why per-pass: the batch fixpoint's pass-r universe is
    * every doc's pass-(r−1) spans — an overlapping removal can DESTROY
    * a canonical copy mid-run, and prefix removals CREATE new
    * adjacency spans — so a later wave replaying batch pass r must see
    * the prefix exactly as batch pass r saw it, not the prefix's final
    * state. Final-spans-only (the first cut) diverged on the fixture
    * for precisely this reason.
    *
    * Wave k, pass r: universe = own pass-(r−1) spans ∪ for each prior
    * wave the snapshot with the LARGEST index ≤ r−1 (its text at that
    * pass), filtered to the wave's own hash set. Correctness of
    * ignoring LATER waves: canonicality is min (doc_id, p), so a
    * later-wave occurrence is never canonical against wave k — it can
    * neither cause nor prevent a wave-k removal. The loop stops when a
    * pass removes nothing AND the prefix snapshots are exhausted
    * (r−1 ≥ every prior wave's last index — before that, an advancing
    * prefix snapshot can legitimately re-open removals after a quiet
    * pass); the hard cap is `maxRounds` own effective passes beyond
    * the prefix's snapshot horizon.
    *
    * Replay idempotence: snapshots and sink rows are deterministic
    * functions of (arrivals, prior snapshots); a replayed wave
    * overwrites its own b<id>/p* with identical content (torn-write
    * soak in StreamingSpec).
    *
    * Scale shape: per pass, exactly the batch operator's two hash
    * aggregates + rewrite scan over 128-bit keys, with every store
    * read FILTERED to the wave's own hash set (the touched-cells
    * discipline); the round-boundary driver scalar is one 1-row
    * aggregate and the snapshot-index listing is directory metadata —
    * both bounded. Store size is bounded by Σ per-wave effective
    * passes (2-3 on real corpora, Lee et al. §4) × span frames, and a
    * compaction could fold fully-superseded snapshots once every
    * later wave has passed their index — the T14 segment-merge story.
    * Output per wave: (doc_id, n_tokens, n_removed, rounds,
    * text_clean) with `rounds` = this wave's effective passes.
    */
  def runSubstrDedupConvergedStream(docs: DataFrame, storeDir: String,
                                    checkpoint: String,
                                    n: Int = graft.operators.Dedup.DupSpanN,
                                    maxRounds: Int = graft.operators.Dedup.SubstrDedupMaxRounds,
                                    onAfterStore: Long => Unit = _ => ())
                                   (sink: (Long, DataFrame) => Unit): Unit = {
    import graft.Ckpt._
    import graft.operators.{Dedup, TextOps}
    drain(docs, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      new java.io.File(storeDir).mkdirs()
      val priorDirs = substrPriorDirs(storeDir, id)
      // per prior wave: its snapshot indices, ascending (p0 always
      // exists — bounded directory metadata)
      val priorSnaps: Seq[(String, Seq[Int])] = priorDirs.map { d =>
        val idxs = Option(new java.io.File(d).listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("p"))
          .map(_.getName.drop(1).toInt).sorted.toIndexedSeq
        (d, idxs)
      }
      val p0Dirs = priorSnaps.map { case (d, _) => s"$d/p0" }
      if (p0Dirs.nonEmpty)
        enforceSubstrIdOrder(spark,
          p0Dirs, batch, id, "runSubstrDedupConvergedStream")
      val prefixHorizon = (0 +: priorSnaps.flatMap(_._2.lastOption)).max
      def priorUniverse(rMinus1: Int): Seq[String] = priorSnaps.map {
        case (d, idxs) =>
          s"$d/p${idxs.filter(_ <= rMinus1).lastOption.getOrElse(0)}"
      }
      val tok = TextOps.spaceTokenizer
      def spansOf(df: DataFrame) =
        Dedup.spanStarts(df.select(col("doc_id"), col("text")), n, tok)
          .filter(col("p").isNotNull)
          .select(col("doc_id"), col("p"), col("h"))
      var cur = batch.select(col("doc_id"),
        size(tok(col("text"))).cast("long").as("n_tokens0"),
        lit(0L).as("removed_total"), col("text"))
      // p0: the wave's as-arrived spans (idempotent overwrite)
      spansOf(cur).write.mode("overwrite").parquet(s"$storeDir/b$id/p0")
      var prevTotal = 0L
      var effectiveRounds = 0
      var converged = false
      var round = 0
      while (!converged && round < maxRounds + prefixHorizon) {
        round += 1
        val waveSpans = spansOf(cur)
        val priorPaths = priorUniverse(round - 1)
        val prior =
          if (priorPaths.nonEmpty)
            spark.read.parquet(priorPaths: _*)
              .join(waveSpans.select("h").distinct(), "h")
          else waveSpans.limit(0)
        val rm = Dedup.removalStarts(waveSpans, prior.unionByName(waveSpans))
        val out = Dedup.rewriteWithRemovals(
          cur.select(col("doc_id"), col("text")), rm, n, tok)
        cur = cur.select(col("doc_id"), col("n_tokens0"), col("removed_total"))
          .join(out.select(col("doc_id"), col("n_removed"),
            col("text_clean").as("text")), "doc_id")
          .select(col("doc_id"), col("n_tokens0"),
            (col("removed_total") + col("n_removed")).as("removed_total"),
            col("text"))
          .materialize()
        val total = cur.agg(coalesce(sum(col("removed_total")), lit(0L)))
          .first().getLong(0)
        if (total == prevTotal) {
          // quiet pass: genuine convergence only once the prefix
          // snapshots can no longer advance the universe
          if (round - 1 >= prefixHorizon) converged = true
          else {
            // guaranteed-quiet skip (ADVICE r13): the wave text is
            // unchanged, so a later pass can only remove something if
            // the prior-wave SNAPSHOT SELECTION advances — re-running
            // rounds whose priorUniverse equals this one would repeat
            // the identical pass (two hash aggregates + rewrite +
            // count) for a guaranteed-quiet answer. Jump to the first
            // round whose selection differs; none left → converged.
            val curSel = priorUniverse(round - 1)
            var r = round + 1
            while (r - 1 <= prefixHorizon && priorUniverse(r - 1) == curSel)
              r += 1
            if (r - 1 > prefixHorizon) converged = true
            else round = r - 1 // loop head increments into round r
          }
        } else {
          effectiveRounds += 1
          prevTotal = total
          // text changed at pass `round` — snapshot it for later waves
          spansOf(cur).write.mode("overwrite")
            .parquet(s"$storeDir/b$id/p$round")
        }
      }
      onAfterStore(id)
      sink(id, cur.select(col("doc_id"),
        col("n_tokens0").as("n_tokens"),
        col("removed_total").as("n_removed"),
        lit(effectiveRounds).as("rounds"),
        col("text").as("text_clean")))
    }
  }

  def runSemanticDedupStream(vectors: DataFrame, storeDir: String, checkpoint: String,
                             centroids: DataFrame,
                             tau: Double = graft.operators.Similarity.SemTau,
                             onAfterStore: Long => Unit = _ => ())
                            (sink: (Long, DataFrame) => Unit = (_, _) => ()): Unit = {
    import graft.operators.Similarity
    drain(vectors, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      new java.io.File(storeDir).mkdirs()
      val cells = Similarity.assignCells(batch, centroids)
      cells.write.mode("overwrite").parquet(s"$storeDir/b$id")
      // crash-injection seam (StreamingSpec torn-write soak): a death
      // here — wave store written, labels not sunk, checkpoint not
      // holding the batch — is the protocol's critical window; replay
      // overwrites the same b<id> with identical content and labels
      // the wave once, so the accumulated label set is unchanged
      onAfterStore(id)
      // bounded metadata collect: the wave's distinct cell ids (≤ the
      // quantizer's cell count)
      val touched = spark.read.parquet(s"$storeDir/b$id")
        .select("cell").distinct().collect().map(_.getLong(0))
      val prior = spark.read.parquet(s"$storeDir/b*")
        .filter(col("cell").isin(touched.toIndexedSeq: _*))
      def dbl(c: Column) = transform(c, _.cast("double"))
      val dropped = spark.read.parquet(s"$storeDir/b$id").as("a")
        .join(prior.as("p"),
          col("a.cell") === col("p.cell") && col("p.vec_id") < col("a.vec_id"))
        .filter(graft.functions.CosineFast(col("a.embedding"), col("p.embedding"))
          >= tau - Similarity.SemPrefilterEps)
        .filter(Similarity.cosine(dbl(col("a.embedding")), dbl(col("p.embedding"))) >= tau)
        .select(col("a.vec_id").as("vec_id")).distinct()
        .withColumn("dropped", lit(true))
      val annotated = cells.select(col("vec_id"), col("cell"))
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("dropped"), lit(false)).as("dropped"))
      sink(id, annotated)
    }
  }
}
