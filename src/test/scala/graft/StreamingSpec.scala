package graft

import java.nio.file.Files

import graft.sources.MqBroker
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** T1–T8 + J8/J9 + S2–S5: every streaming operator run to completion
  * with Trigger.AvailableNow and compared against its batch twin on the
  * same event prefix (the Structured-Streaming prefix-consistency
  * criterion), all driven through the embedded MQ source.
  */
class StreamingSpec extends SparkSuite {

  /** Publish the sf0.001 events fixture into a fresh MQ topic as JSON
    * payloads (keyed by user — same-user ordering preserved per
    * partition, like a keyed MQ producer).
    */
  private def publishEvents(topic: String): DataFrame = {
    MqBroker.deleteTopic(topic)
    MqBroker.createTopic(topic, 4)
    val payloads = tables.eventsRaw
      .select(
        to_json(struct(
          col("event_id"), expr("ts DIV 1000").as("ts_us"), col("user_id"),
          col("event_type"), col("value"))).as("v"),
        col("user_id").cast("string").as("k"),
        expr("ts DIV 1000").as("ts_us"))
      .collect()
    payloads.foreach(r => MqBroker.publish(topic, r.getString(1), r.getString(0), r.getLong(2)))
    // batch twin of the decoded stream
    Streams.decodeEvents(
      spark.read.format(graft.sources.MqSource.format).option("topic", topic).load())
  }

  private def stream(topic: String): DataFrame =
    Streams.decodeEvents(Streams.mqStream(spark, topic))

  /** AvailableNow run that COLLECTS rows via foreachBatch — unlike the
    * memory sink, foreachBatch supports checkpoint recovery, so this
    * harness exercises restart semantics.
    */
  private def runCollecting(df: DataFrame, cp: String,
                            mode: OutputMode = OutputMode.Append): Seq[org.apache.spark.sql.Row] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => buf ++= batch.collect(); () }
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", cp)
      .start()
    q.awaitTermination()
    buf.toSeq
  }

  test("S2 MQ source: batch read == streaming AvailableNow read; restart consumes only new data") {
    val batchDecoded = publishEvents("t_restart")
    val n = batchDecoded.count()
    assert(n == tables.eventsRaw.count())
    val cp = tempCheckpoint("restart")
    val run1 = runCollecting(stream("t_restart"), cp)
    assert(run1.size == n)
    // publish 3 more; a resumed query (same checkpoint) must see ONLY them
    (1 to 3).foreach(i => MqBroker.publish("t_restart", "99",
      s"""{"event_id":${100000 + i},"ts_us":1706000000000000,"user_id":99,"event_type":"click","value":1.0}""", 0L))
    val run2 = runCollecting(stream("t_restart"), cp)
    assert(run2.size == 3)
    assert(run2.map(_.getAs[Long]("event_id")).min == 100001L)
  }

  test("S2 batch reads surface contiguous per-partition offsets from 0") {
    publishEvents("t_offsets")
    val got = spark.read.format(graft.sources.MqSource.format)
      .option("topic", "t_offsets").load()
      .groupBy(col("partition"))
      .agg(min(col("offset")).as("lo"), max(col("offset")).as("hi"),
        count(lit(1)).as("n"), countDistinct(col("offset")).as("nd"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (lo, hi, n, nd) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(lo == 0L, s"partition ${r.getInt(0)} starts at $lo")
      assert(hi == n - 1 && nd == n, s"partition ${r.getInt(0)} not contiguous 0..${n - 1}")
    }
  }

  test("S2c maxOffsetsPerTrigger: admission control caps every micro-batch") {
    val n = publishEvents("t_ratelimit").count() // 1000 events, 4 partitions
    val df = spark.readStream.format(graft.sources.MqSource.format)
      .option("topic", "t_ratelimit").option("maxOffsetsPerTrigger", "100").load()
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = df.writeStream
      .foreachBatch { (b: DataFrame, _: Long) => sizes += b.count(); () }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        tempCheckpoint("ratelimit"))
      .start()
    q.awaitTermination()
    assert(sizes.sum == n, s"all data consumed: $sizes")
    assert(sizes.forall(_ <= 100), s"batch over cap: $sizes")
    assert(sizes.count(_ > 0) >= 10, s"expected >= 10 capped batches: $sizes")
  }

  test("S2d backpressure metrics: proportional allocation under skewed backlogs, observable frame") {
    import graft.sources.{MqAdmission, MqBroker}
    // pure-policy pin first: avail (90, 9, 1), budget 10 → floors (9, 0, 0),
    // remainders 0/90/10 of 100 → the single top-up goes to partition 1
    assert(MqAdmission.allocate(IndexedSeq(90L, 9L, 1L), 10L).toSeq == Seq(9L, 1L, 0L))
    // budget below the backlogged-partition count must still admit fully
    assert(MqAdmission.allocate(IndexedSeq(50L, 50L, 50L, 50L), 2L).sum == 2L)
    // end-to-end: a keyed topic with a 90/9/1 skew, capped at 10/batch
    val topic = "t_backpressure"
    MqBroker.deleteTopic(topic); MqAdmission.clear(topic)
    MqBroker.createTopic(topic, 3)
    // keys chosen by floorMod(key.hashCode, 3) to land on fixed partitions
    val keyFor = (0 to 2).map(p =>
      p -> (1 to 100).map(i => s"k$i").find(k => math.floorMod(k.hashCode, 3) == p).get).toMap
    for (_ <- 1 to 90) MqBroker.publish(topic, keyFor(0), "v", 0L)
    for (_ <- 1 to 9) MqBroker.publish(topic, keyFor(1), "v", 0L)
    MqBroker.publish(topic, keyFor(2), "v", 0L)
    val df = spark.readStream.format(graft.sources.MqSource.format)
      .option("topic", topic).option("maxOffsetsPerTrigger", "10").load()
    val q = df.writeStream
      .foreachBatch { (_: DataFrame, _: Long) => () }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        tempCheckpoint("backpressure"))
      .start()
    q.awaitTermination()
    val m = MqAdmission.metricsFrame(spark, topic)
      .orderBy(col("batch_seq"), col("partition")).collect()
    assert(m.nonEmpty)
    // first capped batch: the exact proportional split of the skew
    val first = m.filter(_.getLong(0) == m.head.getLong(0))
    assert(first.map(r => r.getInt(1) -> (r.getLong(2), r.getLong(3))).toMap ==
      Map(0 -> (90L, 9L), 1 -> (9L, 1L), 2 -> (1L, 0L)))
    // every batch: admitted ≤ backlog, deferred is the difference, and
    // capped batches admit the FULL budget
    m.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(4) == r.getLong(2) - r.getLong(3))
    }
    val perBatch = m.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(3)).sum)
    val total = perBatch.values.sum
    assert(total == 100L, s"all rows admitted across batches: $perBatch")
    assert(perBatch.values.forall(_ <= 10L))
    // drained topic: final backlog over the recorded history reaches zero
    val lastSeq = m.map(_.getLong(0)).max
    assert(m.filter(_.getLong(0) == lastSeq).map(r => r.getLong(2) - r.getLong(3)).sum == 0L)
    MqBroker.deleteTopic(topic); MqAdmission.clear(topic)
  }

  test("S2e drain property: engine policy == oracle-stage replay over randomized backlogs") {
    import graft.sources.{MqAdmission, MqBroker}
    // Independent replica of the Registry s2_admission oracle's unrolled
    // stage math (floors + remainder-rank top-up, uncapped tail) — kept
    // deliberately separate from MqAdmission.allocate so the two
    // implementations cross-check each other.
    def oracleDrain(backlog0: IndexedSeq[Long], budget: Long): Seq[(Long, Int, Long, Long)] = {
      var avail = backlog0.toArray
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
      var seq = 0L
      while (avail.sum > 0) {
        val total = avail.sum
        val adm: Array[Long] =
          if (total <= budget) avail.clone()
          else {
            val fl = avail.map(a => a * budget / total)
            val rem = avail.map(a => a * budget % total)
            val flsum = fl.sum
            val rnk = avail.indices
              .sortBy(p => (if (avail(p) > 0) 0 else 1, -rem(p), p))
              .zipWithIndex.map { case (p, i) => p -> (i + 1) }.toMap
            avail.indices.map(p =>
              fl(p) + (if (avail(p) > 0 && rnk(p) <= budget - flsum) 1L else 0L)).toArray
          }
        avail.indices.foreach(p => out += ((seq, p, avail(p), adm(p))))
        avail = avail.indices.map(p => avail(p) - adm(p)).toArray
        seq += 1
      }
      out.toSeq
    }
    // Engine-side replica: exactly MqMicroBatchStream.latestOffset's
    // record sequence (allocate when capped, admit-all when the tail fits).
    def engineDrain(backlog0: IndexedSeq[Long], budget: Long): Seq[(Long, Int, Long, Long)] = {
      var avail = backlog0.toArray
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
      var seq = 0L
      while (avail.sum > 0) {
        val adm =
          if (avail.sum <= budget) avail.clone()
          else MqAdmission.allocate(avail.toIndexedSeq, budget)
        avail.indices.foreach(p => out += ((seq, p, avail(p), adm(p))))
        avail = avail.indices.map(p => avail(p) - adm(p)).toArray
        seq += 1
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(20260819L)
    for (_ <- 1 to 300) {
      val p = 1 + rnd.nextInt(8)
      val vec = IndexedSeq.fill(p)(rnd.nextInt(140).toLong) // zeros included
      val budget = 1L + rnd.nextInt(64)
      if (vec.sum > 0)
        assert(engineDrain(vec, budget) == oracleDrain(vec, budget),
          s"policy drift on vec=$vec budget=$budget")
    }
    // End-to-end: one randomized skewed vector through the REAL DSv2
    // source — catches recording drift (extra/missing latestOffset calls)
    // the pure-policy property cannot see.
    val pReal = 4
    val vecReal = IndexedSeq.fill(pReal)(rnd.nextInt(120).toLong + 1L)
    val budgetReal = 32L
    val topic = "t_drain_property"
    MqBroker.deleteTopic(topic); MqAdmission.clear(topic)
    MqBroker.createTopic(topic, pReal)
    val keyFor = (0 until pReal).map(p =>
      p -> (1 to 1000).map(i => s"k$i").find(k => math.floorMod(k.hashCode, pReal) == p).get).toMap
    for (p <- 0 until pReal; _ <- 1L to vecReal(p)) MqBroker.publish(topic, keyFor(p), "v", 0L)
    val df = spark.readStream.format(graft.sources.MqSource.format)
      .option("topic", topic).option("maxOffsetsPerTrigger", budgetReal.toString).load()
    val q = df.writeStream
      .foreachBatch { (_: DataFrame, _: Long) => () }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        tempCheckpoint("drainprop"))
      .start()
    q.awaitTermination()
    val ring = MqAdmission.metricsFrame(spark, topic)
      .orderBy(col("batch_seq"), col("partition")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(ring == oracleDrain(vecReal, budgetReal),
      s"recorded drain != oracle replay for vec=$vecReal")
    MqBroker.deleteTopic(topic); MqAdmission.clear(topic)
  }

  test("S2 MqOffset equality is by content (engine's no-new-data detection)") {
    import graft.sources.MqOffset
    assert(MqOffset(Array(1L, 2L)) == MqOffset(Array(1L, 2L)))
    assert(MqOffset(Array(1L, 2L)).hashCode == MqOffset(Array(1L, 2L)).hashCode)
    assert(MqOffset(Array(1L, 2L)) != MqOffset(Array(1L, 3L)))
    assert(MqOffset.parse(MqOffset(Array(0L, 7L, 42L)).json()).ends.toSeq == Seq(0L, 7L, 42L))
  }

  test("T8/S2e runs without a caller checkpoint leave no temp checkpoint dir behind") {
    val name = s"t8_leak_${System.nanoTime()}"
    val prefixes = Seq(s"graft-cp-$name", "graft-cp-s2adm")
    def cpDirs(): Set[String] =
      Option(new java.io.File(sys.props("java.io.tmpdir")).list()).toSeq.flatten
        .filter(n => prefixes.exists(n.startsWith)).toSet
    val before = cpDirs()
    val topic = "t_leak"
    MqBroker.deleteTopic(topic)
    MqBroker.createTopic(topic, 2)
    (1 to 5).foreach(i => MqBroker.publish(topic, s"k$i", s"v$i", 0L))
    val got = Streams.runAvailableNow(Streams.mqStream(spark, topic), name, OutputMode.Append)
    assert(got.count() == 5L)
    assert(Streams.s2Admission(spark, sf).count() > 0L)
    val leaked = cpDirs() -- before
    assert(leaked.isEmpty, s"temp checkpoint dirs left behind: $leaked")
    MqBroker.deleteTopic(topic)
  }

  test("T1 tumbling window: streaming == batch twin (exact, Det.davg discipline)") {
    val batchDecoded = publishEvents("t_tumbling")
    val streamed = Streams.runAvailableNow(
      Streams.tumblingCounts(stream("t_tumbling")), "t1_out", OutputMode.Complete)
    assertSameRows(
      streamed.select(col("window_start"), col("event_type"), col("n")),
      Streams.tumblingCounts(batchDecoded)
        .select(col("window_start"), col("event_type"), col("n")))
    // double totals: tolerance compare (accumulation order differs between
    // state-store merges and batch partial aggs)
    val s = streamed.collect().map(r => (r.get(0), r.getString(1)) -> r.getDouble(3)).toMap
    val b = Streams.tumblingCounts(batchDecoded).collect()
      .map(r => (r.get(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(s.keySet == b.keySet)
    s.foreach { case (k, v) => assert(math.abs(v - b(k)) <= 1e-6 * math.max(1.0, math.abs(v))) }
  }

  test("T2 sliding + T3 session windows: streaming == batch twin") {
    val batchDecoded = publishEvents("t_windows")
    val slid = Streams.runAvailableNow(
      Streams.slidingCounts(stream("t_windows")), "t2_out", OutputMode.Complete)
    assertSameRows(slid, Streams.slidingCounts(batchDecoded))
    val sess = Streams.runAvailableNow(
      Streams.sessionCounts(stream("t_windows")), "t3_out", OutputMode.Complete)
    assertSameRows(sess, Streams.sessionCounts(batchDecoded))
  }

  test("T5 dedup within watermark + T4 late duplicate dropped after restart") {
    val topic = "t_dedup"
    MqBroker.deleteTopic(topic)
    MqBroker.createTopic(topic, 2)
    def pub(id: Long, tsUs: Long): Unit =
      MqBroker.publish(topic, "u1",
        s"""{"event_id":$id,"ts_us":$tsUs,"user_id":1,"event_type":"click","value":1.0}""", tsUs)
    val t0 = 1706000000000000L
    pub(1, t0); pub(1, t0); pub(2, t0 + 1000000L)
    pub(3, t0 + 3600L * 1000000L) // 1h later: advances watermark past t0
    val cp = tempCheckpoint("dedup")
    val run1 = runCollecting(Streams.dedupStream(stream(topic)), cp)
    assert(run1.size == 3) // ids 1,2,3 — in-batch duplicate of 1 dropped
    // redelivery of id=1 now arrives BEHIND the committed watermark → dropped
    pub(1, t0)
    val run2 = runCollecting(Streams.dedupStream(stream(topic)), cp)
    assert(run2.isEmpty)
  }

  test("T5b streaming near-dup dedup: fingerprint key absorbs small-edit redelivery") {
    import TestSpark.spark.implicits._
    import graft.operators.TextOps
    val topic = "t_neardedup"
    MqBroker.deleteTopic(topic); MqBroker.createTopic(topic, 2)
    def fpOf(s: String): String =
      Seq(s).toDF("text").select(TextOps.fingerprint(col("text"))).collect()(0).getString(0)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // find a one-token edit that leaves the MIN shingle hash untouched
    // (each edit disturbs ≤3 of 8 shingles, so one such edit must exist)
    val toks = base.split(" ")
    val edited = toks.indices.map(i => toks.updated(i, "EDITED").mkString(" "))
      .find(v => fpOf(v) == fpOf(base))
    assert(edited.isDefined, "no fingerprint-preserving edit found")
    val distinct = "one two three four five six seven eight nine ten"
    val t0 = 1706000000000000L
    def pub(text: String, tsUs: Long): Unit = MqBroker.publish(topic, "k", text, tsUs)
    pub(base, t0); pub(edited.get, t0) // near-dup pair in one batch
    pub(distinct, t0 + 1000000L)
    pub("late mark advancer text here now", t0 + 3600L * 1000000L)
    val docs = Streams.mqStream(spark, topic)
      .select(col("value").as("text"), col("timestamp").as("ts"))
    val cp = tempCheckpoint("neardedup")
    val run1 = runCollecting(Streams.nearDedupStream(docs), cp)
    assert(run1.size == 3, s"got ${run1.size}") // edited collapsed onto base
    assert(run1.map(_.getAs[String]("text")).contains(base))
    assert(!run1.map(_.getAs[String]("text")).contains(edited.get))
    // redelivery of the near-dup behind the committed watermark → dropped
    pub(edited.get, t0)
    val run2 = runCollecting(Streams.nearDedupStream(docs), cp)
    assert(run2.isEmpty)
  }

  test("T1+T4 windowed-aggregation STATE survives restart: cumulative counts after resume == batch on full data") {
    val topic = "t_aggrestart"
    MqBroker.deleteTopic(topic); MqBroker.createTopic(topic, 2)
    val payloads = tables.eventsRaw
      .select(to_json(struct(col("event_id"), expr("ts DIV 1000").as("ts_us"),
        col("user_id"), col("event_type"), col("value"))).as("v"),
        col("user_id").cast("string").as("k"))
      .collect()
    val (first, second) = payloads.splitAt(payloads.length / 2)
    val agg = () => Streams.tumblingCounts(stream(topic), watermark = "100 days") // no late drops
      .select(col("window_start"), col("event_type"), col("n"))
    val cp = tempCheckpoint("aggrestart")
    first.foreach(r => MqBroker.publish(topic, r.getString(1), r.getString(0), 0L))
    val run1 = runCollecting(agg(), cp, OutputMode.Update) // emissions of batch 1
    assert(run1.nonEmpty)
    second.foreach(r => MqBroker.publish(topic, r.getString(1), r.getString(0), 0L))
    val run2 = runCollecting(agg(), cp, OutputMode.Update) // resumed: state carries batch-1 counts
    // last emission per (window, type) across both runs == batch answer on ALL events
    val last = (run1 ++ run2).map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
    val full = Streams.tumblingCounts(publishEvents_cached(topic), watermark = "100 days")
      .select(col("window_start"), col("event_type"), col("n"))
      .collect().map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(last == full)
  }

  test("T1+T4 a checkpoint begun under Spark's stock file manager resumes under the nio one; the replayed batch overwrites its state deltas") {
    import java.nio.file.{Path, Paths}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val engineManager = spark.conf.get(key)
    assert(engineManager == classOf[graft.streaming.LocalCheckpointFileManager].getName)
    val topic = "t_cpmanager"
    MqBroker.deleteTopic(topic); MqBroker.createTopic(topic, 2)
    val payloads = tables.eventsRaw
      .select(to_json(struct(col("event_id"), expr("ts DIV 1000").as("ts_us"),
        col("user_id"), col("event_type"), col("value"))).as("v"),
        col("user_id").cast("string").as("k"))
      .collect()
    val (first, second) = payloads.splitAt(payloads.length / 2)
    val agg = () => Streams.tumblingCounts(stream(topic), watermark = "100 days")
      .select(col("window_start"), col("event_type"), col("n"))
    val cp = tempCheckpoint("manager")
    def files(name: String): Seq[Path] = {
      val w = Files.walk(Paths.get(cp, "state"))
      try w.iterator.asScala.filter(_.getFileName.toString == name).toList
      finally w.close()
    }
    def crc(p: Path): Path = p.resolveSibling(s".${p.getFileName}.crc")

    // no trailing no-data batch, so the last batch of a leg is its data batch
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(noData, "false")
    try {
      // leg 1, stock manager: batch 0 commits state version 1 with sidecars
      first.foreach(r => MqBroker.publish(topic, r.getString(1), r.getString(0), 0L))
      spark.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
      val run1 = try runCollecting(agg(), cp, OutputMode.Update)
        finally spark.conf.set(key, engineManager)
      assert(run1.nonEmpty)
      val deltas = files("1.delta")
      assert(deltas.nonEmpty && deltas.forall(d => Files.exists(crc(d))),
        s"stock manager left no .crc sidecars: $deltas")
      // batch 0 failed after its state commit: its commit entry is gone
      // (with its sidecar, as a Hadoop delete removes both)
      val commit = Paths.get(cp, "commits", "0")
      Files.delete(commit); Files.deleteIfExists(crc(commit))

      // leg 2, nio manager: batch 0 replays and overwrites every 1.delta
      val run2 = runCollecting(agg(), cp, OutputMode.Update)
      assert(run2.map(_.toString).sorted == run1.map(_.toString).sorted)
      assert(files("1.delta").toSet == deltas.toSet)
      assert(deltas.forall(d => !Files.exists(crc(d))), "stale .crc sidecar kept")

      // leg 3: new data; state version 1 is read back from the replaced deltas
      second.foreach(r => MqBroker.publish(topic, r.getString(1), r.getString(0), 0L))
      val run3 = runCollecting(agg(), cp, OutputMode.Update)
      val last = (run1 ++ run3).map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
      val full = Streams.tumblingCounts(publishEvents_cached(topic), watermark = "100 days")
        .select(col("window_start"), col("event_type"), col("n"))
        .collect().map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(last == full)
    } finally spark.conf.unset(noData)
  }

  /** Batch twin over whatever is currently in `topic`. */
  private def publishEvents_cached(topic: String): DataFrame =
    Streams.decodeEvents(
      spark.read.format(graft.sources.MqSource.format).option("topic", topic).load())

  test("T4 state is BOUNDED: watermark evicts closed windows across a long soak") {
    // result-equality tests at fixture scale cannot catch a silent
    // watermark-wiring regression — state would just grow and the answers
    // would stay right. Pin the eviction itself: 100 hour-windows flow
    // through in 12 capped micro-batches; the state store must hold only
    // the windows inside the watermark horizon at each batch, not all of
    // them.
    val topic = "t_state_soak"
    MqBroker.deleteTopic(topic); MqBroker.createTopic(topic, 1)
    val t0 = 1706000000000000L // µs, event time advances 5 min per message
    val n = 1200
    (0 until n).foreach { i =>
      val ts = t0 + i.toLong * 300L * 1000000L
      MqBroker.publish(topic, "k",
        s"""{"event_id":$i,"ts_us":$ts,"user_id":1,"event_type":"click","value":1.0}""", ts)
    }
    val src = spark.readStream.format(graft.sources.MqSource.format)
      .option("topic", topic).option("maxOffsetsPerTrigger", "100").load()
    val counts = Streams.tumblingCounts(Streams.decodeEvents(src))
    val emitted = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = counts.writeStream
      .foreachBatch { (b: DataFrame, _: Long) => emitted ++= b.collect(); () }
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        tempCheckpoint("soak"))
      .start()
    q.awaitTermination()
    val stateRows = q.recentProgress.toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal)
    assert(stateRows.nonEmpty, "no state-operator progress recorded")
    // ~100 hour-windows total; the horizon holds ~2 in-flight windows —
    // a leak (watermark not wired) would grow state toward 100
    assert(stateRows.max <= 10,
      s"state grew to ${stateRows.max} rows — watermark not evicting: $stateRows")
    // and the soak really did close windows along the way (Append only
    // emits a window once the watermark passes it)
    assert(emitted.size >= 90, s"only ${emitted.size} closed windows emitted")
    assert(emitted.map(_.getAs[Long]("n")).sum <= n)
  }

  test("T6 flatMapGroupsWithState user stats == batch aggregate") {
    import TestSpark.spark.implicits._
    val batchDecoded = publishEvents("t_state")
    val streamed = Streams.runAvailableNow(
      Streams.userStats(stream("t_state").as[Streams.Event]).toDF(),
      "t6_out", OutputMode.Update)
    // single AvailableNow batch → exactly one update per user == batch agg
    val twin = batchDecoded.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
    val s = streamed.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val b = twin.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(s == b)
  }

  test("T11 streaming transitions == batch B3 transition matrix") {
    import TestSpark.spark.implicits._
    publishEvents("t_trans")
    val streamed = Streams.runAvailableNow(
      Streams.transitionsStream(stream("t_trans").as[Streams.Event]).toDF(),
      "t11_out", OutputMode.Append)
    val got = streamed.groupBy(col("from_type").as("event_type"),
        col("to_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.Behavior.b3Transitions(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == batch)
  }

  test("S9b streaming quality gate: contract violations quarantined with rule names, clean rows flow") {
    MqBroker.deleteTopic("t_gate_in"); MqBroker.createTopic("t_gate_in", 2)
    MqBroker.deleteTopic("t_gate_out"); MqBroker.createTopic("t_gate_out", 2)
    MqBroker.deleteTopic("t_gate_q"); MqBroker.createTopic("t_gate_q", 2)
    def pay(id: Long, tpe: String, v: Double) =
      s"""{"event_id":$id,"ts_us":${1000000L * id},"user_id":${id % 3},"event_type":"$tpe","value":$v}"""
    // 2 clean, 1 bad type, 1 negative value, 1 violating BOTH rules
    Seq(pay(1, "view", 1.0), pay(2, "click", 2.5), pay(3, "bogus", 1.0),
      pay(4, "view", -7.0), pay(5, "bogus", -1.0))
      .zipWithIndex.foreach { case (p, i) =>
        MqBroker.publish("t_gate_in", s"k$i", p, 1000000L * i) }
    val rules = Seq(
      "type_in_domain" ->
        !col("event_type").isin("view", "click", "purchase", "signup", "error"),
      "value_non_negative" -> (col("value") < 0.0))
    val cp = tempCheckpoint("gate")
    Streams.runWithQualityGate(
      spark.readStream.format(graft.sources.MqSource.format)
        .option("topic", "t_gate_in").load(),
      rules, "t_gate_out", "t_gate_q", cp)
    val out = spark.read.format(graft.sources.MqSource.format)
      .option("topic", "t_gate_out").load()
    val quar = spark.read.format(graft.sources.MqSource.format)
      .option("topic", "t_gate_q").load()
    assert(out.count() == 2 && quar.count() == 3)
    // quarantine rows carry exactly their violated rule names
    val vio = quar.select(get_json_object(col("value"), "$.event_id").cast("long").as("id"),
        get_json_object(col("value"), "$.violated").as("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(vio(3L) == """["type_in_domain"]""")
    assert(vio(4L) == """["value_non_negative"]""")
    assert(vio(5L) == """["type_in_domain","value_non_negative"]""")
  }

  test("S5b MQ write-back sink: consume topic A, transform, produce topic B; B == batch twin") {
    val batchDecoded = publishEvents("t_wb_in")
    MqBroker.deleteTopic("t_wb_out")
    MqBroker.createTopic("t_wb_out", 3)
    // transform: purchases only, re-keyed by user, re-encoded as JSON
    def xform(df: DataFrame): DataFrame = df
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id").cast("string").as("key"),
        to_json(struct(col("event_id"), col("user_id"), col("value"))).as("value"),
        col("ts").as("timestamp"))
    val cp = tempCheckpoint("wb")
    Streams.writeToMq(xform(stream("t_wb_in")), "t_wb_out", cp)
    // read topic B back (batch DSv2 read) and compare against the batch twin
    val got = spark.read.format(graft.sources.MqSource.format).option("topic", "t_wb_out").load()
    val expected = xform(batchDecoded)
    assert(got.count() == expected.count())
    val gotSet = got.select(col("key"), col("value"), unix_micros(col("timestamp")).as("ts_us"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val expSet = expected.select(col("key"), col("value"), unix_micros(col("timestamp")).as("ts_us"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(gotSet == expSet)
    // keyed routing: every message of one key lands in ONE partition
    val partsPerKey = got.groupBy(col("key"))
      .agg(countDistinct(col("partition")).as("np"))
      .collect().map(_.getLong(1)).toSet
    assert(partsPerKey == Set(1L))
    // resumed query with the same checkpoint publishes nothing new
    Streams.writeToMq(xform(stream("t_wb_in")), "t_wb_out", cp)
    assert(spark.read.format(graft.sources.MqSource.format).option("topic", "t_wb_out")
      .load().count() == expected.count())
  }

  test("S5b at-least-once under task retry: duplicates published, T5 dedup absorbs them") {
    val batchDecoded = publishEvents("t_fail_in")
    MqBroker.deleteTopic("t_fail_out")
    MqBroker.createTopic("t_fail_out", 2)
    InjectFail.reset()
    val poison = udf((v: String) => InjectFail.poison(v))
    def xform(df: DataFrame): DataFrame = df
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id").cast("string").as("key"),
        poison(to_json(struct(col("event_id"), col("user_id"), col("value")))).as("value"),
        col("ts").as("timestamp"))
    val cp = tempCheckpoint("fail")
    // the injected mid-partition failure kills one task AFTER it published
    // rows; Spark retries the task (local[N, 2]) and the writer re-publishes
    // the whole partition slice — the documented at-least-once contract
    Streams.writeToMq(xform(stream("t_fail_in")), "t_fail_out", cp)
    assert(InjectFail.fired.get(), "failure was never injected")
    val expected = batchDecoded.filter(col("event_type") === "purchase").count()
    val raw = spark.read.format(graft.sources.MqSource.format)
      .option("topic", "t_fail_out").load()
    assert(raw.count() > expected,
      s"retry should have re-published rows (raw=${raw.count()}, expected=$expected)")
    // T5 downstream: streaming dedup by event_id within the watermark
    // absorbs the re-publish — effective exactly-once for consumers
    val decoded = Streams.mqStream(spark, "t_fail_out")
      .select(col("timestamp").as("ts"),
        get_json_object(col("value"), "$.event_id").cast("long").as("event_id"))
    val deduped = runCollecting(Streams.dedupStream(decoded),
      tempCheckpoint("fail-dd"))
    assert(deduped.size.toLong == expected)
    assert(deduped.map(_.getAs[Long]("event_id")).distinct.size.toLong == expected)
  }

  test("S5c dead-letter routing: good rows to out, malformed payloads verbatim to DLQ") {
    Seq("t_dlq_in", "t_dlq_out", "t_dlq_dead").foreach { t =>
      MqBroker.deleteTopic(t); MqBroker.createTopic(t, 2)
    }
    val good = Seq(
      """{"event_id":1,"ts_us":1706000000000000,"user_id":7,"event_type":"click","value":1.5}""",
      """{"event_id":2,"ts_us":1706000001000000,"user_id":8,"event_type":"purchase","value":9.0}""",
      """{"event_id":3,"ts_us":1706000002000000,"user_id":7,"event_type":"click","value":0.5}""")
    val bad = Seq("not json at all", """{"event_id":"missing-everything"}""",
      // parseable but field-corrupt: PERMISSIVE nulls user_id/value — must
      // be dead-lettered, not published with silently nulled fields
      """{"event_id":9,"ts_us":1,"user_id":"oops","event_type":"click","value":"NaNope"}""")
    (good ++ bad).foreach(v => MqBroker.publish("t_dlq_in", "k", v, 0L))
    Streams.runWithDeadLetter(Streams.mqStream(spark, "t_dlq_in"),
      "t_dlq_out", "t_dlq_dead",
      tempCheckpoint("dlq"))
    def read(t: String) = spark.read.format(graft.sources.MqSource.format)
      .option("topic", t).load()
    val out = read("t_dlq_out")
    assert(out.count() == 3)
    assert(out.select(get_json_object(col("value"), "$.event_id").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // DLQ carries the ORIGINAL payloads byte-for-byte, replayable post-fix
    val dead = read("t_dlq_dead").select(col("value")).collect().map(_.getString(0)).toSet
    assert(dead == bad.toSet)
  }

  test("S5d DLQ replay: repaired payloads re-enter the mainline exactly once") {
    Seq("t_rp_in", "t_rp_out", "t_rp_dead").foreach { t =>
      MqBroker.deleteTopic(t); MqBroker.createTopic(t, 2)
    }
    def ev(id: Long) =
      s"""{"event_id":$id,"ts_us":${1706000000000000L + id},"user_id":$id,"event_type":"click","value":1.0}"""
    val good = (1L to 3L).map(ev)
    // producer bug: an envelope tag prepended to otherwise-valid JSON —
    // dead-lettered by routing, recoverable by stripping the tag
    val fixable = (4L to 5L).map(i => "CORRUPT:" + ev(i))
    val hopeless = Seq("not json at all")
    (good ++ fixable ++ hopeless).foreach(v => MqBroker.publish("t_rp_in", "k", v, 0L))
    Streams.runWithDeadLetter(Streams.mqStream(spark, "t_rp_in"),
      "t_rp_out", "t_rp_dead",
      tempCheckpoint("rp"))
    // fix deployed: strip the envelope and replay — TWICE, simulating a
    // retried replay job (at-least-once republish)
    val fix = (v: org.apache.spark.sql.Column) => regexp_replace(v, "^CORRUPT:", "")
    val (n1, parked1) = Streams.replayDeadLetter(spark, "t_rp_dead", "t_rp_out", fix)
    assert(n1 == 2 && parked1 == 1, s"replayed $n1, parked $parked1")
    val (n2, _) = Streams.replayDeadLetter(spark, "t_rp_dead", "t_rp_out", fix)
    assert(n2 == 2)
    // the raw mainline now carries duplicates of the replayed events...
    val raw = spark.read.format(graft.sources.MqSource.format)
      .option("topic", "t_rp_out").load()
    assert(raw.count() == 3 + 2 + 2)
    // ...and the mainline consumer's watermark dedup absorbs them:
    // exactly-once end to end, every event id once
    val consumed = runCollecting(
      Streams.dedupStream(Streams.decodeEvents(Streams.mqStream(spark, "t_rp_out"))),
      tempCheckpoint("rp2"))
    assert(consumed.map(_.getAs[Long]("event_id")).sorted.toSeq == (1L to 5L).toSeq)
  }

  test("S5b MQ sink rejects frames without a value column or with wrong types") {
    import graft.sources.MqWriterCols
    import org.apache.spark.sql.types.StructType
    val noValue = intercept[IllegalArgumentException] {
      MqWriterCols.resolve(StructType.fromDDL("key STRING, payload STRING"))
    }
    assert(noValue.getMessage.contains("value"))
    val badType = intercept[IllegalArgumentException] {
      MqWriterCols.resolve(StructType.fromDDL("key INT, value STRING"))
    }
    assert(badType.getMessage.contains("key"))
    // well-formed: value only, case-insensitive, optional columns resolved
    val ok = MqWriterCols.resolve(StructType.fromDDL("VALUE STRING, extra INT"))
    assert(ok.value == 0 && ok.key == -1 && ok.ts == -1)
  }

  test("T6 transformWithState == flatMapGroupsWithState twin == batch aggregate") {
    import TestSpark.spark.implicits._
    val batchDecoded = publishEvents("t_tws")
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tws = Streams.runAvailableNow(
        Streams.userStatsTws(stream("t_tws").as[Streams.Event]).toDF(),
        "t6_tws_out", OutputMode.Update)
      val twin = batchDecoded.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value")).as("total_value"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
      val s = tws.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
      val b = twin.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
      assert(s == b)
      // differential twin: the old-API impl on the same topic emits the same map
      val old = Streams.runAvailableNow(
        Streams.userStats(stream("t_tws").as[Streams.Event]).toDF(),
        "t6_old_out", OutputMode.Update)
      val o = old.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
      assert(o == s)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("J8 stream-static enrich + J9 stream-stream join == batch twins") {
    val batchDecoded = publishEvents("t_joins")
    val dim = tables.customer.select(col("c_custkey"), col("c_mktsegment"))
    val enriched = Streams.runAvailableNow(
      Streams.enrich(stream("t_joins"), dim, "user_id", "c_custkey")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n")),
      "j8_out", OutputMode.Complete)
    val enrichedTwin = Streams.enrich(batchDecoded, dim, "user_id", "c_custkey")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    assertSameRows(enriched, enrichedTwin)

    val clicksS = stream("t_joins").filter(col("event_type") === "click")
    val purchS = stream("t_joins").filter(col("event_type") === "purchase")
    val joined = Streams.runAvailableNow(
      Streams.purchaseAttribution(clicksS, purchS)
        .select(col("purchase_id"), col("click_id")),
      "j9_out", OutputMode.Append)
    val clicksB = batchDecoded.filter(col("event_type") === "click")
    val purchB = batchDecoded.filter(col("event_type") === "purchase")
    val twin = Streams.purchaseAttribution(clicksB, purchB)
      .select(col("purchase_id"), col("click_id"))
    assertSameRows(joined, twin)
  }

  test("S2 MQ scan prunes columns: a value-only projection reads a value-only schema") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val batchDecoded = publishEvents("t_prune")
    val full = spark.read.format(graft.sources.MqSource.format)
      .option("topic", "t_prune").load()
    val pruned = full.select(col("value"))
    val vals = pruned.collect().map(_.getString(0)).sorted
    // the scan itself carries only the projected column — the pushed
    // pruning, not a Project above a full-width read
    val scans = pruned.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("value"),
      scans.head.scan.readSchema().treeString)
    // and the pruned read loses no data (values match the full-width read)
    assert(vals.toSeq == full.collect().map(_.getAs[String]("value")).sorted.toSeq)
    assert(vals.length == batchDecoded.count())
  }

  test("S2 MQ scan prunes fetch ranges: partition/offset predicates seek instead of scanning") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    publishEvents("t_seek")
    val full = spark.read.format(graft.sources.MqSource.format)
      .option("topic", "t_seek").load()
    val total = full.count()
    val bounded = full.filter(col("partition") === 1 && col("offset") < 5)
    val rows = bounded.collect()
    // answer matches an unpruned evaluation of the same predicates
    assert(rows.length == full.collect()
      .count(r => r.getAs[Int]("partition") == 1 && r.getAs[Long]("offset") < 5))
    assert(rows.nonEmpty && rows.length <= 5)
    // and the scan FETCHED only the bounded range, not the whole topic
    val scanRows = bounded.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    assert(scanRows == rows.length && scanRows < total,
      s"scan read $scanRows of $total — fetch-range pruning did not engage")
  }

  test("J9b outer stream-stream join == batch twin once later traffic flushes the watermark") {
    val topic = "t_outer_join"
    val batchDecoded = publishEvents(topic)
    // sentinel events a day past the fixture horizon: stand-ins for a
    // production topic's ongoing traffic, dragging the global watermark
    // past every real row's flush bound — without them an AvailableNow
    // run ends with the unmatched rows still buffered (outer results
    // trail the watermark BY DESIGN) and the null-padded form never emits
    val maxUs = batchDecoded.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val sentUs = maxUs + 24L * 3600 * 1000000
    def sentinel(id: Long, user: Long, typ: String): String =
      s"""{"event_id": $id, "ts_us": $sentUs, "user_id": $user, "event_type": "$typ", "value": 0.0}"""
    MqBroker.publish(topic, "-1", sentinel(-1L, -1L, "click"), sentUs)
    MqBroker.publish(topic, "-2", sentinel(-2L, -2L, "purchase"), sentUs)

    def clicks(df: DataFrame) = df.filter(col("event_type") === "click")
    def purchases(df: DataFrame) = df.filter(col("event_type") === "purchase")
    val realRow = coalesce(col("p_user"), col("c_user")) >= 0
    for (jt <- Seq("left_outer", "full_outer")) {
      val got = Streams.runAvailableNow(
        Streams.purchaseAttributionOuter(
            clicks(stream(topic)), purchases(stream(topic)), jt)
          .filter(realRow).select(col("purchase_id"), col("click_id")),
        s"j9b_${jt.replace("_", "")}_out", OutputMode.Append)
      val twin = Streams.purchaseAttributionOuter(
          clicks(batchDecoded), purchases(batchDecoded), jt)
        .filter(realRow).select(col("purchase_id"), col("click_id"))
      assertSameRows(got, twin)
      // null-padding genuinely occurred (some purchase has no prior click)
      assert(got.filter(col("click_id").isNull).count() > 0, s"$jt: no null-padded rows")
    }
  }

  test("streaming CDC apply: versioned snapshot == one-shot compaction; tombstones survive reordering") {
    val topic = "t_cdc"
    publishEvents(topic)
    val snapDir = tempDir("graft-snap").toString
    val cp = tempCheckpoint("cdc")
    val del = col("event_type") === "error"
    def applyNow(): Unit = Streams.applyChangesStream(stream(topic), snapDir, cp,
      keys = Seq("user_id"), versionCols = Seq("ts", "event_id"), isDelete = del)
    def batchTwin(): DataFrame = graft.operators.Relational.upsertCompact(
      Streams.decodeEvents(spark.read.format(graft.sources.MqSource.format)
        .option("topic", topic).load()),
      Seq("user_id"), Seq(col("ts"), col("event_id")), del)

    applyNow()
    assertSameRows(Streams.readSnapshot(spark, snapDir), batchTwin())

    // incremental continuation over the SAME checkpoint: a deletion for
    // one currently-live user, then an out-of-order OLDER upsert for
    // that user — the retained tombstone must keep the key dead, exactly
    // as one compaction of the full log would
    val live = Streams.readSnapshot(spark, snapDir)
      .orderBy(col("user_id")).head()
    val (uid, ts) = (live.getAs[Long]("user_id"),
      live.getAs[java.sql.Timestamp]("ts").getTime * 1000L)
    def msg(id: Long, tsUs: Long, typ: String): String =
      s"""{"event_id": $id, "ts_us": $tsUs, "user_id": $uid, "event_type": "$typ", "value": 1.0}"""
    MqBroker.publish(topic, uid.toString, msg(900001L, ts + 1000000L, "error"), ts)
    applyNow() // batch N: tombstone wins for uid
    assert(Streams.readSnapshot(spark, snapDir)
      .filter(col("user_id") === uid).count() == 0, "tombstone not applied")
    MqBroker.publish(topic, uid.toString, msg(900000L, ts + 500000L, "view"), ts)
    applyNow() // batch N+1: older upsert arrives late — must NOT resurrect
    assertSameRows(Streams.readSnapshot(spark, snapDir), batchTwin())
    assert(Streams.readSnapshot(spark, snapDir)
      .filter(col("user_id") === uid).count() == 0, "late older upsert resurrected a deleted key")
  }

  test("T9 torn-commit soak: crash between version write and pointer flip never surfaces to readers; replay converges") {
    val topic = "t_cdc_torn"
    publishEvents(topic)
    val snapDir = tempDir("graft-snap-torn").toString
    val cp = tempCheckpoint("torn")
    val del = col("event_type") === "error"
    def applyNow(hook: Long => Unit = _ => ()): Unit =
      Streams.applyChangesStream(stream(topic), snapDir, cp,
        keys = Seq("user_id"), versionCols = Seq("ts", "event_id"),
        isDelete = del, onBeforeCommit = hook)
    def batchTwin(): DataFrame = graft.operators.Relational.upsertCompact(
      Streams.decodeEvents(spark.read.format(graft.sources.MqSource.format)
        .option("topic", topic).load()),
      Seq("user_id"), Seq(col("ts"), col("event_id")), del)
    def pointer(): String = java.nio.file.Files
      .readString(java.nio.file.Paths.get(snapDir, "LATEST")).trim

    applyNow() // committed baseline
    val vBefore = pointer()
    val seen = Streams.readSnapshot(spark, snapDir).collect()
      .map(_.toString).sorted.toSeq

    // new changes arrive, then the process dies in the protocol's critical
    // window: version directory fully written, pointer NOT yet flipped
    val live = Streams.readSnapshot(spark, snapDir).orderBy(col("user_id")).head()
    val uid = live.getAs[Long]("user_id")
    val tsUs = live.getAs[java.sql.Timestamp]("ts").getTime * 1000L + 5000000L
    MqBroker.publish(topic, uid.toString,
      s"""{"event_id": 920001, "ts_us": $tsUs, "user_id": $uid, "event_type": "view", "value": 9.0}""",
      tsUs)
    val crash = intercept[Exception] {
      applyNow(_ => throw new RuntimeException("injected crash before pointer flip"))
    }
    assert(Option(crash.getMessage).getOrElse("").contains("injected crash")
      || crash.getCause != null, crash.toString)
    // the torn (uncommitted) version directory exists on disk…
    val newestOnDisk = new java.io.File(snapDir).listFiles().map(_.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).max
    assert(newestOnDisk > vBefore.toLong, "no torn version written")
    // …but the pointer is untouched and readers see EXACTLY the pre-crash
    // snapshot — never a half-committed state
    assert(pointer() == vBefore, s"pointer moved across a crash: $vBefore -> ${pointer()}")
    assert(Streams.readSnapshot(spark, snapDir).collect()
      .map(_.toString).sorted.toSeq == seen, "reader observed a torn snapshot")

    // restart over the same checkpoint: the failed batch replays, rebuilds
    // the SAME version idempotently, and the pointer flips — the final
    // snapshot equals one compaction of the full changelog
    applyNow()
    assert(pointer().toLong > vBefore.toLong, "replay did not commit a new version")
    assertSameRows(Streams.readSnapshot(spark, snapDir), batchTwin())
  }

  test("incremental aggregate view: merge-with-snapshot == re-aggregating the full topic") {
    val topic = "t_aggview"
    publishEvents(topic)
    val snapDir = tempDir("graft-aggview").toString
    val cp = tempCheckpoint("aggview")
    // count/sum/max merge by re-aggregation; distinct-count merges as a
    // datasketches HLL union — the sketch IS the mergeable state, which
    // is how a distinct ever gets maintained incrementally (the
    // finalized number alone cannot merge)
    val aggs = Seq(
      Streams.MergeableAgg("n", count(lit(1)), sum),
      Streams.MergeableAgg("total_value", sum(col("value")), sum),
      Streams.MergeableAgg("last_ts", max(col("ts")), max),
      Streams.MergeableAgg("types_sketch",
        hll_sketch_agg(col("event_type")), hll_union_agg))
    def applyNow(): Unit =
      Streams.aggViewStream(stream(topic), snapDir, cp, Seq("user_id"), aggs)
    def batchTwin(): DataFrame =
      Streams.decodeEvents(spark.read.format(graft.sources.MqSource.format)
          .option("topic", topic).load())
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"),
          max(col("ts")).as("last_ts"),
          countDistinct(col("event_type")).as("n_types"))
    def comparable(df: DataFrame): DataFrame =
      df.select(col("user_id"), col("n"),
        round(col("total_value"), 2).as("total_value"), col("last_ts"),
        (if (df.columns.contains("types_sketch"))
          hll_sketch_estimate(col("types_sketch")) else col("n_types")).as("n_types"))

    applyNow()
    assertSameRows(comparable(Streams.readSnapshot(spark, snapDir)),
      comparable(batchTwin()))
    // continuation on the same checkpoint: only the new rows aggregate,
    // then merge into the standing per-key snapshot
    val r = batchTwin().agg(max(unix_micros(col("last_ts")))).head()
    val baseUs = r.getLong(0)
    for (i <- 1 to 5)
      MqBroker.publish(topic, "7",
        s"""{"event_id": ${910000 + i}, "ts_us": ${baseUs + i * 1000000L}, "user_id": 7, "event_type": "view", "value": 2.5}""",
        baseUs)
    applyNow()
    assertSameRows(comparable(Streams.readSnapshot(spark, snapDir)),
      comparable(batchTwin()))
  }

  test("E2E training-data pipeline: MQ ingest -> streaming dedup -> lang/quality filter -> MQ write-back == batch twin") {
    import org.apache.spark.sql.types.StructType
    val in = "t_pipe_in"; val out = "t_pipe_out"
    MqBroker.deleteTopic(in); MqBroker.createTopic(in, 3)
    MqBroker.deleteTopic(out); MqBroker.createTopic(out, 2)
    // publish the documents fixture, re-delivering every 5th doc (the
    // at-least-once duplicates the dedup stage must absorb)
    val payloads = tables.documents
      .select(col("doc_id"), to_json(struct(col("doc_id"), col("text"), col("lang"))).as("v"))
      .collect()
    payloads.foreach { r =>
      MqBroker.publish(in, r.getLong(0).toString, r.getString(1), 0L)
      if (r.getLong(0) % 5 == 0) MqBroker.publish(in, r.getLong(0).toString, r.getString(1), 0L)
    }
    // one transform, applied unchanged to the stream and the batch twin:
    // decode -> content-hash dedup -> heuristic lang gate + length floor ->
    // re-encode for the curated topic
    def pipeline(df: DataFrame): DataFrame = {
      val schema = StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING")
      df.select(from_json(col("value"), schema).as("d")).select("d.*")
        .withColumn("content_sha", sha2(col("text"), 256))
        .dropDuplicates("content_sha")
        .filter(graft.operators.TextOps.langIdExpr(col("text")) === col("lang"))
        .filter(size(split(col("text"), " ")) >= 5)
        .select(col("doc_id").cast("string").as("key"),
          to_json(struct(col("doc_id"), col("content_sha"), col("lang"))).as("value"))
    }
    val cp = tempCheckpoint("pipe")
    Streams.writeToMq(
      pipeline(Streams.mqStream(spark, in)), out, cp)
    val curated = spark.read.format(graft.sources.MqSource.format).option("topic", out).load()
      .select(col("key"), col("value"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val twin = pipeline(
      spark.read.format(graft.sources.MqSource.format).option("topic", in).load())
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(curated == twin)
    assert(curated.nonEmpty)
    // the injected re-deliveries were absorbed: one curated row per doc
    assert(curated.size == curated.map(_._1).size)
  }

  test("L0 streaming curation: committed manifest == batch l0_pipeline, across arrival waves") {
    import org.apache.spark.sql.types.StructType
    val topic = "t_l0_stream"
    MqBroker.deleteTopic(topic); MqBroker.createTopic(topic, 3)
    val docsFixture = spark.read.parquet(s"$sf/documents.parquet")
    def publish(df: DataFrame): Unit = df
      .select(col("doc_id").cast("string").as("k"),
        to_json(struct(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))).as("v"))
      .collect().foreach(r => MqBroker.publish(topic, r.getString(0), r.getString(1), 0L))
    publish(docsFixture)
    val store = tempDir("graft-l0-store").toString
    val manifest = tempDir("graft-l0-manifest").toString
    val cp = tempDir("graft-l0-cp").toString
    val schema = StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    def decoded = Streams.mqStream(spark, topic)
      .select(from_json(col("value"), schema).as("d")).select("d.*")
    def runNow(): Unit = Streams.curationPipelineStream(decoded, store, manifest, cp)

    runNow()
    // wave 1: the committed manifest IS the declared batch pipeline's answer
    assertSameRows(Streams.readSnapshot(spark, manifest),
      graft.operators.Curation.l0Pipeline(spark, sf))

    // wave 2: 40 late documents arrive (re-published texts under new ids —
    // cross-doc duplicate spans, so the dup-span gate's corpus-global
    // semantics are genuinely exercised); recuration must commit a NEW
    // version equal to the batch pipeline over the accumulated corpus
    val extra = docsFixture.limit(40)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    publish(extra)
    runNow()
    assertSameRows(Streams.readSnapshot(spark, manifest),
      graft.operators.Curation.l0PipelineFrom(docsFixture.unionByName(extra)))
  }

  test("T8 file-source stream reproduces the declared tumbling_window answer") {
    // file source needs a directory; replay the fixture from a tmp dir
    val dir = tempDir("graft-events-stream")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val streamEvents0 = Streams.fileStream(spark, raw.schema, dir.toString)
    // fixture generations differ: ns-as-long needs the DIV recipe, native µs doesn't
    val streamEvents = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        streamEvents0.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _ => streamEvents0
    }
    val result = Streams.runAvailableNow(
      streamEvents
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), Det.davg(col("value")).as("avg_value"))
        .select(unix_micros(col("w.start")).as("window_start_us"), col("event_type"),
          col("n"), col("avg_value")),
      "t8_out", OutputMode.Complete)
    // == the oracle-green batch query, column for column (Det.davg is
    // decimal-exact, so even the rounded averages match bit-for-bit)
    assertSameRows(result, operators.Relational.tumblingWindow(spark, sf))
  }

  test("S9b streaming Gopher gate: in-flight ruleset == batch filter, rule flags intact") {
    // gopherRules is a narrow per-row projection, so the SAME operator
    // runs unchanged on a stream — the in-flight curation gate needs no
    // streaming-specific twin. Replay the documents fixture as a file
    // stream and compare against the batch ruleset row for row.
    val dir = tempDir("graft-docs-stream")
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val batchDocs = spark.read.parquet(s"$sf/documents.parquet")
    val streamed = Streams.runAvailableNow(
      operators.TextOps.gopherRules(
        Streams.fileStream(spark, batchDocs.schema, dir.toString)),
      "s9b_gopher_out", OutputMode.Append)
    assertSameRows(streamed, operators.TextOps.gopherRules(batchDocs))
  }

  test("T12 drift monitor: per-batch KL vs static reference == batch twin, OOV mass surfaces") {
    import graft.operators.Eval
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ref = Eval.referenceCounts(docs)
    // two micro-batches: a clean half and a half with an injected
    // out-of-vocabulary document
    val dir = tempDir("graft-drift-stream")
    val half1 = docs.filter(col("doc_id") < 250)
    val half2 = docs.filter(col("doc_id") >= 250)
      .unionByName(half1.limit(1).select(col("doc_id") + 100000,
        lit(Seq.fill(400)("qqxyzzy").mkString(" ")), col("lang"), col("source"),
        col("n_chars")).toDF(docs.columns: _*))
    half1.coalesce(1).write.parquet(s"$dir/b1")
    half2.coalesce(1).write.parquet(s"$dir/b2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    Streams.runDriftMonitor(stream, ref,
      tempDir("graft-drift-cp").toString) { (_, r) =>
      got += ((r.getAs[Long]("n_tokens"), r.getAs[Long]("oov_permille"),
        r.getAs[Long]("kl_micro")))
    }
    assert(got.size == 2, s"expected 2 micro-batches, got ${got.size}")
    // == the batch twin on each half, whatever order the files triggered in
    def expect(d: org.apache.spark.sql.DataFrame) = {
      val r = Eval.driftAgainst(d, ref).head()
      (r.getAs[Long]("n_tokens"), r.getAs[Long]("oov_permille"), r.getAs[Long]("kl_micro"))
    }
    assert(got.toSet == Set(expect(half1), expect(half2)))
    // the injected unknown-token doc shows up as OOV mass in exactly one batch
    assert(got.count(_._2 > 0) == 1)
  }

  test("T22 media decode: streaming frame-sample == batch twin per wave, AVI, animated GIF, MPEG-1, RLE8, gzip") {
    import graft.operators.Multimodal
    // the synthesized media corpora ARE the payload source; two arrival
    // waves split each corpus mid-stream
    def waves(assets: org.apache.spark.sql.DataFrame, name: String) = {
      val small = assets.filter(col("doc_id") < 80L)
      val w1 = small.filter(col("doc_id") < 40L)
      val w2 = small.filter(col("doc_id") >= 40L)
      val dir = tempDir(s"graft-$name-waves")
      w1.coalesce(1).write.parquet(s"$dir/w1")
      w2.coalesce(1).write.parquet(s"$dir/w2")
      val stream = spark.readStream.schema(small.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
      (stream, w1, w2)
    }
    def rowKey(r: org.apache.spark.sql.Row) =
      (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i)).mkString("|")
    def twin(df: org.apache.spark.sql.DataFrame) = df.collect().map(rowKey).toSet
    // AVI / MJPEG arm
    val (aviStream, av1, av2) = waves(Multimodal.synthAviAssets(tables), "avi")
    val aviGot = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    Streams.runMediaDecode(aviStream,
      tempDir("graft-avi-cp").toString,
      df => Multimodal.videoFrameStats(df, stride = 2)) { (_, rows) =>
      aviGot += rows.map(rowKey).toSet
    }
    assert(aviGot.size == 2, s"expected 2 AVI waves, got ${aviGot.size}")
    assert(aviGot.toSet ==
      Set(twin(Multimodal.videoFrameStats(av1, 2)), twin(Multimodal.videoFrameStats(av2, 2))))
    assert(aviGot.reduce(_ ++ _) ==
      twin(Multimodal.videoFrameStats(av1.unionByName(av2), 2)))
    // animated-GIF arm: same runner, different codec transform
    val (gifStream, gf1, gf2) = waves(Multimodal.synthAnimGifAssets(tables), "gifanim")
    val gifGot = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    Streams.runMediaDecode(gifStream,
      tempDir("graft-gifanim-cp").toString,
      df => Multimodal.gifFrameStats(df, stride = 2)) { (_, rows) =>
      gifGot += rows.map(rowKey).toSet
    }
    assert(gifGot.size == 2)
    assert(gifGot.toSet ==
      Set(twin(Multimodal.gifFrameStats(gf1, 2)), twin(Multimodal.gifFrameStats(gf2, 2))))
    // MPEG-1 intra arm: same runner, the broadcast-codec transform
    val (mpgStream, mp1, mp2) = waves(Multimodal.synthMpeg1Assets(tables), "mpeg1")
    val mpgGot = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    Streams.runMediaDecode(mpgStream,
      tempDir("graft-mpeg1-cp").toString,
      df => Multimodal.mpeg1FrameStats(df, stride = 2)) { (_, rows) =>
      mpgGot += rows.map(rowKey).toSet
    }
    assert(mpgGot.size == 2)
    assert(mpgGot.toSet ==
      Set(twin(Multimodal.mpeg1FrameStats(mp1, 2)), twin(Multimodal.mpeg1FrameStats(mp2, 2))))
    assert(mpgGot.reduce(_ ++ _) ==
      twin(Multimodal.mpeg1FrameStats(mp1.unionByName(mp2), 2)))
    // RLE8 delta-video arm: canvas state is PER PAYLOAD, so the
    // stateless-transform contract holds for a temporally-coded format
    val (rleStream, rl1, rl2) = waves(Multimodal.synthRle8Assets(tables), "rle8")
    val rleGot = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    Streams.runMediaDecode(rleStream,
      tempDir("graft-rle8-cp").toString,
      df => Multimodal.rle8FrameStats(df)) { (_, rows) =>
      rleGot += rows.map(rowKey).toSet
    }
    assert(rleGot.size == 2)
    assert(rleGot.toSet ==
      Set(twin(Multimodal.rle8FrameStats(rl1)), twin(Multimodal.rle8FrameStats(rl2))))
    // gzip ingestion arm: WARC-shaped multi-member text payloads
    val (gzStream, gz1, gz2) = waves(Multimodal.synthGzipAssets(tables), "gzip")
    val gzGot = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    Streams.runMediaDecode(gzStream,
      tempDir("graft-gzip-cp").toString,
      df => Multimodal.gzipTextStats(df)) { (_, rows) =>
      gzGot += rows.map(rowKey).toSet
    }
    assert(gzGot.size == 2)
    assert(gzGot.toSet ==
      Set(twin(Multimodal.gzipTextStats(gz1)), twin(Multimodal.gzipTextStats(gz2))))
    assert(gzGot.reduce(_ ++ _) ==
      twin(Multimodal.gzipTextStats(gz1.unionByName(gz2))))
  }

  test("T19 decontam gate: per-wave exact+fuzzy flags == batch predicates, accumulated == full-corpus run") {
    import graft.operators.Curation
    val docs = tables.documents.select(col("doc_id"), col("text"),
      Curation.splitExpr(col("doc_id")).as("split"))
    val bench = docs.filter(col("split") === "test").select(col("doc_id"), col("text"))
    val train = docs.filter(col("split") === "train").select(col("doc_id"), col("text"))
    // two arrival waves splitting the train stream mid-corpus
    val w1 = train.filter(col("doc_id") < 250L)
    val w2 = train.filter(col("doc_id") >= 250L)
    val dir = tempDir("graft-decontam-waves")
    w1.coalesce(1).write.parquet(s"$dir/w1")
    w2.coalesce(1).write.parquet(s"$dir/w2")
    val stream = spark.readStream.schema(train.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val got = scala.collection.mutable.Map.empty[Long, (Boolean, Boolean)]
    var waves = 0
    Streams.runDecontamGate(stream, bench,
      tempDir("graft-decontam-cp").toString) { (_, flagged) =>
      waves += 1
      flagged.collect().foreach { r =>
        got(r.getAs[Long]("doc_id")) =
          (r.getAs[Boolean]("contaminated_exact"), r.getAs[Boolean]("contaminated_fuzzy"))
      }
    }
    assert(waves == 2, s"expected 2 micro-batches, got $waves")
    // accumulated flags == the batch predicates over the FULL train split
    // (stateless gate: wave boundaries cannot change a doc's flags)
    val exact = Curation.contaminatedIds(train, bench).collect().map(_.getLong(0)).toSet
    val fuzzy = Curation.fuzzyContaminatedIds(train, bench).collect().map(_.getLong(0)).toSet
    assert(got.keySet == train.collect().map(_.getLong(0)).toSet)
    assert(got.filter(_._2._1).keySet == exact)
    assert(got.filter(_._2._2).keySet == fuzzy)
    // the gate catches something on this fixture (both paths exercised)
    assert(exact.nonEmpty && fuzzy.nonEmpty)
  }

  test("T18 diversity monitor: per-wave cell occupancy + entropy == batch twin") {
    import graft.operators.{Eval, Similarity}
    val emb = tables.embeddings
    val cents = Similarity.defaultCentroids(spark, sf)
    // two arrival waves, split mid-corpus so their occupancy histograms
    // genuinely differ; the second wave is a near-collapsed slice (one
    // label's vectors only) to exercise the low-entropy alarm path
    val w1 = emb.filter(col("vec_id") < 250L)
    val w2 = emb.filter(col("vec_id") >= 250L && col("label") === 3)
    val dir = tempDir("graft-div-waves")
    w1.coalesce(1).write.parquet(s"$dir/w1")
    w2.coalesce(1).write.parquet(s"$dir/w2")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    Streams.runDiversityMonitor(stream, cents,
      tempDir("graft-div-cp").toString) { (_, rows) =>
      got += rows.map(_.toString).toSeq
    }
    assert(got.size == 2, s"expected 2 micro-batches, got ${got.size}")
    // == the batch twin on each wave, whatever order the files triggered in
    def expect(d: org.apache.spark.sql.DataFrame): Seq[String] =
      Eval.diversityOf(d, cents).collect().map(_.toString).toSeq
    assert(got.toSet == Set(expect(w1), expect(w2)))
    // both waves' occupancies partition their inputs
    def nOf(rows: Seq[String]) = rows.size
    assert(got.forall(nOf(_) >= 1))
  }

  test("T20b source-overlap matrix monitor: per-wave per-source rows == batch twin; culprit source saturates") {
    import graft.operators.{Curation, Eval}
    val docs = tables.documents
      .select(col("doc_id"), col("source"), col("text"),
        Curation.splitExpr(col("doc_id")).as("split"))
    val bench = docs.filter(col("split") === "test").select("text")
    val benchSketch = Eval.kmvSketch(bench)
    // wave 1: ordinary train docs across their real sources; wave 2:
    // train docs PLUS one poisoned feed ("evalscrape") that is verbatim
    // benchmark text — the matrix must name it, not just raise the total
    val w1 = docs.filter(col("split") === "train").select("source", "text")
    val w2 = docs.filter(col("split") === "train" && col("doc_id") % 7 === 0)
      .select("source", "text")
      .unionByName(bench.select(lit("evalscrape").as("source"), col("text")))
    val dir = tempDir("graft-srcoverlap-waves")
    w1.coalesce(1).write.parquet(s"$dir/w1")
    w2.coalesce(1).write.parquet(s"$dir/w2")
    val stream = spark.readStream.schema(w1.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[org.apache.spark.sql.Row]]
    Streams.runSourceOverlapMonitor(stream, benchSketch,
      tempDir("graft-srcoverlap-cp").toString) { (_, rows) =>
      got += rows
    }
    assert(got.size == 2, s"expected 2 micro-batches, got ${got.size}")
    // == the batch twin on each wave's LANDED frame (re-read, so the twin
    // sees exactly the rows the stream saw), whatever order triggered
    def expect(path: String): Set[String] =
      Eval.sourceVsBenchmarkOverlap(spark.read.parquet(path), benchSketch)
        .collect().map(_.toString).toSet
    assert(got.map(_.map(_.toString).toSet).toSet ==
      Set(expect(s"$dir/w1"), expect(s"$dir/w2")))
    // the poisoned wave: evalscrape saturates containment, real sources hold
    val wave2 = got.find(_.exists(_.getAs[String]("source") == "evalscrape")).get
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("b_in_a_permille")).toMap
    assert(wave2("evalscrape") == 1000L, s"culprit should saturate: $wave2")
    assert(wave2.filterNot(_._1 == "evalscrape").values.forall(_ < 1000L),
      s"clean sources must not saturate: $wave2")
  }

  test("T20 overlap monitor: per-wave KMV estimate vs static benchmark == batch M9 twin") {
    import graft.operators.{Curation, Eval}
    val docs = tables.documents
      .select(col("doc_id"), col("text"), Curation.splitExpr(col("doc_id")).as("split"))
    val bench = docs.filter(col("split") === "test").select("text")
    val benchSketch = Eval.kmvSketch(bench)
    assert(benchSketch.nonEmpty && benchSketch == benchSketch.sorted)
    // two arrival waves with genuinely different overlap profiles: the
    // second wave IS benchmark text (a scraper pulling the eval site),
    // so its containment estimate must saturate vs wave 1's baseline
    val w1 = docs.filter(col("split") === "train").select("text")
    val w2 = bench
    val dir = tempDir("graft-overlap-waves")
    w1.coalesce(1).write.parquet(s"$dir/w1")
    w2.coalesce(1).write.parquet(s"$dir/w2")
    val stream = spark.readStream.schema(w1.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val got = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    Streams.runOverlapMonitor(stream, benchSketch,
      tempDir("graft-overlap-cp").toString) { (_, row) =>
      got += row
    }
    assert(got.size == 2, s"expected 2 micro-batches, got ${got.size}")
    // == the batch M9 on each wave, whatever order the files triggered in
    def expect(d: org.apache.spark.sql.DataFrame): String =
      Eval.kmvOverlap(d, bench).first().toString
    assert(got.map(_.toString).toSet == Set(expect(w1), expect(w2)))
    // the benchmark-replay wave saturates; the train wave does not
    val byDigest = got.map(r =>
      r.getAs[String]("union_digest") -> r.getAs[Long]("b_in_a_permille")).toMap
    assert(got.map(_.getAs[Long]("b_in_a_permille")).max == 1000L,
      s"benchmark wave should estimate full containment: $byDigest")
    assert(got.map(_.getAs[Long]("b_in_a_permille")).min < 1000L,
      s"train wave should not saturate: $byDigest")
  }

  test("T13 ANN serving: streamed query waves against the persisted PQ index == batch probe") {
    import graft.operators.Similarity
    val idxDir = tempDir("graft-pq-serve").toString
    val emb = tables.embeddings
    Similarity.buildPqIndex(emb, idxDir)
    val queries = Similarity.batchQueryVecs(tables, Similarity.BatchQueryIds)
    // two arrival waves: the serving answer must not depend on how the
    // query stream is batched
    val dir = tempDir("graft-ann-queries")
    queries.filter(col("query_id") < 42L).coalesce(1).write.parquet(s"$dir/w1")
    queries.filter(col("query_id") === 42L).coalesce(1).write.parquet(s"$dir/w2")
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val got = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var batches = 0
    Streams.runAnnServe(stream, idxDir, 10, emb,
      tempDir("graft-ann-cp").toString) { (_, ans) =>
      got ++= ans.collect(); batches += 1
    }
    assert(batches == 2, s"expected 2 micro-batches, got $batches")
    assert(got.size == Similarity.BatchQueryIds.size * 10)
    val expect = Similarity.probePqIndexBatch(spark, idxDir, queries, 10, emb)
      .collect()
    assert(got.map(_.toString).sorted.toSeq == expect.map(_.toString).sorted.toSeq)
  }

  test("T13 ANN serve cap: an oversized query micro-batch fails loudly instead of collecting to the driver") {
    import graft.operators.Similarity
    val idxDir = tempDir("graft-pq-serve-cap").toString
    val emb = tables.embeddings
    Similarity.buildPqIndex(emb, idxDir)
    val queries = Similarity.batchQueryVecs(tables, Similarity.BatchQueryIds)
    assert(queries.count() > 2) // the test cap must actually be exceeded
    val dir = tempDir("graft-ann-cap-queries")
    queries.coalesce(1).write.parquet(s"$dir/w1")
    val stream = spark.readStream.schema(queries.schema).parquet(s"$dir/*/")
    val crash = intercept[Exception] {
      Streams.runAnnServe(stream, idxDir, 10, emb,
        tempDir("graft-ann-cap-cp").toString,
        maxQueriesPerBatch = 2) { (_, _) => () }
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(crash).exists(_.contains("exceeds 2 query rows")), crash.toString)
  }

  test("T15 importance gate: per-batch annotation == batch twin; self-reference == declared sampler") {
    import graft.operators.Curation
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (nllRef, bounds) = Curation.importanceRef(docs)
    // self-reference: scoring the reference corpus against itself must
    // reproduce the declared batch sampler's decisions exactly
    val self = Curation.importanceAgainst(docs, nllRef, bounds)
      .select(col("doc_id"), col("nll_micro"), col("p_permille"), col("kept"))
    val declared = Curation.importanceSample(docs)
      .select(col("doc_id"), col("nll_micro"), col("p_permille"), col("kept"))
    assertSameRows(self, declared)
    // streamed in two waves (one with an injected wholly-OOV doc): each
    // batch's annotation == the batch twin; the OOV doc floors and scores NULL
    val dir = tempDir("graft-imp-stream")
    val half1 = docs.filter(col("doc_id") < 250)
    val oovId = 990000L
    val half2 = docs.filter(col("doc_id") >= 250)
      .unionByName(half1.limit(1).select(lit(oovId).as("doc_id"),
        lit(Seq.fill(60)("qqxyzzy").mkString(" ")).as("text"), col("lang"),
        col("source"), col("n_chars")).toDF(docs.columns: _*))
    half1.coalesce(1).write.parquet(s"$dir/b1")
    half2.coalesce(1).write.parquet(s"$dir/b2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[org.apache.spark.sql.Row])]
    Streams.runImportanceGate(stream, nllRef, bounds,
      tempDir("graft-imp-cp").toString) { (id, ann) =>
      got += ((id, ann.collect().toSeq))
    }
    assert(got.size == 2)
    val allRows = got.flatMap(_._2)
    val oovRow = allRows.find(_.getAs[Long]("doc_id") == oovId).get
    assert(oovRow.isNullAt(oovRow.fieldIndex("nll_micro"))
      && oovRow.getAs[Long]("p_permille") == Curation.ImpFloorPermille
      && oovRow.getAs[Long]("n_iv") == 0L)
    // batch-twin equality per wave, whatever order the files triggered in
    def key(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(_.toString).sorted.mkString("\n")
    val twins = Seq(half1, half2)
      .map(h => key(Curation.importanceAgainst(h, nllRef, bounds).collect().toIndexedSeq))
    assert(got.map(g => key(g._2)).toSet == twins.toSet)
  }

  test("T17 NB classifier gate: per-batch scores == batch twin; trained state is static") {
    import graft.operators.TextOps
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val model = TextOps.nbTrain(docs, col("source").isin(TextOps.NbRefSources: _*))
    // two waves, the second with an injected wholly-OOV doc
    val dir = tempDir("graft-nb-stream")
    val half1 = docs.filter(col("doc_id") < 250)
    val oovId = 991000L
    val half2 = docs.filter(col("doc_id") >= 250)
      .unionByName(half1.limit(1).select(lit(oovId).as("doc_id"),
        lit(Seq.fill(5)("qqxyzzy").mkString(" ")).as("text"), col("lang"),
        col("source"), col("n_chars")).toDF(docs.columns: _*))
    half1.coalesce(1).write.parquet(s"$dir/b1")
    half2.coalesce(1).write.parquet(s"$dir/b2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[org.apache.spark.sql.Row])]
    Streams.runNbQualityGate(stream, model,
      tempDir("graft-nb-cp").toString) { (id, scored) =>
      got += ((id, scored.collect().toSeq))
    }
    assert(got.size == 2)
    // the OOV doc floors at prior + n·oov deterministically
    val oovRow = got.flatMap(_._2).find(_.getAs[Long]("doc_id") == oovId).get
    val floor = spark.range(1)
      .select((model.priorMicro + lit(5L) * model.oovMicro).as("e")).head().getLong(0)
    assert(oovRow.getAs[Long]("score_micro") == floor)
    // batch-twin equality per wave, whatever order the files triggered in
    def key(rs: Seq[org.apache.spark.sql.Row]) = rs.map(_.toString).sorted.mkString("\n")
    val twins = Seq(half1, half2).map(h => key(TextOps.nbApply(h, model).collect().toIndexedSeq))
    assert(got.map(g => key(g._2)).toSet == twins.toSet)
  }

  test("T14 PQ ingest: streamed vector waves build a segmented index == flat-index probe") {
    import graft.operators.Similarity
    val emb = tables.embeddings
    val idxDir = tempDir("graft-pq-ingest").toString
    // offline build = the static codebooks + the flat reference codes
    Similarity.buildPqIndex(emb, idxDir)
    // the same vectors arrive as two waves; each must become a segment
    val dir = tempDir("graft-pq-vecs")
    emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/w1")
    emb.filter(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$dir/w2")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val cp = tempDir("graft-pq-ingest-cp").toString
    Streams.runPqIngest(stream, idxDir, cp)
    // committed manifest lists both segments; the segmented probe equals
    // the flat probe over the same vectors for every query
    val queries = Similarity.batchQueryVecs(tables, Similarity.BatchQueryIds)
    assertSameRows(
      Streams.probePqIngested(spark, idxDir, queries, 10, emb),
      Similarity.probePqIndexBatch(spark, idxDir, queries, 10, emb))
    val segs = spark.read.parquet(
      s"$idxDir/manifest/v${new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$idxDir/manifest/LATEST")))}")
    assert(segs.count() == 2, s"expected 2 segments, got ${segs.count()}")
    // segment GC: compaction rewrites the set as one segment in a
    // reserved-id version; probes answer identically, and the pre-compact
    // version is still pinnable on disk
    val preCompact = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$idxDir/manifest/LATEST"))).trim
    val cid = Streams.compactPqSegments(spark, idxDir)
    assert(cid >= Streams.CompactionIdBase)
    val after = spark.read.parquet(s"$idxDir/manifest/v$cid")
    assert(after.count() == 1, "compaction must leave one segment")
    assertSameRows(
      Streams.probePqIngested(spark, idxDir, queries, 10, emb),
      Similarity.probePqIndexBatch(spark, idxDir, queries, 10, emb))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idxDir/manifest/v$preCompact")),
      "pre-compaction version must stay pinnable")
    // ingestion continues after compaction: a third wave of NEW vectors
    // unions with the compacted segment through the manifest, and the
    // probe equals the shared core over (flat codes ∪ new-wave codes)
    val wave3 = emb.filter(col("vec_id") < 50)
      .withColumn("vec_id", col("vec_id") + 10000L)
    wave3.coalesce(1).write.parquet(s"$dir/w3")
    // SAME checkpoint: only the new wave ingests (w1/w2 already
    // processed), so its segment unions with the compacted one
    Streams.runPqIngest(spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/"), idxDir, cp)
    val books = spark.read.parquet(s"$idxDir/codebooks")
    val store = emb.unionByName(wave3)
    assertSameRows(
      Streams.probePqIngested(spark, idxDir, queries, 10, store),
      Similarity.probePqCodes(books,
        spark.read.parquet(s"$idxDir/codes")
          .unionByName(Similarity.encodePq(wave3, books)),
        queries, 10, store))
  }

  test("T14 torn-commit soak: ingest crash before pointer flip leaves readers on the pre-crash segment set; replay converges") {
    import graft.operators.Similarity
    val emb = tables.embeddings
    val idxDir = tempDir("graft-pq-torn").toString
    Similarity.buildPqIndex(emb, idxDir)
    val dir = tempDir("graft-pq-torn-vecs")
    val cp = tempDir("graft-pq-torn-cp").toString
    def stream() = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    def pointer(): String = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$idxDir/manifest/LATEST")).trim
    val queries = Similarity.batchQueryVecs(tables, Similarity.BatchQueryIds)

    // wave 1 commits normally
    emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/w1")
    Streams.runPqIngest(stream(), idxDir, cp)
    val vBefore = pointer()
    val seen = Streams.probePqIngested(spark, idxDir, queries, 10, emb)
      .collect().map(_.toString).sorted.toSeq

    // wave 2 arrives; the process dies with segment + manifest version
    // fully written but the pointer NOT yet flipped
    emb.filter(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$dir/w2")
    val crash = intercept[Exception] {
      Streams.runPqIngest(stream(), idxDir, cp,
        onBeforeCommit = _ => throw new RuntimeException("injected crash before pointer flip"))
    }
    assert(Option(crash.getMessage).getOrElse("").contains("injected crash")
      || crash.getCause != null, crash.toString)
    // torn version on disk, pointer untouched, probes answer EXACTLY as
    // before the crash — never a half-visible segment set
    assert(pointer() == vBefore, s"pointer moved across a crash: $vBefore -> ${pointer()}")
    assert(Streams.probePqIngested(spark, idxDir, queries, 10, emb)
      .collect().map(_.toString).sorted.toSeq == seen,
      "reader observed a torn segment manifest")

    // restart over the same checkpoint: the batch replays, rebuilds its
    // segment + version idempotently, and the segmented probe equals the
    // flat-index probe over the full corpus
    Streams.runPqIngest(stream(), idxDir, cp)
    assert(pointer().toLong > vBefore.toLong, "replay did not commit")
    assertSameRows(
      Streams.probePqIngested(spark, idxDir, queries, 10, emb),
      Similarity.probePqIndexBatch(spark, idxDir, queries, 10, emb))
  }

  test("T14 replay-after-compaction: a committed-but-uncheckpointed batch absorbed by compaction replays as a no-op") {
    import graft.operators.Similarity
    val emb = tables.embeddings
    val idxDir = tempDir("graft-pq-replay").toString
    Similarity.buildPqIndex(emb, idxDir)
    val dir = tempDir("graft-pq-replay-vecs")
    val cp = tempDir("graft-pq-replay-cp").toString
    def stream() = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val queries = Similarity.batchQueryVecs(tables, Similarity.BatchQueryIds)

    // wave 1 commits normally
    emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/w1")
    Streams.runPqIngest(stream(), idxDir, cp)

    // wave 2: the process dies AFTER the pointer flip but BEFORE the
    // streaming checkpoint records the batch — the one window the
    // pointer protocol alone leaves open
    emb.filter(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$dir/w2")
    val crash = intercept[Exception] {
      Streams.runPqIngest(stream(), idxDir, cp,
        onAfterCommit = _ => throw new RuntimeException("injected crash after pointer flip"))
    }
    assert(Option(crash.getMessage).getOrElse("").contains("injected crash")
      || crash.getCause != null, crash.toString)

    // compaction runs before restart and absorbs the committed (but
    // uncheckpointed) wave-2 segment
    Streams.compactPqSegments(spark, idxDir)

    // restart over the same checkpoint: wave 2 replays; its id is
    // already covered by the compacted segment, so the replay must NOT
    // re-add a segment next to it — duplicate vec_ids would double
    // their summed ADC distances in the probe
    Streams.runPqIngest(stream(), idxDir, cp)
    val got = Streams.probePqIngested(spark, idxDir, queries, 10, emb)
    assertSameRows(got, Similarity.probePqIndexBatch(spark, idxDir, queries, 10, emb))
    assert(got.groupBy("query_id", "vec_id").count().filter(col("count") > 1).count() == 0,
      "replayed batch duplicated vectors in the segment set")
  }

  test("T14 size-tiered merge: same-tier segments merge, covered ids inherited, probe invariant across a racing ingest") {
    import graft.operators.Similarity
    val emb = tables.embeddings
    val idxDir = tempDir("graft-pq-merge").toString
    Similarity.buildPqIndex(emb, idxDir)
    val dir = tempDir("graft-pq-merge-vecs")
    val cp = tempDir("graft-pq-merge-cp").toString
    def stream() = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val queries = Similarity.batchQueryVecs(tables, Similarity.BatchQueryIds)
    def manifestRows() = {
      import TestSpark.spark.implicits._
      val v = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$idxDir/manifest/LATEST"))).trim
      spark.read.parquet(s"$idxDir/manifest/v$v")
        .as[(String, Seq[Long])].collect().toSeq
    }

    // two same-sized (same-tier) segments arrive
    emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/w1")
    emb.filter(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$dir/w2")
    Streams.runPqIngest(stream(), idxDir, cp)
    assert(manifestRows().size == 2)

    // a merge runs while a NEW wave ingests between the merge's segment
    // rewrite and its manifest commit — the exact window where a naive
    // merge would publish a manifest missing the new segment
    val wave3 = emb.filter(col("vec_id") < 50)
      .withColumn("vec_id", col("vec_id") + 10000L)
    val vid = Streams.mergePqSegments(spark, idxDir, onBeforeCommit = () => {
      wave3.coalesce(1).write.parquet(s"$dir/w3")
      Streams.runPqIngest(stream(), idxDir, cp)
    })
    assert(vid.nonEmpty, "two same-tier segments must trigger a merge")

    // merged manifest: the racing wave's segment survives next to the
    // merged segment, and the merged row inherits BOTH input batch ids
    val rows = manifestRows()
    assert(rows.size == 2, s"expected merged + racing segment, got $rows")
    val mergedRow = rows.find(_._1.contains("codes_seg/m")).get
    assert(mergedRow._2.size == 2, s"merged segment must inherit both covered ids: $mergedRow")

    // probe over the post-race manifest == flat probe over ALL vectors
    val store = emb.unionByName(wave3)
    val books = spark.read.parquet(s"$idxDir/codebooks")
    assertSameRows(
      Streams.probePqIngested(spark, idxDir, queries, 10, store),
      Similarity.probePqCodes(books,
        spark.read.parquet(s"$idxDir/codes")
          .unionByName(Similarity.encodePq(wave3, books)),
        queries, 10, store))

    // and the policy is TIERED, not total: the 50-vector racing segment
    // and the 2000-vector merged one differ in bytes, so a merge at
    // tierFactor=1 (same-size only) declines rather than recompacting.
    // (At fixture scale parquet footer overhead compresses the RATIO —
    // the default factor 4 can still see the two inside one tier — so
    // the cross-tier decline is pinned at factor 1, where only
    // byte-identical sizes co-tier.)
    assert(Streams.mergePqSegments(spark, idxDir, tierFactor = 1).isEmpty,
      "cross-tier segments must not merge")
  }

  test("T14b PQ delete: tombstoned ids vanish from probes; compaction purges; == flat rebuild") {
    import TestSpark.spark.implicits._
    import graft.operators.Similarity
    val emb = tables.embeddings
    val idxDir = tempDir("graft-pq-del").toString
    Similarity.buildPqIndex(emb, idxDir)
    val dir = tempDir("graft-pq-del-vecs")
    val cp = tempDir("graft-pq-del-cp").toString
    val delDir = tempDir("graft-pq-del-ids")
    val cpDel = tempDir("graft-pq-del-idcp").toString
    val queries = Similarity.batchQueryVecs(tables, Similarity.BatchQueryIds)
    val books = spark.read.parquet(s"$idxDir/codebooks")
    def manifestRows() = {
      import TestSpark.spark.implicits._
      val v = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$idxDir/manifest/LATEST"))).trim
      spark.read.parquet(s"$idxDir/manifest/v$v")
        .as[(String, Seq[Long])].collect().toSeq
    }
    // reference: flat index over the SAME codebooks minus the dropped
    // vectors — what a from-scratch rebuild without them would serve
    def flatWithout(dropped: org.apache.spark.sql.Column) = {
      val remaining = emb.filter(!dropped)
      Similarity.probePqCodes(books, Similarity.encodePq(remaining, books),
        queries, 10, remaining)
    }

    // ingest two waves, then a drop wave tombstones every vec_id % 7 == 3
    // (ids from BOTH segments, plus one id that was never ingested)
    emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/w1")
    emb.filter(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$dir/w2")
    Streams.runPqIngest(
      spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*/"), idxDir, cp)
    val isDropped = col("vec_id") % 7 === 3
    emb.filter(isDropped).select(col("vec_id"))
      .unionByName(Seq(987654321L).toDF("vec_id")) // never-ingested id: no-op
      .coalesce(1).write.parquet(s"$delDir/d1")
    val idSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType)))
    def delStream() = spark.readStream.schema(idSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$delDir/*/")
    Streams.runPqDelete(delStream(), idxDir, cpDel)

    // dropped ids never appear in any probe answer, and the segmented
    // probe == the flat rebuild without them
    val dropSet = emb.filter(isDropped).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val got = Streams.probePqIngested(spark, idxDir, queries, 10, emb.filter(!isDropped))
    assert(got.collect().forall(r => !dropSet(r.getAs[Long]("vec_id"))),
      "probe returned a tombstoned vec_id")
    assertSameRows(got, flatWithout(isDropped))

    // compaction purges physically: the compacted segment contains no
    // dropped id, the manifest keeps ONE empty tombstone row carrying
    // the covered delete-batch ids, and probes answer identically
    val cid = Streams.compactPqSegments(spark, idxDir)
    val rows = manifestRows()
    val (tombs, codeSegs) = rows.partition(_._1.contains("/tomb_seg/"))
    assert(codeSegs.size == 1 && tombs.size == 1, s"unexpected manifest: $rows")
    assert(tombs.head._1.contains("purged_v") && tombs.head._2 == Seq(0L),
      s"purged coverage row must carry the delete batch id: $tombs")
    val compacted = spark.read.parquet(codeSegs.head._1)
    assert(compacted.filter(col("vec_id").isInCollection(dropSet)).count() == 0,
      "compaction left tombstoned rows in the codes segment")
    assert(spark.read.parquet(tombs.head._1).count() == 0)
    assertSameRows(
      Streams.probePqIngested(spark, idxDir, queries, 10, emb.filter(!isDropped)),
      flatWithout(isDropped))

    // the loop continues: a second delete wave lands against the
    // compacted index and its ids vanish too
    val alsoDropped = isDropped || col("vec_id") % 7 === 5
    emb.filter(col("vec_id") % 7 === 5).select(col("vec_id"))
      .coalesce(1).write.parquet(s"$delDir/d2")
    Streams.runPqDelete(delStream(), idxDir, cpDel)
    assertSameRows(
      Streams.probePqIngested(spark, idxDir, queries, 10, emb.filter(!alsoDropped)),
      flatWithout(alsoDropped))
    assert(cid >= Streams.CompactionIdBase)
  }

  test("T14b delete torn-commit soak: crash seams converge; absorbed delete replays as a no-op past a re-ingested id") {
    import graft.operators.Similarity
    val emb = tables.embeddings
    val idxDir = tempDir("graft-pq-dtorn").toString
    Similarity.buildPqIndex(emb, idxDir)
    val dir = tempDir("graft-pq-dtorn-vecs")
    val cp = tempDir("graft-pq-dtorn-cp").toString
    val delDir = tempDir("graft-pq-dtorn-ids")
    val cpDel = tempDir("graft-pq-dtorn-idcp").toString
    val queries = Similarity.batchQueryVecs(tables, Similarity.BatchQueryIds)
    def pointer(): String = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$idxDir/manifest/LATEST")).trim
    val idSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType)))
    def delStream() = spark.readStream.schema(idSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$delDir/*/")

    emb.coalesce(1).write.parquet(s"$dir/w1")
    Streams.runPqIngest(
      spark.readStream.schema(emb.schema).parquet(s"$dir/*/"), idxDir, cp)

    // crash BEFORE the pointer flip: readers stay on the pre-delete
    // manifest — the doomed ids still answer — and the replay converges
    val isDropped = col("vec_id") % 5 === 2
    emb.filter(isDropped).select(col("vec_id")).coalesce(1).write.parquet(s"$delDir/d1")
    val vBefore = pointer()
    val preDelete = Streams.probePqIngested(spark, idxDir, queries, 10, emb)
      .collect().map(_.toString).sorted.toSeq
    val crash1 = intercept[Exception] {
      Streams.runPqDelete(delStream(), idxDir, cpDel,
        onBeforeCommit = _ => throw new RuntimeException("injected crash before pointer flip"))
    }
    assert(Option(crash1.getMessage).getOrElse("").contains("injected crash")
      || crash1.getCause != null, crash1.toString)
    assert(pointer() == vBefore, "pointer moved across a delete crash")
    assert(Streams.probePqIngested(spark, idxDir, queries, 10, emb)
      .collect().map(_.toString).sorted.toSeq == preDelete,
      "reader observed a torn delete manifest")
    // restart: crash AFTER the pointer flip this time (checkpoint behind)
    val crash2 = intercept[Exception] {
      Streams.runPqDelete(delStream(), idxDir, cpDel,
        onAfterCommit = _ => throw new RuntimeException("injected crash after pointer flip"))
    }
    assert(Option(crash2.getMessage).getOrElse("").contains("injected crash")
      || crash2.getCause != null, crash2.toString)
    assert(pointer().toLong >= Streams.DeleteIdBase, "delete version not committed")

    // compaction absorbs the tombstone; then one dropped id is
    // legitimately RE-INGESTED before the delete stream restarts
    Streams.compactPqSegments(spark, idxDir)
    val reborn = emb.filter(isDropped).orderBy(col("vec_id")).limit(1)
    val rebornId = reborn.head().getLong(0)
    reborn.coalesce(1).write.parquet(s"$dir/w2")
    Streams.runPqIngest(
      spark.readStream.schema(emb.schema).parquet(s"$dir/*/"), idxDir, cp)

    // the delete batch replays over its checkpoint: it is COVERED by the
    // purged row, so it must NOT re-tombstone the re-ingested id
    Streams.runPqDelete(delStream(), idxDir, cpDel)
    val stillDropped = isDropped && col("vec_id") =!= rebornId
    val remaining = emb.filter(!stillDropped)
    val books = spark.read.parquet(s"$idxDir/codebooks")
    assertSameRows(
      Streams.probePqIngested(spark, idxDir, queries, 10, remaining),
      Similarity.probePqCodes(books, Similarity.encodePq(remaining, books),
        queries, 10, remaining))
  }

  test("S3 socket source ingests lines from a live TCP server") {
    val server = new java.net.ServerSocket(0)
    val writer = new Thread(() => {
      val s = server.accept()
      val out = new java.io.PrintWriter(s.getOutputStream, true)
      (1 to 5).foreach(i => out.println(s"line-$i"))
      out.flush()
    })
    writer.setDaemon(true); writer.start()
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.format("socket")
      .option("host", "localhost").option("port", server.getLocalPort.toString)
      .load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized { got ++= b.collect().map(_.getString(0)) }; ()
      }
      .start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (got.synchronized(got.size) < 5 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      assert(got.synchronized(got.sorted.toSeq) == (1 to 5).map(i => s"line-$i"))
    } finally { q.stop(); server.close() }
  }

  test("S3 rate source + S5 foreachBatch parquet sink") {
    val rate = Streams.rateStream(spark, 10)
    assert(rate.isStreaming && rate.columns.sameElements(Array("timestamp", "value")))
    publishEvents("t_sink")
    val out = tempDir("graft-sink").toString
    val cp = tempDir("graft-sink-cp").toString
    Streams.foreachBatchParquet(stream("t_sink"), out, cp)
    val written = spark.read.parquet(s"$out/batch_*")
    assert(written.count() == tables.eventsRaw.count())
  }

  test("T16 streaming semantic dedup: 3 id-ordered waves == batch sweep, rerun-idempotent") {
    import graft.operators.Similarity
    val emb = tables.embeddings
    val n = emb.count()
    val nCells = Similarity.semCellsFor(n)
    val cents = Similarity.trainedCentroids(emb, nCells)
    // waves split by id range: ids nondecreasing across arrival — the
    // equivalence contract's precondition (the MQ-offset discipline)
    val dir = tempDir("graft-semdedup-waves")
    val cut1 = n / 3; val cut2 = 2 * n / 3
    emb.filter(col("vec_id") < cut1).coalesce(1).write.parquet(s"$dir/w1")
    emb.filter(col("vec_id") >= cut1 && col("vec_id") < cut2)
      .coalesce(1).write.parquet(s"$dir/w2")
    emb.filter(col("vec_id") >= cut2).coalesce(1).write.parquet(s"$dir/w3")
    def run(): Seq[(Long, Long, Boolean)] = {
      val store = tempDir("graft-semdedup-store").toString
      val cp = tempDir("graft-semdedup-cp").toString
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
      Streams.runSemanticDedupStream(
        spark.readStream.schema(emb.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/"),
        store, cp, cents) { (_, ann) =>
        got.synchronized { got ++= ann.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getBoolean(2))) }; ()
      }
      got.toSeq
    }
    val streamed = run()
    assert(streamed.length == n, "every arrival labeled exactly once")
    // per-cell summary of the accumulated labels == the batch sweep
    val summary = streamed.groupBy(_._2).map { case (cell, rows) =>
      (cell, rows.size.toLong, rows.count(_._3).toLong,
        rows.filter(_._3).map(_._1).sum)
    }.toSet
    val batch = Similarity.semanticDedup(emb, nCells, centroids = Some(cents))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(summary == batch, s"streamed summary != batch sweep")
    // drop path actually exercised at fixture scale (τ sits below the
    // fixture's max pairwise cosine by construction)
    assert(streamed.exists(_._3), "no drops — the sweep was not exercised")
    // a fresh run over the same waves (new store/checkpoint) reproduces
    // the identical labels: per-wave overwrite + deterministic scoring
    assert(run().toSet == streamed.toSet, "rerun diverged")
  }

  test("T21 streaming substr dedup: 3 id-ordered waves == batch rewrite, rerun-deterministic") {
    import graft.operators.Dedup
    val docs = tables.documents.select(col("doc_id"), col("text"))
    val n = docs.count()
    val dir = tempDir("graft-substr-waves")
    val cut1 = n / 3; val cut2 = 2 * n / 3
    docs.filter(col("doc_id") < cut1).coalesce(1).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2)
      .coalesce(1).write.parquet(s"$dir/w2")
    docs.filter(col("doc_id") >= cut2).coalesce(1).write.parquet(s"$dir/w3")
    def run(): Seq[(Long, Long, Long, String)] = {
      val store = tempDir("graft-substr-store").toString
      val cp = tempDir("graft-substr-cp").toString
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
      Streams.runSubstrDedupStream(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/"),
        store, cp) { (_, rw) =>
        got.synchronized { got ++= rw.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))) }; ()
      }
      got.toSeq
    }
    val streamed = run()
    assert(streamed.length == n, "every doc rewritten exactly once")
    val batch = Dedup.substrDedup(tables.documents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(streamed.toSet == batch, "streamed rewrites != batch over the full corpus")
    // cross-wave removal actually exercised: some doc loses tokens
    assert(streamed.exists(_._3 > 0L), "no removals — the dedup was not exercised")
    assert(run().toSet == streamed.toSet, "rerun diverged")
  }

  test("T21 torn-write soak: crash after span-store write, before sink — replay idempotent") {
    import graft.operators.Dedup
    val docs = tables.documents.select(col("doc_id"), col("text"))
    val n = docs.count()
    val dir = tempDir("graft-substr-soak")
    docs.filter(col("doc_id") < n / 2).coalesce(1).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") >= n / 2).coalesce(1).write.parquet(s"$dir/w2")
    val store = tempDir("graft-substr-soak-store").toString
    val cp = tempDir("graft-substr-soak-cp").toString
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
    def sink(rw: DataFrame): Unit =
      got.synchronized { got ++= rw.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))) }
    val boom = intercept[Exception] {
      Streams.runSubstrDedupStream(stream(), store, cp,
        onAfterStore = id => if (id == 1) throw new RuntimeException("injected crash")) {
        (_, rw) => sink(rw) }
    }
    assert(boom.getMessage != null)
    Streams.runSubstrDedupStream(stream(), store, cp) { (_, rw) => sink(rw) }
    val rewrites = got.toSeq.distinct
    assert(rewrites.length == n, s"every doc rewritten exactly once: ${rewrites.length} != $n")
    val batch = Dedup.substrDedup(tables.documents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(rewrites.toSet == batch, "post-replay rewrites != batch")
  }

  test("T21 rejects out-of-order arrival instead of silently diverging from batch") {
    import graft.operators.Dedup
    val docs = tables.documents.select(col("doc_id"), col("text"))
    val n = docs.count()
    val dir = tempDir("graft-substr-ooo")
    // w1 carries the HIGH ids, w2 the low — the source delivers w1 first,
    // so wave 2 violates the nondecreasing-doc_id contract
    docs.filter(col("doc_id") >= n / 2).coalesce(1).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") < n / 2).coalesce(1).write.parquet(s"$dir/w2")
    val store = tempDir("graft-substr-ooo-store").toString
    val cp = tempDir("graft-substr-ooo-cp").toString
    val boom = intercept[Exception] {
      Streams.runSubstrDedupStream(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/"),
        store, cp) { (_, rw) => rw.collect(); () }
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(boom).exists(c =>
      c.getMessage != null && c.getMessage.contains("out-of-order")),
      s"expected the out-of-order guard, got: $boom")
  }

  test("T21 order guard: a span-free first wave imposes no constraint (null prior max)") {
    import TestSpark.spark.implicits._
    import graft.operators.Dedup
    // wave 1: only docs SHORTER than one span — zero store rows, so the
    // guard's prior-max aggregate is null; wave 2 must proceed (no NPE,
    // no spurious rejection) and the accumulated rewrites == batch
    val w1 = Seq((1L, "tiny doc"), (2L, "also small")).toDF("doc_id", "text")
    val all = w1.unionByName(tables.documents
      .select(col("doc_id") + 100L as "doc_id", col("text")).limit(20))
    val dir = tempDir("graft-substr-shortwave")
    w1.coalesce(1).write.parquet(s"$dir/w1")
    all.filter(col("doc_id") >= 100L).coalesce(1).write.parquet(s"$dir/w2")
    val store = tempDir("graft-substr-shortwave-store").toString
    val cp = tempDir("graft-substr-shortwave-cp").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
    Streams.runSubstrDedupStream(
      spark.readStream.schema(w1.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/"),
      store, cp) { (_, rw) =>
      got.synchronized { got ++= rw.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))) }; ()
    }
    val batch = Dedup.substrDedup(all).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got.toSet == batch, "short-first-wave stream != batch rewrite")
  }

  test("T21b fixpoint stream: wave-local convergence == batch fixpoint; cross-wave round-2 canonical") {
    import TestSpark.spark.implicits._
    import graft.operators.Dedup
    // Hand case (n = 3): doc 2's pass-1 removal of (p,q,r) creates
    // "x y z", and wave 2's doc 3 then loses to a span that exists
    // ONLY in wave 1's pass-1 snapshot (b0/p1), not its as-arrived
    // spans (b0/p0) — wave 2's own pass 1 is quiet (the p0 universe
    // has no (x,y,z)) and the removal happens at its pass 2, exactly
    // like the batch fixpoint's pass sequencing
    val w1 = Seq((1L, "p q r"), (2L, "x p q r y z")).toDF("doc_id", "text")
    val w2 = Seq((3L, "x y z"), (4L, "f g h")).toDF("doc_id", "text")
    def run(nGram: Int, dirs: (String, String)) = {
      val (dir, tag) = dirs
      val store = tempDir(s"graft-substrconv-$tag-store").toString
      val cp = tempDir(s"graft-substrconv-$tag-cp").toString
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
      val rounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      Streams.runSubstrDedupConvergedStream(
        spark.readStream.schema(w1.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/"),
        store, cp, n = nGram) { (id, rw) =>
        got.synchronized {
          val rs = rw.collect()
          got ++= rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4)))
          rs.headOption.foreach(r => rounds += ((id, r.getInt(3))))
        }; ()
      }
      (got.toSeq, rounds.toSeq)
    }
    val dir = tempDir("graft-substrconv-hand")
    w1.coalesce(1).write.parquet(s"$dir/w1")
    w2.coalesce(1).write.parquet(s"$dir/w2")
    val (got, rounds) = run(3, (dir.toString, "hand"))
    val want = Map(
      1L -> ((3L, 0L, "p q r")),
      2L -> ((6L, 3L, "x y z")), // wave-1 pass 1; pass 2 confirms quiescence
      3L -> ((3L, 3L, "")),      // canonical (x,y,z) is doc 2's pass-1 text
      4L -> ((3L, 0L, "f g h")))
    assert(got.map(r => r._1 -> ((r._2, r._3, r._4))).toMap == want)
    assert(rounds.toMap == Map(0L -> 1, 1L -> 1), s"wave rounds: $rounds")
    // fixture, 2 waves: accumulated == batch substrDedupConverged over
    // the full corpus (rounds dropped — corpus-global in batch,
    // wave-local here)
    val docs = tables.documents.select(col("doc_id"), col("text"))
    val cnt = docs.count()
    val fdir = tempDir("graft-substrconv-fix")
    docs.filter(col("doc_id") < cnt / 2).coalesce(1).write.parquet(s"$fdir/w1")
    docs.filter(col("doc_id") >= cnt / 2).coalesce(1).write.parquet(s"$fdir/w2")
    val (fgot, _) = run(Dedup.DupSpanN, (fdir.toString, "fix"))
    val batch = Dedup.substrDedupConverged(tables.documents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4))).toSet
    assert(fgot.toSet == batch, "streamed fixpoint != batch fixpoint")
  }

  test("T21b torn-write soak: crash after final-span store write — replay idempotent") {
    import TestSpark.spark.implicits._
    import graft.operators.Dedup
    val docs = tables.documents.select(col("doc_id"), col("text"))
    val n = docs.count()
    val dir = tempDir("graft-substrconv-soak")
    docs.filter(col("doc_id") < n / 2).coalesce(1).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") >= n / 2).coalesce(1).write.parquet(s"$dir/w2")
    val store = tempDir("graft-substrconv-soak-store").toString
    val cp = tempDir("graft-substrconv-soak-cp").toString
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
    def sink(rw: DataFrame): Unit =
      got.synchronized { got ++= rw.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4))) }
    val boom = intercept[Exception] {
      Streams.runSubstrDedupConvergedStream(stream(), store, cp,
        onAfterStore = id => if (id == 1) throw new RuntimeException("injected crash")) {
        (_, rw) => sink(rw) }
    }
    assert(boom.getMessage != null)
    Streams.runSubstrDedupConvergedStream(stream(), store, cp) { (_, rw) => sink(rw) }
    val rewrites = got.toSeq.distinct
    assert(rewrites.length == n, s"every doc rewritten exactly once: ${rewrites.length} != $n")
    val batch = Dedup.substrDedupConverged(tables.documents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4))).toSet
    assert(rewrites.toSet == batch, "post-replay fixpoint rewrites != batch")
  }

  test("T16 torn-write soak: crash after store write, before sink — replay idempotent") {
    import graft.operators.Similarity
    val emb = tables.embeddings
    val n = emb.count()
    val cents = Similarity.trainedCentroids(emb, Similarity.semCellsFor(n))
    val dir = tempDir("graft-semdedup-soak")
    emb.filter(col("vec_id") < n / 2).coalesce(1).write.parquet(s"$dir/w1")
    emb.filter(col("vec_id") >= n / 2).coalesce(1).write.parquet(s"$dir/w2")
    val store = tempDir("graft-semdedup-soak-store").toString
    val cp = tempDir("graft-semdedup-soak-cp").toString
    def stream() = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    def sink(ann: DataFrame): Unit =
      got.synchronized { got ++= ann.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getBoolean(2))) }
    // first run dies in the critical window of batch 1: wave store
    // written, labels NOT sunk, checkpoint not holding the batch
    val boom = intercept[Exception] {
      Streams.runSemanticDedupStream(stream(), store, cp, cents,
        onAfterStore = id => if (id == 1) throw new RuntimeException("injected crash")) {
        (_, ann) => sink(ann) }
    }
    assert(boom.getMessage != null)
    // replay with the same checkpoint + store: batch 1 re-runs (same
    // overwrite, same labels), batch 0 is not re-delivered
    Streams.runSemanticDedupStream(stream(), store, cp, cents) {
      (_, ann) => sink(ann) }
    val labels = got.toSeq.distinct
    assert(labels.length == n, s"every arrival labeled exactly once: ${labels.length} != $n")
    val summary = labels.groupBy(_._2).map { case (cell, rows) =>
      (cell, rows.size.toLong, rows.count(_._3).toLong,
        rows.filter(_._3).map(_._1).sum)
    }.toSet
    val batch = Similarity.semanticDedup(emb, Similarity.semCellsFor(n),
        centroids = Some(cents))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(summary == batch, "post-crash accumulated labels != batch sweep")
  }
}

/** One-shot mid-partition task-failure injector (local mode: executor
  * threads share this JVM). The per-thread row counter makes the failing
  * task throw on ITS 4th row — i.e. after it already pushed 3 rows through
  * the sink writer — so the retry measurably re-publishes; the global flag
  * fires at most once per test (reset() re-arms).
  */
private[graft] object InjectFail {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val seen = ThreadLocal.withInitial[Integer](() => 0)
  // the counter must be PER TASK ATTEMPT, not per thread: a thread that
  // first ran a small (<4-row) task would otherwise carry its count into
  // the next task and throw on that task's 1st row — 0 rows published
  // before the failure, so the retry wouldn't measurably re-publish
  private val attempt = ThreadLocal.withInitial[java.lang.Long](() => -1L)
  def reset(): Unit = fired.set(false)
  def poison(v: String): String = {
    val tid = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId()).getOrElse(-2L)
    if (attempt.get() != tid) { attempt.set(tid); seen.set(0) }
    val n = seen.get() + 1
    seen.set(n)
    if (n == 4 && fired.compareAndSet(false, true)) {
      throw new RuntimeException("injected one-shot task failure")
    }
    v
  }
}
