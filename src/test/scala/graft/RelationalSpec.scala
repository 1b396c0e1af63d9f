package graft

import graft.operators.{Relational, TimeSeries}
import org.apache.spark.sql.functions._

/** Batch relational operators: spot checks on sf0.001 + the A3 tolerance
  * assertion (approx_count_distinct has no SQL oracle by design).
  */
class RelationalSpec extends SparkSuite {

  test("q1 pricing summary groups and counts") {
    val rows = Relational.q1PricingSummary(spark, sf).collect()
    assert(rows.length == 6) // 3 returnflags × 2 linestatus combos
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val expected = tables.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")).count()
    assert(total == expected)
  }

  test("j5 window form == pair-expansion form, row for row") {
    assertSameRows(Relational.j5RangeJoin(spark, sf),
      Relational.j5RangeJoinExpandedForm(spark, sf))
    // the exact-average tail too: bit-identical doubles, not just same sets
    val a = Relational.j5RangeJoin(spark, sf).collect()
      .map(r => r.get(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val b = Relational.j5RangeJoinExpandedForm(spark, sf).collect()
      .map(r => r.get(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(a == b)
  }

  test("j3 single-join form == two-join form, row for row") {
    assertSameRows(Relational.j3SemiAnti(spark, sf),
      Relational.j3SemiAntiTwoJoinForm(spark, sf))
  }

  test("a6 rank-percentile forms == object-aggregate forms, value-identical") {
    assertSameRows(Relational.a6Stats(spark, sf),
      Relational.a6StatsObjectAggForm(spark, sf))
    assertSameRows(Relational.a6StatsApproxChecked(spark, sf),
      Relational.a6StatsApproxObjectAggForm(spark, sf))
    // bit-exactness of the UNROUNDED interpolation against Spark's
    // percentile object aggregate, both probed quantiles
    val ref = tables.lineitem.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.5, 0.95))").as("ex"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val mine = Relational.rankPercentiles(
      tables.lineitem.select(col("l_returnflag"), col("l_extendedprice")),
      "l_returnflag", "l_extendedprice", Seq(0.5, 0.95))
      .collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2))).toMap
    assert(ref.keySet == mine.keySet)
    for ((k, ev) <- ref; mv = mine(k); (e, m) <- ev.zip(mv))
      assert(java.lang.Double.doubleToLongBits(e) == java.lang.Double.doubleToLongBits(m),
        s"$k: $e vs $m")
  }

  test("o7 join-free gap fill == spine-join form, row for row") {
    assertSameRows(TimeSeries.gapFill(tables.events),
      TimeSeries.gapFillJoinForm(tables.events))
  }

  test("a3 approx count distinct within rsd tolerance of exact") {
    val approx = Relational.a3ApproxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = tables.lineitem.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("o"), countDistinct(col("l_partkey")).as("p"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet == exact.keySet)
    // HLL++ with rsd=0.02: allow 5 sigma
    for ((k, (ao, ap)) <- approx; (eo, ep) = exact(k)) {
      assert(math.abs(ao - eo) <= math.max(5, 0.10 * eo), s"$k orders: $ao vs $eo")
      assert(math.abs(ap - ep) <= math.max(5, 0.10 * ep), s"$k parts: $ap vs $ep")
    }
  }

  test("s7 approx profile: HLL distinct within tolerance of exact, other stats identical") {
    import graft.operators.Profile
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("table_name"), r.getAs[String]("col_name"))
    val exact  = Profile.s7Profile(spark, sf).collect().map(r => key(r) -> r).toMap
    val approx = Profile.s7ProfileApprox(spark, sf).collect().map(r => key(r) -> r).toMap
    assert(approx.keySet == exact.keySet)
    for ((k, a) <- approx; e = exact(k)) {
      val (an, en) = (a.getAs[Long]("n_distinct"), e.getAs[Long]("n_distinct"))
      // HLL++ default rsd 0.05 → allow 5 sigma (small counts: exact)
      assert(math.abs(an - en) <= math.max(5, 0.25 * en), s"$k: $an vs $en")
      // every non-sketch stat must be bit-identical to the exact pass
      for (c <- Seq("n_rows", "n_nulls", "num_min", "num_max", "dbl_min",
          "dbl_max", "str_min", "str_max"))
        assert(a.getAs[Any](c) == e.getAs[Any](c), s"$k.$c")
    }
  }

  test("s10 SQL entry: registered views serve spark.sql, native fns visible, re-registration idempotent") {
    tables.registerViews()
    assert(spark.sql("SELECT COUNT(*) AS c FROM lineitem").head().getLong(0)
      == tables.lineitem.count())
    // GraftExtensions' native functions reach SQL users through the views
    val c = spark.sql(
      "SELECT cosine_fast(embedding, embedding) AS c FROM embeddings WHERE vec_id = 0")
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-9, s"self-cosine $c")
    tables.registerViews() // idempotent re-registration
    assert(spark.sql("SELECT COUNT(*) AS c FROM nation").head().getLong(0) == 25L)
  }

  test("s7 profile memoization: cached result == recompute, invalidation hook works") {
    import graft.operators.Profile
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toList
    val first = rows(Profile.s7Profile(spark, sf))   // may hit or fill the cache
    assert(rows(Profile.s7Profile(spark, sf)) == first, "cached != first")
    SessionCache.clearAll()
    assert(rows(Profile.s7Profile(spark, sf)) == first, "recompute != cached")
  }

  test("s7 nd_est_ok band: accepts a 3-sigma estimate, rejects a broken sketch") {
    import graft.operators.Profile
    import TestSpark.spark.implicits._
    // (est, exact) probes of the ±3·rsd acceptance band, rsd = 0.05:
    // small counts get the ±1 floor; a sketch answering n_rows for a
    // low-cardinality column (the broken-sketch failure mode the
    // declared s7_profile_approx gate must catch) is far outside it
    val rows = Seq(
      (3L, 3L),       // exact hit
      (4L, 3L),       // floor: |4-3| <= 1
      (150L, 3L),     // broken sketch: n_rows for a 3-value col
      (1150L, 1000L), // ON the band edge: |diff| == ceil(1000*0.15) = 150
      (1151L, 1000L), // strictly past the band
      (1149L, 1000L),
      (0L, 2L)        // lost columns must not pass either
    )
    val checked = rows.toDF("est", "exact")
      .withColumn("ok", Profile.ndEstOk(col("est"), col("exact")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Boolean]("ok")).toMap
    assert(checked((3L, 3L)))
    assert(checked((4L, 3L)))
    assert(!checked((150L, 3L)), "a broken sketch returning n_rows must fail the band")
    assert(checked((1150L, 1000L)), "band edge |diff| == ceil(exact*3rsd) is accepted")
    assert(!checked((1151L, 1000L)), "past the 3-sigma band must fail")
    assert(checked((1149L, 1000L)))
    assert(!checked((0L, 2L)))
    // and the declared checked query itself is all-TRUE on the fixtures
    val declared = Profile.s7ProfileApproxChecked(spark, sf)
    assert(declared.filter(!col("nd_est_ok")).count() == 0)
  }

  test("q3 plan shape: one fact pass — two broadcast joins, single shuffle, pushed scans") {
    val df = Relational.q3JoinAgg(spark, sf)
    df.collect() // materialize so AQE finalizes the plan
    // the adaptive plan string prints Final + Initial sections; pin the final
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj == 2, s"expected 2 broadcast joins, got $bhj in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"fact join must not shuffle at bench scale:\n$plan")
    // lineitem must be the STREAMED side of the fact join, never collected
    // into a broadcast build: the join keyed l_orderkey must build LEFT
    // (the buildingOrders intermediate), with l_orderkey on the probe side
    val factJoin = "BroadcastHashJoin \\[o_orderkey[^\\]]*\\], \\[l_orderkey[^\\]]*\\], Inner, BuildLeft".r
    assert(factJoin.findFirstIn(plan).isDefined,
      s"fact join must stream lineitem against the broadcast orders build:\n$plan")
  }

  test("a6 rank-percentile forms keep a group whose measure is all NULL") {
    // the rank form has no row for a group with no value to rank; the
    // object-agg witnesses keep such a group with a NULL percentile
    val dir = tempDir("graft-a6null").toString
    val li = tables.lineitem
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
    li.limit(40)
      .unionByName(li.limit(3).select(lit("Z").as("l_returnflag"),
        lit(null).cast(li.schema("l_extendedprice").dataType).as("l_extendedprice"),
        col("l_quantity")))
      .write.parquet(s"$dir/lineitem.parquet")
    val stats = Relational.a6Stats(spark, dir)
    assertSameRows(stats, Relational.a6StatsObjectAggForm(spark, dir))
    def groups(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.getAs[String]("l_returnflag")).toSet
    assert(groups(stats).contains("Z"))
    assert(groups(Relational.a6StatsApproxChecked(spark, dir)) ==
      groups(Relational.a6StatsApproxObjectAggForm(spark, dir)))
  }

  test("a6 approx percentile within tolerance of exact") {
    val approx = Relational.a6ApproxPercentile(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = tables.lineitem.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(approx.keySet == exact.keySet)
    for ((k, a) <- approx)
      assert(math.abs(a - exact(k)) <= 0.02 * exact(k), s"$k: $a vs ${exact(k)}")
  }

  test("a6_stats_approx contract: predicates true on the fixture, band rejects a broken sketch") {
    // declared form: every acceptance predicate must hold (the oracle
    // replays them as literal TRUE — a false here IS a driver hash fail)
    val rows = Relational.a6StatsApproxChecked(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"median_est_ok false for ${r.getString(0)}")
      assert(r.getBoolean(4), s"p95_est_ok false for ${r.getString(0)}")
    }
    // the band REJECTS structurally broken sketches: a sketch returning
    // the group min, the max, or a fixed constant is ≫1% off the true
    // p50/p95 of the fixture prices, so pctEstOk flips to false. (The
    // group MEAN is deliberately not used as the broken stand-in: the
    // fixture's price distribution is near-symmetric, so mean ≈ median
    // — inside any band a real sketch could meet.)
    val broken = tables.lineitem.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, 0.5)").as("exact_p50"),
        min(col("l_extendedprice")).as("min_est"),
        max(col("l_extendedprice")).as("max_est"))
      .select(
        Relational.pctEstOk(col("min_est"), col("exact_p50")).as("min_ok"),
        Relational.pctEstOk(col("max_est"), col("exact_p50")).as("max_ok"),
        Relational.pctEstOk(lit(1000.0), col("exact_p50")).as("const_ok"),
        // sanity: the exact value itself always passes its own band
        Relational.pctEstOk(col("exact_p50"), col("exact_p50")).as("self_ok"))
      .collect()
    broken.foreach { r =>
      assert(!r.getBoolean(0) && !r.getBoolean(1) && !r.getBoolean(2),
        s"band failed to reject a broken sketch: $r")
      assert(r.getBoolean(3))
    }
  }

  test("w4 top-k: partial WindowGroupLimit bounds the shuffle; == explicit salted reference") {
    val order = Seq(col("value").desc, col("event_id"))
    val topk = Relational.topKPerGroupSkewSafe(tables.events, Seq("user_id"), order, 3)
      .select(col("user_id"), col("event_id"), round(col("value"), 4).as("value"), col("rn"))
      .orderBy(col("user_id"), col("rn"))
    // the hot-key bound: a Partial WindowGroupLimit must sit below the
    // exchange, so each input partition ships ≤ k rows per key
    val plan = topk.queryExecution.executedPlan.toString
    assert("WindowGroupLimit.*Partial".r.findFirstIn(plan).isDefined,
      s"expected a partial WindowGroupLimit below the exchange:\n$plan")
    // output identity vs the historical explicit salted two-phase form
    // (rounds 1-5's mitigation, now redundant: the optimizer's partial
    // limit provides the same bound with one fewer shuffle)
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy(spark_partition_id() +: Seq(col("user_id")): _*).orderBy(order: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(order: _*)
    val salted = tables.events
      .withColumn("__prn", row_number().over(pw)).filter(col("__prn") <= 3).drop("__prn")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("user_id"), col("event_id"), round(col("value"), 4).as("value"), col("rn"))
      .orderBy(col("user_id"), col("rn"))
    assertSameRows(topk, salted)
    assertSameRows(topk, Relational.windowTopK(spark, sf))
  }

  test("broadcastIfSmall applies the hint only under the session threshold") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1") // 1 byte: nothing fits
      val gatedOff = Relational.broadcastIfSmall(tables.customer)
      assert(!gatedOff.queryExecution.analyzed.toString.contains("ResolvedHint"))
      spark.conf.set(key, "10485760")
      val gatedOn = Relational.broadcastIfSmall(tables.customer)
      assert(gatedOn.queryExecution.analyzed.toString.contains("ResolvedHint"))
    } finally spark.conf.set(key, prev)
  }

  test("AQE splits a skewed shuffle-join partition (skew=true in the final plan)") {
    // SCALING.md's skew story made executable: one key owning ~99% of the
    // fact side must be split across tasks by OptimizeSkewedJoin once the
    // thresholds are scaled down to fixture size
    import TestSpark.spark.implicits._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val left = spark.range(0, 200000)
        .select(when(col("id") % 100 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          concat(lit("pad-to-make-rows-wide-"), col("id")).as("pad"))
      val right = Seq.tabulate(500)(i => (i.toLong, s"dim$i")).toDF("k", "w")
      val j = left.join(right, "k")
      // execute j's OWN QueryExecution (count() would plan a separate one,
      // leaving this plan un-finalized) without collecting 200k rows
      assert(j.queryExecution.toRdd.count() > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), "AQE did not finalize")
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"no skew split in final plan:\n${plan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("registry: names unique, every oracle belongs to a declared query") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct)}")
    assert(Registry.oracleSql.keySet.subsetOf(Registry.queries.keySet))
  }

  test("j3 semi/anti counts partition the customer table") {
    val rows = Relational.j3SemiAnti(spark, sf).collect()
    val total = rows.map(r => r.getAs[Long]("n_with_orders") + r.getAs[Long]("n_without_orders")).sum
    assert(total == tables.customer.count())
  }

  test("o1 sort+limit is ordered descending") {
    val prices = Relational.o1SortLimit(spark, sf).collect().map(_.getAs[Double]("totalprice"))
    assert(prices.length == 25)
    assert(prices.sameElements(prices.sortBy(-_)))
  }

  test("o6 upsert: latest wins, tombstone only if last, base+delta composes, idempotent") {
    import TestSpark.spark.implicits._
    // k=1: upsert, delete, upsert  → survives with the last upsert
    // k=2: upsert, delete          → deleted (tombstone is last)
    // k=3: single upsert           → survives
    val changes = Seq(
      (1L, 1L, "u", "a"), (1L, 2L, "d", ""), (1L, 3L, "u", "c"),
      (2L, 1L, "u", "b"), (2L, 3L, "d", ""),
      (3L, 2L, "u", "x")
    ).toDF("k", "v", "op", "payload").repartition(4)
    val snap = Relational.upsertCompact(changes, Seq("k"), Seq(col("v")), col("op") === "d")
    val got = snap.select("k", "v", "payload").as[(Long, Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 3L, "c"), (3L, 2L, "x")))

    // base snapshot + delta = one compaction over the union, base rows
    // versioned below every delta by a generation column
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "payload")
      .withColumn("gen", lit(0L)).withColumn("v", lit(0L)).withColumn("op", lit("u"))
    val delta = Seq((1L, 1L, "u", "c"), (2L, 2L, "d", ""), (4L, 3L, "u", "d"))
      .toDF("k", "v", "op", "payload").withColumn("gen", lit(1L))
    val merged = Relational.upsertCompact(base.unionByName(delta),
        Seq("k"), Seq(col("gen"), col("v")), col("op") === "d")
      .select("k", "payload").as[(Long, String)].collect().sortBy(_._1)
    assert(merged.toSeq == Seq((1L, "c"), (4L, "d")))

    // a snapshot re-compacted under the same key/version is itself
    val twice = Relational.upsertCompact(snap, Seq("k"), Seq(col("v")), col("op") === "d")
    assert(twice.collect().toSet == snap.collect().toSet)

    // differential twin: the argmax form equals a window-rank reference
    // on the fixture changelog (events as a changelog over user_id)
    val ev = tables.events
    val argmax = Relational.latestPerKey(ev, Seq("user_id"), Seq(col("ts"), col("event_id")))
    val windowed = Relational.topKPerGroupSkewSafe(ev, Seq("user_id"),
      Seq(col("ts").desc, col("event_id").desc), k = 1).drop("rn")
    assert(argmax.collect().toSet == windowed.collect().toSet)
  }

  test("a9 histogram: buckets partition the table and respect their bounds") {
    val h = Relational.a9Histogram(spark, sf).collect()
    assert(h.map(_.getAs[Long]("n")).sum == tables.lineitem.count())
    h.foreach { r =>
      val lo = r.getAs[Long]("lo_price").toDouble
      assert(r.getAs[Double]("min_price") >= lo - 0.005)
      assert(r.getAs[Double]("max_price") < lo + 5000 + 0.005)
      assert(r.getAs[Double]("min_price") <= r.getAs[Double]("max_price"))
    }
    val ids = h.map(_.getAs[Long]("bucket"))
    assert(ids.distinct.length == ids.length && ids.sorted.sameElements(ids))
  }

  test("a10 equi-depth: sizes within 1, boundaries monotone, rank == naive window") {
    import org.apache.spark.sql.expressions.Window
    val h = Relational.a10EquiDepth(spark, sf).collect()
    assert(h.length == Relational.DepthBuckets)
    assert(h.map(_.getAs[Long]("n")).sum == tables.lineitem.count())
    val sizes = h.map(_.getAs[Long]("n"))
    assert(sizes.max - sizes.min <= 1)
    h.sliding(2).foreach { p =>
      assert(p(0).getAs[Double]("hi_price") <= p(1).getAs[Double]("lo_price"))
    }
    val sortCols = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val li = tables.lineitem.select(sortCols: _*)
    val naive = li.withColumn("rank",
      row_number().over(Window.orderBy(sortCols: _*)).cast("long"))
    assertSameRows(Relational.distributedRank(li, sortCols), naive)
  }

  test("bucketedRank == distributedRank == naive window; degenerate one-bucket and null keys") {
    import org.apache.spark.sql.expressions.Window
    val sortCols = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val li = tables.lineitem.select(sortCols: _*)
    val naive = li.withColumn("rank",
      row_number().over(Window.orderBy(sortCols: _*)).cast("long"))
    val priceBucket = expr("CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT) DIV 32768L")
    val bucketed = Relational.bucketedRank(li, sortCols, priceBucket,
      totalCol = Some("__n"))
    assert(bucketed.select("__n").head().getLong(0) == li.count())
    assertSameRows(bucketed.drop("__n"), naive)
    // degenerate coarsening — every row in ONE bucket — must still be the
    // exact global rank (it degrades to the naive window, never to a
    // wrong answer)
    assertSameRows(Relational.bucketedRank(li.limit(1000), sortCols, lit(0L)),
      li.limit(1000).withColumn("rank",
        row_number().over(Window.orderBy(sortCols: _*)).cast("long")))
    // NULL first keys: bucket(NULL) is NULL, which sorts first exactly as
    // the ascending NULLS FIRST sort does — ranks 1..n_null go to nulls
    val s = spark
    import s.implicits._
    val withNulls = Seq[(Option[Double], Int)]((None, 1), (Some(2.5), 2), (None, 3),
      (Some(0.5), 4), (Some(-1.25), 5), (Some(0.5), 6)).toDF("k", "id")
    val nSort = Seq(col("k"), col("id"))
    assertSameRows(
      Relational.bucketedRank(withNulls, nSort, floor(col("k") * lit(4d)).cast("long")),
      withNulls.withColumn("rank",
        row_number().over(Window.orderBy(nSort: _*)).cast("long")))
  }

  test("o7 gap fill: dense per-user hourly grid, gaps carry the last value forward") {
    val g = TimeSeries.gapFill(tables.events)
    // dense: per user, exactly one row per hour in [min, max]
    g.groupBy("user_id")
      .agg(min("hour_id").as("lo"), max("hour_id").as("hi"),
        count(lit(1)).as("n"), countDistinct("hour_id").as("nd"))
      .collect().foreach { r =>
        val span = r.getAs[Long]("hi") - r.getAs[Long]("lo") + 1
        assert(r.getAs[Long]("n") == span && r.getAs[Long]("nd") == span)
      }
    // the fixture has silent hours, and each carries the last seen value
    val rows = g.orderBy("user_id", "hour_id").collect()
    assert(rows.exists(_.getAs[Long]("n_events") == 0L),
      "fixture should contain at least one silent hour")
    var (user, lastVal) = (-1L, Double.NaN)
    rows.foreach { r =>
      if (r.getAs[Long]("user_id") != user) {
        user = r.getAs[Long]("user_id")
        // spine starts at the user's first observed hour — never a gap
        assert(r.getAs[Long]("n_events") > 0L)
      }
      if (r.getAs[Long]("n_events") == 0L)
        assert(r.getAs[Double]("carried_value") == lastVal)
      else lastVal = r.getAs[Double]("carried_value")
    }
  }

  test("o8 scd2: intervals tile each key's history, states compress, current row open") {
    import TestSpark.spark.implicits._
    // constructed: repeats collapse, value changes open intervals
    val ch = Seq((1L, 10L, "a"), (1L, 20L, "a"), (1L, 30L, "b"), (1L, 40L, "a"),
      (2L, 5L, "x")).toDF("k", "t", "v")
    val got = TimeSeries.scd2(ch, "k", "t", "v")
      .orderBy(col("k"), col("valid_from"))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[Long]("valid_from"), Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(got.toSeq == Seq((1L, "a", 10L, Some(30L)), (1L, "b", 30L, Some(40L)),
      (1L, "a", 40L, None), (2L, "x", 5L, None)))
    // fixture invariants: per user, intervals chain exactly (valid_to ==
    // next valid_from) and exactly one open (null) interval per user
    val rows = TimeSeries.o8Scd2(spark, sf)
      .orderBy(col("user_id"), col("valid_from")).collect()
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rs) =>
      assert(rs.count(_.isNullAt(3)) == 1)
      rs.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to") == b.getAs[Long]("valid_from"))
          // island compression: adjacent intervals never share a state
          assert(a.getAs[String]("event_type") != b.getAs[String]("event_type"))
        case _ =>
      }
    }
  }

  test("j11 PIT: state at purchase == naive range-join argmax reference") {
    val got = TimeSeries.j11Pit(spark, sf)
      .select(col("purchase_id"), col("state"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // naive reference: every (purchase, earlier-or-equal change) pair,
    // argmax by (us, -event_id) — O(matches) row explosion, test-only
    val ev = tables.eventsRaw.withColumn("ts_us", expr("ts DIV 1000"))
    val ch = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("cu"), col("ts_us").as("cus"),
        col("event_id").as("cid"), col("event_type").as("ctype"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"))
    val ref = p.join(ch, col("user_id") === col("cu") && col("cus") <= col("ts_us"), "left")
      .groupBy(col("event_id"))
      .agg(max_by(col("ctype"), struct(col("cus"), -col("cid"))).as("state"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == ref)
    assert(got.values.exists(_.isDefined) && got.nonEmpty)
  }

  test("a11 outliers: flags exactly the |x-mu| > 3 sigma rows (exact integer form)") {
    val got = Relational.a11Outliers(spark, sf).collect()
      .map(_.getAs[Long]("event_id")).toSet
    // double reference: compute mu/sigma_pop per group the naive way
    val ref = tables.events.select(col("event_id"), col("event_type"), col("value"))
      .withColumn("mu", avg("value").over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      .withColumn("sd", stddev_pop("value").over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      .filter(abs(col("value") - col("mu")) > lit(3.0) * col("sd"))
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(got == ref)
    assert(got.nonEmpty, "fixture should contain at least one 3-sigma outlier")
    // the unbounded-scale double twin agrees away from the boundary
    val fast = Relational.a11OutliersFast(spark, sf).collect()
      .map(_.getAs[Long]("event_id")).toSet
    assert(fast == got)
  }

  test("m1 AUC: hand-computed rank-sum cases; fixture AUC well-defined") {
    import TestSpark.spark.implicits._
    import graft.operators.Eval
    // perfect separation: positives all above → AUC = 1.0
    val perfect = Seq((1L, false, 0.1), (2L, false, 0.2), (3L, true, 0.8),
      (4L, true, 0.9)).toDF("id", "pos", "score")
    val r1 = Eval.rankSumAuc(perfect, col("pos"), Seq(col("score"), col("id"))).first()
    assert(r1.getLong(2) == 1000000L && r1.getLong(0) == 2L && r1.getLong(1) == 2L)
    // inverted → 0; interleaved n-p-p-n: ranks of pos = {2,3}, S=5,
    // AUC = (5-3)/(2*2) = 0.5
    val inverted = Seq((1L, true, 0.1), (2L, false, 0.9)).toDF("id", "pos", "score")
    assert(Eval.rankSumAuc(inverted, col("pos"),
      Seq(col("score"), col("id"))).first().getLong(2) == 0L)
    val mixed = Seq((1L, false, 0.1), (2L, true, 0.2), (3L, true, 0.3),
      (4L, false, 0.4)).toDF("id", "pos", "score")
    assert(Eval.rankSumAuc(mixed, col("pos"),
      Seq(col("score"), col("id"))).first().getLong(2) == 500000L)
    // one-class input → NULL (undefined), not a crash or a made-up value
    val oneClass = Seq((1L, true, 0.1), (2L, true, 0.2)).toDF("id", "pos", "score")
    assert(Eval.rankSumAuc(oneClass, col("pos"),
      Seq(col("score"), col("id"))).first().isNullAt(2))
    // fixture: both classes present, AUC in [0, 1e6]
    val fx = Eval.m1Auc(spark, sf).first()
    assert(fx.getLong(0) > 0 && fx.getLong(1) > 0)
    val auc = fx.getLong(2)
    assert(auc >= 0L && auc <= 1000000L)
  }

  test("m2 ANN recall: hand-computed overlap; fixture ANN ⊆ exact semantics hold") {
    import TestSpark.spark.implicits._
    import graft.operators.Eval
    // approx {1,2,3} vs exact {2,3,4,5}: common 2 → recall 500‰
    val approx = Seq(1L, 2L, 3L).toDF("vec_id")
    val exact = Seq(2L, 3L, 4L, 5L).toDF("vec_id")
    val r = Eval.recallAgainst(approx, exact, "vec_id").first()
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L &&
      r.getLong(2) == 2L && r.getLong(3) == 500L)
    // disjoint → 0‰; identical → 1000‰
    assert(Eval.recallAgainst(Seq(9L).toDF("vec_id"), exact, "vec_id")
      .first().getLong(3) == 0L)
    assert(Eval.recallAgainst(exact, exact, "vec_id").first().getLong(3) == 1000L)
    // fixture: counts consistent, recall within [0, 1000]
    val fx = Eval.m2AnnRecall(spark, sf).first()
    assert(fx.getLong(2) <= math.min(fx.getLong(0), fx.getLong(1)))
    assert(fx.getLong(3) >= 0L && fx.getLong(3) <= 1000L)
  }

  test("m3 MRR: constructed relevance cases; fixture ranks match a naive window twin") {
    import TestSpark.spark.implicits._
    import graft.operators.Eval
    // 4 docs: doc 1 contains both terms (relevant), others one term each;
    // rare+common makes doc 1 the top hit → rr = 1e6, one relevant in top-k
    val docs = Seq(
      (1L, "alpha beta x y z"),
      (2L, "alpha p q r s"),
      (3L, "alpha u v w t"),
      (4L, "beta m n o k")).toDF("doc_id", "text")
    val m = Eval.mrrAtK(docs, Seq("alpha beta", "alpha zebra"), k = 3).collect()
      .map(r => r.getAs[String]("query") -> r).toMap
    val ab = m("alpha beta")
    assert(ab.getAs[Int]("first_rel_rank") == 1 && ab.getAs[Long]("rr_micro") == 1000000L)
    assert(ab.getAs[Long]("n_rel_at_k") == 1L &&
      ab.getAs[Long]("prec_at_k_micro") == 333333L)
    // zebra never occurs → conjunctive relevance is empty → all zeros,
    // even though "alpha" docs still fill the ranking
    val az = m("alpha zebra")
    assert(az.getAs[Int]("first_rel_rank") == 0 && az.getAs[Long]("rr_micro") == 0L &&
      az.getAs[Long]("prec_at_k_micro") == 0L)
    // fixture: the offset-localized distributedRank produces the same
    // metrics as a naive per-query window rank over the same scored frame
    val engine = Eval.m3Mrr(spark, sf).collect()
    val qdf = Eval.MrrQueries.flatMap { q =>
      val ts = q.split("\\s+").distinct; ts.map(t => (q, t, ts.length))
    }.toDF("query", "token", "n_q")
    val scored = graft.operators.TextOps.bm25Frame(tables.documents)
      .join(broadcast(qdf), "token")
      .groupBy(col("query"), col("doc_id"), col("n_q"))
      .agg(sum(round(col("bm25") * lit(1e6)).cast("long")).as("s"),
        count(lit(1)).as("hit"))
    val naive = scored.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query"))
          .orderBy(col("s").desc, col("doc_id"))))
      .filter(col("rnk") <= Eval.MrrK)
      .groupBy(col("query"))
      .agg(min(when(col("hit") === col("n_q"), col("rnk"))).as("f"),
        sum(when(col("hit") === col("n_q"), 1L).otherwise(0L)).as("nr"))
      .collect().map(r => r.getAs[String]("query") ->
        (Option(r.get(1)).map(_.toString.toInt).getOrElse(0), r.getAs[Long]("nr"))).toMap
    engine.foreach { r =>
      val (f, nr) = naive(r.getAs[String]("query"))
      assert(r.getAs[Int]("first_rel_rank") == f && r.getAs[Long]("n_rel_at_k") == nr,
        s"mismatch for ${r.getAs[String]("query")}")
    }
  }

  test("m5 nDCG: perfect prefix scores exactly 1e6; fixture == scalar replay") {
    import TestSpark.spark.implicits._
    import graft.operators.Eval
    // doc 1 holds both terms → grade 2, ranks first; every other candidate
    // shares grade 1, so ANY order below position 1 is ideal → nDCG = 1
    val docs = Seq(
      (1L, "alpha beta x y z"),
      (2L, "alpha p q r s"),
      (3L, "alpha u v w t"),
      (4L, "beta m n o k")).toDF("doc_id", "text")
    val c = Eval.ndcgAtK(docs, Seq("alpha beta"), 3).collect()
    assert(c.length == 1 && c.head.getAs[Long]("ndcg_micro") == 1000000L)
    assert(c.head.getAs[Long]("dcg_micro") == c.head.getAs[Long]("idcg_micro"))
    // fixture differential: engine == scalar replay of the same micro-unit
    // DCG/IDCG algebra over the collected candidate frame
    val k = Eval.NdcgK
    val engine = Eval.m5Ndcg(spark, sf).collect()
      .map(r => r.getAs[String]("query") ->
        (r.getAs[Long]("dcg_micro"), r.getAs[Long]("idcg_micro"),
          r.getAs[Long]("ndcg_micro"))).toMap
    val qdf = Eval.MrrQueries.flatMap { q =>
      q.split("\\s+").distinct.map(t => (q, t))
    }.toDF("query", "token")
    val cand = graft.operators.TextOps.bm25Frame(tables.documents)
      .join(broadcast(qdf), "token")
      .groupBy(col("query"), col("doc_id"))
      .agg(sum(round(col("bm25") * lit(1e6)).cast("long")).as("s"),
        count(lit(1)).as("rel"))
      .collect()
      .map(r => (r.getAs[String]("query"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("s"), r.getAs[Long]("rel")))
    def gain(rel: Long, pos: Int): Long =
      math.round(1e6 * (math.pow(2.0, rel.toDouble) - 1.0) /
        (math.log(pos + 1.0) / math.log(2.0)))
    val replay = cand.groupBy(_._1).map { case (q, rows) =>
      val byScore = rows.sortBy(r => (-r._3, r._2)).take(k).zipWithIndex
      val dcg = byScore.map { case (r, i) => gain(r._4, i + 1) }.sum
      val ideal = rows.map(_._4).sorted(Ordering[Long].reverse).take(k).zipWithIndex
      val idcg = ideal.map { case (rel, i) => gain(rel, i + 1) }.sum
      q -> (dcg, idcg, dcg * 1000000L / idcg)
    }
    assert(engine == replay.toMap, s"engine=$engine replay=${replay.toMap}")
  }

  test("j12 interval join: bucketed equi-join == theta overlap join on the fixture") {
    import graft.operators.TimeSeries
    val got = TimeSeries.j12IntervalJoin(spark, sf)
    // rebuild both sides and join by the PLAIN overlap predicate — the
    // cartesian form the bucket explode must reproduce pair-for-pair
    val ev = tables.events
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"), col("event_type"))
    val oneUs = ev.groupBy(col("user_id"), col("us"))
      .agg(min_by(col("event_type"), col("event_id")).as("event_type"))
    val horizon = ev.agg((max(col("us")) + lit(1L)).as("__h"))
    val iv = TimeSeries.scd2(oneUs, "user_id", "us", "event_type")
      .crossJoin(broadcast(horizon))
      .select(col("user_id"), col("event_type"), col("valid_from"),
        coalesce(col("valid_to"), col("__h")).as("to_us"))
    val d = TimeSeries.DayUs
    val busy = ev.groupBy(expr(s"us DIV $d").as("day"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col("day")).limit(TimeSeries.BusyDays)
    val theta = iv.join(busy,
        col("valid_from") < (col("day") + 1) * lit(d) &&
          col("day") * lit(d) < col("to_us"))
      .select(col("user_id"), col("event_type"), col("valid_from"), col("to_us"),
        col("day"), col("n_events"),
        (least(col("to_us"), (col("day") + 1) * lit(d)) -
          greatest(col("valid_from"), col("day") * lit(d))).as("overlap_us"))
    assertSameRows(got, theta)
    // overlaps are positive and never exceed a day
    got.collect().foreach { r =>
      val o = r.getAs[Long]("overlap_us")
      assert(o > 0 && o <= d, s"bad overlap $o")
    }
  }

  test("m4 drift: identical groups score exactly 0, skew scores positive, fixture sane") {
    import TestSpark.spark.implicits._
    import graft.operators.Eval
    // two groups with the SAME distribution: every per-token ratio is
    // exactly 1 → ln 0 → KL exactly 0 (no rounding residue)
    val same = Seq(("a", "x x y z"), ("b", "x x y z")).toDF("source", "text")
    Eval.tokenDrift(same, "source").collect().foreach { r =>
      assert(r.getAs[Long]("kl_micro") == 0L, s"${r.get(0)}: ${r.get(3)}")
    }
    // a skewed group diverges positively from the pooled corpus
    val skew = Seq(("a", "x x x x x x y"), ("b", "y y y y y y x")).toDF("source", "text")
    Eval.tokenDrift(skew, "source").collect().foreach { r =>
      assert(r.getAs[Long]("kl_micro") > 0L, s"${r.get(0)} not positive")
    }
    // fixture: KL is never materially negative (micro-rounding may leave
    // a ±1 residue), and every source covers some token types
    Eval.m4Drift(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("kl_micro") >= -1L)
      assert(r.getAs[Long]("n_token_types") > 0L)
    }
  }

  test("q7 volume: only exchange is the fact-fact join; dims broadcast") {
    val df = Relational.q7Volume(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the 4 dimension joins MUST broadcast; the orders⋈lineitem fact join
    // may broadcast too at this sf (orders fits) or shuffle at larger ones
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    val smj = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size
    assert(bhj >= 4, s"expected >=4 broadcast dim joins, got $bhj in:\n$plan")
    assert(smj <= 1, s"only the orders⋈lineitem join may shuffle:\n$plan")
    assert(bhj + smj == 5, s"all five joins must be resolved, got $bhj+$smj:\n$plan")
  }

  test("a10 vanilla twin computes the engine's answer (twin-honesty pin)") {
    // the TWINS.json ratio for a10_equi_depth is only meaningful if the
    // naive global-window formulation answers the same question; the
    // bucket geometry pins exactly, the price sum within float tolerance
    // (the twin sums doubles in partial-agg order, the engine exactly)
    val twin = graft.TailTwins.twinFrame(spark, sf, "a10_equi_depth")
    val eng = Relational.a10EquiDepth(spark, sf)
    assertSameRows(twin.drop("sum_price"), eng.drop("sum_price"))
    val ts = twin.select("bucket", "sum_price").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val es = eng.select("bucket", "sum_price").collect()
      .map(r => r.getLong(0) -> r.get(1).toString.toDouble).toMap
    assert(ts.keySet == es.keySet)
    es.foreach { case (b, v) =>
      assert(math.abs(ts(b) - v) <= math.abs(v) * 1e-9 + 1e-6,
        s"bucket $b sum drifted: ${ts(b)} vs $v")
    }
  }

  test("m9 KMV sketch: bottom-k distinct == exact; partition/merge-order independent") {
    import TestSpark.spark.implicits._
    import graft.functions.BottomKDistinct
    val k = 8
    // duplicates + interleaved values; exact answer = distinct, sorted, take k
    val vals = (1 to 200).map(i => f"v${i % 37}%03d")
    val exact = vals.distinct.sorted.take(k)
    for (parts <- Seq(1, 7, 32)) {
      val got = vals.toDF("s").repartition(parts)
        .agg(BottomKDistinct.bottomKUdaf(k)(col("s")).as("bk"))
        .first().getSeq[String](0)
      assert(got == exact, s"parts=$parts: $got != $exact")
    }
    // nulls are skipped, not inserted
    val withNulls = (vals.map(Option(_)) ++ Seq.fill(50)(Option.empty[String]))
      .toDF("s").repartition(5)
      .agg(BottomKDistinct.bottomKUdaf(k)(col("s")).as("bk"))
      .first().getSeq[String](0)
    assert(withNulls == exact)
  }

  test("m9 overlap: identical corpora 1000‰, disjoint 0‰, one-sided null-guarded") {
    import TestSpark.spark.implicits._
    import graft.operators.Eval
    val a = Seq.tabulate(6)(i => s"alpha beta gamma delta epsilon zeta$i eta theta")
      .toDF("text")
    // identical: every sketch slot agrees
    val same = Eval.kmvOverlap(a, a, k = 16).first()
    assert(same.getAs[Long]("jaccard_permille") == 1000L)
    assert(same.getAs[Long]("b_in_a_permille") == 1000L)
    assert(same.getAs[Long]("a_in_b_permille") == 1000L)
    // disjoint vocabularies: no shared gram, sketches populated
    val b = Seq.tabulate(6)(i => s"one two three four five six$i seven eight")
      .toDF("text")
    val disj = Eval.kmvOverlap(a, b, k = 16).first()
    assert(disj.getAs[Long]("n_sketch_a") > 0 && disj.getAs[Long]("n_sketch_b") > 0)
    assert(disj.getAs[Long]("jaccard_permille") == 0L)
    assert(disj.getAs[Long]("b_in_a_permille") == 0L)
    // one side all-short docs (< n tokens → zero grams): permilles NULL
    // via the nullif guard, never a divide-by-zero or a crash
    val empty = Seq("tiny doc").toDF("text")
    val oneSided = Eval.kmvOverlap(a, empty, k = 16).first()
    assert(oneSided.getAs[Long]("n_sketch_b") == 0L)
    assert(oneSided.isNullAt(oneSided.fieldIndex("b_in_a_permille")))
    assert(oneSided.getAs[Long]("jaccard_permille") == 0L)
  }

  test("m9b overlap matrix: hand-built groups; each pair row == the two-corpus estimate") {
    import TestSpark.spark.implicits._
    import graft.operators.Eval
    // three groups: g1 == g2 verbatim, g3 disjoint vocabulary
    val t1 = Seq.tabulate(4)(i => s"alpha beta gamma delta epsilon zeta$i eta")
    val t3 = Seq.tabulate(4)(i => s"one two three four five six$i seven")
    val docs = (t1.map(("g1", _)) ++ t1.map(("g2", _)) ++ t3.map(("g3", _)))
      .toDF("source", "text")
    val m = Eval.sourceOverlapMatrix(docs, k = 16).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(m.keySet == Set(("g1", "g2"), ("g1", "g3"), ("g2", "g3")))
    assert(m(("g1", "g2")).getAs[Long]("jaccard_permille") == 1000L)
    assert(m(("g1", "g3")).getAs[Long]("jaccard_permille") == 0L)
    // every pair row equals the pairwise two-corpus estimate (same
    // arithmetic by construction; this pins the pairing/join plumbing)
    def corpus(g: String) = docs.filter(col("source") === g).select("text")
    val direct = Eval.kmvOverlap(corpus("g1"), corpus("g3"), k = 16).first()
    val row = m(("g1", "g3"))
    Seq("n_sketch_a", "n_sketch_b", "n_union", "n_both", "union_digest").foreach { c =>
      assert(row.getAs[Any](c) == direct.getAs[Any](c), s"$c differs")
    }
    // fixture matrix: counters internally consistent on every pair
    val fx = Eval.m9OverlapMatrix(TestSpark.spark, sf)
    fx.collect().foreach { r =>
      val (nu, nb, na, both) = (r.getAs[Long]("n_union"), r.getAs[Long]("n_sketch_b"),
        r.getAs[Long]("n_sketch_a"), r.getAs[Long]("n_both"))
      assert(nu <= graft.operators.Eval.KmvK && both <= math.min(na, nb))
    }
    // scale pin: the sketch self-join must not re-run the corpus pass —
    // AQE dedups the two identical shuffle exchanges (ReusedExchange),
    // so the scan+gram+partial-agg pipeline executes once
    val plan = fx.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"sketch exchange not reused — corpus pass would run twice:\n$plan")
  }

  test("m9 vanilla twin computes the engine's answer (twin-honesty pin)") {
    // distinct→sort→limit must land on the exact same k hashes as the
    // bounded aggregator, or the TWINS.json ratio compares different work
    assertSameRows(graft.TailTwins.twinFrame(spark, sf, "m9_containment"),
      graft.operators.Eval.m9Containment(spark, sf))
  }

  test("m9b vanilla twin computes the engine's answer (twin-honesty pin)") {
    // the per-source rank-window sketch must land on the exact same k
    // hashes per group as the bounded aggregator, pair for pair
    assertSameRows(graft.TailTwins.twinFrame(spark, sf, "m9_overlap_matrix"),
      graft.operators.Eval.m9OverlapMatrix(spark, sf))
  }

  test("m9 estimator: fixture estimate within KMV error of the exact gram Jaccard; one corpus scan") {
    import graft.operators.{Curation, Dedup, Eval}
    // exact gram-set Jaccard of the train/test splits (fixture-scale only:
    // this computes the full distinct gram universes the sketch avoids)
    val split = Curation.splitExpr(col("doc_id"))
    val grams = tables.documents
      .select(when(split === "train", "a").when(split === "test", "b").as("side"),
        explode(Dedup.shingles(Dedup.tokens(col("text")), Curation.DecontamN)).as("gram"))
      .filter(col("side").isNotNull)
      .groupBy(col("gram"))
      .agg(max(col("side") === "a").as("in_a"), max(col("side") === "b").as("in_b"))
      .agg(sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)).as("n_both"),
        count(lit(1)).as("n_union"))
      .first()
    val exactPermille = 1000.0 * grams.getLong(0) / grams.getLong(1)
    val df = Eval.m9Containment(TestSpark.spark, sf)
    val est = df.first().getAs[Long]("jaccard_permille").toDouble
    // 3σ binomial tolerance at k=256, plus the 1000/k discretization step
    val j = exactPermille / 1000.0
    val tol = 3 * math.sqrt(j * (1 - j) / Eval.KmvK) * 1000 + 1000.0 / Eval.KmvK + 1
    assert(math.abs(est - exactPermille) <= tol,
      s"estimate $est vs exact $exactPermille (tol $tol)")
    // scale pin: the tagged path reads the corpus ONCE (a union of two
    // filtered branches would scan documents twice)
    val scans = "Scan parquet".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
    assert(scans == 1, s"expected 1 documents scan, got $scans")
  }

  test("bounded unpartitioned-window inventory: every global window rides a bounded frame") {
    // Every unpartitioned WindowExec is a single-task serialization point,
    // so each one in the engine must consume a provably BOUNDED frame.
    // The offset-table windows execute inside pinned (persisted) frames
    // and may never reach the query's final plan, so the inventory
    // captures every execution a query triggers via a
    // QueryExecutionListener, then asserts the exact per-query count and
    // — where the bound is an offset table — the structural fact that the
    // window input is an aggregate's output. A refactor that grows one of
    // these to corpus size, or introduces a new global window anywhere in
    // a query's build, changes a count and fails here. The cache is
    // CLEARED before each capture: a persisted offsets frame warmed by
    // an earlier test would otherwise collapse to an InMemoryTableScan
    // and hide its window from the listener entirely.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def windowsTriggeredBy(name: String)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
      import scala.jdk.CollectionConverters._
      spark.listenerManager.register(listener)
      try {
        plans.clear()
        spark.catalog.clearCache()
        SparkEntry.queries(name)(spark, sf)
          .write.format("noop").mode("overwrite").save()
        org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      // identity-dedup ACROSS captured executions too: a cached plan's
      // window object can surface under more than one action's plan
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[
          org.apache.spark.sql.execution.window.WindowExec, java.lang.Boolean]())
      plans.asScala.toSeq.flatMap(planWindows).filter(seen.add)
    }
    //   (query, #unpartitioned windows, all-feed-from-aggregate, bound)
    val inventory = Seq(
      ("a10_equi_depth", 1, true, "bucketedRank offsets: per-bucket counts (≤ #buckets rows)"),
      ("l4_ccnet_buckets", 1, true, "bucketedRank offsets: per-bucket counts (≤ #buckets rows)"),
      ("m1_auc", 1, true, "rank offsets: per-bucket counts (≤ #buckets rows)"),
      ("l8_pack", 1, true, "packBins offsets: per-bucket token sums (≤ #buckets rows)"),
      ("l8_shuffle", 1, true, "epochOrder offsets: hash-prefix bucket counts (≤ 16^chars rows)"),
      ("m2_ann_recall", 1, false, "global rank over the band-cut candidate frame (≤ ~2·pad rows)"))
    inventory.foreach { case (name, expected, mustFeedAgg, bound) =>
      val ws = windowsTriggeredBy(name)
      assert(ws.size == expected,
        s"$name: expected $expected unpartitioned window(s) [$bound], got ${ws.size}:\n" +
          ws.mkString("\n"))
      if (mustFeedAgg) ws.foreach { w =>
        assert(feedsFromAggregate(w),
          s"$name: global window no longer consumes an aggregate-bounded frame [$bound]:\n$w")
      }
    }
    // and the headline relational queries must trigger NONE, end to end.
    // m6_diversity joined this list in r15: its entropy total became a
    // global aggregate + broadcast (see Eval.diversityOf) instead of an
    // unpartitioned window, to clear the whole-surface plan gate.
    Seq("q1_pricing_summary", "q3_join_agg", "window_topk", "o1_sort_limit",
      "m6_diversity")
      .foreach { name =>
        assert(windowsTriggeredBy(name).isEmpty,
          s"$name must not trigger any unpartitioned window")
      }
  }
}
