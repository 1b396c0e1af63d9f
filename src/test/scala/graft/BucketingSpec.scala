package graft

import org.apache.spark.sql.functions._

/** Co-located joins via bucketing — the 100 TB lever for repeated
  * fact-fact joins: both sides bucketed (and sorted) on the join key
  * join with ZERO shuffle exchanges.
  */
class BucketingSpec extends SparkSuite {

  test("partitioned layout: a date-filtered scan prunes partitions") {
    val dir = tempDir("graft-part").toString + "/events_by_day"
    val ev = tables.events.withColumn("day", to_date(col("ts")))
    ev.write.partitionBy("day").mode("overwrite").parquet(dir)
    val oneDay = spark.read.parquet(dir).filter(col("day") === lit("2024-01-05"))
    oneDay.collect()
    val scan = oneDay.queryExecution.executedPlan.toString
    // the filter lands in PartitionFilters (directory pruning), not a data filter
    assert(scan.contains("PartitionFilters") && scan.contains("2024-01-05"), scan)
    assert(oneDay.count() == ev.filter(col("day") === lit("2024-01-05")).count())
  }

  test("dynamic partition pruning: dim filter prunes the partitioned fact scan") {
    // the third layout lever at 100 TB beside static pruning and
    // bucketing: a fact partitioned on the join key, joined to a FILTERED
    // dimension, must scan only the partitions the dim filter selects —
    // Catalyst inserts a dynamicpruning subquery on the fact's partition
    // column at planning time
    val dir = tempDir("graft-dpp").toString + "/events_by_type"
    tables.events.write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = tables.events.select(col("event_type")).distinct()
      .withColumn("is_conversion", col("event_type").isin("purchase", "signup"))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // DPP's broadcast-reuse path needs the dim broadcastable
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      val j = fact.join(dim.filter(col("is_conversion")), Seq("event_type"))
      val planned = j.queryExecution.executedPlan.toString
      assert(planned.toLowerCase.contains("dynamicpruning"),
        s"expected a dynamicpruningexpression on the fact scan:\n$planned")
      // and the pruned result equals the unpartitioned-join answer
      val expected = tables.events.filter(col("event_type").isin("purchase", "signup")).count()
      assert(j.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("persisted IVF index: probe scans only the nprobe cell partitions") {
    import graft.operators.Similarity
    val idxDir = tempDir("graft-ivf").toString
    Similarity.buildIvfIndex(tables.embeddings, idxDir)
    val q = tables.embeddings.filter(col("vec_id") === 0L)
      .select(col("embedding")).collect()(0)
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val probe = Similarity.probeIvfIndex(spark, idxDir, q, k = 10)
    val rows = probe.collect()
    assert(rows.length == 10 && rows.head.getAs[Long]("vec_id") == 0L)
    // the scan must touch at most nprobe of the cell= directories while
    // the index holds more — static partition pruning, not a full read
    val planStr = probe.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("cell"), planStr)
    val scans = probe.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("vectors")) => s
    }
    assert(scans.nonEmpty, planStr)
    val partsRead = scans.head.selectedPartitions.partitionCount
    assert(partsRead <= Similarity.IvfNprobe, s"scanned $partsRead cell partitions")
    val allCells = spark.read.parquet(s"$idxDir/vectors")
      .select(col("cell")).distinct().count()
    assert(allCells > Similarity.IvfNprobe, s"index holds only $allCells cells")
    // and the indexed probe agrees with the in-session fast path run
    // against the same persisted centroids
    val cents = spark.read.parquet(s"$idxDir/centroids")
    assertSameRows(probe, Similarity.ivfTopKFast(tables, 0L, 10,
      Similarity.IvfCells, Similarity.IvfNprobe, Some(cents)))
  }

  test("persisted IVF-SQ index: pruned scan + integer rank + rescore == float probe") {
    import graft.operators.Similarity
    val idxDir = tempDir("graft-ivfsq").toString
    Similarity.buildIvfSqIndex(tables.embeddings, idxDir)
    val q = tables.embeddings.filter(col("vec_id") === 0L)
      .select(col("embedding")).collect()(0)
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val probe = Similarity.probeIvfSqIndex(spark, idxDir, q, k = 10)
    val rows = probe.collect()
    assert(rows.length == 10 && rows.head.getAs[Long]("vec_id") == 0L)
    // static pruning must reach the vectors_sq scan too
    val scans = probe.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("vectors_sq")) => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount <= Similarity.IvfNprobe)
    // the SQ candidate pass + rescore recovers the float probe's answer
    // (rescore factor 4k over cell-resident candidates on this corpus)
    assertSameRows(probe, Similarity.probeIvfIndex(spark, idxDir, q, k = 10).drop("cell"))
  }

  test("persisted PQ index: codes-only candidate scan + ADC rank + exact rescore == in-query PQ") {
    import graft.operators.Similarity
    val idxDir = tempDir("graft-pq").toString
    Similarity.buildPqIndex(tables.embeddings, idxDir)
    val q = tables.embeddings.filter(col("vec_id") === 0L)
      .select(col("embedding")).collect()(0)
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    // probe against the persisted codebooks+codes must reproduce the
    // in-query-trained form bit for bit: same exact trainer, same exact
    // ADC ranking, same exact rescore
    val probe = Similarity.probePqIndex(spark, idxDir, q, k = 10, tables.embeddings)
    assertSameRows(probe, Similarity.pqTopK(tables, 0L, 10))
    // the flat-projection in-query form (inlined codebook literals +
    // one-row ADC attach) must match the r15 join form row for row —
    // same encode argmin tie-break, same ADC sums, same rescore
    assertSameRows(Similarity.pqTopK(tables, 0L, 10),
      Similarity.pqTopKJoinForm(tables, 0L, 10))
    // the candidate stage's only corpus-sized input is the codes parquet:
    // its scan schema is vec_id + the m 4-byte code columns — no embedding
    val cand = Similarity.pqCandidates(spark, idxDir, q,
      Similarity.PqRescoreFactor * 10)
    cand.collect() // finalize the adaptive plan before inspecting it
    // AQE wraps the stages as leaf QueryStageExec nodes, so assert on the
    // rendered plan: the /codes scan's ReadSchema is vec_id + the m 4-byte
    // INT code columns and nothing else — no embedding ever reaches the
    // candidate stage
    val scanLine = cand.queryExecution.executedPlan.toString.linesIterator
      .find(l => l.contains("FileScan") && l.contains("/codes"))
      .getOrElse(fail(s"no codes scan in:\n${cand.queryExecution.executedPlan}"))
    val expectSchema = "ReadSchema: struct<vec_id:bigint," +
      (0 until Similarity.PqM).map(j => s"code_$j:int").mkString(",") + ">"
    assert(scanLine.contains(expectSchema),
      s"codes scan must read only vec_id + INT codes:\n$scanLine")
    // and the rescore reaches the vector store as a pushed-down id filter,
    // not a corpus scan: the probe plan's scan carries an In(vec_id) push
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(probePlan.contains("PushedFilters") && probePlan.contains("vec_id"),
      probePlan)
  }

  test("batched ANN: batch PQ probe == each solo probe; batch exact top-k == brute force") {
    import graft.operators.Similarity
    val idxDir = tempDir("graft-pq-batch").toString
    Similarity.buildPqIndex(tables.embeddings, idxDir)
    val queries = Similarity.batchQueryVecs(tables, Similarity.BatchQueryIds)
    // one codes pass + one ADC broadcast for the whole batch must slice
    // into exactly the per-query solo probes (same candidates, same
    // tie-breaks, same rescore)
    val served = Similarity.probePqIndexBatch(
      spark, idxDir, queries, 10, tables.embeddings)
    for (id <- Similarity.BatchQueryIds) {
      val q = tables.embeddings.filter(col("vec_id") === id)
        .select(col("embedding")).collect()(0)
        .getAs[scala.collection.Seq[Float]]("embedding").toSeq
      assertSameRows(
        served.filter(col("query_id") === id).select("vec_id", "label", "cosine"),
        Similarity.probePqIndex(spark, idxDir, q, 10, tables.embeddings))
    }
    // the one-pass exact batch ranking equals the per-query brute force
    val exact = Similarity.topKBatch(tables.embeddings, queries, 10)
    for (id <- Similarity.BatchQueryIds) {
      assertSameRows(
        exact.filter(col("query_id") === id).select("vec_id", "label", "cosine"),
        Similarity.bruteForceTopK(tables, id, 10))
    }
    // the exact-rescore stage is a PUSHED-DOWN candidate-id point read,
    // not a second full corpus pass: the batch plan's embeddings scans
    // must include one whose PushedFilters carries the vec_id In list
    val batchPlan = exact.queryExecution.executedPlan.toString
    assert(batchPlan.contains("PushedFilters") && batchPlan.contains("In(vec_id"),
      s"rescore scan lost its In(vec_id, ...) pushdown:\n$batchPlan")
    // filtered probe: predicate rides the codes scan BEFORE candidate
    // ranking — every hit satisfies it, k stays filled, and the scan
    // carries the filter as a parquet pushdown
    val pred = col("label") === Similarity.FilteredLabel
    val filtered = Similarity.probePqIndexBatchFiltered(
      spark, idxDir, queries, 10, tables.embeddings, pred)
    val frows = filtered.collect()
    assert(frows.length == Similarity.BatchQueryIds.size * 10, "k under-filled")
    assert(frows.forall(_.getAs[Int]("label") == Similarity.FilteredLabel))
    // the full probe's codes scan hides inside finished AQE broadcast
    // stages (their subtrees truncate in the plan string), so assert the
    // pushdown on the candidate-side frame the probe builds: the
    // predicate lands in the codes parquet scan's PushedFilters
    val fcodes = spark.read.parquet(s"$idxDir/codes").filter(pred)
      .select(col("vec_id"), col("code_0"))
    fcodes.collect()
    val fScan = fcodes.queryExecution.executedPlan.toString.linesIterator
      .find(l => l.contains("FileScan") && l.contains("/codes"))
      .getOrElse(fail("no codes scan in filtered candidate plan"))
    assert(fScan.contains("PushedFilters") && fScan.contains("EqualTo(label"),
      s"label predicate not pushed to the codes scan:\n$fScan")

    // batched IVF probe: one union-pruned scan slices into the solo probes
    val ivfDir = tempDir("graft-ivf-batch").toString
    Similarity.buildIvfIndex(tables.embeddings, ivfDir)
    val ivfServed = Similarity.probeIvfIndexBatch(spark, ivfDir, queries, 10)
    for (id <- Similarity.BatchQueryIds) {
      val q = tables.embeddings.filter(col("vec_id") === id)
        .select(col("embedding")).collect()(0)
        .getAs[scala.collection.Seq[Float]]("embedding").toSeq
      assertSameRows(
        ivfServed.filter(col("query_id") === id)
          .select("vec_id", "label", "cell", "cosine"),
        Similarity.probeIvfIndex(spark, ivfDir, q, 10))
    }
  }

  test("bucketed lineitem ⋈ orders on orderkey plans without a shuffle") {
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    // the in-memory catalog forgets tables across JVMs but warehouse files
    // persist — clear the physical locations too
    for (t <- Seq("li_bucketed", "ord_bucketed")) {
      val dir = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft-warehouse/$t")
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    tables.lineitem.select(col("l_orderkey"), col("l_extendedprice"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    tables.orders.select(col("o_orderkey"), col("o_totalprice"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val j = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      assert(j.count() == tables.lineitem.count())
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("runtime bloom filter: a selective dim predicate reaches the fact side of a shuffle join") {
    // the fourth layout-independent scan lever (beside static pruning,
    // DPP, and bucketing): for a SHUFFLE join, Catalyst builds a bloom
    // filter from the filtered dim's join keys and applies it to the
    // fact scan, so non-joining fact rows die before the exchange. The
    // application-side threshold defaults to 10 GB — right at cluster
    // scale, lowered here so the fixture-sized plan exercises the rule.
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(keys(0), "0")
      spark.conf.set(keys(1), "-1") // force the shuffle join the rule targets
      val dim = tables.orders.filter(col("o_orderpriority") === lit("1-URGENT"))
        .select(col("o_orderkey"))
      val j = tables.lineitem.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected an injected bloom-filter probe on the fact side:\n$optimized")
      // and the filtered plan computes the same answer as the rule turned off
      val expected = tables.lineitem
        .join(tables.orders.filter(col("o_orderpriority") === lit("1-URGENT")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      assertSameRows(j, expected)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
