package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** S6: CSV/JSON batch IO round-trips — write a fixture slice, read it
  * back with an explicit schema, values survive bit-exactly.
  */
class IOSpec extends SparkSuite {

  private def roundTrip(fmt: String): Unit = {
    val dir = tempDir(s"graft-io-$fmt").toString + "/out"
    val src = tables.customer
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
    src.write.format(fmt).option("header", "true").save(dir)
    val back = spark.read.format(fmt)
      .option("header", "true").schema(src.schema).load(dir)
    assertSameRows(src, back)
  }

  test("S6 CSV round-trip preserves rows and values") { roundTrip("csv") }
  test("S6 JSON round-trip preserves rows and values") { roundTrip("json") }

  test("S6b compaction writer: sizes file count from stats, preserves data, prunes by range") {
    import graft.sources.BatchIO
    val src = tables.lineitem // pre-shuffled into many tiny partitions
      .repartition(64, col("l_partkey"))
    val dir = tempDir("graft-io-compact").toString + "/out"
    // force a small target so the estimate yields a handful of files
    val n = BatchIO.writeCompacted(src, dir, targetBytes = 256L << 10,
      sortKeys = Seq(col("l_orderkey")))
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length == n, s"wrote ${files.length} files, sized $n")
    assert(n < 64, "compaction must write fewer files than input partitions")
    val back = spark.read.parquet(dir)
    assertSameRows(src, back)
    // range layout: each file covers a disjoint l_orderkey range
    val ranges = files.sorted(Ordering.by((f: java.io.File) => f.getName)).map { f =>
      val d = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col("l_orderkey")), max(col("l_orderkey"))).collect()(0)
      (d.getLong(0), d.getLong(1))
    }
    ranges.sortBy(_._1).sliding(2).foreach {
      case Array(a, b) => assert(a._2 <= b._1, s"overlapping file ranges $a $b")
      case _ =>
    }
  }

  test("schema evolution: mergeSchema unions generations, absent columns null-fill") {
    // a long-lived table's files never share one schema; the read side
    // must union generations without rewriting old files
    val dir = tempDir("graft-evolve").toString + "/t"
    tables.customer.select(col("c_custkey"), col("c_name"))
      .write.parquet(s"$dir/gen=1")
    tables.customer.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .write.parquet(s"$dir/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("c_custkey", "c_name", "c_acctbal", "gen"))
    val n = tables.customer.count()
    assert(merged.filter(col("gen") === 1).count() == n)
    assert(merged.filter(col("gen") === 1 && col("c_acctbal").isNull).count() == n)
    assert(merged.filter(col("gen") === 2 && col("c_acctbal").isNull).count() == 0)
  }

  test("z-order layout: a selective filter on either dimension skips most row groups") {
    import graft.sources.Layout
    val base = tempDir("graft-zorder").toString
    val li = tables.lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    // same rows, same file/row-group geometry — only the ROW ORDER
    // differs: z-clustered vs hash-shuffled (the adversarial layout
    // where every row group spans the whole key domain)
    Layout.writeZOrdered(li, Seq("l_partkey", "l_suppkey"), s"$base/z",
      partitions = 4, rowGroupBytes = 8 * 1024, pageBytes = 2 * 1024)
    li.withColumn("__r", hash(col("l_orderkey")))
      .repartitionByRange(4, col("__r")).sortWithinPartitions(col("__r")).drop("__r")
      .write.option("parquet.block.size", (8 * 1024).toString)
      .option("parquet.page.size", (2 * 1024).toString)
      .mode("overwrite").parquet(s"$base/rand")

    // rows surviving row-group/page skipping = the scan node's own
    // output counter (the residual Filter above it re-checks exactly)
    def scanned(path: String, cond: org.apache.spark.sql.Column): (Long, Long) = {
      val df = spark.read.parquet(path).filter(cond)
      val kept = df.collect().length.toLong
      val scanRows = df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      (scanRows, kept)
    }
    val total = li.count()
    // z-order's contract: a slab on EITHER single dimension touches
    // ~sqrt(width) of the curve (a 10% slab → ~32% of row groups), and a
    // rectangle on BOTH dimensions approaches area-proportional. Assert
    // both regimes, each against the shuffled layout which can skip
    // nothing.
    def slab(dim: String): org.apache.spark.sql.Column = {
      val r = li.agg(min(col(dim)), max(col(dim))).head()
      val (dmin, dmax) = (r.getLong(0), r.getLong(1))
      val span = math.max(1L, (dmax - dmin) / 10)
      col(dim).between(dmin + 4 * span, dmin + 5 * span)
    }
    val cases = Seq(
      "l_partkey slab" -> (slab("l_partkey"), 2L),
      "l_suppkey slab" -> (slab("l_suppkey"), 2L),
      "2-dim rectangle" -> (slab("l_partkey") && slab("l_suppkey"), 4L))
    for ((label, (cond, factor)) <- cases) {
      val (zScan, zKept) = scanned(s"$base/z", cond)
      val (rScan, rKept) = scanned(s"$base/rand", cond)
      assert(zKept == rKept && zKept == li.filter(cond).count(), s"$label: wrong answer")
      assert(rScan > total / 2, s"$label: random layout unexpectedly skipped ($rScan of $total)")
      assert(zScan * factor <= rScan,
        s"$label: z-layout scanned $zScan vs random $rScan — under ${factor}x skipping")
      info(f"$label: z-layout scans $zScan of $total (${100.0 * zScan / total}%.0f%%), shuffled $rScan")
    }
  }

  test("S6c dynamic partition overwrite: backfill touches only the emitted partitions") {
    import graft.sources.BatchIO
    val dir = tempDir("graft-dpo").toString + "/t"
    val docs = tables.documents.select(col("doc_id"), col("text"), col("lang"))
    BatchIO.overwritePartitions(docs, dir, Seq("lang"))
    // materialize the pre-backfill state NOW — a lazy read over the same
    // path would silently re-read the post-overwrite files
    val before = spark.read.parquet(dir).collect()
    val langs = before.map(_.getAs[String]("lang")).distinct
    assert(langs.length > 2)
    // backfill ONE partition with halved content
    val one = langs.sorted.head
    val halved = docs.filter(col("lang") === one && col("doc_id") % 2 === 0)
    val halvedCount = halved.count()
    BatchIO.overwritePartitions(halved, dir, Seq("lang"))
    val after = spark.read.parquet(dir)
    // the touched partition shrank to exactly the new content...
    assert(after.filter(col("lang") === one).count() == halvedCount)
    // ...and every OTHER partition is untouched row-for-row
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[String]("lang"))
    val beforeOthers = before.filter(_.getAs[String]("lang") != one).map(key).sorted
    val afterOthers = after.filter(col("lang") =!= one).collect().map(key).sorted
    assert(beforeOthers.sameElements(afterOthers))
    // re-running the same backfill is a no-op (idempotent). Count the
    // CURRENT state first: `after`'s plan snapshotted its file listing,
    // and the re-run replaces the backfilled partition's files — driving
    // the stale plan again would chase deleted part files
    val afterCount = after.count()
    BatchIO.overwritePartitions(halved, dir, Seq("lang"))
    assert(spark.read.parquet(dir).count() == afterCount)
  }

  test("S6 staging sweep: a dead run's graft_s6_* dirs are deleted, a live run's are kept") {
    import graft.sources.BatchIO
    val root = tempDir("graft-stage-root")
    // above any Linux pid_max (at most 2^22), so never a live process
    val deadPid = 0x7ffffffeL
    assert(ProcessHandle.of(deadPid).isEmpty)
    val livePid = ProcessHandle.current().pid()
    val dead = root.resolve(s"graft_s6_csv_1a2b_${java.lang.Long.toHexString(deadPid)}")
    val live = root.resolve(s"graft_s6_orc_1a2b_${java.lang.Long.toHexString(livePid)}")
    val other = root.resolve(s"graft-other_${java.lang.Long.toHexString(deadPid)}")
    Seq(dead, live, other).foreach { d =>
      Files.createDirectories(d.resolve("part"))
      Files.write(d.resolve("part/x.csv"), "1,2\n".getBytes)
    }
    assert(BatchIO.sweepStale(root.toString) == Seq(dead.getFileName.toString))
    assert(!Files.exists(dead))
    assert(Files.exists(live.resolve("part/x.csv")) && Files.exists(other.resolve("part/x.csv")))
  }
}
