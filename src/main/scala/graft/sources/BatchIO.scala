package graft.sources

import graft.{Det, Engine, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S6 (SURVEY.md §2.1): CSV/JSON batch IO as DECLARED, oracle-checked
  * queries (round-trip fidelity was previously pinned only by IOSpec).
  *
  * Shape of the check: write a fixture projection through the text format,
  * read it back with an explicit schema, aggregate, and compare against a
  * DuckDB oracle computed from the ORIGINAL parquet — any write- or
  * read-side corruption (quoting, number formatting, date handling, schema
  * drift) breaks the hash match. Doubles survive exactly: both writers emit
  * the shortest round-trip decimal representation.
  *
  * Scale note: these run on a fixture slice locally, but the plan is the
  * scale-correct one — distributed `df.write.csv/json` (one file per task,
  * no driver collect) and a schema-explicit read (no inference pass over
  * 100 TB of text).
  */
object BatchIO {

  // Per-process token: two concurrent runs over the same fixture dir (bench
  // + correctness drivers, or two users sharing /tmp) must not race an
  // overwrite-write against the other's lazy read. The token is the hex
  // PID, which also lets a later process tell a dead run's dirs apart.
  private val runToken = java.lang.Long.toHexString(ProcessHandle.current().pid())

  // Per-process staging dirs are deleted on JVM exit (otherwise every run
  // leaks a fresh graft_s6_* tree — unbounded growth across bench and
  // correctness runs). Tracked explicitly so the hook removes only dirs
  // this process created.
  private val staged = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook(staged.forEach(d => deleteTree(new java.io.File(d))))

  private def deleteTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete(): Unit
  }

  // Staging root is the engine's local scratch dir (see Engine.localDir):
  // the round-trip files are per-process scratch, and the root disk pays
  // a real create/write cost per part file.
  private lazy val stageRoot = {
    sweepStale(Engine.localDir)
    Engine.localDir
  }

  private val StagedName = """graft_s6_[a-z]+_[0-9a-f]+_([0-9a-f]{1,15})""".r

  /** Delete the `graft_s6_*` staging dirs under `root` whose owning
    * process is gone: a killed or crashed run never reaches the shutdown
    * hook, and on a tmpfs root its trees hold RAM until reboot. A live
    * PID's dirs are never touched. Returns the names deleted.
    */
  private[graft] def sweepStale(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten.flatMap { d =>
      d.getName match {
        case StagedName(pid)
            if ProcessHandle.of(java.lang.Long.parseLong(pid, 16)).isEmpty =>
          deleteTree(d)
          Some(d.getName)
        case _ => None
      }
    }

  private def stage(dir: String, fmt: String): String = {
    val d = s"$stageRoot/graft_s6_${fmt}_${Integer.toHexString(dir.hashCode)}_$runToken"
    staged.add(d)
    d
  }

  /** CSV round-trip: orders projection (bigint/string/double/date). */
  def s6CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val out = stage(dir, "csv")
    t.orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"))
      .write.mode("overwrite").option("header", "true").csv(out)
    spark.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, o_orderdate DATE")
      .option("header", "true").csv(out)
      .groupBy(col("o_orderstatus"), year(col("o_orderdate")).cast("int").as("y"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"), col("y"))
  }

  /** ORC round-trip: lineitem projection through the columnar text-free
    * format (same check shape as CSV/JSON: any write/read corruption
    * breaks the hash match against the parquet-sourced oracle).
    */
  def s6OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val out = stage(dir, "orc")
    t.lineitem
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** JSON-lines round-trip: customer projection. */
  def s6JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val out = stage(dir, "json")
    t.customer
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .write.mode("overwrite").json(out)
    spark.read
      .schema("c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE")
      .json(out)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Compaction-aware parquet writer — the small-files defense: a 100 TB
    * pipeline stage that inherits 32k shuffle partitions and writes them
    * verbatim produces 32k tiny files, and every later scan pays open/seek
    * per file plus a metadata-bloated listing. File count is sized from
    * the optimizer's own byte estimate (`optimizedPlan.stats`) against a
    * target file size; `sortKeys` optionally orders rows within each file
    * so min/max column stats (parquet row-group pruning) stay selective
    * for later range scans. Returns the file count written.
    */
  def writeCompacted(df: DataFrame, path: String, targetBytes: Long = 128L << 20,
                     sortKeys: Seq[Column] = Nil, maxFiles: Int = 10000): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(maxFiles > 0, "maxFiles must be positive")
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // clamp in BigInt BEFORE narrowing: stats can be Long.MaxValue (the
    // no-stats fallback) or a join-product estimate — .toLong.toInt on
    // those wraps to an arbitrary count (2^36 → 0 → one giant single-task
    // file, the exact pathology this writer exists to prevent)
    val files = (est / targetBytes).min(BigInt(maxFiles)).max(BigInt(1)).toInt
    val laid =
      if (sortKeys.isEmpty) df.repartition(files)
      // range partition + in-partition sort: globally ordered layout, so
      // each file covers a disjoint key range (max pruning selectivity)
      else df.repartitionByRange(files, sortKeys: _*).sortWithinPartitions(sortKeys: _*)
    laid.write.mode("overwrite").parquet(path)
    files
  }

  /** IDEMPOTENT partition backfill: overwrite ONLY the hive partitions
    * present in `df`, leaving every other partition untouched — the
    * warehouse maintenance op behind daily re-runs ("recompute 2024-06-01
    * and 2024-06-02, don't touch the other 3 years"). Static overwrite
    * mode would first DELETE the whole table root; the dynamic mode
    * scopes the delete to the partitions the job actually emits, which is
    * what makes a failed backfill re-runnable. The mode is set on the
    * single writer, not the session, so concurrent writers keep their own
    * semantics.
    */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)
    // drop cached plans/data over this path: the overwrite DELETED part
    // files that an already-planned reader would still chase (a reader
    // created after this call re-lists and is fine)
    df.sparkSession.catalog.refreshByPath(path)
  }
}
