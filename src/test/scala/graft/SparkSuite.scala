package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + fixture paths for all suites (one JVM,
  * sequential suites — sbt `Test / fork := true`).
  */
object TestSpark {
  lazy val spark: SparkSession = Engine.session("graft-test", cores = 8)
  val sf0001 = "/root/testdata/sf0.001"
}

/** Collector behind the STREAMING.json conformance artifact: every
  * [[SparkSuite.assertSameRows]] call records the (wave, batch) row-set
  * digests it compared, tagged with the running suite/test — so the
  * driver-readable report carries the actual equivalence evidence, not
  * just scalatest pass booleans. Digest = md5 of the order-insensitive
  * sorted row strings, the same normalization the assertion compares.
  */
object StreamingDigests {
  final case class Entry(suite: String, test: String,
                         left: String, right: String, equal: Boolean)
  val entries = new java.util.concurrent.ConcurrentLinkedQueue[Entry]()
  val currentTest = new scala.util.DynamicVariable[Option[(String, String)]](None)
  def record(left: String, right: String, equal: Boolean): Unit =
    currentTest.value.foreach { case (s, t) =>
      entries.add(Entry(s, t, left, right, equal))
    }
}

trait SparkSuite extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf0001
  def tables: Tables = Tables(spark, sf)

  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    StreamingDigests.currentTest.withValue(
      Some((getClass.getSimpleName, test.name))) {
      try super.withFixture(test)
      finally {
        testDirs.forEach(d => deleteTree(d))
        testDirs.clear()
      }
    }

  private val testDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  // a failed delete must not replace the test's own outcome; it shows as
  // a leftover dir instead
  private def deleteTree(d: java.nio.file.Path): Unit =
    try if (java.nio.file.Files.exists(d)) {
      val w = java.nio.file.Files.walk(d)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally w.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[test] could not delete $d: $e")
    }

  /** A fresh dir in `java.io.tmpdir`, deleted with its contents when the
    * current test ends.
    */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    testDirs.add(d)
    d
  }

  /** A fresh `graft-cp-<name>*` streaming checkpoint dir, deleted with its
    * contents when the current test ends.
    */
  def tempCheckpoint(name: String): String = tempDir(s"graft-cp-$name").toString

  /** All unpartitioned WindowExec nodes in a frame's physical plan —
    * every one is a single-task serialization point, so each occurrence
    * must be over a provably bounded frame (offset tables, band-cut
    * candidate sets); the inventory test enumerates them by query.
    */
  def planWindows(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // AQE wraps executed subtrees in childless QueryStageExec nodes —
    // unwrap both the adaptive root and every stage to see the real
    // tree. persist()ed pins surface as childless InMemoryTableScans
    // whose WORK (including any window) lives in the relation's cached
    // plan — descend into it, or a persisted offsets frame would hide
    // its global window from the inventory entirely.
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case q: QueryStageExec => expand(q.plan)
      case m: InMemoryTableScanExec => p +: expand(m.relation.cachedPlan)
      case _ => p +: p.children.flatMap(expand)
    }
    // dedup by reference: a persisted frame consumed twice in one plan
    // yields two InMemoryTableScans over the SAME cached plan object —
    // one window execution, not two
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[WindowExec, java.lang.Boolean]())
    expand(plan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty && seen.add(w) => w
    }
  }

  def unpartitionedWindows(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] =
    planWindows(df.queryExecution.executedPlan)

  /** True when the window's input chain reaches an aggregate before any
    * join/scan — i.e. the window consumes an aggregate's output (an
    * offset table bounded by its group count), not raw corpus rows.
    */
  def feedsFromAggregate(
      w: org.apache.spark.sql.execution.window.WindowExec): Boolean = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    @annotation.tailrec
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      if (p.getClass.getSimpleName.contains("Aggregate")) true
      else p match {
        case q: QueryStageExec => walk(q.plan)
        case u if u.children.size == 1 => walk(u.children.head)
        case _ => false
      }
    walk(w.child)
  }

  /** Order-insensitive row-set equality with exact cell compare. */
  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val (ra, rb) = (a.collect().toSeq, b.collect().toSeq)
    assert(a.columns.sorted.sameElements(b.columns.sorted),
      s"columns differ: ${a.columns.mkString(",")} vs ${b.columns.mkString(",")}")
    val order = a.columns.sorted.map(c => a.columns.indexOf(c))
    val orderB = a.columns.sorted.map(c => b.columns.indexOf(c))
    val ka = ra.map(r => order.map(i => String.valueOf(r.get(i))).toSeq).sortBy(_.mkString("|"))
    val kb = rb.map(r => orderB.map(i => String.valueOf(r.get(i))).toSeq).sortBy(_.mkString("|"))
    def digest(rows: Seq[Seq[String]]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach(r => md.update((r.mkString("") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      md.digest().map("%02x".format(_)).mkString
    }
    StreamingDigests.record(digest(ka), digest(kb), ka == kb)
    assert(ka == kb, s"row sets differ (${ra.size} vs ${rb.size} rows)")
  }
}
