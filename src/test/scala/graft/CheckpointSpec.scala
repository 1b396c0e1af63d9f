package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._

/** The `spark.graft.checkpoint.dir` switch (see [[graft.Ckpt]]): one
  * runtime conf flips every lineage-truncation site in the engine from
  * localCheckpoint (executor-pinned blocks, the local/dev posture) to
  * reliable checkpoint files (the executor-loss-safe posture for
  * multi-hour 100 TB runs). Both paths must produce identical results on
  * the iterative operators that depend on the barrier.
  *
  * Also the streaming checkpoint file manager the engine's session
  * registers ([[graft.streaming.LocalCheckpointFileManager]]): its atomic
  * commit contract, and files left by Spark's stock manager.
  */
class CheckpointSpec extends SparkSuite {
  import TestSpark.spark.implicits._
  import graft.operators.{Dedup, Graph}

  test("reliable-checkpoint path == localCheckpoint path on the iterative operators, files land under the dir") {
    val seqIds = (1L to 12L)
    val ids = spark.range(1, 13).select(col("id").as("doc_id"))
    val pairs = seqIds.dropRight(1).map(i => (i, i + 1))
      .toDF("a_id", "b_id") // a chain: exercises multiple propagation rounds
    // default path first (flag unset)
    assert(spark.conf.getOption(Ckpt.DirKey).isEmpty)
    val ccLocal = Dedup.connectedComponents(ids, pairs).collect().toSet
    val prLocal = Graph.g1PageRank(spark, sf).collect().toSet
    val pdLocal = Graph.g1PageRankDangling(spark, sf).collect().toSet
    val dir = tempDir("graft-reliable-ckpt").toString
    spark.conf.set(Ckpt.DirKey, dir)
    try {
      val ccReliable = Dedup.connectedComponents(ids, pairs).collect().toSet
      assert(ccReliable == ccLocal)
      val prReliable = Graph.g1PageRank(spark, sf).collect().toSet
      assert(prReliable == prLocal)
      val pdReliable = Graph.g1PageRankDangling(spark, sf).collect().toSet
      assert(pdReliable == pdLocal)
      // the reliable path genuinely wrote checkpoint files under the dir
      // (rdd-<id> directories), proving the switch took effect
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-"))
        .count()
      assert(files > 0, s"no reliable checkpoint files under $dir")
    } finally spark.conf.unset(Ckpt.DirKey)
    // and unsetting restores the local path (no new files appear)
    val before = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).count()
    Dedup.connectedComponents(ids, pairs).collect()
    val after = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).count()
    assert(after == before, "flag unset but reliable checkpoints still written")
  }

  private def manager(dir: String): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir), spark.sessionState.newHadoopConf())

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    try {
      out.write(text.getBytes(UTF_8))
      out.close()
    } catch { case e: Throwable => out.cancel(); throw e }
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("the engine session's streaming checkpoints go through the nio file manager") {
    assert(manager(tempDir("graft-cpm").toString).isInstanceOf[LocalCheckpointFileManager])
  }

  test("nio file manager: no-overwrite commit onto an existing file fails and keeps its bytes") {
    val dir = tempDir("graft-cpm")
    val fm = manager(dir.toString)
    val p = new Path(dir.toUri.toString, "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(read(fm, p) == "first")
    // overwrite replaces, and neither path leaves a temp file behind
    write(fm, p, "third", overwrite = true)
    assert(read(fm, p) == "third")
    assert(fm.list(new Path(dir.toUri.toString), (_: Path) => true)
      .map(_.getPath.getName).toSeq == Seq("0"))
  }

  test("nio file manager: cancel() leaves neither the file nor a temp file") {
    val dir = tempDir("graft-cpm")
    val fm = manager(dir.toString)
    val out = fm.createAtomic(new Path(dir.toUri.toString, "1"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(Files.list(dir).count() == 0L)
  }

  test("nio file manager overwrites a file the stock manager wrote, dropping its stale .crc") {
    val dir = tempDir("graft-cpm")
    val p = new Path(dir.toUri.toString, "1.delta")
    val stock = new FileContextBasedCheckpointFileManager(p, spark.sessionState.newHadoopConf())
    write(stock, p, "stock bytes", overwrite = true)
    assert(Files.exists(dir.resolve(".1.delta.crc")), "stock manager wrote no .crc sidecar")
    val fm = manager(dir.toString)
    write(fm, p, "replayed, longer bytes", overwrite = true)
    assert(!Files.exists(dir.resolve(".1.delta.crc")))
    // Spark's FileSystem-based manager verifies a sidecar when one is
    // present: a stale one would fail this read with a ChecksumException
    val verifying = new FileSystemBasedCheckpointFileManager(p, spark.sessionState.newHadoopConf())
    assert(read(verifying, p) == "replayed, longer bytes")
    assert(read(fm, p) == "replayed, longer bytes")
  }
}
