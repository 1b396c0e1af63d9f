package graft

import org.apache.spark.sql.DataFrame

/** Lineage-truncation barrier with a cluster-mode switch.
  *
  * Every iterative or multi-consumer plan in the engine (connected
  * components, PageRank, the L0 curation pipeline, the shared simJoin
  * parts, distributedRank's range-partitioned input, …) must materialize
  * an intermediate frame: without a barrier the lineage re-executes under
  * every consumer and grows unboundedly across loop rounds. The barrier
  * has two faithful implementations:
  *
  *  - `localCheckpoint()` (the default): blocks pinned on executors, no
  *    distributed-FS round trip — the right local/dev posture, and fine
  *    on a cluster for re-derivable intermediates, EXCEPT that losing an
  *    executor loses its blocks and fails the job (lineage is truncated,
  *    so there is nothing to recompute from).
  *  - reliable `checkpoint()`: files under a distributed-FS directory —
  *    survives executor loss, the posture for long multi-hour 100 TB runs
  *    where the probability of losing at least one executor approaches 1.
  *
  * Setting `spark.graft.checkpoint.dir` (a runtime conf, no code change:
  * `spark.conf.set("spark.graft.checkpoint.dir", "hdfs://…/ckpt")` or
  * `--conf` at submit) flips EVERY materialization site in the engine
  * from the first form to the second. CheckpointSpec runs the heavy
  * iterative operators under both paths and pins identical results.
  */
object Ckpt {
  val DirKey = "spark.graft.checkpoint.dir"

  implicit final class GraftMaterializeOps(private val df: DataFrame) extends AnyVal {
    /** Eagerly materialize `df` and truncate its lineage — local blocks by
      * default, reliable checkpoint files when [[DirKey]] is set.
      *
      * `large = true` declares the frame a scale-proportional
      * intermediate (the 100× simJoin rep/pair/token frames): its blocks
      * are pinned SERIALIZED (MEMORY_AND_DISK_SER), so unrolling never
      * competes for heap as Java objects with the stage computing it —
      * measured as spurious executor OOMs on an 8 GiB local heap while
      * the serialized footprint was ~1 GB — and pressure SPILLS to disk
      * (a disk-backed level migrates evicted blocks, never drops them,
      * so lineage truncation stays safe; only executor loss loses
      * blocks, which the reliable-checkpoint branch covers). The
      * default stays Spark's deserialized MEMORY_AND_DISK because the
      * iterative consumers (connected components, PageRank, triangles)
      * RE-READ their barrier every round and a serialized level taxes
      * every re-read with deserialization — a blanket SER/DISK_ONLY cut
      * measured 2–14× on the barrier-heavy fixture queries
      * (g2_triangles 0.6→8.1 s, l9_fuzzy_decontam 1.2→4.9 s).
      */
    def materialize(large: Boolean = false): DataFrame = {
      val spark = df.sparkSession
      spark.conf.getOption(DirKey).map(_.trim).filter(_.nonEmpty) match {
        case Some(dir) =>
          val sc = spark.sparkContext
          // setCheckpointDir appends a fresh UUID subdirectory per call —
          // set it only when unset or pointed somewhere else, so one run's
          // checkpoints share a directory
          if (!sc.getCheckpointDir.exists(_.contains(dir.stripSuffix("/"))))
            sc.setCheckpointDir(dir)
          df.checkpoint()
        case None =>
          if (large)
            df.localCheckpoint(true,
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          else df.localCheckpoint()
      }
    }

    /** Free the blocks of a leaf that [[materialize]] made, once nothing
      * will read it again (a later read fails with
      * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). `unpersist` cannot do this: a
      * checkpointed frame is not in Spark's CacheManager, so it releases
      * nothing. Any frame whose analyzed root is not a checkpointed
      * `LogicalRDD` is left alone, so a caller's cache is never dropped.
      */
    def release(): Unit = df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD if r.rdd.isCheckpointed =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }
}
