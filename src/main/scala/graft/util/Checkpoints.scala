package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Shared checkpoint-root bootstrap for operators that materialize a result
  * OFF their round caches (connected components, PageRank): a reliable
  * checkpoint (files, not block-manager memory) lets every persisted input
  * be freed the moment the result exists, instead of leaking for the life
  * of the session — the difference between a one-shot query and a per-batch
  * daemon that runs the operator forever.
  *
  * On a cluster the deployment sets `spark.sparkContext.setCheckpointDir`
  * to durable storage and this helper never creates anything. In local mode
  * (tests, Verify, Bench) it creates a temp root once per JVM and removes
  * it at exit; [[graft.GraftSession]] sets
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so each call's
  * checkpoint files are reclaimed when its result RDD is GC'd. */
object Checkpoints {

  /** Materialized lineage barrier — the one primitive every iterative
    * operator (PageRank, CC, SCC, k-core, BFS, HITS, the warm-fold states)
    * uses between rounds. Semantics preserved from `checkpoint(eager=true)`:
    * the plan is cut at a LogicalRDD leaf that KEEPS the physical
    * partitioning/ordering, and the materialized blocks/files are reclaimed
    * when the RDD is GC'd (ContextCleaner), so daemons never accumulate
    * state.
    *
    * Mechanism follows the deployment (r16 measurement: reliable
    * checkpoints were 0.7-5.2 s of pure serialize-to-disk-and-read-back
    * per graph query at sf0.1, and every byte of it is waste on a single
    * machine): on a LOCAL master the executor IS the driver JVM, so a
    * reliable file checkpoint survives exactly the failures a
    * localCheckpoint survives (none that matter — losing the executor
    * loses the driver and the job either way) and buys only disk traffic;
    * `localCheckpoint` at `level` is the strictly-better barrier there. On
    * a CLUSTER master it is the reliable file checkpoint (already on disk;
    * `level` does not apply): an iterative job whose lineage is truncated
    * onto executor-local blocks cannot recompute them after an executor
    * loss, and at 100 TB round counts that trade is wrong.
    *
    * `level` is MEMORY_AND_DISK (spill-safe) for node- and doc-sized
    * tables. CORPUS-SCALE pools (exploded gram/posting/bigram tables) pass
    * DISK_ONLY: a big pool held as memory blocks competes with the very
    * joins that consume it under the unified memory manager (r17
    * measurement: q129's 11.5M-row verification join ran ~30% slower with
    * its postings pool squatting in an 8 GiB driver's storage memory than
    * with the same pool on disk). */
  def barrier(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val spark = df.sparkSession
    if (spark.sparkContext.isLocal) df.localCheckpoint(eager = true, level)
    else { ensureDir(spark); df.checkpoint(eager = true) }
  }

  /** `df.barrier()` postfix form of [[barrier]] so operator code keeps the
    * `.checkpoint(eager = true)`-style call shape. */
  implicit class BarrierOps(private val df: DataFrame) extends AnyVal {
    def barrier(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
      Checkpoints.barrier(df, level)
  }

  def ensureDir(spark: SparkSession): Unit =
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(dir.toFile)
      }
      spark.sparkContext.setCheckpointDir(dir.toString)
    }
}
