package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** Bridge into Spark's private[sql] Dataset constructor — the standard
  * extension-library technique for returning a custom logical node (e.g.
  * [[graft.plans.TopKPerKey]]) through the public DataFrame API. The
  * analyzer resolves the node's expressions against its child exactly as
  * it does for built-in nodes, so callers hand in unresolved Columns. */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Lineage cut WITHOUT materialization or row conversion: wrap the
    * frame's InternalRow RDD as a LogicalRDD leaf (stats/constraints
    * carried via LogicalRDD.fromDataset, partitioning/ordering preserved).
    * The iterative-operator replacement for the
    * `createDataFrame(df.rdd, df.schema)` idiom, which paid an
    * InternalRow -> Row -> InternalRow conversion on every downstream read
    * of every round's cache (r16 measurement: the CC round loop's
    * dominant per-row cost). The caller still owns materialization —
    * persist + an action, exactly like before.
    *
    * CONSTRAINT — never persist or collect the wrapped RDD directly: unlike
    * `Dataset.checkpoint`, this does NOT `.map(_.copy())` the rows, and
    * `toRdd` may yield reused UnsafeRow buffers. The current call sites
    * consume the LogicalRDD through RDDScanExec, which projects each row
    * before buffering — safe. A caller that caches or collects the raw RDD
    * itself would silently read corrupted rows. */
  def internalBarrier(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    ofRows(df.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** Eagerly free the storage behind a barrier/internalBarrier result once
    * a loop has superseded it: if the frame's plan is a LogicalRDD leaf,
    * unpersist its backing RDD (non-blocking). For a `localCheckpoint`
    * barrier this drops the round's MEMORY_AND_DISK blocks NOW instead of
    * whenever the ContextCleaner GCs the RDD — long label/contraction loops
    * otherwise hold every superseded round in memory. For a reliable
    * checkpoint the call is a harmless no-op (files are reclaimed on GC
    * under cleanCheckpoints, storage blocks were never used). Safe only on
    * frames no longer referenced — the blocks are gone, and a localCheckpoint
    * cannot recompute. Frees through the context, as the ContextCleaner
    * does, rather than `RDD.unpersist`, which logs a WARN per locally
    * checkpointed RDD — a daemon releasing its barriers every batch would
    * fill its log with them. */
  def releaseBarrier(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.sparkContext.unpersistRDD(l.rdd.id, blocking = false)
      case _ => ()
    }

  /** The RDD ids of every barrier (LogicalRDD) leaf in the frame's plan —
    * lets specs distinguish "the result's own materialized block" from a
    * leaked intermediate when auditing `getPersistentRDDs`. */
  def barrierRddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
}
