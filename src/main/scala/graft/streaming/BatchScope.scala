package graft.streaming

import graft.operators.Similarity
import graft.util.{BloomSidecar, Checkpoints, IdTree, Lsm}
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import scala.collection.mutable

/** The batch protocol the three ingest daemons ([[DocIngest]],
  * [[EmbIngest]], [[MediaIngest]]) share: one scope per micro-batch that
  * owns what the batch materializes, and the gate and sidecar policies
  * every daemon runs against its at-rest tree.
  *
  * Frames: lineage is cut at every gate frame. [[cut]] materializes a
  * frame behind [[Checkpoints.barrier]] as it is built, so every later
  * query plans over a handful of small leaves instead of re-deriving (and
  * re-analysing) the batch's whole gate history; a gate that does not run
  * yields [[none]], an empty local frame with no job. [[close]] frees every
  * barrier and the Bloom probe's broadcast; the daemons call it in a
  * `finally`, so a failed batch (which the streaming engine retries) leaks
  * no blocks into the block manager for the daemon's lifetime.
  *
  * `phaseWalls` (operational telemetry, None in production): when set,
  * each [[phase]]'s wall seconds accumulate into the map under a stable
  * key. Every barrier runs inside its phase and the telemetry only reads
  * the clock, so the phase walls time the same jobs and plans that run
  * untraced. */
final class BatchScope(spark: SparkSession, batchId: Long,
    phaseWalls: Option[mutable.Map[String, Double]] = None) {
  private val barriers = mutable.ArrayBuffer[DataFrame]()
  private val broadcasts = mutable.ArrayBuffer[Broadcast[_]]()

  /** `df` materialized, its lineage cut; freed by [[close]]. */
  def cut(df: DataFrame): DataFrame = {
    val m = Checkpoints.barrier(df)
    barriers += m
    m
  }

  /** A gate that does not run: no rows, no lineage, no job. */
  def none(like: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), like.schema)

  def phase[T](name: String)(f: => T): T = phaseWalls match {
    case Some(m) =>
      val t0 = System.nanoTime()
      val r = f
      m(name) = m.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      r
    case None => f
  }

  /** Re-delivery gate: the ids of `batch` (one row per id) that an EARLIER
    * batch already stored in the tree at `treePath`. Bloom-negative ids
    * are definitely novel (the sidecar folds before every tree commit, see
    * [[foldSidecars]]), so an all-novel batch never touches the stored
    * ids. Positives verify against the bucketed id sidecar, partition-
    * pruned to the positives' hash buckets; the caller's entry sweep
    * ([[IdTree.enterBatch]]) has removed this batch's own first-attempt
    * ids there. A tree without the id sidecar falls back to `storedIds`,
    * and one without the Bloom sidecar scans it for the whole batch: the
    * caller's `storedIds` must exclude this batch's own first attempt, so
    * a replayed batch reconverges instead of anti-joining itself away. */
  def redeliveredIds(batch: DataFrame, treePath: String, idCol: String,
      indexExists: Boolean, storedIds: => DataFrame): DataFrame = {
    val noIds = none(batch.select(idCol))
    if (!indexExists) noIds
    else BloomSidecar.read(spark, treePath) match {
      case Some(bits) =>
        val filter = BloomSidecar.broadcast(spark, bits)
        broadcasts += filter
        val positives = batch.filter(BloomSidecar.probe(filter, col(idCol)))
          .select(idCol).distinct()
        if (positives.isEmpty) noIds
        else if (IdTree.exists(spark, treePath))
          cut(IdTree.verify(spark, treePath, positives, idCol))
        else cut(positives.join(storedIds, Seq(idCol), "left_semi"))
      case None => cut(batch.join(storedIds, Seq(idCol), "left_semi")
        .select(idCol).distinct())
    }
  }

  /** Folds the batch's admitted ids into the tree's Bloom sidecar, then its
    * id sidecar — both BEFORE the tree's own commit point (the
    * [[BloomSidecar]] ordering contract: a crash after leaves the Bloom a
    * harmless superset, and the entry sweep restores the id sidecar's
    * exactness on replay). A tree without the sidecars adopts them from
    * `storedIds`, its full stored-id frame, read only then: the one-time
    * bootstrap pass. A cold tree (`indexExists` false) adopts nothing. */
  def foldSidecars(treePath: String, admitted: DataFrame, idCol: String,
      indexExists: Boolean, storedIds: => DataFrame): Unit = {
    val ids = admitted.select(idCol)
    def stored = if (indexExists) storedIds else none(ids)
    BloomSidecar.fold(spark, treePath, ids, idCol, batchId, storedIds = stored)
    IdTree.fold(spark, treePath, ids, idCol, batchId, storedIds = stored)
  }

  /** Maintenance-slot saturation repair: re-create the Bloom sidecar with
    * fresh headroom (no work at or below half fill, see
    * [[BloomSidecar.rebuild]]). The ids come from the compacted id sidecar
    * when present (one column, strictly cheaper), else from `allIds`, the
    * tree's full id scan including this batch. */
  def rebuildBloom(treePath: String, idCol: String, allIds: => DataFrame): Unit =
    BloomSidecar.rebuild(spark, treePath,
      if (IdTree.exists(spark, treePath)) IdTree.readAll(spark, treePath, idCol)
      else allIds,
      idCol, batchId)

  /** IVF-tree entry for the cosine gate and the fold: retrain-aware
    * recovery (a raw `recoverSwap("centroids")` would sweep a crashed
    * post-marker retrain's staged twin as debris), the shared batch entry,
    * and the versioned root, resolved once for the batch (single writer:
    * no retrain can race it). An uncommitted retry sweeps its own partial
    * move at the resolved root BEFORE the gate probes the tree, so the
    * gate is a function of the batch and the pre-batch tree only.
    * Returns whether this batch id already committed, and the root. */
  def enterIvfTree(treePath: String): (Boolean, String) = {
    val fs = Lsm.fs(spark, treePath)
    Similarity.recoverIvfTree(spark, treePath)
    val committed = Lsm.enterBatch(spark, fs, treePath, batchId).alreadyCommitted
    val root = Similarity.ivfRoot(spark, treePath)
    if (!committed) Lsm.sweepMarked(fs, new Path(s"$root/vectors"), s"b$batchId-")
    (committed, root)
  }

  /** Cold start (no centroid table at the resolved root, which is then
    * `treePath` itself): train the coarse quantizer on `vecs` and
    * swap-commit it BEFORE any assignment, the
    * [[Similarity.ivfCommitBatch]] argument. Callers skip an empty batch:
    * an EMPTY centroid table would make every later batch assign against
    * nothing and silently fold zero rows forever. */
  def trainIfCold(treePath: String, root: String, vecs: DataFrame,
      nlist: Int, dim: Int): Unit = {
    val fs = Lsm.fs(spark, treePath)
    if (!fs.exists(new Path(s"$root/centroids"))) {
      Similarity.ivfCentroids(vecs, nlist, dim).write.mode("overwrite")
        .parquet(Lsm.stagedPath(treePath, "centroids", batchId))
      Lsm.commitSwap(fs, treePath, "centroids", batchId)
    }
  }

  /** Cosine gate over `vecs` (vec_id, embedding; one row per vec_id):
    * cell-local near-dup pairs (a_id, b_id) at `threshold` within the
    * batch ([[Similarity.embNearDupWithin]], drop b_id) and against the
    * stored vectors ([[Similarity.embNearDupAgainstIndex]], drop a_id),
    * each materialized. Needs the centroids ([[trainIfCold]]). */
  def cosinePairs(treePath: String, root: String, vecs: DataFrame,
      threshold: Double, nprobe: Int): (DataFrame, DataFrame) = {
    val probes = cut(Similarity.ivfProbes(vecs,
      spark.read.parquet(s"$root/centroids"), nprobe))
    val within = cut(Similarity.embNearDupWithin(probes, threshold)
      .select(col("a_id"), col("b_id")))
    // DATA-file probe, not dir existence: a crashed first fold's sweep
    // leaves empty cid= dirs behind that would wedge a bare read
    val vsIndex =
      if (Lsm.hasBucketData(Lsm.fs(spark, treePath), new Path(s"$root/vectors")))
        cut(Similarity.embNearDupAgainstIndex(spark, treePath, probes, threshold)
          .select(col("a_id"), col("b_id")))
      else none(within)
    (within, vsIndex)
  }

  /** Frees every barrier and broadcast the batch made. */
  def close(): Unit = {
    barriers.foreach(DatasetBridge.releaseBarrier)
    broadcasts.foreach(_.destroy())
  }
}
