package graft.streaming

import graft.operators.Similarity
import graft.util.Lsm
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming embedding ingest — the [[DocIngest]] pattern for vectors:
  * a JSONL file-drop of (vec_id, embedding) records, each micro-batch
  * gated (exact re-delivery always; cosine near-dup optionally) and then
  * folded into the at-rest IVF index by [[Similarity.ivfInsert]] under
  * the batch-id-keyed protocol (batch 0 trains the coarse quantizer on
  * itself and swap-commits it; every batch then LSM-appends cell-assigned
  * vectors). The daemon therefore serves fresh ANN top-k
  * ([[Similarity.ivfTopKIndexed]]) at batch cost — one broadcast
  * centroid assignment over the batch, never a corpus re-assignment.
  *
  * With `compactEvery > 0`, every Nth batch also runs
  * [[Similarity.ivfCompact]] inside the same single-writer slot, so
  * per-cell fragment counts stay bounded over an unbounded batch
  * history — the full LSM contract, matching [[DocIngest]]'s index
  * compaction. The exact re-delivery gate rides the per-tree
  * [[graft.util.BloomSidecar]]: an all-novel batch never scans the
  * index's id column. With `pqIndexPath` set the daemon also folds the
  * compressed IVF-PQ twin ([[graft.operators.Pq.ivfPqCommitBatch]])
  * under the same batch id — ADC serving at daemon freshness — ordered
  * PQ-before-IVF so the gate tree's committed marker implies both folds
  * landed. Retrain (`retrainEvery`) repairs quantizer drift on BOTH
  * trees via MVCC version dirs — the serving tree re-assigns
  * ([[Similarity.ivfRetrain]]), the compressed twin re-trains its
  * codebooks and re-encodes from the serving tree's vectors
  * ([[graft.operators.Pq.ivfPqRetrain]]); readers stay
  * snapshot-consistent ([[Similarity.ivfRoot]], [[graft.operators.Pq.ivfPqRoot]]).
  *
  * Crash posture: file-source offsets checkpoint the stream; a replayed
  * batch re-delivers the same rows, [[commitEmbBatch]] no-ops on a
  * committed batch id and sweeps + redoes a crashed one. Single writer
  * by the checkpoint's exclusivity.
  */
object EmbIngest {

  /** JSONL embedding-event schema for the file drop. */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Commit one embedding micro-batch idempotently — the vector edition
    * of [[DocIngest.commitDocBatch]], sharing its [[DocIngest.BatchResult]]
    * audit record. Gate order per batch:
    *   1. duplicate vec_id rows collapse deterministically (min embedding);
    *   2. vec_ids already stored by an EARLIER batch drop (re-delivery);
    *   3. with `dedupThreshold` set, cosine near-dups drop — within the
    *      batch (higher id of each [[Similarity.embNearDupWithin]] pair)
    *      and against the index ([[Similarity.embNearDupAgainstIndex]]);
    *   4. survivors fold via [[Similarity.ivfInsert]] (meta marker commits
    *      last, so the fold is the idempotence point).
    *
    * CRASH/RETRY — the fold's batch-id protocol, extended over the gate:
    * a committed batch id no-ops at entry; an uncommitted retry FIRST
    * sweeps its own crashed partial move ([[Lsm.sweepMarked]]) so the
    * gate's re-delivery and near-dup probes never see the first
    * attempt's partial files — the gate recomputation is then a
    * deterministic function of the batch and the pre-batch tree, and the
    * redone fold admits the same set. Cold start (no centroid table)
    * trains on the deduplicated batch and swap-commits the centroids
    * BEFORE any assignment, the [[Similarity.ivfCommitBatch]] argument. */
  def commitEmbBatch(spark: SparkSession, indexPath: String, batch: DataFrame,
      batchId: Long, nlist: Int = 16, dim: Int = 64,
      dedupThreshold: Option[Double] = None, nprobe: Int = 2,
      compactEvery: Int = 0, retrainEvery: Int = 0,
      pqIndexPath: Option[String] = None, pqM: Int = 8, pqKsub: Int = 16,
      pqResidual: Boolean = true,
      maxNlist: Int = 4096): DocIngest.BatchResult = {
    val scope = new BatchScope(spark, batchId)
    import scope.{cut, none}
    // committed no-op, or sweep this batch's own partial move BEFORE the
    // gate probes the tree (ivfInsert re-sweeps; harmless)
    val (committed, root) = scope.enterIvfTree(indexPath)
    if (committed) {
      System.err.println(s"[embingest] batch $batchId: already committed")
      return DocIngest.BatchResult(0, 0, 0, 0)
    }
    // id-sidecar entry (recovery + own-marker sweep) — lives at the tree
    // top, not the version root: the admitted-id SET is retrain-invariant
    graft.util.IdTree.enterBatch(spark, indexPath, batchId)
    try {
      val uniq = cut(batch.groupBy("vec_id")
        .agg(min(col("embedding")).as("embedding")))
      // an empty drop must not train (see BatchScope.trainIfCold)
      if (uniq.count() == 0L) {
        System.err.println(s"[embingest] batch $batchId: empty drop, skipped")
        return DocIngest.BatchResult(0, 0, 0, 0)
      }
      scope.trainIfCold(indexPath, root, uniq, nlist, dim)
      // DATA-file probe, not dir existence: a crashed first fold's sweep
      // leaves empty cid= dirs behind, and a bare-dir read would throw
      // "unable to infer schema" on every retry, wedging the daemon
      val indexExists = Lsm.hasBucketData(Lsm.fs(spark, indexPath),
        new Path(s"$root/vectors"))
      def storedIds = spark.read.parquet(s"$root/vectors")
        .select(col("vec_id")).distinct()
      val redelivered = scope.redeliveredIds(uniq, indexPath, "vec_id",
        indexExists, storedIds)
      val (withinDrops, indexDrops) = dedupThreshold match {
        case Some(t) =>
          val (w, i) = scope.cosinePairs(indexPath, root, uniq, t, nprobe)
          (cut(w.select(col("b_id").as("vec_id")).distinct()),
            cut(i.select(col("a_id").as("vec_id")).distinct()))
        case None =>
          val noIds = none(uniq.select("vec_id"))
          (noIds, noIds)
      }
      val admitted = cut(uniq.join(
        withinDrops.union(indexDrops).union(redelivered).distinct(),
        Seq("vec_id"), "left_anti"))
      val nAdmitted = admitted.count()
      // Compressed twin folds FIRST (SCALING deferred #10 closed): the
      // gate above reads only the uncompressed tree, so "IVF meta
      // committed" must imply "PQ fold committed" for the entry's
      // committed no-op to be safe. A crash between the two folds then
      // replays into a gate recomputation against the pre-batch serving
      // tree (identical admitted set), a PQ no-op on its own marker, and
      // a redone IVF fold. The PQ quantizer cold-trains on the whole
      // deduplicated drop (the uncompressed tree's centroid contract) but
      // folds only the admitted set, under the SAME batch id.
      // sidecars fold FIRST of all, before the meta marker (the
      // BloomSidecar ordering contract); a legacy tree bootstraps them from
      // the full id scan here
      scope.foldSidecars(indexPath, admitted, "vec_id", indexExists, storedIds)
      pqIndexPath.foreach { p =>
        graft.operators.Pq.ivfPqCommitBatch(spark, p, admitted, batchId,
          nlist = nlist, m = pqM, ksub = pqKsub, dim = dim,
          residual = pqResidual, trainOn = Some(uniq))
      }
      Similarity.ivfInsert(spark, indexPath, admitted, batchId)
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
        Similarity.ivfCompact(spark, indexPath)
        pqIndexPath.foreach(graft.operators.Pq.ivfPqCompact(spark, _))
        // id-sidecar fragments merge in the same slot (this batch's meta
        // committed just above, so batchId is a safe sweep bound)
        graft.util.IdTree.compact(spark, indexPath, batchId)
        scope.rebuildBloom(indexPath, "vec_id", storedIds)
      }
      // periodic drift repair in the same single-writer slot: retrain the
      // coarse quantizer on everything served and re-assign (the fold's
      // frozen-centroid contract made whole); last_batch carries forward,
      // so a replay of THIS batch after the retrain still no-ops. The PQ
      // twin retrains alongside — quantizer AND codebooks re-trained and
      // every vector re-encoded from the serving tree's vector table
      // (both trees hold the same vec_id set here: both folds committed
      // above, PQ first) under the same MVCC version-dir protocol, so
      // ADC recall no longer decays unrepaired on a drifting corpus.
      // nlist tracks the served corpus at each retrain (√n rule, floored
      // at the configured value, capped at maxNlist): a frozen nlist on a
      // growing corpus densifies every cell linearly, growing every
      // cell-local gate/probe candidate set with corpus/nlist — adaptive
      // sizing keeps occupancy ~√n through unbounded growth. Counted on
      // the pre-retrain root (same vec_id set the retrain re-assigns).
      if (retrainEvery > 0 && batchId > 0 && batchId % retrainEvery == 0) {
        val nServed = spark.read
          .parquet(s"${Similarity.ivfRoot(spark, indexPath)}/vectors")
          .count()
        val nl = Similarity.adaptiveNlist(nServed, nlist, maxNlist)
        if (nl != nlist)
          System.err.println(s"[embingest] batch $batchId: retrain nlist " +
            s"$nlist -> $nl (served=$nServed)")
        Similarity.ivfRetrain(spark, indexPath, nl, dim)
        pqIndexPath.foreach { p =>
          val served = spark.read
            .parquet(s"${Similarity.ivfRoot(spark, indexPath)}/vectors")
            .select(col("vec_id"), col("embedding"))
          graft.operators.Pq.ivfPqRetrain(spark, p, served,
            nlistOverride = Some(nl))
        }
      }
      val r = DocIngest.BatchResult(nAdmitted,
        withinDrops.count(), indexDrops.count(), redelivered.count())
      System.err.println(s"[embingest] batch $batchId: admitted=${r.admitted} " +
        s"dropped_within=${r.droppedWithinBatch} " +
        s"dropped_vs_index=${r.droppedVsIndex} " +
        s"dropped_redelivered=${r.droppedRedelivered}")
      r
    } finally scope.close()
  }

  /** Start the streaming fold: JSONL drops -> per-batch gated commit.
    * With `pqIndexPath` set the daemon maintains the compressed (IVF-PQ)
    * twin alongside the serving tree — ADC top-k at daemon freshness. */
  def start(spark: SparkSession, inputDir: String, checkpointDir: String,
      indexPath: String, nlist: Int = 16, dim: Int = 64,
      dedupThreshold: Option[Double] = None, nprobe: Int = 2,
      compactEvery: Int = 0, retrainEvery: Int = 0,
      pqIndexPath: Option[String] = None, pqM: Int = 8, pqKsub: Int = 16,
      pqResidual: Boolean = true, maxNlist: Int = 4096,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    spark.readStream.schema(embSchema).json(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitEmbBatch(spark, indexPath, batch, batchId, nlist = nlist,
          dim = dim, dedupThreshold = dedupThreshold, nprobe = nprobe,
          compactEvery = compactEvery, retrainEvery = retrainEvery,
          pqIndexPath = pqIndexPath, pqM = pqM, pqKsub = pqKsub,
          pqResidual = pqResidual, maxNlist = maxNlist)
        ()
      }
      .start()
}
