package graft.util

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-tree Bloom sidecar over the ids an at-rest index has admitted —
  * the re-delivery gate's fast path. Each daemon batch must drop ids the
  * tree already stores; the exact check is an id-column scan of the
  * index (column-pruned, but still O(corpus ids) per batch — the cost
  * VERDICT r11 flagged past ~10⁹ ids). The sidecar bounds it: the gate
  * probes the batch against the filter FIRST (a narrow batch-sized
  * filter — no join, no index touch) and runs the exact scan only when
  * at least one id is bloom-positive, verifying exactly those
  * candidates. An all-novel batch — the steady-state case for an
  * append-only ingest — never touches the index's id column at all.
  *
  * Correctness hinges on no-false-negatives, so the fold ORDER is part
  * of the contract: the sidecar commits BEFORE the tree fold in every
  * daemon batch. A crash between the two leaves the bloom a SUPERSET of
  * the stored ids — its extra positives just trigger the exact scan
  * (which finds nothing and drops nothing); the reverse order would
  * leave stored ids the bloom misses, and a later re-delivery of those
  * would skip the scan and admit a duplicate. Folding is idempotent
  * (set bits), so a replayed batch re-folds harmlessly.
  *
  * Layout: `<tree>/bloom/` — one parquet row (expected_items, fpp,
  * bits), replaced via [[Lsm]] protocol-1 swap keyed by batch id.
  * Capacity: `expectedItems`/`fpp` fix the bit size at creation (merges
  * require it); [[rebuild]] re-creates from the tree's full id scan with
  * ≥2× headroom — run it at compaction cadence once inserted volume
  * approaches capacity, since a saturated filter degrades to fpp→1
  * (every batch scans — correct, just slow). The filter reaches the
  * executors as a broadcast (see [[probe]]), so its size costs driver and
  * executor memory once per batch and never enters a query plan; at 1%
  * fpp it is ~1.2 bytes per id (600 KB for the 500k default, ~6 MB for
  * 5M ids). Past what a broadcast should carry, shard trees or raise fpp —
  * the probe stays correct at any fpp, only the scan-skip rate decays.
  *
  * Probe plumbing: ids go in raw via putLong (the distributed
  * `stat.bloomFilter` aggregate on the long id column) and are tested
  * with `mightContainLong(id)` — the same hashing Spark's own
  * `BloomFilterMightContain` runtime filter uses — in a UDF that reads the
  * deserialized filter from the broadcast. That expression would instead
  * carry the serialized filter as a binary literal in every plan built
  * over the probed frame, and the driver hashes, compares and prints that
  * literal on every analysis and explain.
  */
object BloomSidecar {

  private def dir(treePath: String) = s"$treePath/bloom"

  /** The serialized filter, or None when the tree predates the sidecar
    * (callers then fall back to the exact scan unconditionally and
    * [[fold]] bootstraps the sidecar from the full stored-id frame). */
  def read(spark: SparkSession, treePath: String): Option[Array[Byte]] =
    storedRow(spark, treePath).map(_.getAs[Array[Byte]]("bits"))

  /** The stored filter, deserialized once and shipped once per executor.
    * The caller owns it: `destroy()` it when the frames that probe it are
    * done (a daemon batch does so in its `finally`); one left alone is
    * reclaimed by the ContextCleaner once no plan references it. */
  def broadcast(spark: SparkSession, filterBytes: Array[Byte]): Broadcast[BloomFilter] =
    spark.sparkContext.broadcast(
      BloomFilter.readFrom(new java.io.ByteArrayInputStream(filterBytes)))

  /** `true` iff `key` (a long id column) is PROBABLY in the filter — no
    * false negatives by Bloom construction + the fold-first commit order.
    * Null keys probe to null (a filter drops them). Apply it to the batch
    * side only. */
  def probe(filter: Broadcast[BloomFilter], key: Column): Column =
    udf((id: Long) => filter.value.mightContainLong(id))
      .withName("bloom_might_contain")(key.cast("long"))

  /** [[probe]] over a broadcast of `filterBytes` that the ContextCleaner
    * reclaims (see [[broadcast]]). */
  def probe(filterBytes: Array[Byte], key: Column): Column =
    probe(broadcast(SparkSession.active, filterBytes), key)

  /** The stored sidecar row after crash recovery, or None when the tree
    * has no sidecar. */
  private def storedRow(spark: SparkSession, treePath: String): Option[Row] = {
    val fs = Lsm.fs(spark, treePath)
    Lsm.recoverSwap(fs, treePath, "bloom")
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir(treePath)))) None
    else Some(spark.read.parquet(dir(treePath)).collect()(0))
  }

  /** The row's tracked id count; -1 (unknown) on a pre-counter row. */
  private def nItems(row: Row): Long =
    if (row.schema.fieldNames.contains("n_items")) row.getAs[Long]("n_items")
    else -1L

  private def build(ids: DataFrame, idCol: String, expectedItems: Long,
      fpp: Double): BloomFilter = {
    // distributed aggregate (per-partition filters OR-merged), never a
    // driver-side id loop. Spark's stat.bloomFilter NPEs on an EMPTY
    // frame (null aggregate buffer) — an all-dropped batch folds the
    // empty filter at the same capacity instead (bit-size compatible).
    val prepared = ids.select(col(idCol).cast("long").as("id"))
    if (prepared.isEmpty) BloomFilter.create(expectedItems, fpp)
    else prepared.stat.bloomFilter("id", expectedItems, fpp)
  }

  private def write(spark: SparkSession, treePath: String, f: BloomFilter,
      expectedItems: Long, fpp: Double, batchId: Long,
      nItems: Long, countedBatch: Long): Unit = {
    import spark.implicits._
    val bos = new java.io.ByteArrayOutputStream()
    f.writeTo(bos)
    val fs = Lsm.fs(spark, treePath)
    // counted_batch = the highest batch id folded into n_items, so a
    // crashed batch's replay can skip the re-count (see fold) and the
    // counter stays EXACT under retries instead of a drifting upper
    // bound. Threaded separately from batchId: a skipped replay must not
    // LOWER the stored watermark back to its own id.
    Seq((expectedItems, fpp, nItems, countedBatch, bos.toByteArray))
      .toDF("expected_items", "fpp", "n_items", "counted_batch", "bits")
      .write.mode("overwrite")
      .parquet(Lsm.stagedPath(treePath, "bloom", batchId))
    Lsm.commitSwap(fs, treePath, "bloom", batchId)
  }

  /** Saturation telemetry: (capacity, inserted, fill-ratio) of the stored
    * sidecar, or None when the tree has none. `inserted` is the id count
    * tracked across folds ([[rebuild]] resets it exactly; a pre-r13
    * sidecar without the counter reads as -1/unknown until its first
    * rebuild). A fill ratio past 1.0 means fpp has decayed beyond its
    * contract and the gate is degrading toward scan-always — rebuild. */
  final case class Stats(capacity: Long, inserted: Long, fpp: Double) {
    def fill: Double = if (capacity <= 0) Double.NaN
      else inserted.toDouble / capacity
  }
  def stats(spark: SparkSession, treePath: String): Option[Stats] = {
    val fs = Lsm.fs(spark, treePath)
    // READ-ONLY swap resolution: stats is a telemetry path a monitor may
    // call beside a live writer, so it must not run Lsm.recoverSwap (a
    // MUTATING protocol-1 recovery — renaming/deleting a staged twin out
    // from under a writer mid-commitSwap). Resolve the same crash states
    // without touching the tree: live dir wins; a missing live dir with
    // BOTH twins reads the staged one (complete by protocol — the old
    // twin proves commitSwap started); old-twin-only reads the old one;
    // staged-only is a possibly-partial cold-start write → absent.
    def twins(prefix: String): Seq[org.apache.hadoop.fs.Path] =
      if (!fs.exists(new org.apache.hadoop.fs.Path(treePath))) Seq.empty
      else fs.listStatus(new org.apache.hadoop.fs.Path(treePath))
        .map(_.getPath).filter(_.getName.startsWith(prefix)).toSeq
    def resolved: Option[String] =
      if (fs.exists(new org.apache.hadoop.fs.Path(dir(treePath))))
        Some(dir(treePath))
      else {
        val staged = twins("bloom_staged_b")
        val old = twins("bloom_old_b")
        if (staged.nonEmpty && old.nonEmpty) Some(staged.head.toString)
        else old.headOption.map(_.toString)
      }
    def readStats(p: String): Stats = {
      val row = spark.read.parquet(p).collect()(0)
      val n = if (row.schema.fieldNames.contains("n_items"))
        row.getAs[Long]("n_items") else -1L
      Stats(row.getAs[Long]("expected_items"), n, row.getAs[Double]("fpp"))
    }
    // TOCTOU: a concurrent writer's commitSwap can rename the resolved
    // dir away between the exists() probe and the parquet read. One
    // re-resolve retries against the post-swap layout; a second miss
    // (another swap mid-retry, or a cold tree) reads as absent rather
    // than throwing from a monitor-safe telemetry path.
    resolved.flatMap { p =>
      try Some(readStats(p))
      catch { case _: Throwable =>
        resolved.flatMap(p2 =>
          try Some(readStats(p2)) catch { case _: Throwable => None })
      }
    }
  }

  /** One telemetry line per fold — a saturating sidecar must be visible
    * in the daemon log BEFORE it silently degrades to scan-always. */
  private def logFill(treePath: String, batchId: Long, cap: Long,
      inserted: Long): Unit = {
    val fill = if (cap > 0 && inserted >= 0)
      f"${inserted.toDouble / cap}%.3f" else "unknown"
    val warn = if (inserted > cap)
      " SATURATED (fpp past contract — rebuild at next maintenance slot)"
    else ""
    System.err.println(s"[bloom] $treePath batch=$batchId " +
      s"inserted=$inserted capacity=$cap fill=$fill$warn")
  }

  /** Fold a batch's admitted ids into the sidecar (call BEFORE the tree
    * fold — see the class contract). Absent sidecar: bootstrap from
    * `storedIds` (the tree's full id frame — pass the empty frame on a
    * cold tree) plus the batch, so a legacy tree adopts the sidecar
    * without false negatives — sized like [[rebuild]], ≥2× the adopted
    * id count over the `expectedItems` floor (the r15 GateLadder catch:
    * a fixed bootstrap capacity adopted a 500k-doc legacy tree already
    * SATURATED — fill 1.0 from its first batch). Present sidecar: merge
    * a batch-built filter at the STORED capacity (bit-size
    * compatibility). */
  def fold(spark: SparkSession, treePath: String, newIds: DataFrame,
      idCol: String, batchId: Long, storedIds: => DataFrame,
      expectedItems: Long = 500000L, fpp: Double = 0.01): Unit = {
    storedRow(spark, treePath) match {
      case None =>
        val all = storedIds.select(col(idCol)).unionByName(newIds.select(col(idCol)))
          .distinct()
        val n = all.count()
        val cap = math.max(expectedItems, 2 * n)
        write(spark, treePath, build(all, idCol, cap, fpp),
          cap, fpp, batchId, n, batchId)
        logFill(treePath, batchId, cap, n)
      case Some(meta) =>
        val (cap, p) = (meta.getAs[Long]("expected_items"),
          meta.getAs[Double]("fpp"))
        // counter carried across folds: stored + this batch, EXACT under
        // replay — counted_batch records the highest batch already folded
        // into n_items, so a crashed batch's retry (batchId <=
        // counted_batch: the sidecar committed before the crash) skips the
        // increment instead of re-counting the same ids, which could push
        // fill past 1.0 and trigger spurious SATURATED warnings/rebuilds.
        // A pre-counter sidecar stays unknown (-1) until its first rebuild
        // resets it exactly; a pre-counted_batch sidecar (r13) counts once
        // more on a replay and self-corrects at this fold's write.
        val storedN = nItems(meta)
        val countedBatch = if (meta.schema.fieldNames.contains("counted_batch"))
          meta.getAs[Long]("counted_batch") else Long.MinValue
        val n = if (storedN < 0) -1L
          else if (batchId <= countedBatch && countedBatch != Long.MinValue) storedN
          else storedN + newIds.select(col(idCol)).distinct().count()
        val stored = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(meta.getAs[Array[Byte]]("bits")))
        stored.mergeInPlace(build(newIds, idCol, cap, p))
        val countedOut =
          if (countedBatch == Long.MinValue) batchId
          else math.max(batchId, countedBatch)
        write(spark, treePath, stored, cap, p, batchId, n, countedOut)
        logFill(treePath, batchId, cap, n)
    }
  }

  /** Re-create the sidecar from the tree's full id frame with ≥2×
    * headroom over the current id count — the saturation escape hatch,
    * run at compaction cadence (compaction already pays a full-tree
    * pass, and the sidecar is correct-but-slow until then).
    *
    * A sidecar whose tracked count is known and at most half its capacity
    * already has that headroom: a rebuild would write the same capacity
    * and the same bits, so it returns without reading `storedIds`. A
    * pre-counter sidecar (unknown count) or one past half fill rebuilds. */
  def rebuild(spark: SparkSession, treePath: String, storedIds: => DataFrame,
      idCol: String, batchId: Long, minItems: Long = 500000L,
      fpp: Double = 0.01): Unit = {
    val headroom = storedRow(spark, treePath).exists { meta =>
      val n = nItems(meta)
      n >= 0 && 2 * n <= meta.getAs[Long]("expected_items")
    }
    if (!headroom) {
      val distinctIds = storedIds.select(col(idCol)).distinct()
      val n = distinctIds.count()
      val cap = math.max(minItems, 2 * n)
      write(spark, treePath, build(distinctIds, idCol, cap, fpp), cap, fpp,
        batchId, n, batchId)
      logFill(treePath, batchId, cap, n)
    }
  }
}
