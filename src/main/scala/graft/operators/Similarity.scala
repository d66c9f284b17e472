package graft.operators

import graft.functions.ArrayMath
import graft.util.Checkpoints.BarrierOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set against
  * the corpus, rank per query. Exact; the ranking key is cosine rounded to 6
  * decimals with vec_id tiebreak, so results are stable across engines.
  *
  * Scale path: random-hyperplane LSH — bucket corpus and queries by sign
  * signature, search only same-bucket (or near-bucket) candidates. The
  * hyperplanes are derived deterministically from xxhash64 so the operator
  * needs no driver-side randomness.
  */
object Similarity {

  /** Shared ranked per-query neighbor cut: exact top-k by (cos desc,
    * vec_id asc — total order) through the bounded-heap execs
    * ([[graft.plans.TopK.perKey]]): map-side <= k rows per q_id before
    * the exchange, k-sized reducer heaps — never a per-query partition
    * sort over the candidate set. Rows and ranks equal the window
    * row_number form under this total order (the knnGraph adoption
    * argument, now shared by every ANN serving path). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopK.perKey(scored, Seq(col("q_id")),
        Seq(col("cos").desc, col("vec_id").asc), k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank").cast("long"))

  /** Exact top-k neighbors for each query vector (self excluded).
    * Output: (q_id, vec_id, cos, rank), rank 1..k. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id"), col("embedding"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("cos", ArrayMath.cosineKey(col("q_emb"), col("embedding")))
    rankTopK(scored, k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * uniform in [-1, 1) from xxhash64. */
  private def planeComponent(p: Int, d: org.apache.spark.sql.Column) =
    (pmod(xxhash64(lit(p), d), lit(1000000L)).cast("double") / 500000.0) - 1.0

  /** Sign-signature bucket id from `nPlanes` deterministic hyperplanes
    * (native codegen expression; see HyperplaneSignature). */
  def lshBucket(emb: org.apache.spark.sql.Column, nPlanes: Int): org.apache.spark.sql.Column =
    graft.functions.expressions.VectorFunctions.hyperplane_sig(emb, nPlanes)

  /** HOF formulation of [[lshBucket]] — same bits, interpreted; kept as a
    * semantic cross-check for the native expression. */
  def lshBucketHof(emb: org.apache.spark.sql.Column, nPlanes: Int): org.apache.spark.sql.Column = {
    val v = emb.cast("array<double>")
    (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(v, transform(sequence(lit(0), size(v) - 1), d => planeComponent(p, d)),
          (x, r) => x * r),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** IVF coarse quantizer: nlist deterministic seed centroids (hash-ordered
    * sample of the corpus) refined by `iters` Lloyd steps, all as DataFrame
    * plans: assignment is a broadcast cross-join + per-row argmax, the
    * centroid update is `dim` codegen'd avg() aggregates. Returns
    * (cid, center: array<double>). */
  def ivfCentroids(corpus: DataFrame, nlist: Int, dim: Int, iters: Int = 1): DataFrame = {
    val seeds = corpus
      .orderBy(xxhash64(col("vec_id")))
      .limit(nlist)
      .select(row_number().over(Window.orderBy(col("vec_id"))).cast("long").as("cid"),
        col("embedding").cast("array<double>").as("center"))
    (0 until iters).foldLeft(seeds) { (centroids, _) =>
      assignToCentroids(corpus, centroids)
        .join(corpus, "vec_id")
        .groupBy("cid")
        .agg(array((0 until dim).map(i =>
          avg(element_at(col("embedding").cast("array<double>"), i + 1))): _*).as("center"))
    }
  }

  /** Per-vector nearest centroid by cosine (deterministic tie-break on cid). */
  def assignToCentroids(corpus: DataFrame, centroids: DataFrame): DataFrame =
    corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("cos", ArrayMath.cosineKey(col("embedding"), col("center")))
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"))

  /** IVF top-k: probe the `nprobe` nearest centroids per query, exact-rerank
    * only vectors in probed cells. With nprobe == nlist this degenerates to
    * exact brute force (tested); smaller nprobe trades recall for touching
    * nprobe/nlist of the corpus. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nlist: Int = 16,
      nprobe: Int = 4, dim: Int = 64): DataFrame = {
    val centroids = ivfCentroids(corpus, nlist, dim)
    val assigned = corpus.join(assignToCentroids(corpus, centroids), "vec_id")
    val qProbes = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", ArrayMath.cosineKey(col("q_emb"), col("center")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("q_id").orderBy(col("ccos").desc, col("cid").asc)))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("cid"))
    val scored = assigned.join(broadcast(qProbes), Seq("cid"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", ArrayMath.cosineKey(col("q_emb"), col("embedding")))
    rankTopK(scored, k)
  }

  /** Materialize the IVF index at rest: the corpus parquet-partitioned BY
    * CELL (cid=... directories) plus the centroid table. This is the 100 TB
    * layout the probe path needs — reading a cell becomes directory-level
    * partition pruning instead of a filter over the full corpus. */
  def writeIvfIndex(corpus: DataFrame, path: String, nlist: Int = 16,
      dim: Int = 64): Unit = {
    ivfCentroids(corpus, nlist, dim).write.mode("overwrite").parquet(s"$path/centroids")
    // Assign against the WRITTEN centroid table, not the live Lloyd plan:
    // re-evaluating the (uncached) plan could schedule its avg() reductions
    // differently and flip a boundary vector's cell, leaving stored cells
    // inconsistent with the stored centroids — and would run the full Lloyd
    // pass a second time.
    val persisted = corpus.sparkSession.read.parquet(s"$path/centroids")
    assignToCentroids(corpus, persisted)
      .join(corpus, "vec_id")
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/vectors")
  }

  /** IVF top-k over a materialized [[writeIvfIndex]] index: probe cells are
    * chosen per query against the (tiny, broadcast) centroid table, and the
    * vector scan touches ONLY the probed cid partitions — the probed-cell set
    * (at most nlist values) is collected to the driver and pushed as an IN
    * filter, which the reader turns into PartitionFilters (asserted in
    * SimilaritySpec). Same contract and same results as [[ivfTopK]] with
    * equal parameters. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    // snapshot isolation: resolve the versioned root ONCE, then read both
    // tables under it — a racing retrain can never split the pair
    val root = ivfRoot(spark, path)
    val centroids = spark.read.parquet(s"$root/centroids")
    val qProbes = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", ArrayMath.cosineKey(col("q_emb"), col("center")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("q_id").orderBy(col("ccos").desc, col("cid").asc)))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("cid"))
    // Evaluate the probe plan ONCE: the collected rows feed both the
    // probed-cell list (<= nlist longs — dynamic partition pruning by hand,
    // not a data collect; queries are small by this operator's contract) and
    // the broadcast join side, instead of re-running the centroid read +
    // cross join + window a second time.
    val probeRows = qProbes.collect()
    val probed = probeRows.map(_.getLong(2)).distinct.sorted
    val qLocal = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), qProbes.schema)
    val vectors = spark.read.parquet(s"$root/vectors")
      .filter(col("cid").isin(probed: _*))
    val scored = vectors.join(broadcast(qLocal), Seq("cid"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", ArrayMath.cosineKey(col("q_emb"), col("embedding")))
    rankTopK(scored, k)
  }

  /** Fold a batch of NEW vectors into a materialized [[writeIvfIndex]]
    * layout — the warm-fold family ([[Retrieval.invIndexInsert]] /
    * [[Graph.lpCommitBatch]] / [[Experiment.btCommitBatch]]) applied to
    * the vector index: the daemon path that keeps a served ANN index
    * fresh at batch cost, never re-assigning the corpus.
    *
    * Centroids are FROZEN: the batch assigns against the stored centroid
    * table (the [[writeIvfIndex]] consistency argument — stored cells
    * must agree with stored centroids) and its vector rows land in the
    * existing cid=… directories as an LSM append, base files never
    * rewritten. This is the standard IVF incremental contract (FAISS
    * `add` does the same): cell geometry drifts as the corpus grows, so
    * recall against the original training distribution degrades slowly;
    * the escape hatch is a full [[writeIvfIndex]] rebuild once inserted
    * volume rivals the trained base — cheap relative to the fold cadence
    * and the same story the BM25 index tells for compaction. Batch
    * vec_ids MUST be new (same-id re-ingest is an upsert, handled
    * upstream by the ingest cursor — an id-keyed existence probe here
    * would full-scan the cell-partitioned layout).
    *
    * CRASH/RETRY SAFETY — [[graft.util.Lsm]] protocol 2 keyed by
    * `batchId` (single writer by contract): staged cid-partitioned
    * write, per-file batch-marked renames into the cells, then the
    * meta marker (`last_batch`) commits LAST via the protocol-1 swap.
    * A retry no-ops on a committed id or sweeps exactly its own partial
    * move and redoes the fold. [[ivfTopKIndexed]] serves the folded tree
    * unchanged — partition discovery sees the marked files like any
    * other cell data; a reader racing the fold sees a subset of the
    * batch's rows (per-file renames), never a duplicate or a torn file. */
  def ivfInsert(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, batchId: Long): Unit = {
    import graft.util.Lsm
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val fs = Lsm.fs(spark, path)
    recoverIvfTree(spark, path) // a crashed retrain's debris sweeps first
    // the fold targets the CURRENT version's tables (single writer, so
    // the resolution cannot race a retrain)
    val root = ivfRoot(spark, path)
    // shared entry: committed no-op, or sweep this batch's partial move
    if (Lsm.enterBatch(spark, fs, path, batchId).alreadyCommitted) return
    Lsm.sweepMarked(fs, new Path(s"$root/vectors"), s"b$batchId-")
    val marker = s"b$batchId-"
    val vectorsRoot = new Path(s"$root/vectors")
    val staged = new Path(s"$root/staged")
    fs.delete(staged, true)
    val centroids = spark.read.parquet(s"$root/centroids")
    assignToCentroids(batch, centroids)
      .join(batch, "vec_id")
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(staged.toString)
    Lsm.moveMarked(fs, staged, vectorsRoot, marker)
    fs.delete(staged, true)
    Seq(batchId).toDF("last_batch").write.mode("overwrite")
      .parquet(Lsm.stagedPath(path, "meta", batchId))
    Lsm.commitSwap(fs, path, "meta", batchId)
  }

  /** Compact an [[ivfInsert]]-grown index: merge every cid= cell whose
    * LSM fragment count exceeds `maxFilesPerCell` into one fresh file,
    * content-identical, under the per-bucket staged swap of
    * [[graft.util.Lsm.compactBuckets]] (crashed-swap recovery at entry;
    * a crashed fold's orphan files swept FIRST so they can never be
    * merged beyond their retry's reach). Centroids and meta untouched —
    * served results are bit-identical, only the per-cell open/footer
    * cost drops. Runs in the single-writer slot, never concurrently
    * with a fold. */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFilesPerCell: Int = 1): Unit = {
    import graft.util.Lsm
    import org.apache.hadoop.fs.Path
    val fs = Lsm.fs(spark, path)
    recoverIvfTree(spark, path) // a crashed retrain's debris sweeps first
    val root = ivfRoot(spark, path)
    val vectorsRoot = new Path(s"$root/vectors")
    if (!fs.exists(vectorsRoot)) return
    val stagedRoot = new Path(s"$root/compact_staged")
    val oldRoot = new Path(s"$root/compact_old")
    Lsm.recoverBucketSwap(fs, vectorsRoot, stagedRoot, oldRoot)
    val lastBatch = Lsm.committedBatch(spark, fs, path, "meta")
    Lsm.sweepAboveBatch(fs, vectorsRoot, lastBatch)
    fs.delete(new Path(s"$root/staged"), true)
    Lsm.compactBuckets(spark, fs, vectorsRoot, stagedRoot, oldRoot, "cid=",
      maxFilesPerCell)
    // MVCC storage bound: a retrain-superseded version had grace until
    // this (later) single-writer maintenance slot — retire it here so a
    // once-retrained tree doesn't carry 2x storage until the NEXT retrain
    Lsm.retireSupersededVersions(fs, path, Seq("centroids", "vectors"),
      graceOne = false)
  }

  /** Resolve the root an IVF reader must use — the snapshot-isolation
    * point of the versioned tree ([[graft.util.Lsm.versionedRoot]]): the
    * HIGHEST committed version dir (`path/v<n>`), or `path` itself for a
    * never-retrained tree. A reader resolves ONCE per query and reads
    * BOTH tables (centroids + vectors) under that root, so it can never
    * pair new centroids with old cells however it races a retrain:
    * [[ivfRetrain]] publishes a complete successor pair under a NEW
    * version dir, commits it with one atomic marker-file create, and
    * keeps the superseded version on disk until the next maintenance
    * slot retires it ([[ivfCompact]]; the next retrain also retires). */
  def ivfRoot(spark: org.apache.spark.sql.SparkSession,
      path: String): String =
    graft.util.Lsm.versionedRoot(graft.util.Lsm.fs(spark, path), path)

  /** Writer-entry recovery for an IVF tree: sweep any UNCOMMITTED
    * version dir (a crashed retrain's debris — the `_committed` marker
    * commits the successor pair atomically, so its absence means the
    * build never finished and no reader references the dir), then the
    * meta swap. Every external writer (the streaming daemons) enters
    * through this.
    *
    * Legacy shim (one-time, pre-r12 trees): the old IN-PLACE retrain
    * protocol staged both successor tables at the tree top and committed
    * the pair under a `retrain_ready` marker file. A tree crashed AFTER
    * that marker has its full vector set sitting in staged twins — the
    * new version-dir recovery alone would strand them (the daemon would
    * rebuild a tree holding only post-crash batches, silently losing
    * served data on upgrade). When the marker is present, finish the old
    * pair swap exactly as the old recovery did, then proceed. */
  def recoverIvfTree(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = graft.util.Lsm.fs(spark, path)
    val legacyMarker = new Path(s"$path/retrain_ready")
    if (fs.exists(legacyMarker)) {
      def twins(prefix: String): Seq[Path] =
        fs.listStatus(new Path(path)).map(_.getPath)
          .filter(_.getName.startsWith(prefix)).toSeq
      // marker present = both staged twins are complete; roll FORWARD.
      // commitSwap order per table: live->old, staged->live, delete old;
      // a staged twin still present means that table's swap hasn't
      // completed — redo it; lone old twins are completed-swap leftovers.
      Seq("vectors", "centroids").foreach { n =>
        val live = new Path(s"$path/$n")
        val staged = twins(s"${n}_staged_b")
        if (staged.nonEmpty) {
          if (fs.exists(live))
            fs.rename(live, new Path(s"$path/${n}_old_brt"))
          fs.rename(staged.head, live)
        }
        (twins(s"${n}_old_b") ++ twins(s"${n}_old_brt"))
          .foreach(p => fs.delete(p, true))
      }
      fs.delete(legacyMarker, false)
    }
    graft.util.Lsm.sweepUncommittedVersions(fs, path)
    graft.util.Lsm.recoverSwap(fs, path, "meta")
  }

  /** Retrain an [[ivfInsert]]-grown tree on everything it serves — the
    * drift escape hatch the fold scaladoc names: centroids are frozen at
    * fold time, so once inserted volume rivals the trained base, recall
    * against the drifted corpus degrades; this rebuilds the coarse
    * quantizer over the FULL folded vector set and re-assigns every
    * vector.
    *
    * Protocol — MVCC version dirs (the Iceberg/Delta snapshot pattern,
    * replacing the earlier two-table in-place swap whose reader race was
    * SCALING deferred #8): the successor pair (new centroids, then the
    * re-assignment computed against the WRITTEN successor table — the
    * [[writeIvfIndex]] determinism lesson) builds COMPLETELY under a
    * fresh `path/v<n+1>/`, then one atomic `_committed` marker-file
    * create publishes it. Readers resolve [[ivfRoot]] once and are
    * snapshot-consistent throughout: the superseded root stays on disk
    * until the NEXT retrain retires it (a full retrain cycle of grace
    * for in-flight readers — 2× tree storage transiently, the standard
    * MVCC cost). A crash anywhere before the marker leaves an
    * uncommitted dir that [[recoverIvfTree]] sweeps; after it, the
    * retrain IS committed and only the retirement cleanup is redone by
    * the next cycle. The meta marker (`last_batch`) is carried UNCHANGED
    * at the tree top, so a streaming retry of an already-committed batch
    * still no-ops after a retrain. Runs in the single-writer maintenance
    * slot (compaction's contract). */
  /** The √n rule for sizing an IVF coarse quantizer to a GROWING corpus:
    * nlist ≈ √n balances the two probe-side costs (cells scanned per
    * probe ∝ n/nlist, centroid comparisons ∝ nlist — their sum minimizes
    * at √n), clamped to `[floor, cap]`. `floor` is the configured
    * cold-start nlist (never shrink below the operator's choice — tiny
    * corpora keep their configured layout); `cap` bounds the broadcast
    * centroid table and the partition-dir count at the large end. Called
    * at the retrain slot so a daemon tree's cell occupancy stays ~√n
    * through unbounded growth instead of densifying linearly at a frozen
    * nlist (the r13 verdict's missing #3). */
  def adaptiveNlist(n: Long, floor: Int, cap: Int): Int =
    math.min(cap, math.max(floor,
      math.round(math.sqrt(math.max(0L, n).toDouble)).toInt))

  def ivfRetrain(spark: org.apache.spark.sql.SparkSession, path: String,
      nlist: Int = 16, dim: Int = 64): Unit = {
    import graft.util.Lsm
    import org.apache.hadoop.fs.Path
    val fs = Lsm.fs(spark, path)
    recoverIvfTree(spark, path)
    val root = ivfRoot(spark, path)
    val lastBatch = Lsm.committedBatch(spark, fs, path, "meta")
    // a crashed UNCOMMITTED fold's batch-marked orphans must go before the
    // rebuild reads the tree (the ivfCompact guard): absorbed into the new
    // version's base files they would escape the fold's own retry sweep
    // and double-append when the batch retries
    Lsm.sweepAboveBatch(fs, new Path(s"$root/vectors"), lastBatch)
    val all = spark.read.parquet(s"$root/vectors").drop("cid")
    val prevVersions = Lsm.committedVersions(fs, path)
    val nextN = if (prevVersions.isEmpty) 1 else prevVersions.max + 1
    val next = s"$path/v$nextN"
    ivfCentroids(all, nlist, dim).write.mode("overwrite")
      .parquet(s"$next/centroids")
    val newCents = spark.read.parquet(s"$next/centroids")
    assignToCentroids(all, newCents).join(all, "vec_id")
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$next/vectors")
    fs.create(new Path(s"$next/_committed")).close() // THE commit point
    // retire everything OLDER than the version just superseded: a reader
    // that resolved the previous root finishes on intact tables; the
    // superseded version itself is retired by the next maintenance slot
    // (ivfCompact) or the next retrain, whichever runs first
    Lsm.retireSupersededVersions(fs, path, Seq("centroids", "vectors"),
      graceOne = true)
  }

  /** One daemon batch against the at-rest IVF index: cold start (no
    * centroid table yet) trains the coarse quantizer on THIS batch and
    * commits it atomically via the protocol-1 swap — then every batch
    * including this one folds through [[ivfInsert]]'s marked protocol,
    * so batch 0 rides the same crash/retry contract as batch 1000.
    * Centroid training is the one non-deterministic plan in the family
    * (Lloyd's avg() reductions can differ in last-ulp across runs —
    * the [[writeIvfIndex]] lesson), which is exactly why it commits by
    * swap BEFORE any assignment: a retry either sees the committed table
    * (assigns identically) or no table (retrains; nothing was assigned
    * yet, by protocol order). */
  def ivfCommitBatch(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, batchId: Long, nlist: Int = 16,
      dim: Int = 64): Unit = {
    import graft.util.Lsm
    import org.apache.hadoop.fs.Path
    val fs = Lsm.fs(spark, path)
    // version-aware recovery + resolution: cold-start training applies
    // only to a fresh tree (resolved root == path); a versioned tree
    // always carries its centroid table inside the committed version dir
    recoverIvfTree(spark, path)
    val root = ivfRoot(spark, path)
    if (!fs.exists(new Path(s"$root/centroids"))) {
      ivfCentroids(batch, nlist, dim).write.mode("overwrite")
        .parquet(Lsm.stagedPath(path, "centroids", batchId))
      Lsm.commitSwap(fs, path, "centroids", batchId)
    }
    ivfInsert(spark, path, batch, batchId)
  }

  /** Exploded cell probes for a batch of vectors against a (tiny,
    * broadcast) centroid table: each vector's `nprobe` best cells by
    * cosine, ties broken cid ASC — the [[ivfTopKIndexed]] probe-selection
    * order, shared so the gate family below agrees with the serving path.
    * Output: (vec_id, embedding, cid), `nprobe` rows per vector, computed
    * with a vec_id-partitioned window (batch-sized, fully distributed —
    * no driver collect, unlike ivfTopKIndexed's query-sized contract). */
  def ivfProbes(batch: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame =
    batch.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", ArrayMath.cosineKey(col("embedding"), col("center")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid").asc)))
      .filter(col("pr") <= nprobe)
      .select(col("vec_id"), col("embedding"), col("cid"))

  /** Embedding near-dup pairs WITHIN one batch: two vectors are candidates
    * iff they share a probed cell (the IVF-bucketed analogue of the banded
    * MinHash candidate rule — cell-local join, never batch × batch), then
    * verify exactly with one cosine. Output (a_id, b_id, cos), a < b,
    * cos >= threshold. Recall < 1 by construction for pairs whose probe
    * sets are disjoint — raising `nprobe` in [[ivfProbes]] widens the net,
    * the same knob the serving path trades recall with. */
  def embNearDupWithin(probes: DataFrame, threshold: Double): DataFrame = {
    val a = probes.select(col("cid"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val b = probes.select(col("cid"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    a.join(b, Seq("cid")).filter(col("a_id") < col("b_id"))
      .withColumn("cos", ArrayMath.cosineKey(col("a_emb"), col("b_emb")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos")).distinct()
  }

  /** Embedding near-dup pairs of a probed batch AGAINST a materialized
    * [[writeIvfIndex]]/[[ivfInsert]] tree: candidates are (batch vector,
    * stored vector) sharing a cell — the stored side scans ONLY the probed
    * cid partitions (<= nlist values, collected bounded and pushed as
    * PartitionFilters, the ivfTopKIndexed pruning argument). Same-id rows
    * are excluded so a replayed batch never pairs with its own stored
    * copy (re-delivery is the caller's id-gate, not this operator's).
    * Output (a_id = batch, b_id = stored, cos), cos >= threshold. */
  def embNearDupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, probes: DataFrame, threshold: Double): DataFrame = {
    val cells = probes.select(col("cid").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    val stored = spark.read.parquet(s"${ivfRoot(spark, path)}/vectors")
      .filter(col("cid").isin(cells: _*))
      .select(col("cid"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"))
    stored.join(probes.select(col("cid"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb")), Seq("cid"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cos", ArrayMath.cosineKey(col("a_emb"), col("b_emb")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos")).distinct()
  }

  /** Per-row admission verdict for an embedding batch against an IVF
    * tree — the vector edition of the [[graft.streaming.DocIngest]] dedup
    * gate, factored as a pure read so it is both the daemon's gate
    * ([[graft.streaming.EmbIngest.commitEmbBatch]]) and an
    * oracle-checkable operator. Status precedence per batch vector:
    *   - `redelivered`: its vec_id is already stored (id scan is a
    *     column-pruned single-column read of the tree, the DocIngest
    *     sizes-table argument);
    *   - `neardup_within`: it is the HIGHER id of a within-batch pair
    *     ([[embNearDupWithin]]; drop-the-higher is the deterministic
    *     DocIngest rule, replay-stable);
    *   - `neardup_index`: within threshold of a stored vector
    *     ([[embNearDupAgainstIndex]]);
    *   - `admitted` otherwise.
    * Duplicate vec_id rows in the batch are collapsed first (min
    * embedding — deterministic under array ordering). */
  def embGateVerdicts(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, threshold: Double, nprobe: Int = 2): DataFrame = {
    val root = ivfRoot(spark, path) // one resolution for the whole gate
    val centroids = spark.read.parquet(s"$root/centroids")
    val uniq = batch.groupBy("vec_id")
      .agg(min(col("embedding")).as("embedding"))
    // cached only for this scope: the bounded cell collect inside
    // embNearDupAgainstIndex evaluates it once here; the RETURNED plan
    // re-derives the (cheap, broadcast-join) probe frame lazily rather
    // than pinning a cache on the session past the call (the q204 lesson)
    val probes = ivfProbes(uniq, centroids, nprobe).persist()
    try {
      val stored = spark.read.parquet(s"$root/vectors")
        .select(col("vec_id")).distinct().withColumn("f_re", lit(1))
      val within = embNearDupWithin(probes, threshold)
        .select(col("b_id").as("vec_id")).distinct().withColumn("f_w", lit(1))
      val vsIdx = embNearDupAgainstIndex(spark, path, probes, threshold)
        .select(col("a_id").as("vec_id")).distinct().withColumn("f_i", lit(1))
      uniq.select(col("vec_id"))
        .join(stored, Seq("vec_id"), "left")
        .join(within, Seq("vec_id"), "left")
        .join(vsIdx, Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("f_re") === 1, "redelivered")
            .when(col("f_w") === 1, "neardup_within")
            .when(col("f_i") === 1, "neardup_index")
            .otherwise("admitted").as("status"))
    } finally probes.unpersist()
  }

  /** Approximate top-k: candidates share the query's LSH bucket; exact re-rank
    * within candidates. Recall < 1 by design; the operator trades it for a
    * bucket-local join instead of a full cross product.
    *
    * `bucket` overrides the signature function (default: the native
    * xxhash64-plane codegen expression; pass
    * [[graft.functions.PortableHashes.lshBucket]] for the SQL-mirrorable
    * family the DuckDB oracle reproduces bit-for-bit). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, nPlanes: Int = 8,
      bucket: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
        None): DataFrame = {
    val bucketFn = bucket.getOrElse((e: org.apache.spark.sql.Column) => lshBucket(e, nPlanes))
    val c = corpus.select(col("vec_id"), col("embedding"),
      bucketFn(col("embedding")).as("bucket"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      bucketFn(col("embedding")).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", ArrayMath.cosineKey(col("q_emb"), col("embedding")))
    rankTopK(scored, k)
  }

  /** Semantic clustering off the kNN graph: mutual-kNN edges (each
    * endpoint in the other's top-`k` — the standard high-precision link
    * rule; a one-directional edge often just means a hub attracting
    * everything) fed into connected components. Output: (vec_id,
    * cluster_id) for every vector with at least one mutual edge,
    * cluster_id = the component's minimum vec_id.
    *
    * Scale shape: [[knnGraph]]'s audited shape for the edges; the mutual
    * filter is one self semi-join on the (already k-bounded) edge list;
    * components contract in O(log n) rounds on edges bounded by n·k/2
    * ([[Dedup.connectedComponents]]'s contract — far below its general
    * pair-pipeline inputs). */
  def mutualKnnClusters(emb: DataFrame, k: Int, bands: Int = 4,
      planesPerBand: Int = 8, dim: Int = 64): DataFrame = {
    val g = knnGraph(emb, k, bands, planesPerBand, dim)
      .select(col("a_id"), col("b_id"))
    val mutual = g
      .join(g.select(col("b_id").as("a_id"), col("a_id").as("b_id")),
        Seq("a_id", "b_id"), "left_semi")
      .filter(col("a_id") < col("b_id"))
    Dedup.connectedComponents(mutual)
      .select(col("doc_id").as("vec_id"), col("rep_id").as("cluster_id"))
  }

  /** Recall harness for the approximate top-k family: per query, the
    * fraction of `truth`'s rows (the exact top-k) present in `approx` (an
    * ANN result with the same (q_id, vec_id) shape). Output:
    * (q_id, n_truth, n_hits, recall_ppm) — ppm as exact integer floor
    * division, the bit-stable form every ratio in this library uses.
    *
    * This is an ENGINE operator, not a test helper: before trusting an ANN
    * index at 100 TB a data team measures recall on a query sample, and
    * that measurement is itself a distributed join (truth from the exact
    * operator on the sample, approx from the index under evaluation). Both
    * sides are keyed (q_id, vec_id); the left join + per-query count is one
    * bounded aggregate — sample-sized, never corpus-sized. */
  def recallAtK(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.select(col("q_id"), col("vec_id"))
      .join(approx.select(col("q_id"), col("vec_id"), lit(1L).as("hit")),
        Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("q_id"), col("n_truth"), col("n_hits"),
        expr("(n_hits * 1000000L) div n_truth").as("recall_ppm"))

  /** Embedding outlier gate over a materialized [[writeIvfIndex]] layout —
    * the cluster-distance quality filter (the SemDeDup paper's sibling
    * move, and the shape of CLIP-score-percentile gates): vectors whose
    * cosine to their own cell centroid falls below the cell's `pPct`-th
    * percentile are flagged as outliers — candidates for manual review or
    * exclusion from a training mixture (mislabeled, off-distribution, or
    * noise embeddings sit far from every cluster's core).
    *
    * Threshold = the EXACT per-cell ceil-rank percentile (the q75/q93
    * integer-target convention: target = (n·p + 99) div 100 over ccos
    * ascending, ties by vec_id) — deterministic, no interpolation. The
    * per-cell rank is a per-key window: cells are corpus/nlist-sized, a
    * sort problem not a heap problem; [[graft.operators.Stats.exactQuantiles]]'
    * bucket refinement is the swap-in if single cells outgrow sort.
    *
    * Scale shape: centroids broadcast; the scan reads the cid-partitioned
    * vectors once; one window per cell + one broadcast threshold join.
    * Output: (vec_id, cid, ccos, thr, outlier), ordered by vec_id. */
  def centroidOutliers(spark: org.apache.spark.sql.SparkSession, path: String,
      pPct: Int = 5): DataFrame = {
    require(pPct >= 1 && pPct <= 50, "pPct in [1,50]")
    val root = ivfRoot(spark, path)
    val cent = spark.read.parquet(s"$root/centroids")
    val vec = spark.read.parquet(s"$root/vectors")
      .select(col("cid").cast("long").as("cid"), col("vec_id"), col("embedding"))
    val scored = vec.join(broadcast(cent), "cid")
      .withColumn("ccos", ArrayMath.cosineKey(col("embedding"), col("center")))
    val counts = scored.groupBy("cid").agg(count(lit(1)).as("n"))
      .withColumn("target", expr(s"(n * $pPct + 99) div 100"))
    val w = Window.partitionBy("cid").orderBy(col("ccos").asc, col("vec_id").asc)
    val thr = scored.withColumn("rn", row_number().over(w))
      .join(counts, "cid")
      .filter(col("rn") === col("target"))
      .select(col("cid"), col("ccos").as("thr"))
    scored.join(broadcast(thr), "cid")
      .select(col("vec_id"), col("cid"), col("ccos"), col("thr"),
        (col("ccos") < col("thr")).as("outlier"))
  }

  /** kNN-graph construction — the structure semantic clustering, graph-based
    * dedup, and diversity sampling build on: every vector's top-`k`
    * neighbors by exact cosine among banded hyperplane-LSH candidates.
    * Output: (a_id, b_id, cos, rank), rank 1..k per a_id (fewer when a
    * vector has fewer candidates).
    *
    * Banding is the recall lever: a single signature over `p` planes misses
    * any true neighbor split by one of those planes, and the miss rate
    * compounds with p. With `bands` independent plane families a pair is a
    * candidate when it agrees on ALL planes of ANY band — collision
    * probability 1-(1-s^p)^b for angular similarity s — so recall rises
    * with b at linear (×b) candidate-generation cost. SimilaritySpec
    * measures the actual recall-vs-brute-force gain of b=4 over b=1 on a
    * clustered fixture.
    *
    * Scale shape: the corpus is exploded to `bands` signature rows, each
    * band's candidates come from a (band, bucket) self-equi-join — hash
    * join, skew-splittable by AQE, never all-pairs — and a pair sharing
    * multiple bands is deduped by the (a_id, b_id) aggregate BEFORE ranking
    * (cosine is deterministic, so min == any). The per-node ranking is one
    * further shuffle on a_id, bounded by per-bucket candidate counts, and
    * both embeddings ride the band join so no corpus re-join is needed.
    *
    * `bandSigs(emb)` overrides the signature family; it must return an
    * array<long> of length `bands` (the bucket per band). Default:
    * [[graft.functions.expressions.VectorFunctions.portable_band_sig]] —
    * one codegen pass over the vector for ALL bands, bit-identical to the
    * interpreted per-band form
    * [[graft.functions.PortableHashes.lshBandBucket]] the DuckDB oracle
    * replays (band 0 of that family equals the single-bucket form earlier
    * rounds shipped; the per-band Column expansion was measured at 4 ms/row
    * — see PortableBandSig's scaladoc — which is why the default is the
    * native expression). */
  def knnGraph(emb: DataFrame, k: Int, bands: Int = 4, planesPerBand: Int = 8,
      dim: Int = 64,
      bandSigs: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
        None): DataFrame = {
    require(bands >= 1 && planesPerBand >= 1, "bands and planesPerBand must be >= 1")
    require(planesPerBand <= 63,
      s"planesPerBand must fit a long bucket (<= 63): $planesPerBand")
    val fn = bandSigs.getOrElse((e: org.apache.spark.sql.Column) =>
      graft.functions.expressions.VectorFunctions.portable_band_sig(e, bands, planesPerBand))
    val sig = emb.select(col("vec_id"), col("embedding"),
      posexplode(fn(col("embedding"))).as(Seq("band", "bucket")))
    val a = sig.select(col("band"), col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val b = sig.select(col("band"), col("bucket"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    val scored = a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        ArrayMath.cosineKey(col("a_emb"), col("b_emb")).as("cos"))
    // a pair colliding in several bands appears once per band; the rounded
    // cosine is identical on every copy, so min() is pure dedup
    val uniq = scored.groupBy("a_id", "b_id").agg(min(col("cos")).as("cos"))
    // per-node neighbor cut through the bounded-heap TopKPerKey node: a
    // hub node's candidate list never gets partition-sorted — each map
    // partition prunes to ≤ k candidates per node before the exchange,
    // and the final heap ranks the survivors. Total order via the b_id
    // tiebreaker, so rows and ranks equal the window row_number form
    // (the shape this call site ran through round 9).
    graft.plans.TopK.perKey(uniq,
        keys = Seq(col("a_id")),
        order = Seq(col("cos").desc, col("b_id").asc),
        k = k)
      .select(col("a_id"), col("b_id"), col("cos"), col("rank").cast("long"))
  }

  /** Exact TF-IDF cosine similarity self-join over text — all doc pairs with
    * cosine >= `threshold` — via Bayardo-style prefix filtering ("Scaling Up
    * All Pairs Similarity Search", WWW 2007, re-derived as DataFrame plans):
    * the WEIGHTED complement to the unweighted set-overlap joins (q31's
    * df-capped heuristic, q101's exact prefix Jaccard).
    *
    * Sound candidate rule: order each doc's terms rarest-first (df asc,
    * term asc) and bound what a suffix can still contribute TWO ways:
    * b1(i) = Σ_{j>=i} u_j · mu_j (mu = the term's maximum unit weight
    * corpus-wide — Bayardo's maxweight bound) and b2(i) = sqrt(Σ_{j>=i}
    * u_j²) (Cauchy–Schwarz against the partner's unit norm). Any
    * shared-term subset confined to positions with min(b1, b2) < t scores
    * below t, so every qualifying pair shares at least one term from the
    * PREFIX (min(b1, b2) >= t) of each side — probing prefix postings
    * against the full postings index finds every pair. Common terms sit
    * last in the order and fall out of prefixes, which is what keeps
    * hot-token candidate growth bounded on Zipfian vocabularies (the
    * PPJoin insight); a synthetically UNIFORM vocabulary (every token
    * mid-frequency, flat weights) keeps most positions in the prefix and
    * degrades toward the quadratic join — that worst case is the
    * fixture's, and the q129 query samples the corpus accordingly. The
    * bounds run in plain doubles with an epsilon of slack — they only gate
    * CANDIDATES; the oracle runs the plain quadratic join and must match.
    *
    * Score arithmetic is engine-portable end-to-end: idf = round-6 ln
    * (the q100 convention), norm² and the pair dot are DECIMAL sums of
    * round-9/round-12 products (order-independent), one IEEE sqrt and one
    * division per doc. Scale shape: token counts / df / norms are
    * word-count-family aggregates; the candidate join is prefix-postings ⋈
    * postings on the term (AQE-splittable skew); verification joins ride
    * the candidate set, never the corpus square. Output: (a_id, b_id,
    * cos round-6), a_id < b_id. */
  def tfidfCosinePairs(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold < 1,
      s"tfidfCosinePairs: threshold in (0,1), got $threshold")
    graft.util.Checkpoints.ensureDir(docs.sparkSession)
    val tc = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val n = docs.count() // 1-row scalar: the catalog-statistic analogue
    val dft = tc.groupBy("token").agg(count(lit(1)).as("df"))
    val wts = tc.join(dft, "token")
      .select(col("doc_id"), col("token"), col("df"),
        (col("c") * round(log(lit(n.toDouble) / col("df")), 6)).as("w"))
    val nrm = wts.groupBy("doc_id")
      .agg(sqrt(sum(round(col("w") * col("w"), 9).cast("decimal(38,12)"))
        .cast("double")).as("nm"))
    // The unit-weight postings feed four consumers (mu, prefix, both
    // verification sides) under different partitionings — materialize once
    // (the q101 fan-out lesson).
    val uu = wts.join(nrm, "doc_id")
      .select(col("doc_id"), col("token"), col("df"),
        round(col("w") / col("nm"), 9).as("u"))
      .barrier(StorageLevel.DISK_ONLY)
    val mu = uu.groupBy("token").agg(max(col("u")).as("mu"))
    val ord = Window.partitionBy("doc_id").orderBy(col("df"), col("token"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prefix = uu.join(mu, "token")
      .withColumn("b1", sum(col("u") * col("mu")).over(ord))
      .withColumn("b2", sqrt(sum(col("u") * col("u")).over(ord)))
      .filter(least(col("b1"), col("b2")) >= threshold - 1e-9)
      .select(col("doc_id"), col("token"))
    // Candidate join stays prefix ⋈ FULL postings. The suffix bound also
    // proves the stronger prefix ⋈ prefix rule (the globally-first shared
    // term of a qualifying pair lies in BOTH prefixes), and r17 tried it:
    // 2.7x fewer candidate-join rows, 12% fewer verified pairs on the
    // uniform fixture — yet end-to-end it measured consistently ~10%
    // SLOWER at sf0.1 (same warmed session, 3 rounds: 10.7/11.3/9.9 s vs
    // 12.1/12.5/10.9 s), because candidate volume is not this fixture's
    // binding cost and the extra materialized prefix + self-join shape
    // planned worse under AQE. Reverted per guide §1.1; the measurements
    // live in OPTIMIZATION_r17.md.
    val cand = prefix.select(col("token"), col("doc_id").as("p_id"))
      .join(uu.select(col("token"), col("doc_id").as("q_id")), "token")
      .filter(col("p_id") =!= col("q_id"))
      .select(least(col("p_id"), col("q_id")).as("a_id"),
        greatest(col("p_id"), col("q_id")).as("b_id"))
      .distinct()
    val score = cand
      .join(uu.select(col("doc_id").as("a_id"), col("token"),
        col("u").as("ua")), "a_id")
      .join(uu.select(col("doc_id").as("b_id"), col("token"),
        col("u").as("ub")), Seq("b_id", "token"))
      .groupBy("a_id", "b_id")
      .agg(sum(round(col("ua") * col("ub"), 12).cast("decimal(38,14)"))
        .cast("double").as("cos"))
    score.filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
  }
}
