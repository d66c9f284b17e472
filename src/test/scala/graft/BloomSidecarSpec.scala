package graft

import graft.streaming.EmbIngest
import graft.util.BloomSidecar
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The re-delivery gate's Bloom fast path: no false drops ever (negatives
  * skip the exact scan because the sidecar provably contains every stored
  * id; positives are verified exactly), the scan is REALLY skipped for an
  * all-novel batch (proven with a poison file that would throw if the id
  * column were read), and a sidecar-less legacy tree falls back to the
  * scan and bootstraps the sidecar on its next fold. */
class BloomSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def vecsDf(ids: Seq[Long]) =
    ids.map(i => (i, Array.tabulate(16)(d =>
      math.sin(i * 7.3 + d * 1.7).toFloat))).toDF("vec_id", "embedding")

  test("probe: every folded id positive (no false negatives), novel ids overwhelmingly negative") {
    val dir = java.nio.file.Files.createTempDirectory("bloom").toString + "/t"
    BloomSidecar.fold(spark, dir, (0L until 100L).toDF("id"), "id", 0L,
      storedIds = Seq.empty[Long].toDF("id"))
    val bits = BloomSidecar.read(spark, dir).get
    val probed = (0L until 100L).union(10000L until 10100L).toDF("id")
      .select(col("id"), BloomSidecar.probe(
          BloomSidecar.broadcast(spark, bits), col("id")).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((0L until 100L).forall(probed(_)), "no false negatives, ever")
    val falsePos = (10000L until 10100L).count(probed(_))
    assert(falsePos <= 5, s"~1% fpp expected, got $falsePos/100")
  }

  test("fold is idempotent and merges at the stored capacity") {
    val dir = java.nio.file.Files.createTempDirectory("bloom").toString + "/t"
    val empty = Seq.empty[Long].toDF("id")
    BloomSidecar.fold(spark, dir, (0L until 50L).toDF("id"), "id", 0L, empty)
    BloomSidecar.fold(spark, dir, (50L until 80L).toDF("id"), "id", 1L, empty)
    // replayed batch: same ids again, must not corrupt or shrink coverage
    BloomSidecar.fold(spark, dir, (50L until 80L).toDF("id"), "id", 1L, empty)
    val bits = BloomSidecar.read(spark, dir).get
    val hits = (0L until 80L).toDF("id")
      .filter(BloomSidecar.probe(
          BloomSidecar.broadcast(spark, bits), col("id"))).count()
    assert(hits == 80L)
  }

  test("EmbIngest: all-novel batch skips the id scan; positives verify exactly; nothing falsely dropped") {
    val idx = java.nio.file.Files.createTempDirectory("bloom-emb").toString + "/idx"
    val r0 = EmbIngest.commitEmbBatch(spark, idx, vecsDf(0L until 24L), 0L,
      nlist = 4, dim = 16)
    assert(r0.admitted == 24)
    // Poison the vectors tree with a non-parquet data file: ANY read of
    // the id column now throws, so batch 1 succeeding PROVES the gate
    // skipped the scan for an all-novel (all-bloom-negative) batch.
    val fs = graft.util.Lsm.fs(spark, idx)
    val cell = fs.listStatus(new Path(s"$idx/vectors"))
      .filter(_.isDirectory).head.getPath
    val out = fs.create(new Path(cell, "poison.parquet"))
    out.write("not a parquet file".getBytes); out.close()
    val r1 = EmbIngest.commitEmbBatch(spark, idx, vecsDf(100L until 124L), 1L,
      nlist = 4, dim = 16)
    assert(r1.admitted == 24 && r1.droppedRedelivered == 0,
      "an all-novel batch must commit without touching the id column")
    fs.delete(new Path(cell, "poison.parquet"), false)
    // bloom-positive ids (true re-deliveries) still verify EXACTLY and drop
    val r2 = EmbIngest.commitEmbBatch(spark, idx,
      vecsDf((0L until 6L) ++ (100L until 106L) ++ (300L until 306L)), 2L,
      nlist = 4, dim = 16)
    assert(r2.droppedRedelivered == 12 && r2.admitted == 6,
      s"re-deliveries must drop through the positive path, got $r2")
    val served = spark.read.parquet(s"$idx/vectors").select("vec_id")
      .collect().map(_.getLong(0)).sorted
    assert(served.toSeq == ((0L until 24L) ++ (100L until 124L) ++
      (300L until 306L)).sorted, "exactly one copy of every admitted id")
  }

  test("legacy tree without a sidecar: exact-scan fallback, then bootstrap on the next fold") {
    val idx = java.nio.file.Files.createTempDirectory("bloom-leg").toString + "/idx"
    EmbIngest.commitEmbBatch(spark, idx, vecsDf(0L until 24L), 0L,
      nlist = 4, dim = 16)
    val fs = graft.util.Lsm.fs(spark, idx)
    fs.delete(new Path(s"$idx/bloom"), true) // simulate a pre-sidecar tree
    assert(BloomSidecar.read(spark, idx).isEmpty)
    // fallback: re-deliveries still drop via the unconditional scan
    val r1 = EmbIngest.commitEmbBatch(spark, idx,
      vecsDf((0L until 4L) ++ (50L until 54L)), 1L, nlist = 4, dim = 16)
    assert(r1.droppedRedelivered == 4 && r1.admitted == 4)
    // the fold bootstrapped the sidecar from stored ∪ new: batch-0 ids
    // (which the sidecar never saw folded) MUST be positive
    val bits = BloomSidecar.read(spark, idx).get
    val hits = (0L until 24L).toDF("id")
      .filter(BloomSidecar.probe(
          BloomSidecar.broadcast(spark, bits), col("id"))).count()
    assert(hits == 24L, "bootstrap must cover pre-sidecar stored ids")
  }

  test("adopting a large legacy tree sizes the bootstrap like rebuild (never born saturated)") {
    // the r15 GateLadder catch: a fixed bootstrap capacity adopted a
    // 500k-doc tree at fill 1.0 from its first batch
    val dir = java.nio.file.Files.createTempDirectory("bloom-adopt").toString + "/t"
    val stored = (0L until 400L).toDF("id") // legacy tree bigger than the floor
    BloomSidecar.fold(spark, dir, (400L until 410L).toDF("id"), "id", 0L,
      stored, expectedItems = 100L)
    val s = BloomSidecar.stats(spark, dir).get
    assert(s.capacity == 820L && s.inserted == 410L,
      s"bootstrap must size to 2x the adopted ids over the floor, got $s")
    assert(s.fill == 0.5)
    val bits = BloomSidecar.read(spark, dir).get
    assert((0L until 410L).toDF("id")
      .filter(BloomSidecar.probe(
          BloomSidecar.broadcast(spark, bits), col("id"))).count() == 410L,
      "adoption still covers every stored id")
  }

  test("saturation telemetry: the inserted counter tracks folds, reads unknown on a legacy row, and rebuild resets it with headroom") {
    val dir = java.nio.file.Files.createTempDirectory("bloom-sat").toString + "/t"
    val empty = Seq.empty[Long].toDF("id")
    // bootstrap UNDER the floor (2x10 < 100) so the fixed capacity the
    // saturation arc needs survives the adoption-sizing rule
    BloomSidecar.fold(spark, dir, (0L until 10L).toDF("id"), "id", 0L, empty,
      expectedItems = 100L)
    BloomSidecar.fold(spark, dir, (10L until 90L).toDF("id"), "id", 1L, empty)
    val s1 = BloomSidecar.stats(spark, dir).get
    assert(s1.capacity == 100L && s1.inserted == 90L,
      s"counter must track folds exactly, got $s1")
    assert(math.abs(s1.fill - 0.9) < 1e-9)
    // past capacity: the gauge must read saturated (fill > 1), probes stay
    // correct (no false negatives) — only the scan-skip rate decays
    BloomSidecar.fold(spark, dir, (90L until 150L).toDF("id"), "id", 2L, empty)
    val s2 = BloomSidecar.stats(spark, dir).get
    assert(s2.inserted == 150L && s2.fill > 1.0, s"must read saturated: $s2")
    val bits = BloomSidecar.read(spark, dir).get
    assert((0L until 150L).toDF("id")
      .filter(BloomSidecar.probe(
          BloomSidecar.broadcast(spark, bits), col("id"))).count() == 150L,
      "saturation never causes a false negative")
    // rebuild resets the counter exactly and restores >=2x headroom
    BloomSidecar.rebuild(spark, dir, (0L until 150L).toDF("id"), "id", 3L,
      minItems = 10L)
    val s3 = BloomSidecar.stats(spark, dir).get
    assert(s3.inserted == 150L && s3.capacity == 300L && s3.fill == 0.5)
    // a legacy (pre-counter) sidecar row reads unknown, not wrong
    val legacy = spark.read.parquet(s"$dir/bloom")
      .select(col("expected_items"), col("fpp"), col("bits"))
    val fs = graft.util.Lsm.fs(spark, dir)
    legacy.write.mode("overwrite")
      .parquet(graft.util.Lsm.stagedPath(dir, "bloom", 4L))
    graft.util.Lsm.commitSwap(fs, dir, "bloom", 4L)
    val s4 = BloomSidecar.stats(spark, dir).get
    assert(s4.inserted == -1L, "legacy row must read unknown (-1)")
    // and a fold onto a legacy row keeps it unknown rather than minting a
    // wrong number; the next rebuild repairs it exactly
    BloomSidecar.fold(spark, dir, (150L until 160L).toDF("id"), "id", 5L, empty)
    assert(BloomSidecar.stats(spark, dir).get.inserted == -1L)
    BloomSidecar.rebuild(spark, dir, (0L until 160L).toDF("id"), "id", 6L,
      minItems = 10L)
    assert(BloomSidecar.stats(spark, dir).get.inserted == 160L)
  }

  test("EmbIngest: positive verification never scans the vectors tree and prunes to the positives' id buckets") {
    val idx = java.nio.file.Files.createTempDirectory("bloom-idt").toString + "/idx"
    val r0 = EmbIngest.commitEmbBatch(spark, idx, vecsDf(0L until 24L), 0L,
      nlist = 4, dim = 16)
    assert(r0.admitted == 24)
    val fs = graft.util.Lsm.fs(spark, idx)
    // poison EVERY vectors cell: any scan of the tree's id column now
    // throws, so the batch below succeeding proves the positive-path
    // verify reads the id sidecar, never the tree (the r13 O(corpus)
    // curve, closed)
    val cells = fs.listStatus(new Path(s"$idx/vectors")).filter(_.isDirectory)
    cells.foreach { c =>
      val out = fs.create(new Path(c.getPath, "poison.parquet"))
      out.write("not a parquet file".getBytes); out.close()
    }
    // and poison every ids/tb= bucket the batch's bloom-positives do NOT
    // hash to: the verify succeeding also proves bucket-level pruning
    val batch = vecsDf((0L until 6L) ++ (200L until 212L))
    val bits = BloomSidecar.read(spark, idx).get
    val positives = batch.select("vec_id")
      .filter(BloomSidecar.probe(BloomSidecar.broadcast(spark, bits), col("vec_id")))
    val nBuckets = spark.read.parquet(s"$idx/ids_meta")
      .collect()(0).getAs[Long]("n_buckets").toInt
    val probedBuckets = positives
      .select(graft.util.IdTree.bucketOf(col("vec_id"), nBuckets))
      .collect().map(_.getLong(0)).toSet
    val idBuckets = fs.listStatus(new Path(s"$idx/ids")).filter(_.isDirectory)
    val poisoned = idBuckets.filterNot(d =>
      probedBuckets(d.getPath.getName.stripPrefix("tb=").toLong))
    assert(poisoned.nonEmpty, "fixture must leave un-probed buckets to poison")
    poisoned.foreach { d =>
      val out = fs.create(new Path(d.getPath, "poison.parquet"))
      out.write("not a parquet file".getBytes); out.close()
    }
    val r1 = EmbIngest.commitEmbBatch(spark, idx, batch, 1L, nlist = 4, dim = 16)
    assert(r1.droppedRedelivered == 6 && r1.admitted == 12,
      s"re-deliveries must drop through the pruned verify, got $r1")
    cells.foreach(c => fs.delete(new Path(c.getPath, "poison.parquet"), false))
    poisoned.foreach(d => fs.delete(new Path(d.getPath, "poison.parquet"), false))
    val served = spark.read.parquet(s"$idx/vectors").select("vec_id")
      .collect().map(_.getLong(0)).sorted
    assert(served.toSeq == ((0L until 24L) ++ (200L until 212L)).sorted,
      "exactly one copy of every admitted id")
  }

  test("inserted counter is exact under replay: a crashed batch's retry does not re-count") {
    val dir = java.nio.file.Files.createTempDirectory("bloom-rc").toString + "/t"
    val empty = Seq.empty[Long].toDF("id")
    BloomSidecar.fold(spark, dir, (0L until 60L).toDF("id"), "id", 0L, empty,
      expectedItems = 100L)
    BloomSidecar.fold(spark, dir, (60L until 90L).toDF("id"), "id", 1L, empty)
    // a crash AFTER the sidecar committed but BEFORE the tree fold's
    // marker replays the whole batch — the sidecar re-folds batch 1
    BloomSidecar.fold(spark, dir, (60L until 90L).toDF("id"), "id", 1L, empty)
    BloomSidecar.fold(spark, dir, (60L until 90L).toDF("id"), "id", 1L, empty)
    val s = BloomSidecar.stats(spark, dir).get
    assert(s.inserted == 90L,
      s"replayed folds must not drift the counter past the truth, got $s")
    // and the counted-batch watermark still admits the NEXT batch's count
    BloomSidecar.fold(spark, dir, (90L until 100L).toDF("id"), "id", 2L, empty)
    assert(BloomSidecar.stats(spark, dir).get.inserted == 100L)
  }

  test("stats is read-only: a mid-swap crash state is reported without mutating the twins") {
    val dir = java.nio.file.Files.createTempDirectory("bloom-ro").toString + "/t"
    val empty = Seq.empty[Long].toDF("id")
    BloomSidecar.fold(spark, dir, (0L until 40L).toDF("id"), "id", 0L, empty,
      expectedItems = 100L)
    val fs = graft.util.Lsm.fs(spark, dir)
    // manufacture the mid-commitSwap state: live renamed to old, staged
    // (the successor, fully written) not yet renamed in
    val staged = new Path(graft.util.Lsm.stagedPath(dir, "bloom", 1L))
    spark.read.parquet(s"$dir/bloom").write.parquet(staged.toString)
    fs.rename(new Path(s"$dir/bloom"), new Path(s"$dir/bloom_old_b1"))
    val s = BloomSidecar.stats(spark, dir)
    assert(s.exists(_.inserted == 40L), s"stats must resolve the staged twin: $s")
    // the writer's in-flight swap is untouched: both twins intact, live
    // still absent — a concurrent monitor can never wedge the commit
    assert(fs.exists(staged) && fs.exists(new Path(s"$dir/bloom_old_b1")) &&
      !fs.exists(new Path(s"$dir/bloom")), "stats must not mutate the tree")
    // old-twin-only (crash before commitSwap's second rename... i.e. a
    // rolled-back fold): stats reads the old twin, still without mutating
    fs.delete(staged, true)
    val s2 = BloomSidecar.stats(spark, dir)
    assert(s2.exists(_.inserted == 40L) &&
      fs.exists(new Path(s"$dir/bloom_old_b1")))
    // staged-only beside a missing live dir is a possibly-partial
    // cold-start write: absent, not a half-read
    fs.rename(new Path(s"$dir/bloom_old_b1"), staged)
    assert(BloomSidecar.stats(spark, dir).isEmpty)
  }

  test("rebuild sizes to the tree and keeps full coverage") {
    val dir = java.nio.file.Files.createTempDirectory("bloom-rb").toString + "/t"
    val empty = Seq.empty[Long].toDF("id")
    // the tree outgrows the sidecar's capacity (20) before the rebuild
    BloomSidecar.fold(spark, dir, (0L until 10L).toDF("id"), "id", 0L, empty,
      expectedItems = 20L)
    BloomSidecar.fold(spark, dir, (10L until 500L).toDF("id"), "id", 1L, empty)
    BloomSidecar.rebuild(spark, dir, (0L until 500L).toDF("id"), "id", 2L,
      minItems = 100L)
    val row = spark.read.parquet(s"$dir/bloom")
      .select("expected_items").collect()(0).getLong(0)
    assert(row == 1000L, "capacity = max(minItems, 2 x current ids)")
    val bits = BloomSidecar.read(spark, dir).get
    assert((0L until 500L).toDF("id")
      .filter(BloomSidecar.probe(
          BloomSidecar.broadcast(spark, bits), col("id"))).count() == 500L)
  }

  private def storedBatch(dir: String): Long =
    spark.read.parquet(s"$dir/bloom").select("counted_batch").head().getLong(0)

  test("rebuild at or below half fill leaves the sidecar untouched and never reads the ids") {
    val dir = java.nio.file.Files.createTempDirectory("bloom-skip").toString + "/t"
    BloomSidecar.fold(spark, dir, (0L until 50L).toDF("id"), "id", 0L,
      Seq.empty[Long].toDF("id"), expectedItems = 100L)
    BloomSidecar.rebuild(spark, dir,
      throw new AssertionError("a sidecar with headroom must not scan the tree"),
      "id", 1L, minItems = 100L)
    assert(storedBatch(dir) == 0L, "the stored sidecar is the fold's, not a rewrite")
    assert(BloomSidecar.stats(spark, dir).get == BloomSidecar.Stats(100L, 50L, 0.01))
  }

  test("rebuild past half fill grows the capacity") {
    val dir = java.nio.file.Files.createTempDirectory("bloom-grow").toString + "/t"
    val empty = Seq.empty[Long].toDF("id")
    BloomSidecar.fold(spark, dir, (0L until 10L).toDF("id"), "id", 0L, empty,
      expectedItems = 100L)
    BloomSidecar.fold(spark, dir, (10L until 60L).toDF("id"), "id", 1L, empty)
    BloomSidecar.rebuild(spark, dir, (0L until 60L).toDF("id"), "id", 2L,
      minItems = 100L)
    assert(storedBatch(dir) == 2L)
    assert(BloomSidecar.stats(spark, dir).get == BloomSidecar.Stats(120L, 60L, 0.01))
  }

  test("rebuild of a sidecar with an unknown count (n_items = -1) rewrites it") {
    val dir = java.nio.file.Files.createTempDirectory("bloom-unk").toString + "/t"
    BloomSidecar.fold(spark, dir, (0L until 10L).toDF("id"), "id", 0L,
      Seq.empty[Long].toDF("id"), expectedItems = 100L)
    val fs = graft.util.Lsm.fs(spark, dir)
    spark.read.parquet(s"$dir/bloom").withColumn("n_items", lit(-1L))
      .write.parquet(graft.util.Lsm.stagedPath(dir, "bloom", 1L))
    graft.util.Lsm.commitSwap(fs, dir, "bloom", 1L)
    assert(BloomSidecar.stats(spark, dir).get.inserted == -1L)
    BloomSidecar.rebuild(spark, dir, (0L until 10L).toDF("id"), "id", 2L,
      minItems = 100L)
    assert(storedBatch(dir) == 2L)
    assert(BloomSidecar.stats(spark, dir).get == BloomSidecar.Stats(100L, 10L, 0.01))
  }
}
