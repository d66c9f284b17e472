package graft.tools

import graft.operators.{Multimodal, Pq, Retrieval, Similarity}
import graft.streaming.{DocIngest, EmbIngest, MediaIngest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Daemon soak harness: drives one ingest daemon's at-rest tree for
  * hundreds of micro-batches and records what an operator would watch:
  *   - per-batch wall (must stay FLAT: O(batch), not O(corpus));
  *   - per-bucket LSM fragment counts (must stay BOUNDED across
  *     compaction cycles) and the Bloom sidecar's fill;
  *   - served == rebuild equivalence at checkpoints; a divergence stops
  *     the run.
  *
  * Daemons:
  *   - `doc` ([[DocIngest]], default 200 x 40): text LSH gate, BM25 fold
  *     with compaction every 10, IVF vector gate with a retrain every 50,
  *     eval-set decontamination. Extra arg: `zipf` (default, 10k-type
  *     Zipf vocabulary) or `toy` (a 34-word vocabulary that saturates the
  *     LSH band space).
  *   - `emb` ([[EmbIngest]], default 60 x 1000): 384-dim embeddings,
  *     nlist 256 with the IVF-PQ twin, compaction every 10, the dual
  *     retrain every 30. Extra args: `[nlist] [maxNlist]`.
  *   - `media` ([[MediaIngest]], default 100 x 40): BMP payloads through
  *     decode, aHash, the Hamming gate, fold and compaction. Extra args:
  *     `[width] [height]` of the images.
  *
  * Batch mix (deterministic from the batch number, so replayable): ~10%
  * exact re-deliveries of the previous batch, ~10% near-dups of earlier
  * docs under new ids, the rest novel (doc also ~5% eval-contaminated).
  *
  * Run: `tools/run_probe.sh graft.tools.Soak <doc|emb|media> [nBatches]
  * [perBatch] [extra...]`. Output is JSON lines: `SOAK` per sample,
  * `SOAK_CHECKPOINT`, then `SOAK_SUMMARY` (wall percentiles and quarter
  * means) and `SOAK_PHASES` (per-phase quarter means); doc adds
  * `SOAK_BANDS` (LSH band collision rates). */
object Soak {

  /** One daemon under soak. */
  private trait Daemon {
    val sampleEvery: Int
    val checkpointEvery: Int
    /** Commits batch `b`: (admitted, whether the batch retrained, JSON
      * fields of the batch result). A retrain batch's wall is reported
      * apart, in `retrain_walls`, so the wall percentiles stay per-batch
      * fold cost. Phases the daemon times go into `phases`. */
    def commit(b: Int, phases: mutable.Map[String, Double]): (Long, Boolean, String)
    /** JSON fields describing the tree after batch `b`. */
    def sample(b: Int): String
    /** JSON fields of a served == rebuild check, and whether it held. */
    def checkpoint(b: Int): (String, Boolean)
    def summary: String = ""
    def finish(): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Set("doc", "emb", "media")(mode),
      "usage: Soak <doc|emb|media> [nBatches] [perBatch] [extra...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession(s"local[$cpus]", cpus)
    val root = java.nio.file.Files.createTempDirectory(s"graft_soak_$mode").toString
    // the run's corpus, indexes and rebuild copies go with the run, also
    // when a checkpoint diverges
    try run(spark, root, mode, args)
    finally {
      spark.stop()
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    }
  }

  private def run(spark: SparkSession, root: String, mode: String,
      args: Array[String]): Unit = {
    val (defaultBatches, defaultPerBatch) =
      Map("doc" -> (200, 40), "emb" -> (60, 1000), "media" -> (100, 40))(mode)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(defaultBatches)
    val perBatch = args.lift(2).map(_.toInt).getOrElse(defaultPerBatch)
    val extra = args.drop(3).lift
    val daemon: Daemon = mode match {
      case "doc" => new DocDaemon(spark, root, perBatch, extra(0).getOrElse("zipf"))
      case "emb" => new EmbDaemon(spark, root, perBatch,
        extra(0).map(_.toInt).getOrElse(256), extra(1).map(_.toInt).getOrElse(4096))
      case "media" => new MediaDaemon(spark, root, perBatch,
        extra(0).map(_.toInt).getOrElse(24), extra(1).map(_.toInt).getOrElse(16))
    }

    val walls = mutable.ArrayBuffer[Double]()
    val retrainWalls = mutable.ArrayBuffer[Double]()
    val phaseHistory = mutable.ArrayBuffer[Map[String, Double]]()
    var totalAdmitted = 0L
    for (b <- 0 until nBatches) {
      val phases = mutable.LinkedHashMap[String, Double]()
      val t0 = System.nanoTime()
      val (admitted, retrain, result) = daemon.commit(b, phases)
      val wall = (System.nanoTime() - t0) / 1e9
      if (retrain) retrainWalls += wall else walls += wall
      phaseHistory += phases.toMap
      totalAdmitted += admitted
      if (b % daemon.sampleEvery == 0 || b == nBatches - 1 || retrain) {
        val phaseJson = phases.map { case (k, v) => "\"" + k + f"""":$v%.2f""" }
          .mkString("{", ",", "}")
        println(f"""SOAK {"mode":"$mode","batch":$b,"wall":$wall%.2f,"retrain":$retrain,"admitted":$admitted,$result"total_admitted":$totalAdmitted,${daemon.sample(b)},"phases":$phaseJson}""")
      }
      if (b > 0 && b % daemon.checkpointEvery == 0) {
        val (fields, ok) = daemon.checkpoint(b)
        println(s"""SOAK_CHECKPOINT {"mode":"$mode","batch":$b,$fields}""")
        require(ok, s"checkpoint $b diverged")
      }
    }
    val sorted = walls.sorted
    def pct(p: Double) = sorted((p * (sorted.size - 1)).toInt)
    val quarter = math.max(1, walls.size / 4)
    def mean(xs: Iterable[Double]) = xs.sum / xs.size
    println(f"""SOAK_SUMMARY {"mode":"$mode","batches":$nBatches,"per_batch":$perBatch,"total_admitted":$totalAdmitted,"wall_p50":${pct(0.5)}%.2f,"wall_p90":${pct(0.9)}%.2f,"wall_max":${sorted.last}%.2f,"first_quarter_mean":${mean(walls.take(quarter))}%.2f,"last_quarter_mean":${mean(walls.takeRight(quarter))}%.2f,"retrain_walls":${retrainWalls.map(w => f"$w%.1f").mkString("[", ",", "]")}${daemon.summary}}""")
    // per-phase quarter means: which phase's curve grows is a measurement
    // (batches without a phase contribute 0 to its mean)
    val phaseQuarter = math.max(1, nBatches / 4)
    val perPhase = phaseHistory.flatMap(_.keys).distinct.sorted.map { k =>
      def qm(qs: Iterable[Map[String, Double]]) = mean(qs.map(_.getOrElse(k, 0.0)))
      "\"" + k + f"""":{"q1_mean":${qm(phaseHistory.take(phaseQuarter))}%.2f,"q4_mean":${qm(phaseHistory.takeRight(phaseQuarter))}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""SOAK_PHASES $perPhase""")
    daemon.finish()
  }

  /** Largest data-file count in any `prefix*` bucket directory under
    * `dir`: the LSM fragment gauge that compaction must keep bounded. */
  private def maxFragments(spark: SparkSession, dir: String, prefix: String): Int = {
    val fs = graft.util.Lsm.fs(spark, dir)
    val p = new Path(dir)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith(prefix))
      .map(d => fs.listStatus(d.getPath).count(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")))
      .foldLeft(0)(math.max)
  }

  /** Sidecar headroom: a fill past 1.0 means the re-delivery gate is
    * silently degrading toward scan-always. */
  private def bloomFill(spark: SparkSession, tree: String): String =
    graft.util.BloomSidecar.stats(spark, tree).map(s => f"${s.fill}%.4f")
      .getOrElse("null")

  private def sortedPairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  private final class DocDaemon(spark: SparkSession, root: String,
      perBatch: Int, vocab: String) extends Daemon {
    import spark.implicits._
    val sampleEvery = 10
    val checkpointEvery = 50
    private val zipf = vocab != "toy"
    private val (compactEvery, retrainEvery) = (10, 50)
    private val (corpus, index, inv, emb, eval) =
      (s"$root/corpus", s"$root/index", s"$root/inv", s"$root/emb", s"$root/eval")
    private val evalPhrase = "contaminated benchmark answer key sequence"
    Seq((900000L, s"the $evalPhrase must never train"))
      .toDF("doc_id", "text").write.parquet(eval)

    private val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lumen", "quark", "spark",
      "shard", "vector", "tensor", "corpus", "bucket", "anchor", "raven",
      "cobalt", "ember", "fjord", "glyph", "helix", "isotope", "jigsaw",
      "krypton", "lattice", "meridian", "nebula", "onyx", "prism", "quartz")
    private val vocabSize = 10000

    /** Zipf(s=1) rank by the continuous inverse CDF k = V^u. */
    private def docText(id: Long): String = {
      val r = new scala.util.Random(id * 2654435761L)
      if (zipf) (0 until 30).map(_ => "w" + math.max(1, math.min(vocabSize,
        math.pow(vocabSize.toDouble, r.nextDouble()).toInt))).mkString(" ")
      else (0 until 30).map(_ => words(r.nextInt(words.length))).mkString(" ")
    }

    /** A genuinely 16-dimensional seeded Gaussian: a 1-dof synth saturates
      * the near-dup gate once stored phases pack the circle. */
    private def embedding(text: String): Array[Float] = {
      val r = new scala.util.Random(text.hashCode.toLong * 0x9E3779B9L)
      Array.fill(16)(r.nextGaussian().toFloat)
    }

    private def batch(b: Int): DataFrame = {
      val r = new scala.util.Random(b * 7919L + 17)
      (0 until perBatch).map { j =>
        val roll = r.nextInt(100)
        val id = b * 1000L + j
        val (docId, text) =
          if (b > 0 && roll < 10) { // exact re-delivery of a prior-batch doc
            val pid = (b - 1) * 1000L + r.nextInt(perBatch)
            (pid, docText(pid))
          } else if (b > 0 && roll < 20) { // near-dup: one word edited
            val toks = docText(r.nextInt(b) * 1000L + r.nextInt(perBatch)).split(" ")
            toks(toks.length - 1) = "edited"
            (id, toks.mkString(" "))
          } else if (roll < 25) (id, docText(id) + " " + evalPhrase)
          else (id, docText(id))
        (docId, text, "en", s"src${docId % 3}", text.length.toLong, embedding(text))
      }.toDF("doc_id", "text", "lang", "source", "n_chars", "embedding")
    }

    spark.conf.set("spark.sql.shuffle.partitions", "8") // tens of docs per batch

    def commit(b: Int, phases: mutable.Map[String, Double]) = {
      val r = DocIngest.commitDocBatch(spark, batch(b), b.toLong, corpus, index,
        invIndexPath = Some(inv), compactEvery = compactEvery,
        embIndexPath = Some(emb), embThreshold = 0.999999,
        embNlist = 16, embDim = 16, evalPath = Some(eval),
        phaseWalls = Some(phases))
      // periodic IVF drift repair in the maintenance slot, timed as a phase
      val retrain = b > 0 && b % retrainEvery == 0
      if (retrain) {
        val t0 = System.nanoTime()
        Similarity.ivfRetrain(spark, emb, nlist = 16, dim = 16)
        phases("retrain") = (System.nanoTime() - t0) / 1e9
      }
      (r.admitted, retrain, "")
    }

    def sample(b: Int): String =
      s""""inv_max_frag":${maxFragments(spark, s"$inv/postings", "tb=")},""" +
        s""""emb_max_frag":${maxFragments(spark, s"${Similarity.ivfRoot(spark, emb)}/vectors", "cid=")},""" +
        s""""lsh_bloom_fill":${bloomFill(spark, index)}"""

    def checkpoint(b: Int): (String, Boolean) = {
      // 1: BM25 off the folded index == a cold rebuild. The terms must
      // exist in the run's vocabulary, or served == rebuild degenerates
      // to empty == empty.
      val terms = if (zipf) Seq("w3", "w47", "w311") else Seq("spark", "vector", "raven")
      def topK(dir: String) = Retrieval.bm25TopKIndexed(spark, dir, terms, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      val served = topK(inv)
      val rebuildDir = s"$root/rebuild_inv_$b"
      Retrieval.writeInvertedIndex(
        DocIngest.readCorpus(spark, corpus).select("doc_id", "text"),
        rebuildDir, nBuckets = 64)
      val bm25Ok = served == topK(rebuildDir)
      // 2: folded IVF tree == a full re-assignment against its own stored
      // centroids (the fold's frozen-quantizer contract)
      val embRoot = Similarity.ivfRoot(spark, emb)
      val vectors = spark.read.parquet(s"$embRoot/vectors")
      val ivfOk = sortedPairs(vectors.select(col("vec_id"), col("cid").cast("long"))) ==
        sortedPairs(Similarity.assignToCentroids(vectors.select("vec_id", "embedding"),
          spark.read.parquet(s"$embRoot/centroids")))
      (s""""bm25_served_eq_rebuild":$bm25Ok,"ivf_tree_eq_reassign":$ivfOk,"served_rows":${served.size}""",
        bm25Ok && ivfOk)
    }

    override def summary: String = s""","vocab":"$vocab""""

    /** Per-band collision telemetry over the final LSH tree: the share of
      * stored rows in multi-doc band buckets, and the worst bucket. */
    override def finish(): Unit = {
      val perBand = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$index/bands")
        .groupBy("band", "bucket").agg(countDistinct("doc_id").as("sz"))
        .groupBy("band").agg(
          count(lit(1)).as("n_buckets"),
          sum("sz").as("n_rows"),
          sum(when(col("sz") > 1, col("sz")).otherwise(0L)).as("multi_rows"),
          max("sz").as("max_bucket"))
        .withColumn("collision_rate", round(col("multi_rows") / col("n_rows"), 4))
        .orderBy("band")
        .collect()
      val bandsJson = perBand.map { r =>
        s"""{"band":${r.getInt(0)},"n_buckets":${r.getLong(1)},"n_rows":${r.getLong(2)},""" +
          s""""multi_rows":${r.getLong(3)},"max_bucket":${r.getLong(4)},"collision_rate":${r.getDouble(5)}}"""
      }.mkString("[", ",", "]")
      println(s"""SOAK_BANDS {"vocab":"$vocab","worst_band_collision_rate":${perBand.map(_.getDouble(5)).max},"max_bucket":${perBand.map(_.getLong(4)).max},"bands":$bandsJson}""")
    }
  }

  private final class EmbDaemon(spark: SparkSession, root: String,
      perBatch: Int, nlist: Int, maxNlist: Int) extends Daemon {
    import spark.implicits._
    val sampleEvery = 5
    val checkpointEvery = 20
    private val (compactEvery, retrainEvery) = (10, 30)
    private val (dim, nClusters) = (384, 4000)
    private val (idx, pq) = (s"$root/idx", s"$root/pq")

    private def member(id: Long, c: Int): Array[Float] = {
      val d = new scala.util.Random(c * 7919L + 101)
      val r = new scala.util.Random(id * 0x9E3779B97F4A7C15L + 3)
      Array.fill(dim)((d.nextGaussian() + r.nextGaussian() * 0.1).toFloat)
    }
    private def cluster(id: Long): Int =
      ((id / 100000L).toInt * 31 + (id % 100000L).toInt) % nClusters

    /** Per 1,000 vectors: ~100 exact re-deliveries, ~100 near-dups (1e-3
      * noise, cosine above the 0.999 gate), ~800 novel members of tight
      * clusters (0.1 noise, cosine below the gate). */
    private def batch(b: Int): DataFrame = {
      val r = new scala.util.Random(b * 104729L + 5)
      (0 until perBatch).map { j =>
        val roll = r.nextInt(100)
        val id = b * 100000L + j
        if (b > 0 && roll < 10) {
          val pid = (b - 1) * 100000L + r.nextInt(perBatch)
          (pid, member(pid, cluster(pid)))
        } else if (b > 0 && roll < 20) {
          val src = r.nextInt(b) * 100000L + r.nextInt(perBatch)
          val n = new scala.util.Random(id * 2654435761L + 17)
          (id, member(src, cluster(src)).map(x => x + (n.nextGaussian() * 1e-3).toFloat))
        } else (id, member(id, (b * 31 + j) % nClusters))
      }.toDF("vec_id", "embedding")
    }

    def commit(b: Int, phases: mutable.Map[String, Double]) = {
      val r = EmbIngest.commitEmbBatch(spark, idx, batch(b), b.toLong,
        nlist = nlist, dim = dim, dedupThreshold = Some(0.999), nprobe = 4,
        compactEvery = compactEvery, retrainEvery = retrainEvery,
        pqIndexPath = Some(pq), pqM = 8, pqKsub = 16, maxNlist = maxNlist)
      (r.admitted, b > 0 && b % retrainEvery == 0,
        s""""dropped_neardup":${r.droppedWithinBatch + r.droppedVsIndex},"dropped_redelivered":${r.droppedRedelivered},""")
    }

    def sample(b: Int): String = {
      val vroot = Similarity.ivfRoot(spark, idx)
      val cells = spark.read.parquet(s"$vroot/vectors").groupBy("cid").count()
        .select(col("count")).collect().map(_.getLong(0))
      val skew = if (cells.isEmpty) 0.0 else cells.max.toDouble / (cells.sum.toDouble / cells.length)
      f""""cells":${cells.length},"cell_max":${cells.foldLeft(0L)(math.max)},"cell_skew":$skew%.2f,""" +
        s""""bloom_fill":${bloomFill(spark, idx)},"ivf_max_frag":${maxFragments(spark, s"$vroot/vectors", "cid=")},""" +
        s""""pq_max_frag":${maxFragments(spark, s"${Pq.ivfPqRoot(spark, pq)}/codes", "cid=")}"""
    }

    /** The folded serving tree == a full re-assignment against its own
      * centroids, both trees hold the same ids, and ADC serves top-k. */
    def checkpoint(b: Int): (String, Boolean) = {
      val vroot = Similarity.ivfRoot(spark, idx)
      val tree = spark.read.parquet(s"$vroot/vectors")
      val stored = sortedPairs(tree.select(col("vec_id"), col("cid").cast("long")))
      val ivfOk = stored == sortedPairs(Similarity.assignToCentroids(
        tree.select("vec_id", "embedding"), spark.read.parquet(s"$vroot/centroids")))
      val pqIds = spark.read.parquet(s"${Pq.ivfPqRoot(spark, pq)}/codes")
        .select("vec_id").distinct().count()
      val idsOk = pqIds == stored.size
      val adcRows = Pq.ivfPqTopK(spark, pq, batch(b + 7919).limit(3), 10, nprobe = 8,
        m = 8, dim = dim).count() // held-out probes
      (s""""ivf_tree_eq_reassign":$ivfOk,"pq_ids_eq_ivf":$idsOk,"adc_rows":$adcRows""",
        ivfOk && idsOk && adcRows == 30)
    }

    override def summary: String =
      s""","dim":$dim,"nlist":$nlist,"centroid_broadcast_bytes":${nlist * dim * 8}"""
  }

  private final class MediaDaemon(spark: SparkSession, root: String,
      perBatch: Int, imgW: Int, imgH: Int) extends Daemon {
    import spark.implicits._
    val sampleEvery = 10
    val checkpointEvery = 25
    private val compactEvery = 10
    private val (corpus, index) = (s"$root/corpus", s"$root/index")
    private val payloadBytes = imgW * imgH * 3 + 54 // 24-bit BMP + header
    // ~64 MB vectorized-reader batches: the default 4096 rows of large
    // payloads asks every task for multi-GB buffers (MediaIngest.readCorpus)
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize",
      math.max(16, (64 << 20) / payloadBytes).toString)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // id block wide enough that batch id ranges never collide
    private val idBlock = math.max(1000L, perBatch * 2L)

    /** The same image with one low pixel bit flipped: aHash moves ≤1 bit. */
    private def nearDup(seed: Long, saltId: Long): Array[Byte] = {
      val out = Multimodal.encodeBmp(imgW, imgH, seed).clone()
      val i = out.length - 1 - (saltId % 7).toInt
      out(i) = (out(i) ^ 0x01).toByte
      out
    }

    private def batch(b: Int): DataFrame = {
      val r = new scala.util.Random(b * 6700417L + 23)
      (0 until perBatch).map { j =>
        val roll = r.nextInt(100)
        val id = b * idBlock + j
        if (b > 0 && roll < 10) {
          val pid = (b - 1) * idBlock + r.nextInt(perBatch)
          (pid, Multimodal.encodeBmp(imgW, imgH, pid))
        } else if (b > 0 && roll < 20)
          (id, nearDup(r.nextInt(b) * idBlock + r.nextInt(perBatch), id))
        else (id, Multimodal.encodeBmp(imgW, imgH, id))
      }.toDF("doc_id", "payload")
    }

    def commit(b: Int, phases: mutable.Map[String, Double]) = {
      val r = MediaIngest.commitMediaBatch(spark, batch(b), b.toLong, corpus,
        index, maxDist = 6, nBuckets = 8, compactEvery = compactEvery,
        phaseWalls = Some(phases))
      (r.admitted, false,
        s""""dropped_neardup":${r.droppedWithinBatch + r.droppedVsIndex},"dropped_redelivered":${r.droppedRedelivered},""")
    }

    def sample(b: Int): String =
      s""""chunks_max_frag":${maxFragments(spark, s"$index/chunks", "tb=")},"bloom_fill":${bloomFill(spark, index)}"""

    /** The served hash table == a cold decode + hash pass over the
      * admitted corpus. */
    def checkpoint(b: Int): (String, Boolean) = {
      val served = sortedPairs(Multimodal.servedHashes(spark, index).select("doc_id", "ahash"))
      val ok = served == sortedPairs(Multimodal.imageHashes(spark,
        MediaIngest.readCorpus(spark, corpus)).toDF().select("doc_id", "ahash"))
      (s""""served_eq_rebuild":$ok,"served_rows":${served.size}""", ok)
    }

    override def summary: String =
      s""","img_w":$imgW,"img_h":$imgH,"payload_bytes":$payloadBytes"""
  }
}
