package graft.operators

import graft.functions.ArrayMath
import graft.util.Checkpoints.BarrierOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for a large-scale corpus:
  *
  *  - exact (hash-groupBy on a normalization key);
  *  - n-gram Jaccard pairs via an inverted index (exact; bucket blowup bounded
  *    by `maxGramDocs`);
  *  - MinHash + banded LSH (scale path: candidates via band-bucket join, then
  *    exact verification only on candidates);
  *  - SimHash (64-bit signature; near-dups = small Hamming distance, found by
  *    16-bit chunk bucketing — pigeonhole guarantees full recall for
  *    distance <= 3);
  *  - embedding cosine near-dup (exact pairwise; the LSH-bucketed scale path
  *    is Similarity.lshTopK's bucketing).
  *
  * Performance shape: everything runs over EXPLODED (doc_id, gram/token) rows
  * with codegen'd hash + min/sum aggregates. The array-lambda formulation
  * (transform/aggregate higher-order functions) is CodegenFallback in Spark —
  * interpreted per element — and profiled ~10x slower at sf0.1; the scalar
  * Column variants ([[wordNGrams]], [[simhash]]) are kept for API/tests but
  * the pair operators never evaluate per-row lambdas in the hot path.
  *
  * Every variant emits candidate pairs with doc_id ordering (a < b) so results
  * are deterministic and oracle-comparable.
  */
object Dedup {

  /** Exact dedup groups by `key`: representative = min(doc_id). */
  def exactGroups(docs: DataFrame, key: Column): DataFrame =
    docs.groupBy(key.as("dup_key"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Skew-safe variant of [[exactGroups]]: pre-aggregate on (key, salt) so a
    * hot normalization key (e.g. empty/boilerplate text at web scale) spreads
    * across `salts` reducers before the final per-key combine. Identical
    * results to exactGroups for any salts >= 1. */
  def exactGroupsSalted(docs: DataFrame, key: Column, salts: Int = 64): DataFrame =
    docs
      .withColumn("_salt", pmod(xxhash64(col("doc_id")), lit(salts)))
      .groupBy(key.as("dup_key"), col("_salt"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .groupBy("dup_key")
      .agg(min(col("keep_id")).as("keep_id"), sum(col("n_dups")).as("n_dups"))

  /** Word n-grams over a materialized token-array column (no text re-split
    * per gram), distinct. */
  private def gramsOfToks(toks: Column, n: Int): Column = {
    val ids = sequence(lit(0), size(toks) - n)
    val grams = transform(ids, i =>
      concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))
    when(size(toks) >= n, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-grams of `text` (space-tokenized), distinct, as an array column.
    * Scalar API variant; the pair operators use [[gramRows]] instead. */
  def wordNGrams(text: Column, n: Int): Column =
    gramsOfToks(split(text, " "), n)

  /** Exploded (doc_id, gram) rows — one pass over the text, then narrow. */
  def gramRows(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(gramsOfToks(col("toks"), n)).as("gram"))

  /** Exact n-gram Jaccard similar pairs (jaccard >= threshold).
    * Inverted index as a doc-frequency gate + gram-local self-join: grams with
    * df == 1 (no pair) or df > `maxGramDocs` (stopword shingles) are dropped
    * BEFORE any pairing, then the surviving (doc_id, gram) rows self-join on
    * gram. No per-gram doc array is ever materialized in one task's heap (the
    * earlier collect_list formulation died exactly that way on the 100x
    * duplicate-heavy probe), and a residual hot gram is a skewed join key that
    * AQE's skew-join split can spread across tasks. The cap bounds the
    * quadratic term at maxGramDocs^2/2 pairs per gram — mandatory at 100 TB,
    * a no-op on the fixtures (df there never exceeds the corpus size ~5000).
    * Results are exact over the df-filtered gram space. */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
      maxGramDocs: Int = 10000): DataFrame = {
    // the gram pool feeds three different-key consumers (sizes by doc, df
    // by gram, the pairing join by gram) — exchange reuse cannot share
    // them, so an unbarriered pool re-runs the corpus explode per consumer
    // (the q101 fan-out lesson); disk-backed: corpus-scale
    graft.util.Checkpoints.ensureDir(docs.sparkSession)
    val g = gramRows(docs, n).barrier(StorageLevel.DISK_ONLY)
    val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    // gramRows is distinct-per-doc, so count(*) per gram == doc frequency
    val keep = g.groupBy("gram").agg(count(lit(1)).as("gdf"))
      .filter(col("gdf") > 1 && col("gdf") <= maxGramDocs)
      .select("gram")
    val gf = g.join(keep, "gram")
    val pairs = gf.select(col("gram"), col("doc_id").as("a_id"))
      .join(gf.select(col("gram"), col("doc_id").as("b_id")), "gram")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
    val withSizes = pairs
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_grams", "a_n"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_grams", "b_n"), "b_id")
    withSizes
      .withColumn("jaccard",
        col("common").cast("double") / (col("a_n") + col("b_n") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("common"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Weak-affinity doc pairs: share at least `minCommon` kept (df-filtered)
    * n-grams but sit BELOW the near-dup Jaccard bar (`jaccard < maxJaccard`).
    * The near-dup graph itself is useless for link prediction — copies of
    * one source form cliques, which are transitively closed and have no
    * open wedge — so the "pairs the similarity join missed" queue needs
    * this weaker relation: topical affinity (shared rare shingles) without
    * duplication. Same inverted-index candidate core as
    * [[ngramJaccardPairs]]; only the final gate differs.
    *
    * THE DF-CAP MATTERS MORE HERE THAN IN THE SIBLINGS: the quadratic
    * term is gdf²/2 candidate pairs per kept gram either way, but the
    * near-dup operators' high-Jaccard gate discards almost all of them
    * after the count, while THIS operator's gate (common >= minCommon,
    * jaccard BELOW the bar) is exactly the region hot shingles populate —
    * a boilerplate 3-gram shared by gdf documents mints gdf²/2 weak pairs
    * that mostly SURVIVE. "Affinity" through a shingle thousands of
    * documents share is also semantically worthless (that's a stopword
    * phrase, not a topic), so the default cap sits an order of magnitude
    * below the near-dup operators' 10000: rare-shingle affinity is the
    * contract, and output size stays O(docs x cap) instead of O(cap²)
    * per hot gram. Raise it deliberately (as q175's fixture-shaping call
    * does) only when the gram-df distribution is known.
    *
    * BREAKING DEFAULT CHANGE (round 11): `maxGramDocs` default dropped
    * 10000 → 1000. A caller relying on the old default silently loses
    * affinity pairs routed through grams with df in (1000, 10000] — if
    * those mattered to you, pass `maxGramDocs = 10000` explicitly. The
    * tighter cap is the intended production contract per the rationale
    * above (rare-shingle affinity; hot shingles are stopword phrases). */
  def affinityPairs(docs: DataFrame, n: Int, minCommon: Long,
      maxJaccard: Double, maxGramDocs: Int = 1000): DataFrame = {
    // same three-consumer gram-pool fan-out as [[ngramJaccardPairs]];
    // disk-backed: corpus-scale
    graft.util.Checkpoints.ensureDir(docs.sparkSession)
    val g = gramRows(docs, n).barrier(StorageLevel.DISK_ONLY)
    val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val keep = g.groupBy("gram").agg(count(lit(1)).as("gdf"))
      .filter(col("gdf") > 1 && col("gdf") <= maxGramDocs)
      .select("gram")
    val gf = g.join(keep, "gram")
    val pairs = gf.select(col("gram"), col("doc_id").as("a_id"))
      .join(gf.select(col("gram"), col("doc_id").as("b_id")), "gram")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n_grams", "a_n"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n_grams", "b_n"), "b_id")
      .withColumn("jaccard",
        col("common").cast("double") / (col("a_n") + col("b_n") - col("common")))
      .filter(col("common") >= minCommon && col("jaccard") < maxJaccard)
      .select(col("a_id"), col("b_id"), col("common"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact n-gram CONTAINMENT pairs: common / min(|A|, |B|) >= threshold —
    * the ASYMMETRIC near-dup detector (Broder '97 §2 distinguishes
    * resemblance from containment) that catches one document quoted,
    * excerpted, or concatenated inside another. Symmetric Jaccard misses
    * exactly these: a 50-gram doc fully embedded in a 500-gram doc has
    * J = 50/500 = 0.1 but containment 1.0 — the quote/boilerplate case a
    * curation pipeline must catch (eval-set leakage hides this way too).
    *
    * Same inverted-index candidate core and df-cap contract as
    * [[ngramJaccardPairs]] (cap bounds the per-gram quadratic term;
    * exact over the df-filtered gram space); only the final ratio
    * differs. Output: (a_id, b_id, common, containment round-6). */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
      maxGramDocs: Int = 10000): DataFrame = {
    // same three-consumer gram-pool fan-out as [[ngramJaccardPairs]];
    // disk-backed: corpus-scale
    graft.util.Checkpoints.ensureDir(docs.sparkSession)
    val g = gramRows(docs, n).barrier(StorageLevel.DISK_ONLY)
    val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val keep = g.groupBy("gram").agg(count(lit(1)).as("gdf"))
      .filter(col("gdf") > 1 && col("gdf") <= maxGramDocs)
      .select("gram")
    val gf = g.join(keep, "gram")
    val pairs = gf.select(col("gram"), col("doc_id").as("a_id"))
      .join(gf.select(col("gram"), col("doc_id").as("b_id")), "gram")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n_grams", "a_n"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n_grams", "b_n"), "b_id")
      .withColumn("containment",
        col("common").cast("double") / least(col("a_n"), col("b_n")))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("common"),
        round(col("containment"), 6).as("containment"))
  }

  /** Prefix-filtered exact n-gram Jaccard pairs (the prefix-filter principle
    * of PPJoin — Xiao et al., WWW'08; Chaudhuri et al., ICDE'06): the SOUND
    * replacement for [[ngramJaccardPairs]]'s df-gate heuristic. Order every
    * document's grams by ascending global doc-frequency (rarest first, ties
    * by gram string); for jaccard >= t a pair must share >= ceil(t*|A|)
    * grams (J = c/(a+b-c) >= t and b >= c give c >= t*a), so by the prefix
    * pigeonhole the first |A| - ceil(t*|A|) + 1 grams of EACH side must
    * intersect. Candidates are therefore generated from a prefix self-join
    * only — no false negatives by construction, unlike the df cap — and the
    * rarest-first order makes the prefix join keys exactly the LOW-df grams,
    * so the quadratic fan-out that kills the full inverted index never
    * forms. Exact jaccard is then verified on candidate pairs alone.
    *
    * Scale shape: df ranking is a word-count aggregate plus a per-doc window
    * (both corpus-linear); the candidate join touches ~(1-t)|G|+1 grams per
    * doc, each with the smallest df in the corpus; verification cost is
    * candidate-bounded. A residual hot prefix gram is a skewed equi-join key
    * (AQE skew split), not a heap problem. Output is identical to
    * [[ngramJaccardPairs]] with the df cap disabled — pinned by spec. */
  def prefixJaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    // The gram pool is consumed FIVE times downstream (the explode chain
    // feeding sizes/df/prefix, then both sides of the verification join),
    // each under a different partitioning, so exchange reuse cannot
    // deduplicate it and fully-lazy composition re-runs the
    // transform+array_distinct gram build per consumer (the measured
    // fan-out pitfall: ~3.4x q31's wall at sf0.1). One eager checkpoint
    // materializes the arrays once; the files free with the result RDD
    // under cleanCheckpoints (the Checkpoints contract), and a
    // materialized gram pool is also the production shape — the same
    // at-rest artifact the MinHash index keeps.
    // Tokens materialize behind their own projection boundary (the gramRows
    // pattern): inlining split() into the gram transform re-splits the text
    // per element_at reference — ~3x grams-per-doc full splits per row, the
    // measured expression-fan-out pitfall.
    graft.util.Checkpoints.ensureDir(docs.sparkSession)
    val gs = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), gramsOfToks(col("toks"), n).as("grams"))
      .barrier(StorageLevel.DISK_ONLY)
    val g = gs.select(col("doc_id"), explode(col("grams")).as("gram"))
    val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val gdf = g.groupBy("gram").agg(count(lit(1)).as("gdf"))
    val w = Window.partitionBy("doc_id").orderBy(col("gdf"), col("gram"))
    val prefix = g.join(gdf, "gram").join(sizes, "doc_id")
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= col("n_grams") - ceil(lit(threshold) * col("n_grams")) + 1)
      .select(col("doc_id"), col("gram"), col("r"), col("n_grams"))
    // candidate pairs, pruned by PPJoin's output-neutral filters before any
    // verification work: the SIZE filter (c >= t*a and c <= b force
    // t*a <= b, symmetrically) and the POSITION filter (shared grams appear
    // in the same relative order on both sides, so min(ra) and min(rb) name
    // the SAME first shared gram; overlap <= 1 + min(a_n-ra, b_n-rb) there,
    // and J >= t needs overlap >= t*(a_n+b_n)/(1+t)). Epsilon slack keeps
    // both prunes conservative under float rounding.
    val cand = prefix.select(col("gram"), col("doc_id").as("a_id"),
        col("r").as("ra"), col("n_grams").as("a_n"))
      .join(prefix.select(col("gram"), col("doc_id").as("b_id"),
        col("r").as("rb"), col("n_grams").as("b_n")), "gram")
      .filter(col("a_id") < col("b_id"))
      .filter(col("a_n") * lit(threshold) <= col("b_n") + lit(1e-9) &&
        col("b_n") * lit(threshold) <= col("a_n") + lit(1e-9))
      .groupBy("a_id", "b_id", "a_n", "b_n")
      .agg(min(col("ra")).as("mra"), min(col("rb")).as("mrb"))
      .filter((lit(1L) + least(col("a_n") - col("mra"), col("b_n") - col("mrb")))
        .cast("double") * lit(1.0 + threshold) >=
        lit(threshold) * (col("a_n") + col("b_n")) - lit(1e-9))
      .select("a_id", "b_id")
    // exact verification: one narrow array_intersect per candidate pair —
    // the doc-sized gram arrays ride the two id joins, no corpus-fanout
    // re-join; size() here reads the joined (materialized) arrays
    cand
      .join(gs.select(col("doc_id").as("a_id"), col("grams").as("a_grams")), "a_id")
      .join(gs.select(col("doc_id").as("b_id"), col("grams").as("b_grams")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_grams"), col("b_grams"))).cast("long").as("common"),
        size(col("a_grams")).cast("long").as("a_n"),
        size(col("b_grams")).cast("long").as("b_n"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("a_n") + col("b_n") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("common"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Shared MinHash signature stage: from exploded gram rows to
    * ((doc_id, band, bucket) band rows, (doc_id, h0..h63, n_grams) sigs).
    * Used by the in-memory pair join and the at-rest incremental index. */
  private def bandSignatures(g: DataFrame, numHashes: Int, bands: Int,
      gramHashes: (Column, Int) => Seq[Column],
      bandBucket: Seq[Column] => Column): (DataFrame, DataFrame) = {
    val rowsPer = numHashes / bands
    val hashed = g.select(col("doc_id") +:
      gramHashes(col("gram"), numHashes).zipWithIndex
        .map { case (c, i) => c.as(s"gh$i") }: _*)
    val sigCols = (0 until numHashes).map(i => min(col(s"gh$i")).as(s"h$i"))
    val sigs = hashed.groupBy("doc_id")
      .agg(sigCols.head, sigCols.tail :+ count(lit(1)).as("n_grams"): _*)
    val banded = sigs.select(col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          bandBucket((b * rowsPer until (b + 1) * rowsPer).map(i => col(s"h$i")))
            .as("bucket"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    (banded, sigs)
  }

  /** MinHash-LSH near-dup pairs: numHashes min-aggregates build the
    * signature (codegen'd, one pass over gram rows), the signature is banded
    * (bands x rowsPerBand = numHashes), candidates bucket-join on
    * (band, band-hash), and exact jaccard is verified on candidates only.
    * Output: pairs with exact jaccard >= threshold among LSH candidates.
    *
    * `gramHashes` supplies the numHashes per-gram hash columns (default
    * seeded xxhash64; [[graft.functions.PortableHashes.minhashGramHashes]]
    * for the SQL-mirrorable family the oracle reproduces) and `bandBucket`
    * combines a band's signature values into its bucket key. The hashes are
    * projected BEFORE the min aggregates so a shared base hash is computed
    * once per gram row (subexpression elimination). */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.35,
      gramHashes: (Column, Int) => Seq[Column] =
        (g, k) => (0 until k).map(i => xxhash64(g, lit(i))),
      bandBucket: Seq[Column] => Column = cs => xxhash64(cs: _*)): DataFrame = {
    val g = gramRows(docs, n)
    val (banded, sigs) = bandSignatures(g, numHashes, bands, gramHashes, bandBucket)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    // exact verification: count shared grams of candidate pairs only
    val ga = g.select(col("doc_id").as("a_id"), col("gram"))
    val gb = g.select(col("doc_id").as("b_id"), col("gram"))
    val common = cand.join(ga, "a_id").join(gb, Seq("b_id", "gram"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
    val sizes = sigs.select(col("doc_id"), col("n_grams"))
    common
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_grams", "a_n"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_grams", "b_n"), "b_id")
      .withColumn("jaccard",
        col("common").cast("double") / (col("a_n") + col("b_n") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("common"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Materialize the MinHash-LSH dedup index AT REST: `bands/` (doc_id,
    * band, bucket), `grams/` (doc_id, gram — the distinct word n-grams, for
    * exact verification of probe candidates), `sizes/` (doc_id, n_grams).
    *
    * This is the operational shape incremental ingest needs at 100 TB: the
    * corpus's signatures are computed ONCE and stored; each new batch joins
    * against the stored bands instead of re-scanning (or re-hashing) the
    * corpus. The index is corpus-derived data sized like the corpus's gram
    * set — an index you store next to the data, not a broadcast. */
  def writeLshIndex(docs: DataFrame, path: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      gramHashes: (Column, Int) => Seq[Column] =
        (g, k) => (0 until k).map(i => xxhash64(g, lit(i))),
      bandBucket: Seq[Column] => Column = cs => xxhash64(cs: _*)): Unit =
    writeIndexTables(docs, n, numHashes, bands, gramHashes, bandBucket,
      sub => s"$path/$sub")

  /** The three index writes, sharing one computation of the gram explode
    * and the 64-min signature aggregate: without the persist, each write
    * would re-run the heavy signature pipeline from scratch (the bands
    * write and the sizes write both sit on top of `sigs`, and the grams
    * write re-explodes the corpus). */
  private def writeIndexTables(docs: DataFrame, n: Int, numHashes: Int,
      bands: Int, gramHashes: (Column, Int) => Seq[Column],
      bandBucket: Seq[Column] => Column, dest: String => String): Unit = {
    import org.apache.spark.storage.StorageLevel
    val g = gramRows(docs, n).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (banded, sigs) =
        bandSignatures(g, numHashes, bands, gramHashes, bandBucket)
      val sigsCached = sigs.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        banded.write.mode("overwrite").parquet(dest("bands"))
        g.write.mode("overwrite").parquet(dest("grams"))
        sigsCached.select(col("doc_id"), col("n_grams"))
          .write.mode("overwrite").parquet(dest("sizes"))
      } finally sigsCached.unpersist()
    } finally g.unpersist()
  }

  /** Incremental near-dup check of a NEW batch against a [[writeLshIndex]]
    * index: band signatures of the batch join the STORED bands (band,
    * bucket); candidates are verified exactly against the STORED gram rows.
    * Output: (a_id = new doc, b_id = indexed doc, common, jaccard >=
    * threshold) — same contract as [[minhashLshPairs]] restricted to
    * new-x-indexed pairs.
    *
    * Scale shape: the corpus side is touched only through the index, and
    * with `broadcastBatch` (the default) it is never SHUFFLED either: the
    * batch-derived sides — band signatures, then candidates x batch grams —
    * carry broadcast hints, so both joins stream map-side over the stored
    * parquet scans. An ingest batch is orders of magnitude smaller than the
    * corpus, which is exactly the broadcast regime; pass
    * `broadcastBatch = false` for corpus-scale backfills, where the joins
    * degrade to plain shuffles. Nothing rehashes the corpus either way.
    * The same (gramHashes, bandBucket) family MUST be passed as at
    * index-build time — signatures are data, the family is their schema. */
  def minhashLshAgainstIndex(spark: SparkSession, path: String,
      newDocs: DataFrame, threshold: Double = 0.35, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      gramHashes: (Column, Int) => Seq[Column] =
        (g, k) => (0 until k).map(i => xxhash64(g, lit(i))),
      bandBucket: Seq[Column] => Column = cs => xxhash64(cs: _*),
      broadcastBatch: Boolean = true): DataFrame = {
    def maybeBc(df: DataFrame): DataFrame = if (broadcastBatch) broadcast(df) else df
    // recursive lookup: the index may hold the base build's flat files plus
    // per-batch subdirectories from [[appendToLshIndex]]
    def stored(sub: String): DataFrame = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$path/$sub")
    val gNew = gramRows(newDocs, n)
    val (bandedNew, sigsNew) =
      bandSignatures(gNew, numHashes, bands, gramHashes, bandBucket)
    val storedBands = stored("bands")
      .select(col("doc_id").as("b_id"), col("band"), col("bucket"))
    val cand = maybeBc(
        bandedNew.select(col("doc_id").as("a_id"), col("band"), col("bucket")))
      .join(storedBands, Seq("band", "bucket"))
      .filter(col("a_id") =!= col("b_id")) // re-ingest of an indexed id
      .select("a_id", "b_id").dropDuplicates("a_id", "b_id")
    val storedGrams = stored("grams")
      .select(col("doc_id").as("b_id"), col("gram"))
    val common = maybeBc(cand
        .join(gNew.select(col("doc_id").as("a_id"), col("gram")), "a_id"))
      .join(storedGrams, Seq("b_id", "gram"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
    val newSizes = sigsNew.select(col("doc_id").as("a_id"), col("n_grams").as("a_n"))
    val storedSizes = stored("sizes")
      .select(col("doc_id").as("b_id"), col("n_grams").as("b_n"))
    maybeBc(common.join(maybeBc(newSizes), "a_id")).join(storedSizes, "b_id")
      .withColumn("jaccard",
        col("common").cast("double") / (col("a_n") + col("b_n") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("common"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Admit a (probed, accepted) batch into a [[writeLshIndex]] index:
    * write its band rows, gram rows, and sizes into `batchTag`
    * subdirectories with OVERWRITE semantics — a replayed batch rewrites
    * the same directories with the same content instead of appending
    * duplicates (the [[graft.streaming.Ingest.commitBatch]] idempotence
    * pattern). With [[minhashLshAgainstIndex]] this closes the ingest
    * loop — probe → drop/keep → admit — without ever touching the corpus
    * itself. Per-batch files compact on the storage layer's schedule like
    * any streaming sink. Same-family requirement as the probe. */
  def appendToLshIndex(docs: DataFrame, path: String, batchTag: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      gramHashes: (Column, Int) => Seq[Column] =
        (g, k) => (0 until k).map(i => xxhash64(g, lit(i))),
      bandBucket: Seq[Column] => Column = cs => xxhash64(cs: _*)): Unit =
    writeIndexTables(docs, n, numHashes, bands, gramHashes, bandBucket,
      sub => s"$path/$sub/$batchTag")

  private val lshSubTables = Seq("bands", "grams", "sizes")
  private def segCommitMarker(path: String, sub: String) =
    new org.apache.hadoop.fs.Path(s"$path/${sub}_seg_commit")
  private def segStaged(path: String, sub: String, upto: Long) =
    new org.apache.hadoop.fs.Path(s"$path/${sub}_seg_staged_$upto")

  /** Finish (or roll back) a crashed [[consolidateLshSegments]] for one
    * sub-table. The marker file — written AFTER the staged segment is
    * complete, holding "<segName>\n<dir>\n<dir>..." — is the commit
    * point: marker present means the segment is complete, so roll
    * FORWARD (rename it in if not yet, delete the listed source dirs,
    * drop the marker); a staged twin without a marker is a possibly-
    * partial write and is deleted. Idempotent; marker removed last. */
  private def recoverSegConsolidation(fs: org.apache.hadoop.fs.FileSystem,
      path: String, sub: String): Unit = {
    val marker = segCommitMarker(path, sub)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val content = try scala.io.Source.fromInputStream(in).mkString
        finally in.close()
      val lines = content.split("\n").filter(_.nonEmpty)
      val segName = lines.head
      val seg = new org.apache.hadoop.fs.Path(s"$path/$sub/$segName")
      val staged = new org.apache.hadoop.fs.Path(
        s"$path/${sub}_seg_staged_${segName.stripPrefix("seg-")}")
      if (!fs.exists(seg) && fs.exists(staged)) fs.rename(staged, seg)
      lines.tail.foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$sub/$d"), true))
      fs.delete(marker, false)
    }
    // any surviving staged twin or tmp marker predates the commit:
    // possibly partial — sweep both
    if (fs.exists(new org.apache.hadoop.fs.Path(path)))
      fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(s => s.getPath.getName.startsWith(s"${sub}_seg_staged_") ||
          s.getPath.getName == s"${sub}_seg_commit_tmp")
        .foreach(s => fs.delete(s.getPath, true))
  }

  /** Merge an LSH index's per-batch sub-directories into one segment per
    * sub-table — the file-count bound the r14 Zipf soak showed the text
    * gate needs: [[appendToLshIndex]] adds a `batch-<id>` directory per
    * micro-batch under bands/grams/sizes, and the probe's recursive
    * listing of those trees grows linearly in BATCH COUNT forever (the
    * measured gate_text curve survived a zero-band-collision realistic
    * vocabulary — it was directory accumulation, not candidates; at a
    * 30 s cadence that is ~2,880 new directories per day per table).
    * Every `batch-<id>` with id ≤ `uptoBatchId`, plus any earlier
    * `seg-<k>` from a previous consolidation, rewrites into one
    * `seg-<uptoBatchId>` directory, content-identical (small source
    * files coalesce through the scan's partition packing). Readers are
    * unchanged: they already list recursively and a segment is just
    * another directory.
    *
    * Call from the single-writer maintenance slot with `uptoBatchId` =
    * a COMMITTED batch id (the owning daemon passes `batchId - 1` at
    * entry — stream serialization commits it): the current batch's own
    * directory is never merged, so a replay's overwrite semantics and
    * the gate's own-batch-dir exclusion are untouched.
    *
    * Crash/retry: per sub-table, the staged segment is written OUTSIDE
    * the table directory (readers must never see it), then a marker
    * file commits it (segment name + source dirs), then rename in,
    * delete sources, drop the marker. Entry recovery
    * ([[recoverSegConsolidation]], run at the start of every call —
    * and a crashed cadence batch replays into the same call) rolls a
    * marked consolidation forward and sweeps an unmarked staged twin,
    * so readers never see a source dir and its segment copy at once. */
  def consolidateLshSegments(spark: SparkSession, path: String,
      uptoBatchId: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val batchPat = "^batch-(\\d+)$".r
    val segPat = "^seg-(\\d+)$".r
    for (sub <- lshSubTables) {
      recoverSegConsolidation(fs, path, sub)
      val subDir = new org.apache.hadoop.fs.Path(s"$path/$sub")
      if (fs.exists(subDir)) {
        val sources = fs.listStatus(subDir).filter(_.isDirectory)
          .map(_.getPath).filter { p =>
            p.getName match {
              case batchPat(id) => id.toLong <= uptoBatchId
              case segPat(id) => id.toLong < uptoBatchId
              case _ => false
            }
          }
        val target = new org.apache.hadoop.fs.Path(
          s"$path/$sub/seg-$uptoBatchId")
        // Read only sources that actually hold DATA files: a
        // zero-admission batch still writes its (empty) batch dir, and a
        // window where every source is empty would fail schema inference
        // and re-throw on every cadence replay — the daemon-wedge class
        // hasBucketData exists for. Empty committed sources still DELETE
        // (they are content-free by construction), so the directory
        // bound holds even through zero-admission stretches.
        val dataSources = sources.filter(p =>
          graft.util.Lsm.hasBucketData(fs, p))
        // >1 source: a single directory gains nothing from a rewrite,
        // and an existing seg-<upto> proves this consolidation already
        // committed (marker protocol) — no-op on the cadence replay
        if (sources.length > 1 && dataSources.nonEmpty && !fs.exists(target)) {
          val staged = segStaged(path, sub, uptoBatchId)
          spark.read.option("recursiveFileLookup", "true")
            .parquet(dataSources.map(_.toString).toSeq: _*)
            .write.mode("overwrite").parquet(staged.toString)
          // marker content must appear atomically — a torn marker would
          // roll the segment forward without deleting its sources
          // (duplicate rows): write to a tmp name, rename in (recovery
          // ignores and sweeps tmp markers)
          val tmpMarker = new org.apache.hadoop.fs.Path(
            s"$path/${sub}_seg_commit_tmp")
          val out = fs.create(tmpMarker, true)
          out.write((s"seg-$uptoBatchId\n" +
            sources.map(_.getName).mkString("\n")).getBytes("UTF-8"))
          out.close()
          fs.rename(tmpMarker, segCommitMarker(path, sub)) // THE commit point
          fs.rename(staged, target)
          sources.foreach(s => fs.delete(s, true))
          fs.delete(segCommitMarker(path, sub), false)
        } else if (sources.length > 1 && dataSources.isEmpty) {
          // every source is a zero-admission empty: nothing to stage, but
          // the directory bound must still hold through idle stretches —
          // delete them outright (committed + content-free; a crash
          // mid-delete leaves empties the next call re-deletes)
          sources.foreach(s => fs.delete(s, true))
        }
      }
    }
  }

  /** 64-bit SimHash over the token multiset: bit b of the signature is the
    * sign of sum over tokens of +-1 according to bit b of xxhash64(token).
    * Scalar Column variant (API/tests). */
  def simhash(text: Column): Column = {
    val hashes = transform(split(text, " "), t => xxhash64(t))
    (0 until 64).map { b =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(votes > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce((a, c) => a.bitwiseOR(c))
  }

  /** SimHash signatures via exploded token rows + 64 codegen'd sum aggregates
    * (identical values to [[simhash]] for the default family; integer sums
    * are order-independent).
    *
    * `tokenHash` hashes each token once (projected, shared across the 64
    * votes); `bitOf(h, b)` extracts vote bit b as a 0/1 column. Defaults are
    * xxhash64 + plain bit extraction; the portable family
    * ([[graft.functions.PortableHashes.simhashBit]]) makes the signatures
    * reproducible by the DuckDB oracle. */
  def simhashSigs(docs: DataFrame,
      tokenHash: Column => Column = xxhash64(_),
      bitOf: (Column, Int) => Column =
        (h, b) => shiftright(h, b).bitwiseAND(1)): DataFrame = {
    // Vote packing: bit b's ones-count c_b fits in a 20-bit field, and
    // sign(sum of +-1 votes) == (2*c_b > n), so THREE bit-counters ride in
    // one 64-bit sum (fields never interact: each stays < 2^20 for docs
    // under 2^20 tokens, and the packed per-token value x token count stays
    // < 2^61 — no ANSI overflow). 22 sum aggregates instead of 64.
    val Width = 20
    val PerLong = 3
    val nLongs = (64 + PerLong - 1) / PerLong
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
      .withColumn("h", tokenHash(col("token")))
    val packedCols = (0 until nLongs).map { l =>
      val bits = l * PerLong until math.min(64, (l + 1) * PerLong)
      sum(bits.zipWithIndex.map { case (b, i) =>
        bitOf(col("h"), b).cast("long") * lit(1L << (Width * i))
      }.reduce(_ + _)).as(s"p$l")
    }
    tok.groupBy("doc_id")
      .agg(packedCols.head, packedCols.tail :+ count(lit(1)).as("n"): _*)
      .select(col("doc_id"),
        // fail LOUDLY past the packing capacity instead of silently carrying
        // a counter into the neighboring bit's field (split such documents
        // upstream, or lower n via normalization)
        when(col("n") >= lit(1L << Width), raise_error(concat(
          lit(s"simhashSigs: document exceeds 2^$Width tokens, packed "),
          lit("vote counters would overflow: doc_id="),
          col("doc_id").cast("string"))))
          .otherwise(
            (0 until 64).map { b =>
              val c = shiftright(col(s"p${b / PerLong}"), Width * (b % PerLong))
                .bitwiseAND((1L << Width) - 1)
              when(c * 2 > col("n"), shiftleft(lit(1L), b)).otherwise(lit(0L))
            }.reduce((a, c) => a.bitwiseOR(c))).as("sig"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming (< 4), via
    * pigeonhole chunk bucketing: any pair within distance 3 agrees on at
    * least one of the four 16-bit chunks. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      tokenHash: Column => Column = xxhash64(_),
      bitOf: (Column, Int) => Column =
        (h, b) => shiftright(h, b).bitwiseAND(1)): DataFrame = {
    val sigs = simhashSigs(docs, tokenHash, bitOf)
    val chunked = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(cNo => struct(lit(cNo).as("c"),
        shiftright(col("sig"), cNo * 16).bitwiseAND(0xFFFFL).as("v"))): _*)).as("ch"))
      .select(col("doc_id"), col("sig"), col("ch.c"), col("ch.v"))
    // hamming filter BEFORE the duplicate drop: hamming is deterministic per
    // pair, so filtering first is equivalent — and the dedup exchange then
    // shuffles only matching pairs instead of every chunk-collision candidate
    chunked.as("x").join(chunked.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("a_id", "b_id")
  }

  /** Exact embedding cosine near-dup pairs (cos >= threshold). O(n^2) baseline.
    *
    * Norms are precomputed per SIDE (n rows) — never inside the pair condition
    * (n^2 evaluations). Writing `cosineKey(a,b) >= t` as a post-join filter
    * lets Catalyst push the full expression into the BroadcastNestedLoopJoin
    * condition, where every ordered pair evaluates three dot products and two
    * sqrts before the cheap id conjunct prunes — measured ~20x the achievable
    * per-pair cost. With per-side norms the condition is `a_id < b_id AND
    * round(dot/(a_norm*b_norm),6) >= t`: the id test short-circuits half the
    * pairs and the survivors do exactly one codegen vec_dot. Values are
    * bit-identical to cosineKey (same fold, same operand order), so oracle
    * hashes are unchanged. */
  def embeddingNearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    // Repartition the COMMON input once, before the per-side projections:
    // (1) the streamed side otherwise inherits the scan's partitioning — for
    // a side that fits in one file that is ONE task doing all n^2/2 pair
    // work; an explicit round-robin repartition (which AQE does not
    // re-coalesce) spreads the quadratic stage across the cluster for the
    // cost of shuffling n rows; (2) both join sides now end in IDENTICAL
    // exchange subtrees, so ReuseExchange evaluates any expensive upstream
    // (e.g. a text-vectorizer feeding this operator) once, not per side.
    val par = emb.sparkSession.sparkContext.defaultParallelism
    val src = emb.repartition(par)
    val a = src.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      ArrayMath.norm(col("embedding")).as("a_norm"))
    val b = src.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      ArrayMath.norm(col("embedding")).as("b_norm"))
    val cos = round(
      ArrayMath.dot(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")), 6)
    // Both gates live IN the join condition, in this order, so codegen
    // short-circuits left-to-right (a separate .filter would be pushed into
    // the condition in Catalyst's order, not ours): the id test prunes half
    // the pairs before any math, the survivors do exactly one vec_dot.
    a.join(b, col("a_id") < col("b_id") && cos >= threshold)
      .select(col("a_id"), col("b_id"), cos.as("cos"))
  }

  /** Connected components over an undirected near-dup pair set: every doc
    * that appears in `pairs` is labeled with the minimum doc_id reachable
    * through shared pairs (`rep_id`) — the canonical representative of its
    * duplicate cluster. Output: (doc_id, rep_id), one row per distinct doc
    * in `pairs`.
    *
    * Physical shape: alternating large-star/small-star edge contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014 — re-derived here as DataFrame plans). Each round rewrites
    * the EDGE SET, not per-node labels: large-star connects every neighbor
    * larger than a node to the minimum of its neighborhood, small-star
    * connects the smaller neighbors; the fixpoint is a forest of stars
    * centered at each component's minimum id. Rounds needed = O(log n) even
    * on adversarial chain graphs (min-label propagation, the obvious
    * alternative, needs DIAMETER rounds — a 1M-node chain would need 1M
    * joins). Each round shuffles only the current edge set, which shrinks
    * monotonically toward one edge per non-root node; edges persist per
    * round and the previous round is unpersisted, so lineage never re-runs
    * earlier rounds. `maxIters` bounds the loop; hitting it raises rather
    * than silently emitting unconverged clusters. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    connectedComponentsWithRounds(pairs, maxIters)._1

  /** [[connectedComponents]] plus the number of star rounds executed —
    * exposed so specs can pin the O(log n) convergence bound. */
  def connectedComponentsWithRounds(pairs: DataFrame,
      maxIters: Int = 50): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    // Canonicalize (hi >= lo) and cache ONCE: `pairs` is typically the
    // output of an (expensive) LSH/ngram pair pipeline, and both the node
    // set and the edge set derive from it — without this cache the upstream
    // pipeline would re-run once per reference.
    val canon = pairs.select(
        greatest(col("a_id"), col("b_id")).as("hi"),
        least(col("a_id"), col("b_id")).as("lo"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Every input node is remembered up front so the final labeling covers
    // docs whose edges contract away (or were self-pairs).
    val nodes = canon.select(col("hi").as("id"))
      .union(canon.select(col("lo").as("id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Each round derives the next edge set from the previous one several
    // times over (neighborhood union + two joins), so composing rounds
    // multiplies the LOGICAL plan ~5x per round — by round ~10 the analyzer
    // itself OOMs on the plan tree. Re-wrapping the persisted RDD as a
    // LogicalRDD leaf is a hard lineage barrier: the plan stays O(1) per
    // round and the scheduler never walks past the previous round's cache.
    var cached = canon.filter(col("hi") =!= col("lo")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prevCnt = cached.count() // materializes canon + the first edge set
    nodes.count()                // off the canon cache, before dropping it
    canon.unpersist()
    var edges = org.apache.spark.sql.graftbridge.DatasetBridge.internalBarrier(cached)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIters) {
      // Large-star: every neighbor v > u re-attaches to m = min(N(u) ∪ {u}).
      // m comes from an unordered window over u — ONE shuffle, no agg+join
      // round trip — and emitted edges keep hi > lo by construction
      // (v > u >= m). Duplicate emissions (same v reached from two u's with
      // one m) ride through to the end-of-round distinct instead of paying
      // their own exchange here; the small-star min is insensitive to them.
      val nbrs = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val large = nbrs
        .withColumn("m", least(min("v").over(Window.partitionBy("u")), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
      // Small-star: group by the larger endpoint; every smaller neighbor
      // re-attaches to the group minimum, and the node itself links to it.
      val next = large
        .withColumn("m", min("lo").over(Window.partitionBy("hi")))
        .select(
          when(col("lo") === col("m"), col("hi")).otherwise(col("lo")).as("hi"),
          col("m").as("lo"))
        .distinct()
      // EXACT fixpoint detection inside the materialization job (the SCC
      // observe() protocol): the star transform is a deterministic function
      // of the edge SET, so next == prev ⟺ fixpoint, and set equality over
      // two distinct sets is "no next row absent from prev" (fresh == 0)
      // plus equal cardinality (cnt == prevCnt). The membership flag rides
      // a co-partitioned (hi, lo) join against the previous round's
      // barriered leaf — both sides already hash(hi, lo) from their
      // distincts, so no extra exchange — and both counts are observed as
      // metrics of the SAME job that fills the round's cache, replacing the
      // r16 shape's collect()-based (count, xor-hash) signature job + the
      // end-of-loop except() confirmation (exact, so neither is needed).
      val obs = org.apache.spark.sql.Observation()
      val nextCached = next
        .join(edges.withColumn("old", lit(1)), Seq("hi", "lo"), "left")
        .observe(obs, count(lit(1)).as("cnt"),
          coalesce(sum(when(col("old").isNull, 1L).otherwise(0L)), lit(0L))
            .as("fresh"))
        .drop("old")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nextCnt = nextCached.count() // the one materialization job
      converged = obs.get("fresh").asInstanceOf[Long] == 0L && nextCnt == prevCnt
      cached.unpersist()
      cached = nextCached
      prevCnt = nextCnt
      edges = org.apache.spark.sql.graftbridge.DatasetBridge.internalBarrier(cached)
      rounds += 1
    }
    if (!converged) {
      cached.unpersist(); nodes.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds")
    }
    // At the fixpoint every component is a star: lo is the component min.
    val reps = edges.groupBy("hi").agg(min("lo").as("rep"))
    val labelPlan = nodes.join(reps, nodes("id") === reps("hi"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("rep"), col("id")).as("rep_id"))
    // Materialize the labels OFF the round caches via a reliable checkpoint
    // (files, not block-manager memory) so both persisted inputs can be
    // freed HERE — otherwise `nodes` and the final round's edge cache leak
    // for the life of the session (per batch, in a daemon). The checkpoint
    // write is one extra pass over the (cheap, still-cached) final join; on
    // a cluster set `spark.sparkContext.setCheckpointDir` to durable
    // storage. The graft entrypoints (Main/Verify/Bench) all set
    // `spark.cleaner.referenceTracking.cleanCheckpoints=true` so each
    // call's checkpoint files are reclaimed when its labels RDD is GC'd —
    // a per-batch daemon doesn't accumulate labels-sized directories.
    graft.util.Checkpoints.ensureDir(spark)
    val labels = labelPlan.barrier()
    cached.unpersist()
    nodes.unpersist()
    (labels, rounds)
  }

  /** Incremental connected-components maintenance: fold a batch of NEW
    * near-dup pairs into an existing min-rep labeling (the output of
    * [[connectedComponents]] or a previous ccInsert) without re-contracting
    * the corpus-sized pair set. Each new edge's endpoints are mapped to
    * their current representatives (identity for first-seen nodes); the
    * star contraction then runs on that REP-LEVEL graph — sized by the
    * batch, not the corpus — and one relabel join rewrites the node-sized
    * label table. Because every stored rep is already the minimum of its
    * component, the merged component's new rep is the global minimum, so
    * the warm result is EXACTLY the labels a cold run over (old pairs ∪
    * batch) produces — spec-pinned, and oracled end to end by q97.
    *
    * Scale shape: the corpus-sized steps are one batch⋈labels lookup join
    * (batch side broadcastable) and the final labels rewrite against the
    * BROADCAST batch-sized relabel map + eager re-checkpoint — the same
    * compact-on-write [[graft.operators.Graph.rankInsert]] pays so a
    * daemon's lineage stays bounded. The contraction loop itself never
    * touches the at-rest pair set. */
  def ccInsert(labels: DataFrame, newPairs: DataFrame): DataFrame = {
    val spark = labels.sparkSession
    graft.util.Checkpoints.ensureDir(spark)
    val la = labels.select(col("doc_id").as("a_id"), col("rep_id").as("ra"))
    val lb = labels.select(col("doc_id").as("b_id"), col("rep_id").as("rb"))
    // one lookup join maps both endpoints AND flags first-seen nodes (null
    // rep) — no separate anti-join that would shuffle the labels table
    val mapped0 = newPairs.select(col("a_id"), col("b_id"))
      .join(la, Seq("a_id"), "left").join(lb, Seq("b_id"), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repEdges = mapped0.select(
      coalesce(col("ra"), col("a_id")).as("a_id"),
      coalesce(col("rb"), col("b_id")).as("b_id"))
    // contract the batch-sized rep graph (covers touched old reps + fresh
    // nodes); its labels ARE min-reps of the merged components
    val repLabels = connectedComponents(repEdges)
    val freshIds = mapped0.filter(col("ra").isNull).select(col("a_id").as("id"))
      .union(mapped0.filter(col("rb").isNull).select(col("b_id").as("id")))
      .distinct()
    mapped0.unpersist()
    val relabel = repLabels.select(col("doc_id").as("old_rep"),
      col("rep_id").as("new_rep"))
    val existing = labels.join(broadcast(relabel),
        labels("rep_id") === relabel("old_rep"), "left")
      .select(col("doc_id"), coalesce(col("new_rep"), col("rep_id")).as("rep_id"))
    val fresh = freshIds.join(repLabels, freshIds("id") === repLabels("doc_id"))
      .select(col("id").as("doc_id"), col("rep_id"))
    existing.union(fresh).barrier()
  }

  /** Train/eval decontamination: training docs sharing at least one distinct
    * word n-gram with any eval doc, with the count of shared distinct grams.
    * Output: (doc_id, n_shared_grams) over the TRAIN side only.
    *
    * Scale shape: the eval set is tiny relative to a 100 TB training corpus
    * (benchmarks, not crawls), so its distinct gram set is collected into a
    * broadcast hash join — the training side streams through map-side
    * filtering with NO shuffle of the corpus; the only exchange left is the
    * per-doc count aggregate over matching grams. */
  def contaminatedBy(train: DataFrame, eval: DataFrame, n: Int): DataFrame = {
    val evalGrams = gramRows(eval, n).select("gram").distinct()
    gramRows(train, n).join(broadcast(evalGrams), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
  }

  /** The eval-side view of [[contaminatedBy]]: per EVAL document, how
    * compromised it is — how many distinct training docs share at least one
    * of its word n-grams, and how many (train doc, shared gram) pairs there
    * are. The report a benchmark owner reads to decide which eval items to
    * retire. Output: (eval_doc_id, n_train_docs, n_shared) over eval docs
    * with any overlap.
    *
    * Scale shape: identical to contaminatedBy — the (tiny) eval side's
    * (doc_id, gram) rows broadcast instead of just its distinct grams, the
    * corpus streams through the broadcast join with NO shuffle, and the
    * aggregate's key space is eval-sized. */
  def contaminationReport(train: DataFrame, eval: DataFrame, n: Int): DataFrame = {
    val evalGrams = gramRows(eval, n)
      .select(col("doc_id").as("eval_doc_id"), col("gram"))
    gramRows(train, n).join(broadcast(evalGrams), "gram")
      .groupBy("eval_doc_id")
      .agg(count_distinct(col("doc_id")).as("n_train_docs"),
        count(lit(1)).as("n_shared"))
  }

  /** Exact duplicate-window statistics (the window-granular form of
    * suffix-array substring dedup, Lee et al., ACL 2022 — "Deduplicating
    * Training Data Makes Language Models Better"): a document's POSITIONAL
    * `n`-token windows, flagged when the identical window text occurs
    * anywhere else in the corpus (another doc, or again in the same doc).
    * Output per doc with >= n tokens: (doc_id, n_windows, n_dup_windows,
    * dup_ppm) where dup_ppm = floor(n_dup * 1e6 / n_windows) — exact
    * integer ppm, not a rounded double, because window counts routinely
    * produce small-power-of-2 ratios that land on decimal rounding ties.
    *
    * Scale shape: one explode + two hash aggregates (window counts per
    * corpus, then per doc) joined on the window text — the word-count
    * shuffle family, linear in corpus size. The corpus-wide count aggregate
    * collapses map-side; no pairing, no quadratic term anywhere (this flags
    * COVERAGE by duplicated spans; the pairing operators say which docs
    * match). */
  def dupWindowStats(docs: DataFrame, n: Int = 8): DataFrame = {
    val toks = split(col("text"), " ")
    val wins = docs.select(col("doc_id"), explode(when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n), i =>
          concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
        .otherwise(array().cast("array<string>"))).as("win"))
    val corpusCounts = wins.groupBy("win").agg(count(lit(1)).as("total"))
    wins.join(corpusCounts, "win")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("total") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        expr("(n_dup_windows * 1000000L) div n_windows").as("dup_ppm"))
  }

  /** The REMOVE phase of window-granular substring dedup (the actionable
    * counterpart of [[dupWindowStats]], which only measures): every
    * positional `n`-token window whose text occurs elsewhere in the corpus
    * is resolved to one canonical occurrence — the globally first by
    * (doc_id, pos) — and the tokens covered by every OTHER occurrence are
    * removed; each document's surviving tokens are reassembled in order.
    * Output: (doc_id, clean_text, n_kept, n_removed) for every input doc
    * (clean_text = "" when everything was removed).
    *
    * Scale shape: the window count + canonical pick is one word-count-shaped
    * aggregate on the window text (min(struct(doc_id,pos)) rides the same
    * partial agg as the count); duplicate occurrences explode to at most n
    * covered positions each; the coverage anti-join shuffles tokens once on
    * (doc_id, pos). All linear — no pairing, no quadratic term. Reassembly
    * is a per-doc collect_list bounded by document length, the same
    * single-doc-fits-in-an-executor contract as chunking and packing.
    * Canonicalization is deterministic under any partitioning (global
    * (doc_id, pos) minimum), so retries/AQE cannot flip which copy
    * survives. */
  def removeDupSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    val toksCol = split(col("text"), " ")
    val toks = docs.select(col("doc_id"),
      posexplode(toksCol).as(Seq("pos", "token")))
    val wins = docs.select(col("doc_id"), posexplode(when(size(toksCol) >= n,
        transform(sequence(lit(0), size(toksCol) - n), i =>
          concat_ws(" ", (0 until n).map(j => element_at(toksCol, i + j + 1)): _*)))
        .otherwise(array().cast("array<string>"))).as(Seq("pos", "win")))
    val canon = wins.groupBy("win").agg(count(lit(1)).as("total"),
      min(struct(col("doc_id"), col("pos"))).as("first"))
    val dupOcc = wins.join(canon, "win")
      .filter(col("total") > 1 &&
        !(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos")))
    val covered = dupOcc.select(col("doc_id"),
      explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("cpos")).distinct()
    val kept = toks.join(covered,
      toks("doc_id") === covered("doc_id") && toks("pos") === covered("cpos"),
      "left_anti")
    val rebuilt = kept.groupBy("doc_id").agg(
      array_join(transform(array_sort(collect_list(struct(col("pos"), col("token")))),
        x => x.getField("token")), " ").as("clean_text"),
      count(lit(1)).as("n_kept"))
    docs.select(col("doc_id"), size(toksCol).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Scale path for [[embeddingNearDupPairs]]: only pairs sharing a
    * hyperplane-LSH bucket are scored — the join is bucket-local instead of a
    * full cross product. Recall < 1 (a cos>=threshold pair on opposite sides
    * of some plane is missed); precision is exact (candidates re-scored). */
  def embeddingNearDupPairsLsh(emb: DataFrame, threshold: Double,
      nPlanes: Int = 8,
      bucket: Option[Column => Column] = None): DataFrame = {
    val bucketFn = bucket.getOrElse((e: Column) => Similarity.lshBucket(e, nPlanes))
    // norms precomputed per side, same rationale as embeddingNearDupPairs
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      ArrayMath.norm(col("embedding")).as("nrm"),
      bucketFn(col("embedding")).as("bucket"))
    val a = bucketed.select(col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_norm"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_norm"))
    val cos = round(
      ArrayMath.dot(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")), 6)
    // one bucket per vector => each pair can appear at most once; no dedup
    // pass. Same ordered gates (cheap id test first) as embeddingNearDupPairs,
    // in one filter so the conjunct order is ours.
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id") && cos >= threshold)
      .select(col("a_id"), col("b_id"), cos.as("cos"))
  }

  /** SemDeDup (Abbas et al., 2023, arXiv:2303.09540): semantic near-dup
    * pairs found by clustering embeddings (k-means cells) and scoring
    * cosine only WITHIN each cluster — the third bucketing family next to
    * hyperplane LSH ([[embeddingNearDupPairsLsh]], data-independent planes)
    * and IVF probing: data-adapted cells concentrate semantically close
    * vectors, so a lower-recall-per-bucket structure needs fewer buckets.
    *
    * Operates over a materialized [[Similarity.writeIvfIndex]] layout: the
    * cell assignment is stored data, so the pair join is cid-local over the
    * cid-partitioned vectors parquet — each cell joins against itself
    * (corpus/nlist rows a side on balanced data), never across cells, and
    * the DuckDB oracle replays pairing + cosine off the same parquet.
    * Recall < 1 (a near-dup pair split across a cell boundary is missed);
    * precision exact (every emitted cosine is re-scored, same 6-decimal
    * key as the exact operator). Keep-rule downstream: per pair (a < b)
    * drop b — identical to the other pair operators, so
    * [[connectedComponents]] composes unchanged. */
  def semanticNearDupPairs(spark: SparkSession, indexPath: String,
      threshold: Double): DataFrame = {
    // cid arrives via partition-directory inference (int) — pin to long so
    // the output schema matches the oracle's CAST(cid AS BIGINT)
    val cells = spark.read.parquet(s"$indexPath/vectors")
      .select(col("cid").cast("long").as("cid"), col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", ArrayMath.norm(col("emb")))
    val a = cells.select(col("cid"), col("vec_id").as("a_id"),
      col("emb").as("a_emb"), col("nrm").as("a_norm"))
    val b = cells.select(col("cid"), col("vec_id").as("b_id"),
      col("emb").as("b_emb"), col("nrm").as("b_norm"))
    val cos = round(
      ArrayMath.dot(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")), 6)
    a.join(b, Seq("cid"))
      .filter(col("a_id") < col("b_id") && cos >= threshold)
      .select(col("a_id"), col("b_id"), col("cid"), cos.as("cos"))
  }

  /** Canonical-representative pick for near-dup clusters: given the
    * [[connectedComponents]] labels and a per-doc score, keep the
    * highest-scoring member of each cluster (ties to the smallest id) —
    * the keep-rule a curation pipeline actually wants (min-id keeps an
    * arbitrary copy; this keeps the best one: longest, cleanest,
    * highest-quality).
    *
    * One join + one per-cluster rank window (cluster-sized partitions —
    * a pathological mega-cluster is a sort problem, not a heap one).
    * Output: (rep_id, canonical_id, n_docs, best_score, total_score) —
    * scores round-6, total as a DECIMAL sum. */
  def canonicalPick(labels: DataFrame, docs: DataFrame,
      scoreCol: String): DataFrame = {
    val scored = labels.join(
      docs.select(col("doc_id"), col(scoreCol).cast("double").as("sc")),
      "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("rep_id").orderBy(col("sc").desc, col("doc_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .groupBy("rep_id")
      .agg(min(when(col("rn") === 1, col("doc_id"))).as("canonical_id"),
        count(lit(1)).as("n_docs"),
        max(round(col("sc"), 6)).as("best_score"),
        sum(round(col("sc"), 6).cast("decimal(18,6)")).cast("double")
          .as("total_score"))
  }

  /** LSH parameter planner (Leskovec, Rajaraman & Ullman, MMDS §3.4):
    * for every (bands, rowsPerBand) split of a `signatureSize`-hash
    * MinHash signature, integrate the S-curve
    * P(candidate | similarity s) = 1 − (1 − s^r)^b against the target
    * `threshold` — false-positive area below it, false-negative area
    * above — and flag the split minimizing total error. The planning
    * table behind [[minhashLshPairs]]'s (numHashes, bands) defaults:
    * run it BEFORE a 100 TB dedup, not after.
    *
    * Pure computation over a divisor-sized frame (spark.range — no
    * corpus touch): midpoint-rule sums of round-6 P terms as
    * DECIMAL(38,6) over `steps` fixed grid points, so the areas are
    * engine-replayable. s50 = (1/b)^(1/r), the MMDS steepest-rise
    * approximation of the split's effective threshold (where P reaches
    * 1 − (1 − 1/b)^b ≈ 0.63).
    * Output: (bands, rows_per_band, s50, fp_area, fn_area, total_err,
    * chosen), chosen = min total_err, ties to fewer bands. */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, signatureSize: Int,
      threshold: Double, steps: Int = 100): DataFrame = {
    require(signatureSize >= 2 && threshold > 0 && threshold < 1 && steps >= 10)
    val splits = (1 to signatureSize)
      .filter(b => signatureSize % b == 0)
      .map(b => (b, signatureSize / b))
    import spark.implicits._
    val grid = splits.toDF("bands", "rows_per_band")
      .crossJoin(spark.range(1, steps + 1).select(
        ((col("id").cast("double") - 0.5) / steps).as("s")))
    val p = round(lit(1.0) - pow(lit(1.0)
      - pow(col("s"), col("rows_per_band").cast("double")),
      col("bands").cast("double")), 6)
    val areas = grid.groupBy("bands", "rows_per_band").agg(
      (sum(when(col("s") < threshold, p.cast("decimal(38,6)"))
        .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(38,6)")))
        .cast("double") / steps).as("fp_raw"),
      (sum(when(col("s") >= threshold, (lit(1.0) - p).cast("decimal(38,6)"))
        .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(38,6)")))
        .cast("double") / steps).as("fn_raw"))
    val scored = areas.select(col("bands").cast("long").as("bands"),
      col("rows_per_band").cast("long").as("rows_per_band"),
      round(pow(lit(1.0) / col("bands").cast("double"),
        lit(1.0) / col("rows_per_band").cast("double")), 6).as("s50"),
      round(col("fp_raw"), 6).as("fp_area"),
      round(col("fn_raw"), 6).as("fn_area"),
      round(col("fp_raw") + col("fn_raw"), 6).as("total_err"))
    val best = scored.agg(min(struct(col("total_err"), col("bands"))).as("b"))
      .select(col("b.total_err").as("best_err"), col("b.bands").as("best_bands"))
    scored.crossJoin(best)
      .select(col("bands"), col("rows_per_band"), col("s50"), col("fp_area"),
        col("fn_area"), col("total_err"),
        (col("total_err") === col("best_err") &&
          col("bands") === col("best_bands")).as("chosen"))
  }
}
