package graft.operators

import graft.functions.PortableHashes
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Sketch-based frequency estimation: a count-min sketch over the corpus
  * token stream, with heavy-hitter extraction. The streaming-friendly
  * answer to "what are the most frequent tokens / domains / shingles"
  * when the exact groupBy's key space (every distinct token in 100 TB of
  * text) is itself too large to want materialized.
  *
  * The sketch is a depth x width counter grid: counter(i, b) = number of
  * token occurrences with h_i(token) mod width == b. Estimates read
  * min_i counter(i, h_i(t)) — always >= the true count, inflated only by
  * collisions (error <= 2N/width with prob 1 - 2^-depth).
  *
  * Scale shape: the grid build is an explode of `depth` (row, bucket)
  * entries per token occurrence into a hash aggregate — map-side partial
  * aggregation collapses every partition to <= depth*width rows BEFORE the
  * shuffle, so the exchange carries sketch-sized data regardless of corpus
  * size (the whole point of a sketch). The estimate join broadcasts the
  * depth*width-row grid. Hash family: the portable MinHash row hashes
  * ([[PortableHashes.minhashGramHashes]]) so the DuckDB oracle replays the
  * grid bit-for-bit; the xxhash64 family stays the production default
  * elsewhere.
  */
object Sketches {

  /** The count-min grid: (row, bucket, cnt), depth*width cells max. */
  def cmsBuild(docs: DataFrame, depth: Int, width: Int,
      textCol: String = "text"): DataFrame = {
    val tok = docs.select(explode(split(col(textCol), " ")).as("token"))
    val cells = PortableHashes.minhashGramHashes(col("token"), depth)
      .zipWithIndex.map { case (h, i) =>
        struct(lit(i.toLong).as("row"), (h % lit(width.toLong)).as("bucket"))
      }
    tok.select(explode(array(cells: _*)).as("c"))
      .groupBy(col("c.row").as("row"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** HyperLogLog register count: m = 2^P buckets. P=6 keeps the whole
    * register file at 64 rows per group — the shuffle payload — while the
    * portable hash's 31 bits leave 25 for the rank pattern. */
  val HllP = 6
  val HllM: Int = 1 << HllP // 64

  /** HLL rank of the non-bucket hash bits: leading-zero count within the
    * 25-bit field + 1 (1..25; 26 when the field is all zeros). A when-chain
    * over the 25 power-of-two thresholds — ordered evaluation, identical to
    * the SQL CASE the oracle replays. */
  private def hllRho(w: Column): Column = {
    val bits = 31 - HllP // 25
    (1 to bits).foldLeft(lit(null).cast("long"): Column) { (acc, j) =>
      if (j == 1) when(w >= lit(1L << (bits - 1)), lit(1L))
      else acc.when(w >= lit(1L << (bits - j)), lit(j.toLong))
    }.otherwise(lit((bits + 1).toLong))
  }

  /** Approximate distinct n-gram count per group via HyperLogLog, exact
    * count alongside. The sketch answer to "how many distinct shingles /
    * urls / keys per source" when the exact count-distinct's key space is
    * the thing that doesn't fit.
    *
    * Scale shape: the register file is groupBy(group, bucket) max(rho) —
    * max() partial-aggregates map-side, so the exchange carries at most
    * m = 64 rows per group REGARDLESS of corpus size (count_distinct, by
    * contrast, shuffles every distinct key at least once). Registers are
    * also mergeable across corpora/batches by the same max — the property
    * that makes HLL the standard distributed-distinct sketch.
    *
    * Bit-stability for the oracle: bucket/rank come from the portable
    * polynomial hash (pure small-integer arithmetic); 2^-rho terms are
    * exact powers of two whose per-group sum spans < 53 mantissa bits, so
    * the double sum is EXACT and order-independent; the bias constant and
    * the linear-counting branch use the same IEEE expression both sides.
    * Estimate standard error is 1.04/sqrt(m) ~ 13% (spec-pinned at 3 sigma).
    * Output: (group, est_distinct, exact_distinct). */
  def hllDistinct(docs: DataFrame, n: Int = 3, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val grams = docs.select(col(groupCol).as("grp"),
      explode(graft.operators.Dedup.wordNGrams(col(textCol), n)).as("gram"))
    val ph = graft.functions.expressions.TextFunctions.poly_hash(col("gram"))
    // integer `div`, not `/`: the hash is a 31-bit long and double division
    // would be exact here, but the integer form is the one the oracle mirrors
    val hashed = grams
      .select(col("grp"), ph.as("ph"))
      .select(col("grp"),
        (col("ph") % lit(HllM.toLong)).as("bucket"),
        hllRho(expr(s"ph div ${HllM}L")).as("rho"))
    val registers = hashed.groupBy("grp", "bucket").agg(max(col("rho")).as("r"))
    // 2^-r as 1.0 / (1 << r): division by a power of two is exact in IEEE,
    // so the per-group sum (span < 53 mantissa bits) is exact and therefore
    // order-independent under any partial-aggregation schedule
    val invR = lit(1.0) / expr("shiftleft(1L, cast(r as int))").cast("double")
    val perGroup = registers.groupBy("grp").agg(
      sum(invR).as("sum_inv_present"),
      count(lit(1)).as("present"))
    val mD = lit(HllM.toDouble)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / mD)
    val sumInv = col("sum_inv_present") + (mD - col("present").cast("double"))
    val zeros = lit(HllM.toLong) - col("present")
    val raw = alpha * mD * mD / sumInv
    val est = when(raw <= lit(2.5) * mD && zeros > 0,
      mD * log(mD / zeros.cast("double"))).otherwise(raw)
    val exact = grams.groupBy("grp")
      .agg(count_distinct(col("gram")).as("exact_distinct"))
    perGroup.select(col("grp").as(groupCol), round(est, 4).as("est_distinct"))
      .join(exact.withColumnRenamed("grp", groupCol), groupCol)
  }

  /** Approximate quantiles per group via a fixed-width histogram sketch,
    * the exact rank-quantile alongside — the mergeable-quantile answer
    * (the fourth sketch next to CMS frequency, HLL distinct, Bloom
    * membership) when the exact per-group sort is the thing that doesn't
    * scale.
    *
    * Sketch: bucket = floor(value / binWidth); counts per (group, bucket).
    * The p-th percentile estimate finds the bucket holding rank
    * ceil(n·p/100) in the cumulative histogram and interpolates linearly
    * inside it — error bounded by binWidth. Histograms from different
    * corpora/batches/days merge by adding bucket counts (the property
    * exact quantiles fundamentally lack).
    *
    * Scale shape: the count aggregate collapses map-side to at most
    * (value range / binWidth) rows per group BEFORE its exchange — the
    * sketch collapse contract — and the cumulative window runs over
    * histogram-sized (not corpus-sized) partitions. The EXACT side (one
    * full sort per group) is the verification baseline, same role as
    * hllDistinct's exact count; production callers take the estimate.
    *
    * Bit-stability: ranks and cumulative counts are pure integers
    * (target = ceil via (n·p + 99) div 100); the only doubles are the
    * input values and one interpolation expression with fixed
    * parenthesization, identical in the oracle.
    * Output: (group, p, est_q, exact_q) for each p in `percents`. */
  def histQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      binWidth: Double, percents: Seq[Int]): DataFrame = {
    require(binWidth > 0 && percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100))
    val rows = df.select(col(groupCol).as("grp"), col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val hist = rows
      .groupBy(col("grp"), floor(col("v") / lit(binWidth)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(
      Window.partitionBy("grp").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val n = rows.groupBy("grp").agg(count(lit(1)).as("n"))
    val ps = percents.map(p => struct(lit(p.toLong).as("p")))
    val targets = n.select(col("grp"), col("n"), explode(array(ps: _*)).as("s"))
      .select(col("grp"), col("s.p").as("p"),
        expr("(n * s.p + 99) div 100").as("target"))
    val est = targets.join(cum, Seq("grp"))
      .filter(col("cum") >= col("target") && (col("cum") - col("cnt")) < col("target"))
      .select(col("grp"), col("p"),
        round(lit(binWidth) * col("bucket").cast("double")
          + lit(binWidth) * ((col("target") - (col("cum") - col("cnt"))).cast("double")
            / col("cnt").cast("double")), 6).as("est_q"))
    val ranked = rows.withColumn("rn", row_number().over(
      Window.partitionBy("grp").orderBy("v")))
    val exact = targets.join(ranked,
        targets("grp") === ranked("grp") && col("rn") === col("target"))
      .select(targets("grp"), col("p"), col("v").as("exact_q"))
    est.join(exact, Seq("grp", "p"))
      .select(col("grp").as(groupCol), col("p"), col("est_q"), col("exact_q"))
  }

  /** Bloom filter over a key column: `mBits` bits packed into mBits/64
    * longs, `k` double-hashed positions per key (h_i = the portable MinHash
    * row family — multiply-shift off one base poly hash, the q62/q67
    * formula). The set-membership sketch: "is this url/fingerprint/doc in
    * the blocklist" with zero false NEGATIVES and a tunable false-positive
    * rate (1 - e^(-kn/m))^k — the standard filter in front of an expensive
    * exact check, or the whole check when one-sided error is acceptable
    * (e.g. over-blocking a crawl blocklist).
    *
    * Scale shape: the build is word-count-shaped — explode k positions per
    * key, map-side bit_or collapses every partition to <= mBits/32 rows
    * BEFORE the exchange, so the shuffle carries filter-sized data at any
    * key count (the CMS/HLL collapse contract). Word grids from different
    * corpora/batches merge by the same bit_or — build once per partition or
    * per day and OR them. Probes join the broadcast (KB-sized) grid.
    * Output: (word, bits) — word w holds bits [32w, 32w+31]. 32 bits per
    * long word, not 64: bit 63 would need 1L << 63, which overflows a
    * signed shift on engines that check (DuckDB errors; Spark wraps to
    * Long.MinValue) — capping the shift at 31 keeps every word value
    * positive and the formula portable. */
  def bloomBuild(keys: DataFrame, keyCol: String, mBits: Int = 4096,
      k: Int = 4): DataFrame = {
    require(mBits % 32 == 0, s"mBits must pack into 32-bit words, got $mBits")
    val pos = PortableHashes.minhashGramHashes(col(keyCol), k)
      .map(_ % lit(mBits.toLong))
    keys.select(explode(array(pos: _*)).as("pos"))
      .select(expr("pos div 32").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("bit"))
      .groupBy("word").agg(expr("bit_or(bit)").as("bits"))
  }

  /** Membership probe of `candidates(keyCol)` against a [[bloomBuild]]
    * grid: bloom_hit = every one of the key's k bits is set. LEFT join —
    * a bucket word absent from the (sparse) grid means those bits are 0,
    * which must read as a miss, not a dropped row. One output row per
    * INPUT row: duplicate candidate rows each keep their own result (a
    * surrogate row id guards the post-explode reassembly, so the groupBy
    * cannot collapse them). Columns `__bloom_*` are reserved — the input
    * must not contain them (required, same convention as RangeJoin's
    * `__bucket` reservation). */
  def bloomContains(sketch: DataFrame, candidates: DataFrame, keyCol: String,
      mBits: Int = 4096, k: Int = 4): DataFrame = {
    val reserved = candidates.columns.filter(_.startsWith("__bloom_"))
    require(reserved.isEmpty,
      s"candidates must not contain reserved __bloom_* columns: ${reserved.mkString(",")}")
    val pos = PortableHashes.minhashGramHashes(col(keyCol), k)
      .map(_ % lit(mBits.toLong))
    val grid = broadcast(sketch.select(
      col("word").as("__bloom_word"), col("bits").as("__bloom_bits")))
    candidates
      .withColumn("__bloom_rid", monotonically_increasing_id())
      .withColumn("__bloom_pos", explode(array(pos: _*)))
      .withColumn("__bloom_word", expr("__bloom_pos div 32"))
      .join(grid, Seq("__bloom_word"), "left")
      .withColumn("__bloom_set", when(
        coalesce(col("__bloom_bits"), lit(0L))
          .bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), CAST(__bloom_pos % 32 AS INT))")) =!= 0L,
        lit(1L)).otherwise(lit(0L)))
      .groupBy(col("__bloom_rid") +: candidates.columns.map(col): _*)
      .agg((min(col("__bloom_set")) === 1L).as("bloom_hit"))
      .drop("__bloom_rid")
  }

  /** Corpus-overlap matrix: estimated Jaccard similarity between the
    * distinct n-gram SETS of every source pair, from per-source MinHash
    * signatures — "how much does source A overlap source B" before
    * deciding mixture weights or cross-source dedup, without ever joining
    * the gram sets. E[matching components / numHashes] = J(A, B), the
    * MinHash identity. The exact Jaccard rides along as the verification
    * baseline (it IS the expensive gram-set join the sketch replaces).
    *
    * Scale shape: the signature build is `numHashes` min() aggregates over
    * one pass of the exploded gram rows — min partial-aggregates map-side,
    * so the exchange carries one signature row per source at any corpus
    * size, and signatures merge across batches by the same min. The pair
    * comparison runs over #sources² signature rows (tiny by contract).
    * Output: (src_a, src_b, matches, est_jaccard, exact_jaccard),
    * src_a < src_b. */
  def minhashOverlap(docs: DataFrame, n: Int = 3, groupCol: String = "source",
      textCol: String = "text", numHashes: Int = 64): DataFrame = {
    val grams = docs.select(col(groupCol).as("grp"),
      explode(graft.operators.Dedup.wordNGrams(col(textCol), n)).as("gram"))
      .distinct()
    val hashes = PortableHashes.minhashGramHashes(col("gram"), numHashes)
    val sig = grams.groupBy("grp")
      .agg(hashes.zipWithIndex.map { case (h, i) => min(h).as(s"m$i") }.head,
        hashes.zipWithIndex.map { case (h, i) => min(h).as(s"m$i") }.tail: _*)
    val a = sig.columns.foldLeft(sig)((d, c) => d.withColumnRenamed(c, s"a_$c"))
    val b = sig.columns.foldLeft(sig)((d, c) => d.withColumnRenamed(c, s"b_$c"))
    val matches = (0 until numHashes)
      .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = a.join(b, col("a_grp") < col("b_grp"))
      .select(col("a_grp").as("src_a"), col("b_grp").as("src_b"),
        matches.as("matches"),
        round(matches.cast("double") / lit(numHashes.toDouble), 6).as("est_jaccard"))
    val sizes = grams.groupBy("grp").agg(count(lit(1)).as("sz"))
    val inter = grams.join(grams.select(col("grp").as("grp_b"), col("gram")), "gram")
      .filter(col("grp") < col("grp_b"))
      .groupBy(col("grp").as("src_a"), col("grp_b").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    est.join(inter, Seq("src_a", "src_b"), "left")
      .join(sizes.select(col("grp").as("src_a"), col("sz").as("sza")), "src_a")
      .join(sizes.select(col("grp").as("src_b"), col("sz").as("szb")), "src_b")
      .select(col("src_a"), col("src_b"), col("matches"), col("est_jaccard"),
        round(coalesce(col("inter"), lit(0L)).cast("double")
          / (col("sza") + col("szb") - coalesce(col("inter"), lit(0L))).cast("double"), 6)
          .as("exact_jaccard"))
  }

  /** Heavy hitters: top `k` candidate tokens by CMS-estimated count, with
    * the exact count alongside (est >= exact always; equality when none of
    * the token's depth cells collided). Candidates here are the corpus's
    * distinct tokens; at 100 TB the candidate set would come from a cheap
    * pre-filter (sampled tokens, a per-partition top-m), never from
    * materializing every distinct key — the sketch itself is the point.
    * Output: (token, est, exact, rank), ties broken by token. */
  def cmsTopK(docs: DataFrame, depth: Int = 4, width: Int = 1024, k: Int = 20,
      textCol: String = "text"): DataFrame = {
    val sketch = cmsBuild(docs, depth, width, textCol)
    val exact = docs.select(explode(split(col(textCol), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("exact"))
    val cells = PortableHashes.minhashGramHashes(col("token"), depth)
      .zipWithIndex.map { case (h, i) =>
        struct(lit(i.toLong).as("row"), (h % lit(width.toLong)).as("bucket"))
      }
    val probes = exact.select(col("token"), col("exact"),
      explode(array(cells: _*)).as("c"))
      .select(col("token"), col("exact"),
        col("c.row").as("row"), col("c.bucket").as("bucket"))
    val est = probes.join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy("token", "exact").agg(min(col("cnt")).as("est"))
    val top = est.orderBy(col("est").desc, col("token").asc).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("est").desc, col("token").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select("token", "est", "exact", "rank")
  }

  /** KMV (k-minimum-values) distinct sketches per source, with UNION /
    * INTERSECTION / Jaccard estimates for every source pair — the multiset
    * set-operation synopsis of Beyer et al., "On Synopses for
    * Distinct-Value Estimation Under Multiset Operations" (SIGMOD 2007),
    * re-derived as DataFrame plans. HLL (q70) answers "how many distinct
    * per group"; KMV additionally answers "how much do two groups'
    * universes OVERLAP" from sketches alone — the cross-corpus contamination
    * / redundancy triage that never joins the gram sets.
    *
    * Sketch: the k smallest DISTINCT portable hash values of the group's
    * word-n-gram set (hash collisions merge — standard KMV semantics; the
    * "exact" verification columns are exact over the same hashed universe).
    * Estimators, with U(j) = j-th smallest normalized hash:
    *   distinct(A)      ~ (k-1) / U(k)        (exact size when |A| < k)
    *   L = k smallest of values(A) ∪ values(B)  (a KMV sketch of A ∪ B)
    *   distinct(A ∪ B)  ~ (k-1) / U_L(k)
    *   rho = |L ∩ A ∩ B|;  J(A,B) ~ rho/k;  distinct(A ∩ B) ~ J * union
    *
    * Scale shape: one distinct over (group, hash) — the only corpus-sized
    * exchange — then the bounded [[graft.functions.RowTopKAggregator]]
    * carries at most k longs per group through partial aggregation (map-side
    * combine; never a per-group window sort). Sketches merge across batches
    * by re-applying bottom-k to the concatenation — same aggregate. The
    * pair stage runs over #sources² sketch rows (tiny by contract), all of
    * it array arithmetic on k-length arrays. Every estimate is integer
    * arithmetic up to ONE double division (+ one multiply for the
    * intersection), round-6 — the oracle replays it bit-for-bit.
    *
    * Output, src_a < src_b: (src_a, src_b, est_a, est_b, est_union,
    * est_inter, est_jaccard, exact_union, exact_inter). */
  def kmvSetOps(docs: DataFrame, n: Int = 3, groupCol: String = "source",
      textCol: String = "text", k: Int = 32): DataFrame = {
    require(k >= 2, s"kmvSetOps needs k >= 2, got $k")
    import docs.sparkSession.implicits._
    // hv feeds three different-key consumers (sketch fold by grp, distinct
    // count by grp, the exact-counterpart self-join by h) — materialize the
    // hashed gram universe once instead of re-running the explode+distinct
    // per consumer (the q101 fan-out lesson)
    graft.util.Checkpoints.ensureDir(docs.sparkSession)
    val hv = graft.util.Checkpoints.barrier(
      docs.select(col(groupCol).cast("string").as("grp"),
          explode(graft.operators.Dedup.wordNGrams(col(textCol), n)).as("gram"))
        .select(col("grp"),
          PortableHashes.minhashGramHashes(col("gram"), 1).head.as("h"))
        .distinct(), StorageLevel.DISK_ONLY)
    val sk = hv.as[(String, Long)].groupByKey(_._1).mapValues(_._2)
      .agg(new graft.functions.RowTopKAggregator[Long](k, Ordering.Long).toColumn)
      .toDF("grp", "sk")
    val nd = hv.groupBy("grp").agg(count(lit(1)).as("nd"))
    val sketches = sk.join(nd, "grp")
    // (k-1) / U(k) with U(k) = h_k / Mod, i.e. (k-1)*Mod / h_k: exact
    // integer numerator (< 2^43), ONE double division, round-6.
    def estOf(skCol: Column, ndCol: Column): Column =
      when(ndCol < k, ndCol.cast("double")).otherwise(
        round(lit((k - 1).toLong * PortableHashes.Mod).cast("double") /
          element_at(skCol, k).cast("double"), 6))
    val a = sketches.select(col("grp").as("src_a"), col("sk").as("ska"),
      col("nd").as("nda"))
    val b = sketches.select(col("grp").as("src_b"), col("sk").as("skb"),
      col("nd").as("ndb"))
    val merged = array_sort(array_distinct(concat(col("ska"), col("skb"))))
    val pairs = a.join(b, col("src_a") < col("src_b"))
      .withColumn("lu", slice(merged, 1, k))
      .withColumn("ku", size(col("lu")))
      // rho: members of L present in BOTH sketches — L comes from the two
      // sketches, so membership in ska/skb decides presence in A/B
      .withColumn("rho",
        size(array_intersect(col("lu"), array_intersect(col("ska"), col("skb")))))
    val estUnion = when(col("ku") < k, col("ku").cast("double")).otherwise(
      round(lit((k - 1).toLong * PortableHashes.Mod).cast("double") /
        element_at(col("lu"), k).cast("double"), 6))
    // Exact counterparts over the same hashed universe (the join the
    // sketch replaces — verification baseline only, like q83's).
    val inter = hv.join(hv.select(col("grp").as("grp_b"), col("h")), "h")
      .filter(col("grp") < col("grp_b"))
      .groupBy(col("grp").as("src_a"), col("grp_b").as("src_b"))
      .agg(count(lit(1)).as("xinter"))
    pairs.withColumn("est_union", estUnion)
      .withColumn("est_jaccard",
        round(col("rho").cast("double") / col("ku").cast("double"), 6))
      .withColumn("est_inter",
        round((col("rho").cast("double") / col("ku").cast("double")) *
          col("est_union"), 6))
      .join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        estOf(col("ska"), col("nda")).as("est_a"),
        estOf(col("skb"), col("ndb")).as("est_b"),
        col("est_union"), col("est_inter"), col("est_jaccard"),
        (col("nda") + col("ndb") - coalesce(col("xinter"), lit(0L)))
          .as("exact_union"),
        coalesce(col("xinter"), lit(0L)).as("exact_inter"))
  }

  /** CMS grid over an arbitrary key column (the [[cmsBuild]] construction
    * generalized off the text fixture): (row, bucket, cnt), depth×width
    * cells at most. */
  def cmsKeyGrid(df: DataFrame, keyCol: String, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    val key = col(keyCol).cast("string")
    val cells = PortableHashes.minhashGramHashes(key, depth)
      .zipWithIndex.map { case (h, i) =>
        struct(lit(i.toLong).as("row"), (h % lit(width.toLong)).as("bucket"))
      }
    df.filter(key.isNotNull)
      .select(explode(array(cells: _*)).as("c"))
      .groupBy(col("c.row").as("row"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Equi-join CARDINALITY estimate from two CMS grids — the AMS/CM
    * inner-product identity (Alon, Matias & Szegedy STOC'96; Cormode &
    * Muthukrishnan's CM-sketch paper §4.2): |A ⋈ B| = Σ_k a_k·b_k, and
    * each sketch row's Σ_j cms_A[i][j]·cms_B[i][j] OVERESTIMATES that sum
    * by at most n_A·n_B/width in expectation — take the min over rows.
    * This is what a cost-based optimizer wants BEFORE running the join:
    * two single-pass sketches (mergeable across partitions/batches by
    * cell addition) instead of a build-side dry run.
    *
    * The exact Σ_k c_A(k)·c_B(k) rides alongside for verification — the
    * corpus-sized key join the sketch replaces, computed here because the
    * oracle grades the estimate (the q70/q83 exact-side convention).
    * Output: one row (est, exact, rel_err round-6); rel_err ≥ 0 since CMS
    * never under-counts. */
  def joinSizeEstimate(a: DataFrame, b: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val ga = cmsKeyGrid(a, keyCol, depth, width)
    val gb = cmsKeyGrid(b, keyCol, depth, width)
    val ip = ga.join(gb.withColumnRenamed("cnt", "cntb"), Seq("row", "bucket"))
      .groupBy("row").agg(sum(col("cnt") * col("cntb")).as("ip"))
    // a depth-row with NO shared occupied cell has true inner product 0 —
    // it must reach the min (right-join against the full depth range), not
    // silently vanish and let a noisier row's collisions set the estimate
    val est = a.sparkSession.range(depth).select(col("id").as("row"))
      .join(ip, Seq("row"), "left")
      .select(coalesce(col("ip"), lit(0L)).as("ip"))
      .agg(min(col("ip")).as("est"))
    val ca = a.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("k")).agg(count(lit(1)).as("na"))
    val cb = b.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("k")).agg(count(lit(1)).as("nb"))
    val exact = ca.join(cb, "k")
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact"))
    est.crossJoin(exact)
      .select(col("est"), col("exact"),
        // an empty true join has no meaningful relative error: NULL, and
        // never a divide-by-zero (ANSI traps it even double-typed here)
        when(col("exact") === 0L, lit(null).cast("double"))
          .otherwise(round((col("est") - col("exact")).cast("double") /
            col("exact").cast("double"), 6)).as("rel_err"))
  }
}
