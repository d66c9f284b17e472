package graft

import graft.functions.Geo
import graft.sources.SpotSynth

/** DuckDB oracle SQL for every SQL-expressible query in [[SparkEntry.queries]].
  *
  * Each fragment textually mirrors the corresponding Spark column expression
  * (graft.functions.Geo / graft.operators.*) operation-for-operation, so that
  * pure-arithmetic paths are bit-identical and libm-dependent paths (trig)
  * agree after the %.3f / round-6 output formatting both sides apply.
  *
  * Dialect notes pinned by local tests:
  *  - DuckDB CAST(double AS INT) rounds; Python/Spark truncate => use trunc();
  *  - plain decimal literals parse as DECIMAL => use e0 exponent form for DOUBLE;
  *  - list slicing `l[1:5]` is 1-based inclusive (= Spark slice(l,1,5));
  *  - list_reduce seeds from the first element => list_prepend the zero;
  *  - `%` on DOUBLE is C fmod (= Java %); NaN compares greater than all values
  *    in both engines (unlike Python, where NaN comparisons are false — the
  *    consequence is a deterministic off-track vertex fallback, documented in
  *    graft.functions.Geo).
  */
object OracleSql {

  // ---- shared scalar fragments -------------------------------------------

  /** Java-Formatter-compatible %.3f: Java rounds HALF_UP on the exact decimal
    * value; C printf (DuckDB) rounds half-even. Locator-derived coordinates are
    * multiples of 1/48, which include binary-exact .xxx5 ties (e.g. 48.5625),
    * so the tie rule is observable. DuckDB round() is half-away-from-zero =
    * HALF_UP for all signs; scale via *1000 is exact for the tie values. */
  def fmt3(x: String): String =
    s"printf('%.3f', round(($x) * 1000.0e0) / 1000.0e0)"

  /** Python-style positive fmod: the `%` of Geo.azimuthRem and
    * Geo.vertexLonRem, folded by Geo.posMod. */
  private def mod360(x: String): String =
    s"(CASE WHEN ($x) % 360.0e0 < 0 THEN ($x) % 360.0e0 + 360.0e0 ELSE ($x) % 360.0e0 END)"

  private def ascAt(g: String, i: Int): String = s"ascii(substr(trim($g), $i, 1))"

  private def base(g: String): String =
    s"(CASE WHEN ${ascAt(g, 5)} > 88 THEN 96 ELSE 64 END)"

  /** Mirrors Geo.locLat. */
  def locLat(g: String): String = {
    val lat4 = s"((${ascAt(g, 2)} - 65) * 10 + (${ascAt(g, 4)} - 48) + 0.5e0 - 90)"
    val lat6 = s"($lat4 - 0.5e0 + (${ascAt(g, 6)} - ${base(g)}) / 24.0e0 - 1.0e0/48)"
    s"(CASE WHEN length(trim($g)) = 6 THEN $lat6 ELSE $lat4 END)"
  }

  /** Mirrors Geo.locLon. */
  def locLon(g: String): String = {
    val lon4 = s"((${ascAt(g, 1)} - 65) * 20 + (${ascAt(g, 3)} - 48) * 2 + 1.0e0 - 180)"
    val lon6 = s"($lon4 - 1.0e0 + (${ascAt(g, 5)} - ${base(g)}) / 12.0e0 - 1.0e0/24)"
    s"(CASE WHEN length(trim($g)) = 6 THEN $lon6 ELSE $lon4 END)"
  }

  /** Mirrors Geo.posMod(Geo.azimuthRem(toLat,toLon,fromLat,fromLon)) with
    * column-name args. */
  private def fwdAzimuth(toLat: String, toLon: String, fromLat: String,
      fromLon: String): String = {
    val dLam = s"(radians($toLon) - radians($fromLon))"
    val y = s"(sin($dLam) * cos(radians($toLat)))"
    val x = s"(cos(radians($fromLat)) * sin(radians($toLat)) - " +
      s"sin(radians($fromLat)) * cos(radians($toLat)) * cos($dLam))"
    mod360(s"degrees(atan2($y, $x))")
  }

  /** Mirrors Geo.bandOf: CASE over trunc(10*MHz). */
  def bandSql(mhz: String): String = {
    val arms = Geo.freqToBand.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN $k THEN $v" }.mkString(" ")
    s"(CASE CAST(trunc(10.0e0 * $mhz) AS INT) $arms ELSE 9999 END)"
  }

  def wdTime(dateCol: String): String =
    s"strftime(make_timestamp(CAST($dateCol AS BIGINT) * 1000000), '%Y-%m-%d:%H:%M')"

  // ---- spot CTE chain -----------------------------------------------------

  /** `WITH spots AS (...)` — the shared events->spots derivation. */
  val spotsWith: String = s"WITH spots AS (\n${SpotSynth.sqlCte})"

  /** Full enrichment chain, ending in CTE `vx` with columns: all spot columns +
    * tx_lat tx_lon rx_lat rx_lon rx_azi tx_azi max_abs v_lat v_lon. */
  val enrichedWith: String = {
    val g = "\"Grid\""; val rg = "\"ReporterGrid\""
    s"""$spotsWith,
       |loc AS (SELECT *,
       |  ${locLat(g)} AS tx_lat, ${locLon(g)} AS tx_lon,
       |  ${locLat(rg)} AS rx_lat, ${locLon(rg)} AS rx_lon
       |FROM spots),
       |az AS (SELECT *,
       |  ${fwdAzimuth("tx_lat", "tx_lon", "rx_lat", "rx_lon")} AS rx_azi,
       |  ${fwdAzimuth("rx_lat", "rx_lon", "tx_lat", "tx_lon")} AS tx_azi,
       |  (CASE WHEN abs(tx_lat) >= abs(rx_lat) THEN tx_lat ELSE rx_lat END) AS max_abs
       |FROM loc),
       |v0 AS (SELECT *,
       |  (CASE WHEN tx_lon = rx_lon THEN max_abs
       |        ELSE degrees(acos(sin(radians(rx_azi)) * cos(radians(rx_lat)))) END) AS v_lat0
       |FROM az),
       |v1 AS (SELECT *,
       |  (CASE WHEN v_lat0 > 90.0e0 THEN 180.0e0 - v_lat0 ELSE v_lat0 END) AS v_lat1
       |FROM v0),
       |v2 AS (SELECT *,
       |  degrees(acos(tan(radians(rx_lat)) / tan(radians(v_lat1)))) AS arc
       |FROM v1),
       |v3 AS (SELECT *,
       |  (CASE WHEN rx_azi < 180 THEN ${mod360("rx_lon + arc")}
       |        ELSE ${mod360("rx_lon - arc")} END) AS v_lon0
       |FROM v2),
       |v4 AS (SELECT *,
       |  (CASE WHEN v_lon0 > 180 THEN -(360.0e0 - v_lon0) ELSE v_lon0 END) AS v_lon1
       |FROM v3),
       |v5 AS (SELECT *,
       |  (v_lon1 < least(tx_lon, rx_lon) OR v_lon1 > greatest(tx_lon, rx_lon)) AS off_track
       |FROM v4),
       |vx AS (SELECT *,
       |  (CASE WHEN off_track THEN max_abs ELSE v_lat1 END) AS v_lat,
       |  (CASE WHEN off_track THEN (CASE WHEN max_abs = tx_lat THEN tx_lon ELSE rx_lon END)
       |        ELSE v_lon1 END) AS v_lon
       |FROM v5)""".stripMargin
  }

  // ---- text fragments -----------------------------------------------------

  private val toks = "string_split(text, ' ')"
  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")
  val nTokens = s"CAST(len($toks) AS BIGINT)"
  val nDistinct = s"CAST(len(list_distinct($toks)) AS BIGINT)"
  private def countInSql(words: Seq[String]): String =
    s"CAST(len(list_filter($toks, t -> t IN ${inList(words)})) AS BIGINT)"
  val nStopwords: String = countInSql(graft.operators.TextAnalysis.Stopwords)

  /** Mirrors TextAnalysis.qualityScore. */
  val qualitySql: String = {
    val n = s"CAST($nTokens AS DOUBLE)"
    val stop = s"CAST($nStopwords AS DOUBLE)"
    val dist = s"CAST($nDistinct AS DOUBLE)"
    s"round(0.4e0 * least(1.0e0, $n / 100) + 0.3e0 * (1.0e0 - $stop / $n) + 0.3e0 * ($dist / $n), 6)"
  }

  /** Mirrors TextAnalysis.langPredict (alphabetical-first tie-break). */
  val langPredictSql: String = {
    val scored = graft.operators.TextAnalysis.LangMarkers
      .map { case (lang, words) => (lang, countInSql(words)) }
    val best = scored.map(_._2).reduce((a, b) => s"greatest($a, $b)")
    val arms = scored.map { case (lang, s) => s"WHEN $s = $best THEN '$lang'" }.mkString(" ")
    s"(CASE $arms END)"
  }

  /** Mirrors graft.functions.expressions.PolyHash over any string column. */
  def polyHashSql(c: String): String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($c, ''), ch -> CAST(ascii(ch) AS BIGINT))), " +
      "(acc, x) -> (acc * 131 + x) % 2147483647)"

  /** Mirrors TextAnalysis.fingerprint. */
  val fingerprintSql: String = polyHashSql("text")

  /** CTE chain ending in `h(doc_id, ahash)` (with `px` alongside): the
    * [[graft.operators.Multimodal.aHashFromPixels]] arithmetic replayed
    * over the materialized pixel fixture at `path` — 8×8 point-sample
    * lattice by integer floor-division, total as an exact sum, bit i set
    * iff 64·sample > total, packed with two's-complement weights (bit 63
    * = −2^63; DuckDB's `1 << 63` traps, the literal doesn't). */
  def grayHashSql(path: String): String =
    s"""px AS (SELECT doc_id, width, height, gray FROM '$path/*.parquet'),
       |s AS (SELECT doc_id, b.i AS i,
       |        gray[CAST(least(height - 1, ((b.i // 8) * height) // 8) * width
       |             + least(width - 1, ((b.i % 8) * width) // 8) AS BIGINT) + 1]
       |          AS v
       |      FROM px CROSS JOIN range(0, 64) b(i)),
       |t AS (SELECT doc_id, sum(v) AS total FROM s GROUP BY 1),
       |h AS (SELECT s.doc_id,
       |        CAST(sum(CASE WHEN 64 * v > total THEN
       |          CASE WHEN i = 63 THEN -9223372036854775808
       |               ELSE 1::BIGINT << CAST(i AS INT) END ELSE 0 END)
       |          AS BIGINT) AS ahash
       |      FROM s JOIN t USING (doc_id) GROUP BY s.doc_id)""".stripMargin

  /** Sequential-fold cosine over DOUBLE lists (mirrors ArrayMath.cosine:
    * list_dot_product folds left-to-right, verified bit-equal). */
  def cosineSql(a: String, b: String): String =
    s"round(list_dot_product($a::DOUBLE[], $b::DOUBLE[]) / " +
      s"(sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) * " +
      s"sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[]))), 6)"

  /** CTE chain ending in `pairs(a_id, b_id, a_n, b_n, common)` — the
    * inverted-index 3-gram pair counts over `documents` (mirrors
    * Dedup.ngramJaccardPairs' shape; threshold applied by the caller).
    * The `keep` gate mirrors the operator's doc-frequency filter INCLUDING
    * the default maxGramDocs=10000 cap, so the oracle stays faithful on any
    * corpus where a stopword shingle exceeds the cap (q31/q48 use the
    * operator default; a caller overriding the cap needs its own SQL). */
  val ngramPairsWith: String =
    s"""WITH g AS (SELECT doc_id, unnest(${grams3("text")}) AS gram FROM documents),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY doc_id),
       |keep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1 AND count(*) <= 10000),
       |gs AS (SELECT g.doc_id, g.gram, sizes.n_grams FROM g
       |       JOIN keep ON g.gram = keep.gram
       |       JOIN sizes ON g.doc_id = sizes.doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n_grams AS a_n, b.n_grams AS b_n,
       |         CAST(count(*) AS BIGINT) AS common
       |  FROM gs a JOIN gs b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  /** Recursive-CTE replay of Packing.packGreedy over `documents` with the
    * q56 pack-group design ((source, id-shard), capacity 512): the greedy
    * fold as per-group row recursion, ending in
    * `pack(pack_group, doc_id, n_tokens, rn, bin_id, used)`. Shared by the
    * q56 (row-level) and q60 (per-group stats) oracles. */
  val packWith: String =
    """WITH RECURSIVE d AS (
      |  SELECT source || '#' || CAST(doc_id // 100 AS VARCHAR) AS pack_group,
      |         doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         row_number() OVER (PARTITION BY source || '#' || CAST(doc_id // 100 AS VARCHAR)
      |                            ORDER BY doc_id) AS rn
      |  FROM documents),
      |pack(pack_group, doc_id, n_tokens, rn, bin_id, used) AS (
      |  SELECT pack_group, doc_id, n_tokens, rn, CAST(0 AS BIGINT), n_tokens
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.pack_group, d.doc_id, d.n_tokens, d.rn,
      |         CASE WHEN p.used + d.n_tokens > 512 THEN p.bin_id + 1 ELSE p.bin_id END,
      |         CASE WHEN p.used + d.n_tokens > 512 THEN d.n_tokens ELSE p.used + d.n_tokens END
      |  FROM d JOIN pack p ON d.pack_group = p.pack_group AND d.rn = p.rn + 1)""".stripMargin

  /** Word n-grams, all occurrences in order (mirrors the non-distinct gram
    * pass in TextAnalysis.repetitionStats; Dedup.gramsOfToks before its
    * distinct). DuckDB list slicing is 1-based inclusive, so toks[i:i+n-1]
    * is the n tokens starting at i, and i ranges over 1..len-n+1
    * (range() excludes its upper bound). */
  def gramsNAll(textCol: String, n: Int): String =
    s"(CASE WHEN len(string_split($textCol, ' ')) >= $n THEN " +
      s"[array_to_string(string_split($textCol, ' ')[i:i+${n - 1}], ' ') " +
      s"for i in range(1, len(string_split($textCol, ' ')) - ${n - 2})] ELSE [] END)"

  /** Word 3-grams, all occurrences in order. */
  def grams3All(textCol: String): String = gramsNAll(textCol, 3)

  /** Word n-grams, distinct (mirrors Dedup.wordNGrams). */
  def gramsN(textCol: String, n: Int): String =
    s"list_distinct(${gramsNAll(textCol, n)})"

  /** Word 3-grams, distinct (mirrors Dedup.wordNGrams for n=3). */
  def grams3(textCol: String): String = gramsN(textCol, 3)

  /** Mirrors graft.functions.PortableHashes.lshBucket: sign-signature bucket
    * over nPlanes portable hyperplanes; each component is integer arithmetic
    * then one exact double division, so the SQL value is bit-identical to the
    * plan-time literal on the Spark side. */
  def lshBucketSql(emb: String, nPlanes: Int = 8, dim: Int = 64): String =
    s"""list_sum(list_transform(generate_series(0, ${nPlanes - 1}), p ->
       |  CASE WHEN list_reduce(list_prepend(0.0e0,
       |    list_transform(generate_series(0, ${dim - 1}), d ->
       |      $emb[d+1] * (CAST(((p*$dim + d + 1) * 2654435761) % 2147483647 AS DOUBLE)
       |                   / 1073741823.5e0 - 1.0e0))),
       |    (acc, x) -> acc + x) >= 0
       |  THEN CAST(1 << p AS BIGINT) ELSE 0 END))""".stripMargin

  /** Mirrors PortableHashes.lshBandBucket: band `bandExpr`'s sign-signature
    * bucket over the plane slice [band*planesPerBand, (band+1)*planesPerBand).
    * `bandExpr` is a SQL expression (typically a column), so one SQL body
    * serves every band row of an unnested band list. Band 0 reproduces
    * [[lshBucketSql]] exactly. */
  def lshBandBucketSql(emb: String, bandExpr: String, planesPerBand: Int = 8,
      dim: Int = 64): String =
    s"""list_sum(list_transform(generate_series(0, ${planesPerBand - 1}), p ->
       |  CASE WHEN list_reduce(list_prepend(0.0e0,
       |    list_transform(generate_series(0, ${dim - 1}), d ->
       |      $emb[d+1] * (CAST(((($bandExpr*$planesPerBand + p)*$dim + d + 1) * 2654435761)
       |                        % 2147483647 AS DOUBLE)
       |                   / 1073741823.5e0 - 1.0e0))),
       |    (acc, x) -> acc + x) >= 0
       |  THEN CAST(1 << p AS BIGINT) ELSE 0 END))""".stripMargin
}
