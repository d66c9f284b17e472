package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geodesic + band scalar functions, re-expressed as pure Catalyst built-in
  * column expressions (no UDFs — everything stays inside whole-stage codegen).
  *
  * Semantics mirror the reference's per-row Python math
  * (reference: wsprnet_azi_calc.py:77-140), with two conscious divergences,
  * both pinned by tests and mirrored in the DuckDB oracle SQL:
  *
  *  - rounding of azimuths is HALF_UP (Spark/DuckDB `round`) rather than
  *    Python's banker's rounding — observable only at exact .5 ties, which do
  *    not occur for locator-derived azimuths;
  *  - a NaN vertex longitude (acos domain error on pathological inputs,
  *    wsprnet_azi_calc.py:124-126) falls through to the deterministic
  *    "off-track endpoint" fallback instead of propagating NaN, because both
  *    Spark and DuckDB order NaN greater than all doubles, so the off-track
  *    test at wsprnet_azi_calc.py:130 selects the fallback.
  */
object Geo {

  /** The fold of a staged remainder `r = x % m` into [0, m), matching
    * Python's `%` on doubles: (x fmod m) + m when negative. Identical
    * bit-level arithmetic in Spark (Java `%` = C fmod) and DuckDB (`fmod`). */
  def posMod(r: Column, m: Double): Column =
    when(r < 0, r + lit(m)).otherwise(r)

  private def ch(loc: Column, i: Int): Column = ascii(substring(loc, i, 1))

  /** Maidenhead locator (4- or 6-char, 6th-pair case-insensitive) -> latitude
    * in degrees. Ref: wsprnet_azi_calc.py:77-90 (note the reference's 64/96
    * ascii_base with the `ord > 88` lowercase test at :84-87, and the
    * center-of-cell +1/2 and -1/48 offsets at :81, :88). */
  def locLat(locator: Column): Column = {
    val l = trim(locator)
    val lat4 = (ch(l, 2) - 65) * 10 + (ch(l, 4) - 48) + lit(0.5) - 90
    val base = when(ch(l, 5) > 88, 96).otherwise(64)
    val lat6 = lat4 - lit(0.5) + (ch(l, 6) - base) / lit(24.0) - lit(1.0 / 48)
    when(length(l) === 6, lat6).otherwise(lat4)
  }

  /** Maidenhead locator -> longitude in degrees. Ref: wsprnet_azi_calc.py:82, :89. */
  def locLon(locator: Column): Column = {
    val l = trim(locator)
    val lon4 = (ch(l, 1) - 65) * 20 + (ch(l, 3) - 48) * 2 + lit(1.0) - 180
    val base = when(ch(l, 5) > 88, 96).otherwise(64)
    val lon6 = lon4 - lit(1.0) + (ch(l, 5) - base) / lit(12.0) - lit(1.0 / 24)
    when(length(l) === 6, lon6).otherwise(lon4)
  }

  // The path math below takes each shared input as a column and builds
  // one step on it; the caller stages each step's result as a column of
  // its own, so every intermediate is computed once (see
  // graft.operators.Enrich).

  /** Great-circle forward azimuth at `from` towards `to`, in degrees, as the
    * fmod remainder that [[posMod]] folds into [0, 360). The receiver's
    * azimuth is `azimuthRem(tx, rx)`, the transmitter's `azimuthRem(rx, tx)`.
    * Ref: wsprnet_azi_calc.py:103-111. All inputs in degrees. */
  def azimuthRem(toLat: Column, toLon: Column, fromLat: Column,
      fromLon: Column): Column = {
    val phiTo = radians(toLat); val phiFrom = radians(fromLat)
    val dLam = radians(toLon) - radians(fromLon)
    val y = sin(dLam) * cos(phiTo)
    val x = cos(phiFrom) * sin(phiTo) - sin(phiFrom) * cos(phiTo) * cos(dLam)
    degrees(atan2(y, x)) % lit(360.0)
  }

  /** Python max([a, b], key=abs): first maximal element wins ties -> a on |a|==|b|. */
  def maxByAbs(a: Column, b: Column): Column =
    when(abs(a) >= abs(b), a).otherwise(b)

  /** Latitude of the great-circle path vertex (point nearest a pole), before
    * the >90 fold. Same-meridian pairs take the max-|lat| endpoint (ties ->
    * tx, matching Python max(key=abs) first-wins); otherwise Clairaut's
    * formula. Ref: wsprnet_azi_calc.py:116-120. */
  def vertexLat0(txLon: Column, rxLon: Column, rxLat: Column, rxAzi: Column,
      maxAbs: Column): Column =
    when(txLon === rxLon, maxAbs)
      .otherwise(degrees(acos(sin(radians(rxAzi)) * cos(radians(rxLat)))))

  /** The >90 fold of [[vertexLat0]]. Ref: wsprnet_azi_calc.py:121-122. */
  def foldLat(v0: Column): Column =
    when(v0 > 90.0, lit(180.0) - v0).otherwise(v0)

  /** Longitude offset from the receiver to the vertex. Ref: wsprnet_azi_calc.py:123. */
  def vertexArc(rxLat: Column, vLat: Column): Column =
    degrees(acos(tan(radians(rxLat)) / tan(radians(vLat))))

  /** Vertex longitude east or west of the receiver by its azimuth, as the
    * fmod remainder [[posMod]] folds into [0, 360). Ref: wsprnet_azi_calc.py:124-126. */
  def vertexLonRem(rxLon: Column, arc: Column, rxAzi: Column): Column =
    when(rxAzi < 180, rxLon + arc).otherwise(rxLon - arc) % lit(360.0)

  /** [0, 360) -> (-180, 180]. Ref: wsprnet_azi_calc.py:127-128. */
  def signedLon(lon: Column): Column =
    when(lon > 180, -(lit(360.0) - lon)).otherwise(lon)

  /** The vertex longitude lies outside the endpoints' span, or is NaN, which
    * both Spark and DuckDB order above every double. Ref: wsprnet_azi_calc.py:130. */
  def offTrack(vLon: Column, txLon: Column, rxLon: Column): Column =
    vLon < least(txLon, rxLon) || vLon > greatest(txLon, rxLon)

  /** Vertex latitude with the off-track fallback to the endpoint nearest a
    * pole. Ref: wsprnet_azi_calc.py:130-136. */
  def vertexLat(offTrack: Column, maxAbs: Column, vLat: Column): Column =
    when(offTrack, maxAbs).otherwise(vLat)

  /** Vertex longitude with the off-track fallback to the longitude of the
    * endpoint nearest a pole. Ref: wsprnet_azi_calc.py:130-136. */
  def vertexLon(offTrack: Column, maxAbs: Column, txLat: Column, txLon: Column,
      rxLon: Column, vLon: Column): Column =
    when(offTrack, when(maxAbs === txLat, txLon).otherwise(rxLon)).otherwise(vLon)

  /** Frequency (MHz) -> wavelength band code. 18-entry map keyed by
    * trunc(10 * MHz), default 9999. Ref: wsprnet_azi_calc.py:55-75, :137-139.
    * The key truncates toward zero (Python int()), which is Spark's double->int
    * cast; the DuckDB oracle must use trunc() since DuckDB's cast rounds. */
  val freqToBand: Map[Int, Int] = Map(
    1 -> 2200, 4 -> 630, 18 -> 160, 35 -> 80, 52 -> 60, 53 -> 60, 70 -> 40,
    101 -> 30, 140 -> 20, 181 -> 17, 210 -> 15, 249 -> 12, 281 -> 10,
    502 -> 6, 700 -> 4, 1444 -> 2, 4323 -> 70, 12965 -> 23)

  def bandOf(mhz: Column): Column = {
    val key = (lit(10.0) * mhz).cast("int")
    coalesce(element_at(typedLit(freqToBand), key), lit(9999))
  }
}
