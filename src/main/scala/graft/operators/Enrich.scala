package graft.operators

import graft.functions.Geo
import graft.spots.SpotSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** The reference's per-row geodesic enrichment stage as one lazy DataFrame
  * transform: 15/16-column spot batch in, 27-column enriched batch out
  * (reference: wsprnet_azi_calc.py:142-213). Narrow (no shuffle), fully
  * whole-stage-codegen — scales linearly with input splits.
  *
  * Each shared intermediate of the path math (endpoint lat/lon, both
  * azimuths, the max-|lat| endpoint, vertex latitude, arc, vertex
  * longitude, off-track) is a column of its own, made by one `select` in a
  * short chain. Catalyst inlines a column into a later projection only
  * when that projection reads it once, so a column read in several places
  * stays computed once. As one nested expression, every use would repeat
  * the whole subtree below it: a spot trigger's optimized plan would hold
  * ~8,350 expression nodes instead of ~900, and analysing, optimizing and
  * compiling them would cost more than running them on a small drop
  * (SCALING.md, plans/enrich/).
  */
object Enrich {

  // staged intermediates; the prefix keeps them clear of input columns
  private val TxLat = "_geo_tx_lat"; private val TxLon = "_geo_tx_lon"
  private val RxLat = "_geo_rx_lat"; private val RxLon = "_geo_rx_lon"
  private val RxAzRem = "_geo_rx_az_rem"; private val TxAzRem = "_geo_tx_az_rem"
  private val RxAz = "_geo_rx_az"; private val TxAz = "_geo_tx_az"
  private val MaxAbs = "_geo_max_abs"; private val VLat0 = "_geo_v_lat0"
  private val VLat = "_geo_v_lat"; private val Arc = "_geo_arc"
  private val VLonRem = "_geo_v_lon_rem"; private val VLon0 = "_geo_v_lon0"
  private val VLon = "_geo_v_lon"; private val OffTrack = "_geo_off_track"
  private val staged = Seq(TxLat, TxLon, RxLat, RxLon, RxAzRem, TxAzRem, RxAz,
    TxAz, MaxAbs, VLat0, VLat, Arc, VLonRem, VLon0, VLon, OffTrack)

  /** `df` plus every staged intermediate; each `select` adds the columns
    * whose inputs the previous ones made. */
  private def stage(df: DataFrame): DataFrame = {
    def add(cols: (String, Column)*)(d: DataFrame): DataFrame =
      d.select(col("*") +: cols.map { case (n, c) => c.as(n) }: _*)
    df.transform(add(TxLat -> Geo.locLat(col("Grid")), TxLon -> Geo.locLon(col("Grid")),
        RxLat -> Geo.locLat(col("ReporterGrid")), RxLon -> Geo.locLon(col("ReporterGrid"))))
      .transform(add(
        RxAzRem -> Geo.azimuthRem(col(TxLat), col(TxLon), col(RxLat), col(RxLon)),
        TxAzRem -> Geo.azimuthRem(col(RxLat), col(RxLon), col(TxLat), col(TxLon)),
        MaxAbs -> Geo.maxByAbs(col(TxLat), col(RxLat))))
      .transform(add(RxAz -> Geo.posMod(col(RxAzRem), 360.0),
        TxAz -> Geo.posMod(col(TxAzRem), 360.0)))
      .transform(add(VLat0 -> Geo.vertexLat0(col(TxLon), col(RxLon), col(RxLat),
        col(RxAz), col(MaxAbs))))
      .transform(add(VLat -> Geo.foldLat(col(VLat0))))
      .transform(add(Arc -> Geo.vertexArc(col(RxLat), col(VLat))))
      .transform(add(VLonRem -> Geo.vertexLonRem(col(RxLon), col(Arc), col(RxAz))))
      .transform(add(VLon0 -> Geo.posMod(col(VLonRem), 360.0)))
      .transform(add(VLon -> Geo.signedLon(col(VLon0))))
      .transform(add(OffTrack -> Geo.offTrack(col(VLon), col(TxLon), col(RxLon))))
  }

  /** Enrichment with `latLon` applied to the six lat/lon outputs: columns
    * are added or replaced in the order the reference appends them. */
  private def enrichWith(df: DataFrame, latLon: Column => Column): DataFrame = {
    val time =
      if (df.columns.contains("wd_time")) ListMap.empty[String, Column]
      else ListMap("wd_time" -> from_unixtime(col("Date"), SpotSchema.WdTimeFormat))
    stage(df).withColumns(time ++ ListMap(
      "wd_tx_lat" -> latLon(col(TxLat)),
      "wd_tx_lon" -> latLon(col(TxLon)),
      "wd_rx_lat" -> latLon(col(RxLat)),
      "wd_rx_lon" -> latLon(col(RxLon)),
      "wd_v_lat" -> latLon(Geo.vertexLat(col(OffTrack), col(MaxAbs), col(VLat))),
      "wd_v_lon" -> latLon(Geo.vertexLon(col(OffTrack), col(MaxAbs), col(TxLat),
        col(TxLon), col(RxLon), col(VLon))),
      "wd_band" -> Geo.bandOf(col("MHz")),
      "wd_c2_noise" -> lit("-999.9"),   // placeholders, wsprnet_azi_calc.py:172-173
      "wd_rms_noise" -> lit("-999.9"),
      "wd_rx_az" -> round(col(RxAz)).cast("int"),
      "wd_tx_az" -> round(col(TxAz)).cast("int")))
      .drop(staged: _*)
  }

  /** Adds the 11 wd_* enrichment columns with natural types (doubles for
    * lat/lon, ints for azimuths/band). Keeps numeric precision in-plan;
    * use [[formatted]] for the reference's string-formatted 27-col boundary.
    * Also derives wd_time from Date if absent (wsprnet_azi_calc.py:196).
    */
  def enrich(df: DataFrame): DataFrame = enrichWith(df, identity)

  /** The reference's exact output boundary: all 27 columns in canonical order,
    * lat/lon as %.3f strings (wsprnet_azi_calc.py:175-181, insert-spots.sql:1-3). */
  def formatted(df: DataFrame): DataFrame =
    enrichWith(df, format_string("%.3f", _))
      .select(SpotSchema.enriched27Columns.map(col): _*)
}
