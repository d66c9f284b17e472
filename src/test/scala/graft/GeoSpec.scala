package graft

import graft.functions.Geo
import graft.operators.Enrich
import graft.sources.{SpotSource, SpotSynth}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Geo math vs the reference semantics (RefMath), fixed edge cases +
  * property-based random locators (scalacheck Gen with a fixed seed via
  * sample — deterministic enough; failures print the pair). */
class GeoSpec extends SparkSpec {
  import spark.implicits._

  private val edgePairs: Seq[(String, String)] = Seq(
    ("DN70", "FN12gx"),   // 4-char tx, 6-lower rx (the FIXTURES.md A1 spot)
    ("FN12GX", "FN12gx"), // 6-upper vs 6-lower, same cell
    ("AA00", "RR99"),     // extreme corners
    ("JJ00", "JJ50"),     // same meridian (lon chars equal, 4-char)
    ("JJ00", "JJ00"),     // same point
    ("AB12", "AB17"),     // same meridian, same hemisphere
    ("KK44", "KK49"),     // same meridian crossing nothing
    ("AA05", "RA95"),     // near-antipodal longitudes
    ("EM05rm", "EL06"),   // mixed 6/4
    ("HA63xi", "PR74"))

  private def locGen: Gen[String] = for {
    f1 <- Gen.choose('A', 'R'); f2 <- Gen.choose('A', 'R')
    d1 <- Gen.choose('0', '9'); d2 <- Gen.choose('0', '9')
    mode <- Gen.choose(0, 2)
    s1 <- Gen.choose(0, 23); s2 <- Gen.choose(0, 23)
  } yield {
    val base = s"$f1$f2$d1$d2"
    mode match {
      case 0 => base
      case 1 => base + ('a' + s1).toChar + ('a' + s2).toChar
      case 2 => base + ('A' + s1).toChar + ('A' + s2).toChar
    }
  }

  private def enrichPairs(pairs: Seq[(String, String)]) = {
    val df = pairs.zipWithIndex
      .map { case ((tx, rx), i) => (i.toLong, 1700000000L + i, tx, rx, 7.0401) }
      .toDF("Spotnum", "Date", "Grid", "ReporterGrid", "MHz")
    Enrich.enrich(df)
      .select("Spotnum", "wd_tx_lat", "wd_tx_lon", "wd_rx_lat", "wd_rx_lon",
        "wd_rx_az", "wd_tx_az", "wd_v_lat", "wd_v_lon", "wd_band")
      .collect().sortBy(_.getLong(0))
  }

  private def checkAgainstRef(pairs: Seq[(String, String)]): Unit = {
    val rows = enrichPairs(pairs)
    pairs.zip(rows).foreach { case ((tx, rx), row) =>
      val (_, rxAzi, rxLat, rxLon, txAzi, txLat, txLon, vLat, vLon) =
        RefMath.calculateAzimuth(7.0401, tx, rx)
      val ctx = s"tx=$tx rx=$rx"
      assert(math.abs(row.getDouble(1) - txLat) < 1e-12, s"$ctx tx_lat")
      assert(math.abs(row.getDouble(2) - txLon) < 1e-12, s"$ctx tx_lon")
      assert(math.abs(row.getDouble(3) - rxLat) < 1e-12, s"$ctx rx_lat")
      assert(math.abs(row.getDouble(4) - rxLon) < 1e-12, s"$ctx rx_lon")
      assert(row.getInt(5) == math.round(rxAzi).toInt, s"$ctx rx_az ref=$rxAzi got=${row.getInt(5)}")
      assert(row.getInt(6) == math.round(txAzi).toInt, s"$ctx tx_az ref=$txAzi got=${row.getInt(6)}")
      if (!vLat.isNaN && !vLon.isNaN) {
        assert(math.abs(row.getDouble(7) - vLat) < 1e-9, s"$ctx v_lat ref=$vLat got=${row.getDouble(7)}")
        assert(math.abs(row.getDouble(8) - vLon) < 1e-9, s"$ctx v_lon ref=$vLon got=${row.getDouble(8)}")
      } else {
        // Documented divergence: reference propagates NaN; engine falls back
        // to the endpoint nearest a pole.
        val mLat = if (math.abs(txLat) >= math.abs(rxLat)) txLat else rxLat
        val mLon = if (mLat == txLat) txLon else rxLon
        assert(row.getDouble(7) == mLat && row.getDouble(8) == mLon, s"$ctx NaN fallback")
      }
    }
  }

  test("enrichment matches reference math on edge-case pairs") {
    checkAgainstRef(edgePairs)
  }

  test("enrichment matches reference math on 400 random locator pairs") {
    val pairs = Gen.listOfN(400, Gen.zip(locGen, locGen)).sample.get
    checkAgainstRef(pairs)
  }

  test("locator lat/lon ranges and azimuth range hold for random pairs") {
    val pairs = Gen.listOfN(200, Gen.zip(locGen, locGen)).sample.get
    val rows = enrichPairs(pairs)
    rows.foreach { r =>
      assert(r.getDouble(1) > -90 && r.getDouble(1) < 90)
      assert(r.getDouble(2) >= -180 && r.getDouble(2) < 180)
      assert(r.getInt(5) >= 0 && r.getInt(5) <= 360) // round() can emit 360
      assert(r.getInt(6) >= 0 && r.getInt(6) <= 360)
      // vertex is at least as polar as both endpoints, or equals an endpoint
      val vAbs = math.abs(r.getDouble(7))
      val epMax = math.max(math.abs(r.getDouble(1)), math.abs(r.getDouble(3)))
      assert(vAbs >= epMax - 1e-6 ||
        r.getDouble(7) == r.getDouble(1) || r.getDouble(7) == r.getDouble(3))
    }
  }

  test("band map: all 18 entries + default") {
    val freqs = graft.sources.SpotSynth.freqs
    val df = freqs.map(Tuple1(_)).toDF("MHz").withColumn("band", Geo.bandOf(col("MHz")))
    val got = df.collect().map(r => r.getDouble(0) -> r.getInt(1)).toMap
    assert(got(0.1375) == 2200 && got(0.4757) == 630 && got(1.8381) == 160)
    assert(got(5.2887) == 60 && got(5.3647) == 60) // 60 + 60eu collapse
    assert(got(1296.5015) == 23 && got(432.3005) == 70)
    assert(got(2.5) == 9999 && got(99.9999) == 9999)
    assert(got.values.count(_ != 9999) == 18)
  }

  /** Order-insensitive digest of a frame: row count, XOR and wrapping sum of
    * each row's xxhash64 over every column as text. Doubles go through
    * cast("string"), the shortest decimal that round-trips, so a change in
    * any bit of any double changes the digest. */
  private def digest(df: DataFrame): (Long, Long, Long) = {
    val h = df.select(xxhash64(df.columns.toSeq.map(c => col(s"`$c`").cast("string")): _*))
      .collect().map(_.getLong(0))
    (h.length.toLong, h.foldLeft(0L)(_ ^ _), h.sum)
  }

  /** 15 API columns around each (tx, rx) pair; MHz cycles the band table. */
  private def apiRows(pairs: Seq[(String, String)]) =
    pairs.zipWithIndex.map { case ((tx, rx), i) =>
      (i.toLong, 1700000000L + 120L * i, s"R$i", rx, -20 + i % 7,
        SpotSynth.freqs(i % SpotSynth.freqs.length), s"C$i", tx, 23, i % 3 - 1,
        1000 + i, i % 360, 7, "2.3.0", 1)
    }

  private def apiFrame(pairs: Seq[(String, String)]): DataFrame =
    apiRows(pairs).toDF(graft.spots.SpotSchema.apiColumns: _*)

  /** 400 locator pairs from a fixed java.util.Random seed, in the same
    * three shapes as [[locGen]]. */
  private val seededPairs: Seq[(String, String)] = {
    val r = new scala.util.Random(20261020L)
    def loc(): String = {
      def c(from: Char, n: Int) = (from + r.nextInt(n)).toChar
      val base = s"${c('A', 18)}${c('A', 18)}${c('0', 10)}${c('0', 10)}"
      r.nextInt(3) match {
        case 0 => base
        case 1 => base + c('a', 24) + c('a', 24)
        case _ => base + c('A', 24) + c('A', 24)
      }
    }
    Seq.fill(400)((loc(), loc()))
  }

  /** A 16-column CSV (wd_time first, so enrich keeps it) over the seeded pairs. */
  private def csv16Frame(): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("geo-csv16")
    val lines = apiRows(seededPairs.take(60)).map { r =>
      val t = java.time.Instant.ofEpochSecond(r._2).atZone(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd:HH:mm"))
      (t +: r.productIterator.toSeq).mkString(",")
    }
    java.nio.file.Files.writeString(dir.resolve("spots.csv"), lines.mkString("\n"))
    SpotSource.fromCsv16(spark, dir.resolve("spots.csv").toString)
  }

  /** Digests recorded from the enrichment built as one withColumn per
    * output with the vertex as a struct; any restaging of the plan must
    * reproduce every bit. */
  private val pinned: Map[String, (Long, Long, Long)] = Map(
    ("edge/enrich", (10L, -1771797963558509217L, 729953226490239059L)),
    ("edge/formatted", (10L, -4737008349022477330L, 766399523148614234L)),
    ("seeded/enrich", (400L, 7795472059467771029L, 3367490415160791813L)),
    ("seeded/formatted", (400L, 4484856361143961522L, -8397442907322088828L)),
    ("csv16/enrich", (60L, -7309526110883318567L, -4834902213793680871L)),
    ("csv16/formatted", (60L, 340529092151945554L, -1329257285240572084L)))

  test("enrich and formatted reproduce the pinned digests bit for bit") {
    val inputs = Seq("edge" -> apiFrame(edgePairs), "seeded" -> apiFrame(seededPairs),
      "csv16" -> csv16Frame())
    val got = inputs.flatMap { case (name, df) =>
      Seq(s"$name/enrich" -> digest(Enrich.enrich(df)),
        s"$name/formatted" -> digest(Enrich.formatted(df)))
    }
    got.foreach { case (k, v) => assert(v == pinned(k), s"$k digest moved to $v") }
  }
}
