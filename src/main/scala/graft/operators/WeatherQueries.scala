package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core._
import graft.functions.WeatherFunctions._
import graft.sources.Tables
import graft.streaming.WeatherStream

/** Reference-semantics pack: the weather pipeline of
  * `MetOffice_WOW_Connect.txt` re-expressed over the `events` table
  * (SURVEY.md §2B wx_*; REF:O5, O9-O19, O21).
  *
  * The events table stands in for the sensor stream (FIXTURES.md §B role
  * mapping): synthetic sensor channels are derived deterministically from
  * `value`, and the rain counter is reconstructed as a running sum of
  * `value` per user — monotone, like the reference's accumulating gauge.
  *
  * Scale notes: the whole pack is window functions over
  * (user_id [, day]) partitions plus scalar column math — one shuffle on
  * user_id, per-partition sort, then fully codegen'd expressions. The
  * reference's cross-run Google-Sheet state (O8-O12) becomes
  * `first_value`/`lag` windows here and `flatMapGroupsWithState` on the
  * streaming surface (graft.streaming).
  */
object WeatherQueries {

  // Site parameters, as set in the reference (MetOffice_WOW_Connect.txt:
  // 45,65,66): 5 m mast, 5 m altitude, latitude 61.8989°N.
  /** Readings per hour: the 15-min cadence (MetOffice_WOW_Connect.txt:
    * 34-39) — the rain rate's mm/h scale, batch and streaming alike. */
  private[graft] val ObsFreq = 4.0
  private val MastHeightM = 5.0
  private val AltitudeM = 5.0
  private val LatitudeDeg = 61.8989


  /** `wx_rain_daily_stream` and its restart twin: the events replayed
    * through [[WeatherStream.rainDailyStream]] into `sink`. `suffix` keeps
    * the two queries' staging and sink dirs apart. */
  private def rainStream(s: SparkSession, dir: String, suffix: String,
                         sink: WeatherStream.Sink): DataFrame = {
    val readings = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val input = WeatherStream.chunkedFileFeed(
      readings, WeatherStream.stagingDir(s"wx_rain$suffix", dir))
    WeatherStream.drain(WeatherStream.rainDailyStream(input.typed).toDF(),
      s"wx_rain_stream$suffix", sink, input)
      .select(col("event_id"), col("user_id"), col("day"),
        col("total_rain_mm"), col("daily_rain_mm"), col("rain_rate_mmh"))
      .orderBy("event_id")
  }

  /** Shared by `wx_rain_daily` (batch windows) and `wx_rain_daily_stream`
    * (stateful streaming) — ONE oracle for both spellings. */
  private val rainDailySql: String =
    s"""WITH c AS (
       |  SELECT event_id, user_id, ts, strftime(ts, '%Y-%m-%d') AS day,
       |    sum(CAST(value AS DECIMAL(25,6)))
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS counter
       |  FROM events)
       |SELECT event_id, user_id, day,
       |  CAST(counter AS DOUBLE) AS total_rain_mm,
       |  CAST(counter - first_value(counter)
       |    OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS DOUBLE) AS daily_rain_mm,
       |  CAST(coalesce((counter - lag(counter, 1)
       |    OVER (PARTITION BY user_id, day ORDER BY ts, event_id)) * $ObsFreq, 0.0)
       |    AS DOUBLE) AS rain_rate_mmh
       |FROM c ORDER BY event_id""".stripMargin

  /** Synthetic sensor channels from events.value (deterministic, identical
    * arithmetic on both engines; floor() used because Spark's double->int
    * cast truncates while DuckDB's rounds). */
  def sensors(df: DataFrame): DataFrame = df
    .withColumn("t_c", col("value") % 40.0 - 5.0)          // [-5, 35)
    .withColumn("rh_pct", lit(30.0) + col("value") % 70.0) // [30, 100)
    .withColumn("ws_ms", col("value") % 25.0)
    .withColumn("wg_ms", col("value") % 25.0 * 1.3)
    .withColumn("wd_idx", floor(col("value") % 16.0).cast("int"))
    .withColumn("baro_hpa", lit(950.0) + col("value") % 100.0)

  private val sensorsSql =
    """fmod(value, 40.0) - 5.0 AS t_c,
      |  30.0 + fmod(value, 70.0) AS rh_pct,
      |  fmod(value, 25.0) AS ws_ms,
      |  fmod(value, 25.0) * 1.3 AS wg_ms,
      |  CAST(floor(fmod(value, 16.0)) AS INTEGER) AS wd_idx,
      |  950.0 + fmod(value, 100.0) AS baro_hpa""".stripMargin

  val all: Seq[Q] = Seq(
    // O5: Magnus dew point with the as-written 17.7 constant.
    Q("wx_dewpoint",
      (s, dir) => sensors(Tables.events(s, dir))
        .select(col("event_id"), r6(col("t_c")).as("t_c"), r6(col("rh_pct")).as("rh_pct"),
          r6(dewPointC(col("t_c"), col("rh_pct"))).as("dewpt_c"),
          r6(cToF(dewPointC(col("t_c"), col("rh_pct")))).as("dewpt_f"))
        .orderBy("event_id"),
      Some("""SELECT event_id, round(t_c, 6) AS t_c, round(rh_pct, 6) AS rh_pct,
             |  round(237.7 * g / (17.7 - g), 6) AS dewpt_c,
             |  round((237.7 * g / (17.7 - g)) * 1.8 + 32.0, 6) AS dewpt_f
             |FROM (SELECT event_id, t_c, rh_pct,
             |        17.27 * t_c / (237.7 + t_c) + ln(rh_pct / 100.0) AS g
             |      FROM (SELECT event_id, fmod(value, 40.0) - 5.0 AS t_c,
             |                   30.0 + fmod(value, 70.0) AS rh_pct FROM events))
             |ORDER BY event_id""".stripMargin)),

    // O14 + O15: wind decode and mast-height correction.
    Q("wx_wind",
      (s, dir) => sensors(Tables.events(s, dir))
        .select(col("event_id"), r6(col("ws_ms")).as("ws_ms"),
          windDirDegNum(col("wd_idx"), col("ws_ms")).as("winddir_deg"),
          r6(mastCorrected(col("ws_ms"), col("ws_ms"), lit(MastHeightM))).as("ws_corr_ms"),
          r6(mastCorrected(col("wg_ms"), col("ws_ms"), lit(MastHeightM))).as("wg_corr_ms"),
          r6(msToMph(mastCorrected(col("ws_ms"), col("ws_ms"), lit(MastHeightM)))).as("ws_mph"))
        .orderBy("event_id"),
      Some(s"""SELECT event_id, round(ws_ms, 6) AS ws_ms,
              |  CASE WHEN ws_ms = 0.0 THEN 0.0
              |       WHEN wd_idx = 0 THEN 360.0
              |       ELSE CAST(wd_idx AS DOUBLE) * 22.5 END AS winddir_deg,
              |  round(CASE WHEN ws_ms <> 0.0 THEN ws_ms * corr ELSE ws_ms END, 6) AS ws_corr_ms,
              |  round(CASE WHEN ws_ms <> 0.0 THEN wg_ms * corr ELSE wg_ms END, 6) AS wg_corr_ms,
              |  round(CASE WHEN ws_ms <> 0.0 THEN ws_ms * corr ELSE ws_ms END * 2.236936, 6) AS ws_mph
              |FROM (SELECT *, 1.0 / (0.233 + 0.656 * log10($MastHeightM + 4.75)) AS corr
              |      FROM (SELECT event_id, $sensorsSql FROM events))
              |ORDER BY event_id""".stripMargin)),

    // O16-O18: SMHI mean-sea-level reduction (lat/alt of the reference site).
    Q("wx_pressure_msl",
      (s, dir) => sensors(Tables.events(s, dir))
        .select(col("event_id"), r6(col("baro_hpa")).as("baro_hpa"),
          r6(col("t_c")).as("t_c"),
          r6(mslPressureHpa(col("baro_hpa"), col("t_c"), lit(LatitudeDeg), lit(AltitudeM)))
            .as("mslp_hpa"),
          r6(hpaToInHg(mslPressureHpa(col("baro_hpa"), col("t_c"), lit(LatitudeDeg), lit(AltitudeM))))
            .as("mslp_inhg"))
        .orderBy("event_id"),
      Some(s"""SELECT event_id, round(baro_hpa, 6) AS baro_hpa, round(t_c, 6) AS t_c,
              |  round(baro_hpa * exp($AltitudeM * lat_corr / temp_corr), 6) AS mslp_hpa,
              |  round(baro_hpa * exp($AltitudeM * lat_corr / temp_corr) * 0.029529983071445, 6) AS mslp_inhg
              |FROM (SELECT *,
              |        0.034163 * (1 - 0.0026373 * cos(2 * $LatitudeDeg * pi() / 180)) AS lat_corr,
              |        CASE WHEN t_c >= -7.0 AND t_c < 2.0 THEN 0.535 * t_c + 275.6
              |             WHEN t_c < -7.0 THEN 0.500 * t_c + 275.0
              |             ELSE 1.07 * t_c + 274.5 END AS temp_corr
              |      FROM (SELECT event_id, $sensorsSql FROM events))
              |ORDER BY event_id""".stripMargin)),

    // O9-O13: the rain state machine as windows. counter = running sum of
    // value per user (exact DECIMAL, like the gauge's monotone register);
    // daily accumulation = counter - first counter of the (user, day);
    // rate = freq x (counter - previous counter of the day), 0 at the day's
    // first observation (the reference's rollover reset).
    Q("wx_rain_daily",
      (s, dir) => rainDaily(Tables.events(s, dir)).orderBy("event_id"),
      Some(rainDailySql)),

    // O8-O13 + O23 as a DRIVER-CHECKED fact: the streaming state machine
    // (flatMapGroupsWithState, graft.streaming.WeatherStream) run over the
    // same events via a parquet FILE-SOURCE stream, sharing wx_rain_daily's
    // oracle SQL — streaming ≡ batch ≡ DuckDB, hash-exact (the state
    // accumulates with the batch DECIMAL(25,6) semantics, see RainState).
    // The feed is 3 event-time-range chunk files replayed one per
    // micro-batch in ARRIVAL order (each chunk is copied into the live
    // dir, processed, then the next arrives — no mtime pinning), so
    // cross-batch state carry is actually exercised with NO driver-side
    // materialization: the only values collected are 2 quantile
    // boundaries. This is the production shape — swap the live dir for a
    // landing directory and the pipeline runs unbounded.
    StreamQ("wx_rain_daily_stream",
      (s, dir) => rainStream(s, dir, "", WeatherStream.FileSink()),
      Some(rainDailySql)),

    // The wx_rain_daily_stream pipeline KILLED after 2 of 3 chunk
    // arrivals and RESTARTED from the same checkpoint + sink dirs
    // (WeatherStream.FileSink(stopAfter)): checkpoint recovery of the
    // flatMapGroupsWithState rain state + the file-sink metadata log must
    // reproduce the uninterrupted run exactly, so this query shares the
    // BATCH oracle SQL — making fault recovery a driver-checked
    // CORRECTNESS row, not only a scalatest fact (StreamingSpec pins the
    // same drill at fixture scale).
    StreamQ("wx_rain_daily_stream_restart",
      (s, dir) => rainStream(s, dir, "_restart", WeatherStream.FileSink(stopAfter = Some(2))),
      Some(rainDailySql)),

    // O4: the barometer HTML-scrape parse. The reference slices 5-6 chars
    // before the literal 'hPa' and re-parses on NaN (:177-183); the regex
    // subsumes both digit widths. The HTML is reconstructed from the
    // synthetic pressure channel so extract(parse(render(x))) == x.
    Q("wx_parse_baro",
      (s, dir) => sensors(Tables.events(s, dir))
        .withColumn("html",
          concat(lit("<tr><td>Pressure</td><td>"), rN(col("baro_hpa"), 1).cast("string"),
                 lit(" hPa</td></tr>")))
        .select(col("event_id"),
          regexp_extract(col("html"), "([0-9]+\\.?[0-9]*) hPa", 1).cast("double")
            .as("baro_parsed_hpa"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  CAST(regexp_extract(html, '([0-9]+\.?[0-9]*) hPa', 1) AS DOUBLE) AS baro_parsed_hpa
             |FROM (SELECT event_id,
             |        '<tr><td>Pressure</td><td>' || CAST(round(950.0 + fmod(value, 100.0), 1) AS VARCHAR)
             |          || ' hPa</td></tr>' AS html
             |      FROM events)
             |ORDER BY event_id""".stripMargin)),

    // O20+O21: the actual WOW wire format — all 12 fields as strings
    // with the reference's number→string semantics, built from the RAW
    // derivations (see [[wowWireFrom]]): seven toFixed fields via the
    // native JsToFixed (exact-binary half-away-from-zero — the rule
    // format_number/format_string both miss; corner table golden-pinned
    // against a real JS engine in WeatherFunctionsSpec), humidity RAW
    // through the implicit Number::toString (JsNumberString), winddir
    // the pre-formatted windDirDeg string ("000" calm / "360" north).
    // String formatting stays out of the DuckDB oracle (SURVEY.md §7.3).
    Q("wx_wow_record_wire",
      (s, dir) => wowWireFrom(Tables.events(s, dir)).orderBy("event_id"),
      None),

    // O21 flagship: the full 12-field WOW observation record (D4), composing
    // O5 + O9-O19 into one projection. Numeric fields are emitted as rounded
    // numerics per SURVEY.md §7.3 (string formatting is covered by
    // WeatherFunctionsSpec golden tests).
    Q("wx_wow_record",
      (s, dir) => wowRecord(s, dir),
      Some(wowRecordSql)),
  )

  /** The O9-O13 window block — counter / day / day_start / prev_counter —
    * ONE copy of the DECIMAL(25,6) accumulation and the (ts, event_id)
    * tie-break (both load-bearing for oracle bit-identity), shared by
    * [[rainDaily]] and the flagship [[wowRecordFrom]]. */
  private def withRainWindows(df: DataFrame): DataFrame = {
    val wUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wDay = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    df.withColumn("counter",
        sum(col("value").cast(DecimalType(25, 6))).over(
          wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("day_start", first(col("counter")).over(wDay))
      .withColumn("prev_counter", lag(col("counter"), 1).over(wDay))
  }

  /** The two rain deltas over [[withRainWindows]]: rain since the day's
    * first reading (mm), and the rate since the previous reading that day
    * (mm/h; 0 on the day's first). */
  private val dailyRainMm = (col("counter") - col("day_start")).cast("double")
  private val rainRateMmh =
    coalesce((col("counter") - col("prev_counter")) * lit(ObsFreq), lit(0.0)).cast("double")

  /** O9-O13 as windows over any (event_id, user_id, ts, value) frame —
    * the reusable library form; equivalence with a sequential simulation of
    * the reference state machine is pinned in RainStateMachineProps. */
  def rainDaily(events: DataFrame): DataFrame =
    withRainWindows(events)
      .select(col("event_id"), col("user_id"), col("day"),
        col("counter").cast("double").as("total_rain_mm"),
        dailyRainMm.as("daily_rain_mm"), rainRateMmh.as("rain_rate_mmh"))

  /** The D4 12-field projection over any frame carrying (event_id, ts,
    * sensor channels, dailyrain_mm, rain_mmh) — shared by the batch
    * flagship and the streaming pipeline (graft.streaming.WeatherPipeline),
    * so both paths emit byte-identical records. */
  def wowProjection(base: DataFrame): DataFrame =
    base.select(
      col("event_id"),
      lit("graft-site-0001").as("siteid"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("dateutc"),
      r6(cToF(col("t_c"))).as("tempf"),
      r6(col("rh_pct")).as("humidity"),
      r6(msToMph(mastCorrected(col("ws_ms"), col("ws_ms"), lit(MastHeightM)))).as("windspeedmph"),
      r6(msToMph(mastCorrected(col("wg_ms"), col("ws_ms"), lit(MastHeightM)))).as("windgustmph"),
      windDirDegNum(col("wd_idx"), col("ws_ms")).as("winddir"),
      r6(cToF(dewPointC(col("t_c"), col("rh_pct")))).as("dewptf"),
      r6(mmToInch(col("dailyrain_mm"))).as("dailyrainin"),
      r6(mmToInch(col("rain_mmh"))).as("rainin"),
      r6(hpaToInHg(mslPressureHpa(col("baro_hpa"), col("t_c"), lit(LatitudeDeg), lit(AltitudeM))))
        .as("baromin"),
      lit("graft-spark-0.1").as("softwaretype"))

  /** Sensor channels + rain windows + the two rain deltas over any
    * (event_id, user_id, ts, value) frame — the raw enrichment shared by
    * the oracled flagship ([[wowRecordFrom]]) and the wire record
    * ([[wowWireFrom]]). */
  private def wowEnriched(events: DataFrame): DataFrame =
    withRainWindows(sensors(events))
      .withColumn("dailyrain_mm", dailyRainMm)
      .withColumn("rain_mmh", rainRateMmh)

  /** Batch flagship over any (event_id, user_id, ts, value) frame. */
  def wowRecordFrom(events: DataFrame): DataFrame =
    wowProjection(wowEnriched(events))

  /** O19-O21: the ACTUAL wire strings, derived the way the reference
    * does — raw channels → JS unit conversions → `toFixed` /
    * `Number::toString` (`:349-365,373-387`) — NOT by re-formatting the
    * r6-rounded oracle twin ([[wowProjection]]'s rounding exists only
    * for the DuckDB hash contract, SURVEY.md §7.3; the reference never
    * rounds before formatting, and r6-then-toFixed double-rounds when a
    * value sits within 5e-7 of a tenths boundary). Field-by-field
    * (`:373-387`): seven toFixed fields via [[jsToFixed]]; `humidity`
    * posted RAW (`'humidity': hum`, `:378`) so it carries the implicit
    * `Number::toString` of form encoding ([[jsNumberStr]]); `winddir`
    * arrives pre-formatted by [[windDirDeg]] (`:288-307` — calm is the
    * string "000", sector 0 is "360"). The select mirrors
    * [[wowProjection]] deliberately: same channels, different
    * formatting contract — the formulas themselves live once in
    * [[graft.functions.WeatherFunctions]]. */
  def wowWireFrom(events: DataFrame): DataFrame =
    wowEnriched(events).select(
      col("event_id"),
      lit("graft-site-0001").as("siteid"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("dateutc"),
      jsToFixed(cToF(col("t_c")), 1).as("tempf"),
      jsNumberStr(col("rh_pct")).as("humidity"),
      jsToFixed(msToMph(mastCorrected(col("ws_ms"), col("ws_ms"), lit(MastHeightM))), 2)
        .as("windspeedmph"),
      jsToFixed(msToMph(mastCorrected(col("wg_ms"), col("ws_ms"), lit(MastHeightM))), 2)
        .as("windgustmph"),
      windDirDeg(col("wd_idx"), col("ws_ms")).as("winddir"),
      jsToFixed(cToF(dewPointC(col("t_c"), col("rh_pct"))), 1).as("dewptf"),
      jsToFixed(mmToInch(col("dailyrain_mm")), 3).as("dailyrainin"),
      jsToFixed(mmToInch(col("rain_mmh")), 3).as("rainin"),
      jsToFixed(hpaToInHg(mslPressureHpa(col("baro_hpa"), col("t_c"),
        lit(LatitudeDeg), lit(AltitudeM))), 3).as("baromin"),
      lit("graft-spark-0.1").as("softwaretype"))

  /** The flagship pipeline; also SparkEntry.entry. */
  def wowRecord(s: SparkSession, dir: String): DataFrame =
    wowRecordFrom(Tables.events(s, dir)).orderBy("event_id")

  private lazy val wowRecordSql: String =
    s"""WITH sens AS (
       |  SELECT event_id, user_id, ts, strftime(ts, '%Y-%m-%d') AS day, $sensorsSql,
       |    sum(CAST(value AS DECIMAL(25,6)))
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS counter
       |  FROM events),
       |rain AS (
       |  SELECT *,
       |    CAST(counter - first_value(counter)
       |      OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS DOUBLE) AS dailyrain_mm,
       |    CAST(coalesce((counter - lag(counter, 1)
       |      OVER (PARTITION BY user_id, day ORDER BY ts, event_id)) * $ObsFreq, 0.0) AS DOUBLE) AS rain_mmh
       |  FROM sens),
       |derived AS (
       |  SELECT *,
       |    17.27 * t_c / (237.7 + t_c) + ln(rh_pct / 100.0) AS g,
       |    1.0 / (0.233 + 0.656 * log10($MastHeightM + 4.75)) AS mast_corr,
       |    0.034163 * (1 - 0.0026373 * cos(2 * $LatitudeDeg * pi() / 180)) AS lat_corr,
       |    CASE WHEN t_c >= -7.0 AND t_c < 2.0 THEN 0.535 * t_c + 275.6
       |         WHEN t_c < -7.0 THEN 0.500 * t_c + 275.0
       |         ELSE 1.07 * t_c + 274.5 END AS temp_corr
       |  FROM rain)
       |SELECT event_id,
       |  'graft-site-0001' AS siteid,
       |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS dateutc,
       |  round(t_c * 1.8 + 32.0, 6) AS tempf,
       |  round(rh_pct, 6) AS humidity,
       |  round(CASE WHEN ws_ms <> 0.0 THEN ws_ms * mast_corr ELSE ws_ms END * 2.236936, 6) AS windspeedmph,
       |  round(CASE WHEN ws_ms <> 0.0 THEN wg_ms * mast_corr ELSE wg_ms END * 2.236936, 6) AS windgustmph,
       |  CASE WHEN ws_ms = 0.0 THEN 0.0
       |       WHEN wd_idx = 0 THEN 360.0
       |       ELSE CAST(wd_idx AS DOUBLE) * 22.5 END AS winddir,
       |  round((237.7 * g / (17.7 - g)) * 1.8 + 32.0, 6) AS dewptf,
       |  round(dailyrain_mm * 0.0393701, 6) AS dailyrainin,
       |  round(rain_mmh * 0.0393701, 6) AS rainin,
       |  round(baro_hpa * exp($AltitudeM * lat_corr / temp_corr) * 0.029529983071445, 6) AS baromin,
       |  'graft-spark-0.1' AS softwaretype
       |FROM derived ORDER BY event_id""".stripMargin
}
