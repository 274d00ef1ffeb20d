package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Telemetry data model + codec for the reference's wire formats
  * (FIXTURES.md §A): the device→metrics JSON documents
  * (master/master.ino:465-480,555-574; gsm/gsm.ino:10-11), the tagged
  * LoRa frames D|S|E (master_lora/master_lora.ino:359,388,417), and the
  * gateway's route/base64 handling (gateway/gateway.ino:69-84).
  *
  * All pure column expressions (SURVEY.md §2.10 X2/X3): `from_json` +
  * `explode` replace a bespoke parser; `when/otherwise` replaces the
  * charAt(0) router.
  *
  * The encoders (`toBase64`/`fromBase64`, `buildDataDoc`, `toGrams`,
  * `upsertCalibrationTable`) are on no query or benchmark path; they
  * stay because they reproduce the reference's wire formats and
  * calibration upsert, which the tests round-trip against the
  * decoders the queries use.
  */
object Telemetry {

  /** Per-device metric struct: weight grams `w` (master/master.ino:474),
    * optional temperature `t` (gsm/gsm.ino:10), progress flags `p`/`s`
    * (master/master.ino:555-574).
    */
  val metricsType: StructType = StructType(Seq(
    StructField("w", LongType),
    StructField("t", DoubleType),
    StructField("p", IntegerType),
    StructField("s", IntegerType)))

  /** A telemetry document is a JSON map device-code → metrics. */
  val docType: MapType = MapType(StringType, metricsType)

  /** Tag char → ingest endpoint path (gateway/gateway.ino:69-75). */
  val routes: Map[String, String] = Map(
    "D" -> "/data/", "S" -> "/setup-notification/", "E" -> "/error-report/")

  /** Decode a framed message `D{json}` into (tag, endpoint, payload). */
  def frameTag(frame: Column): Column = substring(frame, 1, 1)

  def framePayload(frame: Column): Column =
    substring(frame, 2, Int.MaxValue)

  def routeFor(tag: Column): Column =
    routes.foldLeft(lit(null).cast("string")) { case (acc, (t, path)) =>
      when(tag === t, lit(path)).otherwise(acc)
    }

  /** Gateway transport re-encode (gateway/gateway.ino:83-84). */
  def toBase64(payload: Column): Column = base64(payload.cast("binary"))
  def fromBase64(b64: Column): Column = unbase64(b64).cast("string")

  /** Parse a telemetry JSON document into the typed map. */
  def parseDoc(json: Column): Column = from_json(json, docType)

  /** Parse any of the three wire document shapes: device→metrics
    * structs (data/error, master/master.ino:465-480,555-574) or the
    * boolean setup-notification variant `{"H1":true,...}`
    * (gsm/gsm.ino:11), which carries device presence only — its
    * metrics come through as null.
    */
  def parseDocAny(json: Column): Column =
    coalesce(
      parseDoc(json),
      transform_values(
        from_json(json, MapType(StringType, BooleanType)),
        (_, _) => lit(null).cast(metricsType)))

  /** Relationalize: one row per (device_code, metrics). */
  def explodeDoc(df: DataFrame, docCol: String): DataFrame =
    df.select(col("*"),
        explode(col(docCol)).as(Seq("device_code", "metrics")))
      .drop(docCol)

  /** Serialize readings back to the wire shape `{"H0001":{"w":g},...}`
    * (master/master.ino:465-480): map device → struct(w).
    */
  def buildDataDoc(deviceCol: Column, gramsCol: Column): Column =
    to_json(map_from_entries(collect_list(
      struct(deviceCol, struct(gramsCol.as("w"))))))

  /** Calibration: fabs(raw/scale_factor - zero_factor)
    * (slave/slave.ino:22,52,141 — scale division in the HX711 lib,
    * zero offset + rectification in the sketch).
    */
  def calibrated(raw: Column, calFactor: Column, zeroFactor: Column): Column =
    abs(raw / calFactor - zeroFactor)

  /** kg → integer grams: ceil(w*1000) (master/master.ino:474). */
  def toGrams(kg: Column): Column = ceil(kg * 1000).cast("long")

  /** 0-as-missing sentinel → real null, at ingest ONLY (SURVEY.md §7.3;
    * master/master.ino:156,162 re-polls instead of averaging zeros).
    */
  def nullifZero(c: Column): Column = nullif(c, lit(0.0))

  /** MERGE-style upsert of dimension rows — the §3.3 calibration
    * lifecycle's write step (hx711_calibration/hx711_calibration
    * .ino:28-47: the REPL loop converges a per-S/N factor, then the
    * factor ROW is upserted into the standing calibration dim):
    * rows of `updates` replace same-key rows of `target` (WHEN
    * MATCHED UPDATE), unmatched keys insert (WHEN NOT MATCHED
    * INSERT), everything else unchanged — expressed declaratively as
    * anti-join + union, the plain-parquet MERGE (the dim is
    * dimension-sized; Delta/Iceberg MERGE replaces this on table
    * formats with transactions). `updates` must be key-unique;
    * schemas must match by name.
    */
  def upsertRows(target: DataFrame, updates: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    target.join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates)
  }

  /** Persisted twin of [[upsertRows]] for the parquet-backed dim the
    * lifecycle reads between sessions: merge, materialize on the
    * driver (dimension-sized by contract — this also severs the
    * read-lineage so the overwrite of the SAME path is safe), rewrite,
    * reload. The full-rewrite IS the plain-parquet MERGE mechanics;
    * on a transactional table format the same call becomes MERGE INTO.
    * Returns the reloaded frame so callers re-run their join against
    * the updated dim.
    */
  def upsertCalibrationTable(spark: org.apache.spark.sql.SparkSession,
      dir: String, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val merged = upsertRows(spark.read.parquet(dir), updates, keys)
      .collect() // dimension-sized by contract; severs input lineage
    val schema = updates.schema
    spark.createDataFrame(
        java.util.Arrays.asList(merged: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    // the session's FileStatusCache still lists the pre-overwrite
    // part files for this path (no TTL by default) — refresh, or the
    // next read fails on the deleted files
    spark.catalog.refreshByPath(dir)
    spark.read.parquet(dir)
  }
}
