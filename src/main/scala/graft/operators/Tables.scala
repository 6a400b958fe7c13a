package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the star schema + LLM-pipeline tables.
  *
  * Each read goes through [[graft.Artifacts.parquet]], which resolves a
  * path's schema and file listing once per session and fingerprint; the
  * returned frame is a plain parquet scan, so Catalyst owns column pruning
  * and filter pushdown — every query's scan should show
  * `PushedFilters`/`ReadSchema` limited to what the plan needs.
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.Artifacts.parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")

  /** Physical type of `events.ts`, read off the resolved events frame.
    * `ts` may be timestamp[us/ms] with or without UTC adjustment
    * (TIMESTAMP or TIMESTAMP_NTZ on read). A parquet TIMESTAMP(NANOS) `ts`
    * fails here with Spark's own "Illegal Parquet type" error: reading it
    * would need the legacy `nanosAsLong` conf, which is session-wide. A
    * source layer hardcoding one encoding breaks every events consumer
    * when the file flips (round 6: 21 operators), so the reader probes and
    * branches instead. The resolved frame is keyed on the file's
    * fingerprint, so an in-place regeneration is probed afresh.
    */
  def eventsTsType(s: SparkSession, d: String): DataType =
    t(s, d, "events").schema("ts").dataType

  /** Data-era sanity gate, cached per path (one column-pruned scan per JVM):
    * after normalization, min(ts) must be a plausible event time. A
    * timestamp-unit mistake on read (µs read as ns, or ns as µs) lands
    * decades away — near 1970 after a 1000× shrink, past year 5000 after a
    * 1000× stretch — and silently passes row-count smoke checks while every
    * window/session/join answer is garbage (the round-6/7 failure class).
    * This makes the unit mistake CRASH at the source instead. Every events
    * consumer (batch and streaming) runs through it.
    */
  private val eraChecked =
    new java.util.concurrent.ConcurrentHashMap[String, (String, java.lang.Boolean)]()
  private val EraMin = java.sql.Timestamp.valueOf("1990-01-01 00:00:00")
  private val EraMax = java.sql.Timestamp.valueOf("2100-01-01 00:00:00")

  def assertEventsEra(s: SparkSession, d: String): Unit =
    assertEventsEraFp(s, d, graft.Artifacts.fingerprint(s, s"$d/events.parquet"))

  private def assertEventsEraFp(s: SparkSession, d: String, fp: String): Unit = {
    val p = s"$d/events.parquet"
    // fingerprint as the staleness token: a regenerated file is re-checked,
    // so a bad overwrite cannot hide behind a pass recorded for the old data
    graft.Artifacts.cachedValue(eraChecked, p, fp) {
      val mn = eventsNormalizedFp(s, d, fp)
        .agg(org.apache.spark.sql.functions.min(col("ts"))).head.getTimestamp(0)
      if (mn != null && (mn.before(EraMin) || mn.after(EraMax)))
        throw new IllegalStateException(
          s"events.ts era check failed for $p: min(ts)=$mn outside " +
            "[1990, 2100] — timestamp unit mismatch (ns/µs confusion) on read")
      java.lang.Boolean.TRUE
    }
    ()
  }

  /** events with `ts` normalized to TimestampType (UTC instants — every
    * entry point pins `spark.sql.session.timeZone=UTC`, so the NTZ→LTZ cast
    * is wall-clock-identical to DuckDB's naive read of the same file).
    */
  private def eventsNormalizedFp(s: SparkSession, d: String, fp: String): DataFrame = {
    val raw = graft.Artifacts.parquetFp(s, s"$d/events.parquet", fp)
    raw.schema("ts").dataType match {
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other — expected timestamp[us/ms]")
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    // ONE metadata listing per call, shared by the read and the era check
    val fp = graft.Artifacts.fingerprint(s, s"$d/events.parquet")
    val df = eventsNormalizedFp(s, d, fp)
    assertEventsEraFp(s, d, fp)
    df
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
