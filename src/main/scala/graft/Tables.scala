package graft

import graft.sources.ParquetRead
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All engine queries read through these so schema quirks are handled in
  * exactly one place — and, since the driver regenerates the fixtures
  * between rounds, every encoding-sensitive read BRANCHES on the loaded
  * dtype instead of hard-coding one historical encoding (round 8 lost 26
  * queries to exactly that: `events.ts` flipped from int64 nanos to
  * parquet timestamp[us] and the unconditional nanos workaround threw at
  * analysis time).
  *
  * `events.ts` encodings accepted, all normalized to microsecond
  * `TimestampType` (what every downstream query/plan-pin was written
  * against; DuckDB's `ts::TIMESTAMP` oracle side is encoding-agnostic):
  *   - int64 raw nanos (historical TIMESTAMP(NANOS) fixture, surfaced as
  *     `LongType` via `spark.sql.legacy.parquet.nanosAsLong`): truncate
  *     with integer division — NOT `/ 1000`, which would round-trip
  *     through double and lose precision at 1.7e18 nanos;
  *   - timestamp[us] without UTC adjustment (current fixture, surfaced
  *     as `TimestampNTZType`): cast to session-tz TimestampType — the
  *     entry points pin the session to UTC so the wall-clock is identity;
  *   - timestamp[us/ms] UTC-adjusted (`TimestampType`): pass through.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetRead(spark, s"$dir/$name.parquet")

  // TPC-H-ish tables: pure pass-through. Key/int columns accept any
  // integral width (queries compare/join, never assume 32 vs 64 bits);
  // the date columns (`o_orderdate`, `l_shipdate`) accept
  // timestamp[us]-as-NTZ (current fixture), UTC-adjusted timestamp, or
  // date32 — downstream queries only apply date functions, and the
  // DuckDB oracle reads the SAME file so both sides shift together.
  // FixtureSmokeSpec pins these acceptances against the live fixture.
  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  // documents: `text`/`lang`/`source` must be strings (shingling/minhash
  // kernels take UTF8String); `doc_id`/`n_chars` any integral width.
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  // embeddings: `embedding` must be array<float> — an element-type flip
  // to double would silently change cosine/int8-quantization math, so
  // FixtureSmokeSpec fails hard on drift rather than auto-casting (a
  // cast would mask a real fixture-semantics change).
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** events with `ts` normalized to a microsecond TimestampType column,
    * whatever encoding the current fixture uses (see object Scaladoc).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // Harmless when ts is a real parquet timestamp; required to read the
    // historical TIMESTAMP(NANOS) fixture at all.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => raw
      case TimestampNTZType | DateType =>
        // The NTZ→TimestampType cast is a wall-clock identity ONLY in a
        // UTC session — assert it HERE so the invariant travels with the
        // loader instead of relying on each entry point (Verify/Bench/
        // tests pin UTC; an ad-hoc session that doesn't would otherwise
        // silently shift every instant relative to the DuckDB oracle).
        require(s.conf.get("spark.sql.session.timeZone") == "UTC",
          "Tables.events requires spark.sql.session.timeZone=UTC for the " +
            "NTZ timestamp fixture; set it in the SparkSession builder")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported dtype $other — extend Tables.events " +
            "for the new fixture encoding")
    }
  }
}
