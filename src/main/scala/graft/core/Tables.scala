package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata tables (TESTDATA.md).
  *
  * One parquet file per table under the given sf directory. These are the
  * engine's "DBs" — the reference models a table as a persistent ordered map
  * (reference: kv/include/db.h:38-41); here each table is a columnar DataFrame
  * and ordering is declared per-query (`ORDER BY`), not physical.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Parquet.read(spark, s"$sfDir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** Raw events as the driver wrote them. The physical type of `ts` has
    * varied across driver generations: parquet TIMESTAMP(NANOS) (read as a
    * nanos Long via `spark.sql.legacy.parquet.nanosAsLong=true`, see
    * [[GraftSession]]) or parquet timestamp[us] (read as TIMESTAMP_NTZ).
    * [[tsMicros]] normalizes either to exact micros. */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")

  /** Exact micros-since-epoch for a raw `ts` column of any of the physical
    * representations the driver has used — equals DuckDB's `epoch_us(ts)` on
    * the same file in every case (session TZ is pinned UTC, so the NTZ cast
    * is value-preserving). Integer arithmetic only: nanos ~1.7e18 exceed
    * double's 2^53 exact range, so `ts div 1000`, never `ts / 1000`. */
  def tsMicros(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => expr("ts div 1000")
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case TimestampType => unix_micros(col("ts"))
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported physical type $other (expected nanos Long or a timestamp)")
    }
  }

  /** Canonical events view: `ts` converted to a micros TimestampType by floor
    * division — the same truncation DuckDB applies when reading
    * TIMESTAMP(NANOS) parquet, so oracle comparisons line up exactly.
    *
    * This is the engine's changelog table (FIXTURES.md): user key =
    * `(user_id, event_type)`, seq = `event_id` (unique monotone, mirroring the
    * reference's SequenceNumber, kv/db/dbformat.h:63-67), payload =
    * `(value, props)`. The driver data has no tombstones, so deletes are
    * synthesized deterministically as `is_delete = event_id % 10 == 0`
    * (tombstones are ordinary typed records in the same stream in the
    * reference, kv/db/write_batch.cpp:5-7). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = eventsRaw(spark, dir)
    // `ts_us` (micros since epoch, = DuckDB's epoch_us(ts)) is kept alongside
    // the micros TimestampType `ts` for exact integer time arithmetic in
    // range joins / frames.
    raw
      .withColumn("ts_us", tsMicros(raw.schema("ts").dataType))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("is_delete", col("event_id") % 10 === 0)
  }

  /** The changelog spec for [[events]]. */
  val eventsSpec: ChangelogSpec =
    ChangelogSpec(Seq("user_id", "event_type"), "event_id", Some("is_delete"))
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
