package graft.core

import org.apache.spark.sql.SparkSession

/** Standard session configuration for the engine.
  *
  * Every entry point (Verify, Bench, tests) builds its session through here so
  * the semantics-critical settings are uniform:
  *
  *   - `spark.sql.session.timeZone=UTC` — oracle comparisons are TZ-pinned.
  *   - `spark.sql.legacy.parquet.nanosAsLong=true` — the driver's `events`
  *     table stores `ts` as parquet TIMESTAMP(NANOS) which Spark cannot read
  *     natively; we read raw nanos-since-epoch longs and convert with
  *     [[Tables.events]] (floor to micros, matching DuckDB's read behavior).
  *   - file listing of many paths runs at most `shufflePartitions` tasks.
  *   - AQE on with skew-join handling — at 100 TB the runtime re-plan (shuffle
  *     coalescing, skew splitting, dynamic broadcast) is what keeps the
  *     declared plans efficient without hand-tuning per query.
  */
object GraftSession {

  /** Apply engine-required confs to an existing builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new graft.plans.GraftExtensions()(_))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark 4 defaults ANSI on; the engine needs wrapping long arithmetic
      // (rolling fingerprints) and non-throwing casts, matching DuckDB's
      // permissive evaluation in the oracle.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // Spark lists more than 32 paths in a job of one task per path (up to
      // 10,000): reading 3,000 committed ingest batches on local[2] ran
      // 3,000 listing tasks in 18.8 s, against 0.83 s with this cap
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      // default-on, pinned because the append-mode flush contract (q21:
      // closed windows emitted before AvailableNow terminates) depends on it
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // push literal IN lists up to this size down to parquet instead of
      // collapsing them to a [min,max] range (useless on uniform hash
      // keys): the dedup-index micro probes filter the key log with the
      // batch's literal keys, and the pushed In is evaluated against each
      // row group's stats + the _k bloom filters every segment write
      // enables — row groups holding none of the batch's keys are skipped.
      // Must stay >= Dedup.MaxInProbe — and not much higher: Spark pushes
      // In as a LEFT-DEEP or-chain whose recursive parquet-mr evaluation
      // overflows a 1 MiB task stack near ~2,500 values (see the
      // Dedup.MaxInProbe stack-bound note), so this threshold is the
      // safety net for any literal IN that reaches a parquet scan.
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.ui.enabled", "false")

  /** Local session for mains/tests. The warehouse (bucketized catalog
    * tables, Layout.bucketize) lives under the system temp dir, not the
    * working directory. */
  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName)
        .config("spark.sql.warehouse.dir",
          s"${System.getProperty("java.io.tmpdir")}/graft-warehouse-${System.getProperty("user.name")}"),
      shufflePartitions = math.max(cores, 4)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
