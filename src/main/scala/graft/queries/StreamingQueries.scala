package graft.queries

import graft.core.{Parquet, Tables}
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

/** Streaming operators (SURVEY.md §2.2 Q21–Q23), run as REAL Structured
  * Streaming queries (file source → stateful transform → memory sink,
  * Trigger.AvailableNow) whose terminal results are deterministic and
  * oracle-checkable. Watermark/late-data semantics and restart recovery are
  * exercised in StreamingSpec (they need crafted late rows / kill-restart,
  * not expressible as a DuckDB query).
  *
  * All streaming state here is APPEND-mode + watermark-bounded: state for a
  * window is dropped as soon as the watermark passes it — the shape that
  * holds on an unbounded stream (complete mode would retain every window
  * ever seen, the classic streaming scale-killer).
  */
object StreamingQueries {

  /** Sentinel event_type for watermark-flush rows (filtered from results). */
  private val FlushType = "___graft_flush___"

  /** 2100-01-01 in nanos — far past every real event; its window never
    * closes, so flush rows can never leak into append-mode output even
    * before the event_type filter. */
  private val FlushNanos = 4102444800L * 1000000000L

  /** Stream the events parquet through a symlinked source directory (file
    * sources need directories), with the raw nanos `ts` converted exactly as
    * [[Tables.events]] does. Returns the stream and the temp dir to delete
    * once the query has terminated.
    *
    * With `flushSentinel`, one single-row parquet file with a far-future
    * timestamp joins the source. All files form ONE AvailableNow data batch
    * (the watermark is 0 during it, so a multi-file source cannot late-drop
    * its own rows); after it the watermark is sentinel − delay, past every
    * real window, and Spark's no-data micro-batch (pinned on in
    * GraftSession) emits them all before termination — the append-mode
    * flush that lets an oracle compare CLOSED windows without ever holding
    * complete-mode state. The sentinel's own window never closes, so it can
    * never leak into append output. */
  private def eventsStream(
      s: SparkSession,
      dir: String,
      flushSentinel: Boolean = false): (DataFrame, java.nio.file.Path) = {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_stream_")
    val srcDir = tmp.resolve("src")
    QueryDef.linkParquetInputs(Paths.get(dir, "events.parquet"), srcDir)
    if (flushSentinel) {
      val stage = tmp.resolve("stage_flush")
      val raw = Parquet.read(s, s"$dir/events.parquet")
      // the flush row must carry ts in the SAME physical type the driver
      // wrote, or the staged file's schema diverges from the stream schema
      val flushTs = {
        import org.apache.spark.sql.types._
        raw.schema("ts").dataType match {
          case LongType => lit(FlushNanos)
          case TimestampNTZType =>
            timestamp_micros(lit(FlushNanos / 1000L)).cast(TimestampNTZType)
          case _ => timestamp_micros(lit(FlushNanos / 1000L))
        }
      }
      raw
        .limit(1)
        .withColumn("ts", flushTs)
        .withColumn("event_type", lit(FlushType))
        .coalesce(1)
        .write.parquet(stage.toString)
      val dst = srcDir.resolve("zz_flush.parquet")
      val listing = Files.list(stage)
      val moved =
        try {
          val part = listing.iterator()
          var done = false
          while (part.hasNext && !done) {
            val p = part.next()
            if (p.getFileName.toString.endsWith(".parquet")) {
              Files.move(p, dst); done = true
            }
          }
          done
        } finally listing.close()
      require(moved, s"no parquet part written under $stage")
    }
    val schema = Parquet.read(s, s"$dir/events.parquet").schema
    val src = s.readStream.schema(schema)
      .parquet(srcDir.toString)
      .withColumn("ts_us", graft.core.Tables.tsMicros(schema("ts").dataType))
      .withColumn("ts", timestamp_micros(col("ts_us")))
    (src, tmp)
  }

  /** Hard bound on rows a memory-sink oracle query may materialize. The
    * registered streaming queries emit CLOSED-WINDOW AGGREGATES (bounded by
    * key-space x window count, thousands at any sf the correctness harness
    * runs), so a breach means a windowing/aggregation change turned the
    * driver-side memory sink into a raw-row collect — fail loudly HERE
    * instead of OOMing the harness driver. */
  private val MaxMemorySinkRows = 1000000

  /** Run a streaming DataFrame to a memory sink with AvailableNow, then
    * MATERIALIZE the terminal table into a local DataFrame and drop the
    * sink's temp view — no catalog residue per invocation (the memory sink
    * already holds the rows on the driver; this copies, it does not
    * collect distributed data; [[MaxMemorySinkRows]] bounds what the sink
    * itself may hold). */
  private def runToMemory(df: DataFrame, mode: String): DataFrame = {
    val name = s"graft_mem_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val s = df.sparkSession
    val table = s.table(name)
    val n = table.count()
    require(n <= MaxMemorySinkRows,
      s"memory-sink oracle query materialized $n rows (bound $MaxMemorySinkRows): " +
        "a streaming oracle must emit closed-window aggregates, not raw rows — " +
        "check the query's windowing/aggregation before raising the bound")
    val rows = table.collect()
    val out = s.createDataFrame(java.util.Arrays.asList(rows: _*), table.schema)
    s.catalog.dropTempView(name)
    out
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    QueryDef.deleteRecursively(p)

  val all: Seq[QueryDef] = Seq(

    // Q21: streaming tumbling-window aggregation with watermark, APPEND mode
    // — the scale-safe shape: only closed windows are emitted and their state
    // is dropped. Flush sentinels advance the watermark past every real
    // window, so the terminal append output covers exactly the full batch
    // aggregation (watermark late-row drops are asserted separately in
    // StreamingSemanticsSpec with crafted late rows).
    QueryDef(
      "q21_stream_window",
      (s, dir) => {
        val (stream, tmp) = eventsStream(s, dir, flushSentinel = true)
        try {
          val agg = Ingest.windowedCounts(
            stream, tsCol = "ts", watermark = "2 hours", windowDuration = "1 hour")
          runToMemory(agg, "append")
            .filter(col("event_type") =!= FlushType)
            .select(
              unix_micros(col("w_start")).as("w_start_us"),
              col("event_type"), col("n"), col("sum_value"))
            .orderBy("w_start_us", "event_type")
        } finally deleteRecursively(tmp) // also on stream failure — no residue
      },
      Some("""SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS w_start_us, event_type,
             |       COUNT(*) AS n,
             |       CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY w_start_us, event_type""".stripMargin)),

    // Q22: session windows (30-minute gap) per user — batch session_window
    // (same operator Structured Streaming uses; its streaming form is
    // exercised in StreamingSpec). Oracle reconstructs sessions with the
    // classic lag + cumulative-flag rewrite in exact integer micros.
    QueryDef(
      "q22_session_window",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(30, 10))).cast("double").as("sum_value"))
          .select(
            col("user_id"),
            unix_micros(col("w.start")).as("s_start_us"),
            unix_micros(col("w.end")).as("s_end_us"),
            col("n"), col("sum_value"))
          .orderBy("user_id", "s_start_us"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
             |m AS (SELECT user_id, us, value,
             |             CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
             |                    OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
             |                  THEN 1 ELSE 0 END AS new_s
             |      FROM e),
             |s AS (SELECT user_id, us, value,
             |             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
             |                              ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM m)
             |SELECT user_id, min(us) AS s_start_us, max(us) + 1800000000 AS s_end_us,
             |       COUNT(*) AS n,
             |       CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS sum_value
             |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start_us""".stripMargin)),

    // Q23: streaming stateful LWW upsert (flatMapGroupsWithState, Update
    // mode) — the incremental changelog collapse. The final update per key
    // equals the batch collapse; tombstoned keys are dropped on read.
    QueryDef(
      "q23_stream_upsert",
      (s, dir) => {
        val (raw, tmp) = eventsStream(s, dir)
        try {
          val updates = runToMemory(
            Ingest.streamingUpsert(raw, isDelete = expr("event_id % 10 = 0")), "update")
          val collapsed = updates
            .groupBy("user_id", "event_type")
            .agg(max_by(
              struct(col("last_seq"), col("last_value"), col("is_delete")),
              col("last_seq")).as("x"))
            .select(
              col("user_id"), col("event_type"),
              col("x.last_seq").as("last_seq"),
              col("x.last_value").as("last_value"),
              col("x.is_delete").as("is_delete"))
          collapsed.filter(!col("is_delete"))
            .drop("is_delete")
            .orderBy("user_id", "event_type")
        } finally deleteRecursively(tmp)
      },
      Some("""SELECT user_id, event_type, event_id AS last_seq, value AS last_value
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
             |                                   ORDER BY event_id DESC) AS rn
             |      FROM events) t
             |WHERE rn = 1 AND NOT (event_id % 10 = 0)
             |ORDER BY user_id, event_type""".stripMargin))
  )
}
