package graft.queries

import graft.core.{Changelog, ChangelogSpec, Parquet, Tables}
import graft.streaming.Ingest
import org.apache.spark.sql.functions._

/** The changelog/ordered-map query surface — the reference's own semantics
  * (SURVEY.md §2.2 Q1–Q6, Q24, Q25): scans, range reads, point gets at a
  * snapshot, last-write-wins collapse with tombstones, compaction rewrite,
  * approximate sizes.
  */
object ChangelogQueries {

  /** Tombstone rule shared with the DuckDB oracle: the driver data has no
    * tombstones, so they are synthesized as event_id % 10 == 0 (see
    * Tables.events). */
  private val isDeleteSql = "(event_id % 10 = 0)"

  val all: Seq[QueryDef] = Seq(

    // Q1: full scan with projection — column pruning must reach the parquet
    // scan (ReadSchema lists only these five columns).
    QueryDef(
      "q01_scan_project",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
      headline = true),

    // Q2: streaming ingest of the events changelog via Structured Streaming
    // (file source -> contiguous seq stamping -> parquet sink), then read the
    // materialized table back. Seqs depend on batch split so the comparable
    // output excludes them (seq contiguity is asserted in IngestSpec).
    QueryDef(
      "q02_stream_ingest",
      (s, dir) => {
        // the result DF reads $tmp/sink lazily -> deleted at JVM exit
        val tmp = QueryDef.tempDirForResult("graft_ingest_").toString
        // file-stream sources need a directory; expose the parquet table
        // (single file or directory of parts) through symlinks
        val srcDir = java.nio.file.Paths.get(tmp, "src")
        QueryDef.linkParquetInputs(java.nio.file.Paths.get(dir, "events.parquet"), srcDir)
        val schema = Parquet.read(s, s"$dir/events.parquet").schema
        val q = Ingest.startChangelogIngest(
          s,
          sourceDir = srcDir.toString,
          schema = schema,
          sinkDir = s"$tmp/sink",
          checkpointDir = s"$tmp/ckpt",
          orderCols = Seq("event_id"))
        q.awaitTermination()
        Parquet.read(s, s"$tmp/sink")
          .select("event_id", "user_id", "event_type", "value")
          .orderBy("event_id")
      },
      Some("SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id")),

    // Q3: ordered range scan — Range{start inclusive, limit exclusive} over
    // (user, time); filter pushes to the scan.
    QueryDef(
      "q03_range_scan",
      (s, dir) =>
        Tables.events(s, dir)
          .filter(
            col("user_id") === 7 &&
              col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
              col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
          .select("event_id", "ts", "event_type", "value")
          .orderBy("ts", "event_id"),
      Some("""SELECT event_id, ts, event_type, value FROM events
             |WHERE user_id = 7 AND ts >= TIMESTAMP '2024-01-05 00:00:00'
             |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
             |ORDER BY ts, event_id""".stripMargin)),

    // Q3 reverse: SeekToLast/Prev — descending scan.
    QueryDef(
      "q03b_range_scan_desc",
      (s, dir) =>
        Tables.events(s, dir)
          .filter(
            col("user_id") === 7 &&
              col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
              col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
          .select("event_id", "ts", "event_type", "value")
          .orderBy(col("ts").desc, col("event_id").desc),
      Some("""SELECT event_id, ts, event_type, value FROM events
             |WHERE user_id = 7 AND ts >= TIMESTAMP '2024-01-05 00:00:00'
             |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
             |ORDER BY ts DESC, event_id DESC""".stripMargin)),

    // Q4: compound predicates (AND/OR/NOT, IN, BETWEEN, LIKE, IS NOT NULL).
    QueryDef(
      "q04_filter_compound",
      (s, dir) =>
        Tables.orders(s, dir)
          .filter(
            (col("o_orderstatus") === "O" && col("o_totalprice").between(1000, 50000)) ||
              (!col("o_orderpriority").like("1%") &&
                col("o_custkey").isin(1, 2, 3, 5, 8, 13) &&
                col("o_orderdate").isNotNull))
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
             |FROM orders
             |WHERE (o_orderstatus = 'O' AND o_totalprice BETWEEN 1000 AND 50000)
             |   OR (NOT o_orderpriority LIKE '1%' AND o_custkey IN (1,2,3,5,8,13)
             |       AND o_orderdate IS NOT NULL)
             |ORDER BY o_orderkey""".stripMargin),
      headline = true),

    // Q5: the signature operator — last-write-wins collapse with tombstones.
    // Implemented as max_by hash aggregation (partial agg before shuffle),
    // not a window sort: at 100 TB the map-side combine shrinks the shuffle
    // to ~|keys| rows.
    QueryDef(
      "q05_lww_collapse",
      (s, dir) =>
        Changelog.collapse(Tables.events(s, dir), Tables.eventsSpec)
          .select(
            col("user_id"),
            col("event_type"),
            col("event_id").as("last_seq"),
            col("value").as("last_value"),
            col("ts").as("last_ts"))
          .orderBy("user_id", "event_type"),
      Some(s"""SELECT user_id, event_type, event_id AS last_seq, value AS last_value, ts AS last_ts
              |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
              |      FROM events) t
              |WHERE rn = 1 AND NOT $isDeleteSql
              |ORDER BY user_id, event_type""".stripMargin),
      headline = true),

    // Q6: point lookup at a snapshot — Get(key, seq <= 500).
    QueryDef(
      "q06_point_get",
      (s, dir) =>
        Changelog.pointGet(
          Tables.events(s, dir),
          Tables.eventsSpec,
          col("user_id") === 7 && col("event_type") === "click",
          snapshot = 500L)
          .select(col("user_id"), col("event_type"), col("event_id").as("seq"), col("value"))
          .orderBy("user_id"),
      Some(s"""SELECT user_id, event_type, event_id AS seq, value
              |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
              |      FROM events WHERE user_id = 7 AND event_type = 'click' AND event_id <= 500) t
              |WHERE rn = 1 AND NOT $isDeleteSql
              |ORDER BY user_id""".stripMargin)),

    // Q24: GetApproximateSizes analogue — rows + approximate bytes per
    // user-id bucket of the changelog.
    QueryDef(
      "q24_approx_sizes",
      (s, dir) =>
        Changelog.approximateSizes(
          Tables.events(s, dir),
          bucketExpr = floor(col("user_id") / 10),
          byteExpr = length(col("props")) + length(col("event_type")) + lit(28)),
      Some("""SELECT CAST(floor(user_id / 10) AS BIGINT) AS bucket, COUNT(*) AS n_rows,
             |       CAST(SUM(length(props) + length(event_type) + 28) AS BIGINT) AS approx_bytes
             |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // O16 introspection: exact per-table row counts — the oracle-checkable
    // slice of the GetProperty stats surface (full file/byte stats are
    // rows-only in q31b below, filesystem facts DuckDB can't see).
    QueryDef(
      "q31_row_counts",
      (s, dir) => graft.core.Stats.rowCounts(s, dir),
      Some(graft.core.Tables.names.sorted
        .map(t => s"SELECT '$t' AS table_name, COUNT(*) AS n_rows FROM $t")
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name"))),

    // O15/O16: file counts + on-disk bytes + rows per table (manifest-style
    // metadata, no data scan). Deterministic but filesystem-derived.
    QueryDef(
      "q31b_table_stats",
      (s, dir) => graft.core.Stats.tableStats(s, dir),
      None),

    // Q25: compaction rewrite with retention = oldest open snapshot (500):
    // keep rows with seq > 500 plus, per key, the newest non-tombstone row
    // with seq <= 500. Reads at any snapshot >= 500 are unchanged.
    QueryDef(
      "q25_compact",
      (s, dir) =>
        Changelog.compact(Tables.events(s, dir), Tables.eventsSpec, retention = 500L)
          .select("event_id", "user_id", "event_type", "value")
          .orderBy("event_id"),
      Some(s"""WITH base AS (
              |  SELECT event_id, user_id, event_type, value
              |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
              |        FROM events WHERE event_id <= 500) t
              |  WHERE rn = 1 AND NOT $isDeleteSql)
              |SELECT event_id, user_id, event_type, value FROM base
              |UNION ALL
              |SELECT event_id, user_id, event_type, value FROM events WHERE event_id > 500
              |ORDER BY event_id""".stripMargin),
      headline = true)
  )
}
