package graft.streaming

import graft.core.{Parquet, Stage}
import graft.operators.{Curation, Dedup, Ivf, Multimodal, Search}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Structured-Streaming changelog ingest — the engine's write path.
  *
  * Maps the reference's write pipeline onto micro-batches:
  *   - a micro-batch = one group commit (reference: BuildBatchGroup,
  *     kv/db/db_impl.cpp:1486-1538 — concurrent writers' batches merged and
  *     committed by one leader);
  *   - sequence assignment: all rows of a batch get contiguous seqs stamped
  *     after the last committed seq (reference: WriteBatchInternal::SetSequence,
  *     kv/db/db_impl.cpp:1418-1424). Scale-safe: range-repartition on the
  *     order columns, then `zipWithIndex` (per-partition counts + cumulative
  *     offsets, one tiny driver array) — NO global single-partition window;
  *   - the committed high-water mark lives in a tiny per-batch metadata file
  *     (the manifest analogue, kv/db/version_set.cpp:920-1018), NOT derived
  *     by rescanning the sink (which would make ingest O(total-data) per
  *     batch);
  *   - durability/replay: the streaming checkpoint is the WAL
  *     (kv/db/log_writer.cpp); each batch writes to its own
  *     `batch_id=<id>` directory with overwrite semantics, and the
  *     mark file is keyed by batchId — so a crash-replayed batch rewrites
  *     the same files with the same seqs: exactly-once materialization.
  */
object Ingest {

  /** Tiny high-water-mark log: one file per committed batch holding
    * "batchId base count". Reading costs one directory listing of
    * O(#batches) small files — independent of data volume.
    *
    * Routed through the Hadoop FileSystem API resolved from the mark path
    * (NOT java.nio.file): on a real deployment the checkpoint lives on
    * HDFS/S3, where a local-path API would silently write to the driver's
    * disk and break committed-visibility for every other reader. Same
    * create-temp-then-rename protocol as the manifest analogue
    * (kv/db/version_set.cpp:920-1018); rename is atomic on HDFS and on the
    * local FS. */
  private[streaming] object Marks {
    import graft.core.SegmentLog
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path

    private def parse(content: String): Option[(Long, Long, Long)] =
      content.trim.split(" ") match {
        case Array(id, base, count) => Some((id.toLong, base.toLong, count.toLong))
        case _ => None
      }

    def read(markDir: String, conf: Configuration): Map[Long, (Long, Long)] = {
      val dir = new Path(markDir)
      val fs = dir.getFileSystem(conf)
      SegmentLog.listFiles(fs, dir)
        // ONLY all-digit names are committed marks: a crash between
        // tmp-write and rename leaves '.N.tmp' (and local FS '.crc'
        // siblings) which must stay invisible and must not wedge parsing
        .filter(_.getName.forall(_.isDigit))
        .flatMap(p => parse(SegmentLog.readSmall(fs, p)))
        .map { case (id, base, count) => id -> (base, count) }
        .toMap
    }

    /** Read ONE batch's mark (base, count) — the per-trigger replay check,
      * O(1) mark IO where [[read]] opens every committed mark. */
    def readOne(markDir: String, batchId: Long, conf: Configuration): Option[(Long, Long)] = {
      val p = new Path(markDir, batchId.toString)
      try parse(SegmentLog.readSmall(p.getFileSystem(conf), p)).map(m => (m._2, m._3))
      catch { case _: java.io.FileNotFoundException => None }
    }

    /** Publish the mark with [[SegmentLog.writeAtomic]]: the dotted temp
      * name stays invisible to [[read]] even if a crash strands it, and the
      * overwriting rename lets a replayed batch rewrite its (identical) mark
      * with no window where a concurrent reader could see it missing. */
    def write(markDir: String, batchId: Long, base: Long, count: Long, conf: Configuration): Unit = {
      val dst = new Path(markDir, batchId.toString)
      SegmentLog.writeAtomic(dst.getFileSystem(conf), dst, s"$batchId $base $count")
    }
  }

  /** Default micro-batch bound: a flood of source files is consumed in
    * bounded batches instead of one giant commit — the write-throttle
    * analogue of the reference stalling writers on L0 depth
    * (kv/db/db_impl.cpp:1542-1619). `maxFilesPerTrigger = None` opts out. */
  val DefaultMaxFilesPerTrigger = 1024

  private def markDir(checkpointDir: String): String = s"$checkpointDir/graft-marks"

  /** The file-source micro-batch loop every ingest shares: parquet files
    * appearing under `sourceDir` (at most `maxFilesPerTrigger` per batch),
    * each batch handed to `perBatch` inside its own [[Stage.scope]] — every
    * checkpoint the batch takes, directly or inside an operator, is freed
    * when the batch ends — and the batch's mark written after that, as its
    * last step: the mark is the commit point. `perBatch` returns the mark's
    * (base seq, row count). */
  private def ingest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      checkpointDir: String,
      availableNow: Boolean,
      maxFilesPerTrigger: Option[Int],
      triggerInterval: String)(
      perBatch: (Stage.Scope, DataFrame, Long) => (Long, Long)): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val (base, n) = Stage.scope(perBatch(_, batch, batchId))
        Marks.write(markDir(checkpointDir), batchId, base, n,
          batch.sparkSession.sparkContext.hadoopConfiguration)
      }
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(triggerInterval))
      .start()
  }

  /** Write a batch's kept rows as its sink directory (per-batch directory +
    * overwrite: replay-idempotent); their count is the batch's mark. */
  private def land(kept: DataFrame, sinkDir: String, batchId: Long): (Long, Long) = {
    kept.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")
    (0L, kept.count())
  }

  private def redactText(d: DataFrame, textCol: String): DataFrame =
    Curation.redact(d, textCol)
      .withColumn(textCol, col("redacted"))
      .drop("redacted", "n_emails", "n_ips", "n_phones")

  /** One micro-batch through the exact-dedup index ([[startDedupIngest]]
    * and the pipeline's exact stage): the first occurrences of `d`,
    * checkpointed, after the batch's keys are appended to the index as the
    * named segment `seg_batch_<batchId>`. */
  private def exactBatch(
      d: DataFrame, indexPath: String, batchId: Long, idCol: String, textCol: String): DataFrame =
    Stage.scope { s =>
      val keptIds = Dedup.exactIncremental(d, indexPath, idCol, textCol)
        .filter(col("is_kept"))
        .select(idCol)
      // left_semi, NOT inner: a malformed batch carrying the same id
      // twice would otherwise fan out (2 kept ids x 2 rows = 4 sink
      // rows) — the batch pipeline's exact stage uses the same semi form
      val kept = s(d.join(keptIds, Seq(idCol), "left_semi"))
      // the batch's INPUT keys append (an exact copy of a doc a LATER
      // pipeline stage drops is still suppressed downstream by that
      // stage's own index). Written AFTER the classification
      // materialized: a replay's overwrite of the crashed attempt's
      // segment must not invalidate the file listing the classification
      // plan captured
      Dedup.writeExactIndexSegment(d, indexPath, s"seg_batch_$batchId", idCol, textCol)
      kept
    }

  /** One micro-batch through the MinHash index ([[startNearDupIngest]] and
    * the pipeline's near-dup stage): the arrival-order survivors of `d`,
    * checkpointed, after their signature rows are appended to the index as
    * the named segment `seg_batch_<batchId>`. */
  private def nearDupBatch(
      d: DataFrame, indexPath: String, threshold: Double, batchId: Long,
      idCol: String, textCol: String): DataFrame = Stage.scope { s =>
    // sign ONCE per batch; the sig frame feeds the probe AND the kept
    // segment write
    val sigs = s(Dedup.minHashBatchSigs(d, indexPath, idCol, textCol))
    // the MICRO probe shape: batch side broadcast, corpus scanned
    // map-side only — no corpus shuffle or sort per trigger. Sound
    // because maxFilesPerTrigger bounds the batch (the banded batch is
    // batchRows x bands slim rows); a corpus-sized batch belongs on
    // the merge-join form (minHashIncremental), not here. The candidates
    // are freed once the verified pairs have materialized.
    val pairs = Stage.scope(t => t(Dedup.minHashMicroVerify(
      t(Dedup.minHashMicroCandidates(sigs, indexPath)), sigs, indexPath, threshold)))
    val kept = s(Dedup.collapseDuplicatesArrival(d, pairs, idCol))
    // only near-dup SURVIVORS' signatures fold in — the index mirrors
    // what this step keeps
    Dedup.writeMinHashSegment(
      sigs.join(kept.select(col(idCol).as("doc")), Seq("doc")),
      indexPath, f"seg_batch_$batchId%06d")
    kept
  }

  /** One micro-batch through the IVF index ([[startSemanticIngest]] and
    * the pipeline's semantic stage): the arrival-order survivors of `d`,
    * checkpointed, after their assigned vectors are appended to the index
    * as the named segment `seg_batch_<batchId>`. */
  private def semanticBatch(
      d: DataFrame, indexPath: String, threshold: Double, batchId: Long,
      idCol: String, vecCol: String): DataFrame = Stage.scope { s =>
    // shared micro-probe (Ivf.semanticMicroPairs): null-vector rows are
    // excluded from assignment — they appear in no pair, so the
    // collapse KEEPS them, and the segment write below (joined against
    // `assigned`) never indexes them
    val (assigned, pairs, assignedGen) =
      Ivf.semanticMicroPairs(d, indexPath, threshold, idCol, vecCol)
    val kept = s(Dedup.collapseDuplicatesArrival(d, pairs, idCol))
    Ivf.writeListSegment(
      assigned.join(kept.select(col(idCol).cast("long").as("n_id")), Seq("n_id")),
      indexPath, f"seg_batch_$batchId%06d", Some(assignedGen))
    kept
  }

  /** Start a file-source changelog ingest: reads parquet files appearing under
    * `sourceDir`, stamps contiguous seqs, appends to `sinkDir` as parquet
    * (one `batch_id=<id>` directory per micro-batch).
    *
    * `orderCols` define the deterministic within-batch ordering used for seq
    * assignment (must be a total order on the batch, e.g. the upstream event
    * id). Returns the running query; callers stop it or await termination.
    *
    * Backpressure: `maxFilesPerTrigger` bounds each micro-batch (honored by
    * `Trigger.AvailableNow` too, which drains the backlog as several bounded
    * commits); `triggerInterval` paces continuous mode between polls.
    */
  def startChangelogIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      orderCols: Seq[String],
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second",
      bloomCols: Seq[String] = Seq.empty): StreamingQuery = {
    // Per-query high-water cache: ONE full mark scan on the first trigger
    // after (re)start, then maintained in memory — per-trigger mark IO is
    // O(1) (this batch's own file), not O(#batches). A continuous ingest
    // would otherwise open every committed mark every second: ~86k
    // opens/trigger after a day, quadratic cumulative metadata IO.
    // foreachBatch calls are serialized per query, so the var is safe.
    var highWater: Long = -1L
    ingest(spark, sourceDir, schema, checkpointDir, availableNow, maxFilesPerTrigger, triggerInterval) {
      (_, batch, batchId) =>
        val ss = batch.sparkSession
        val hconf = ss.sparkContext.hadoopConfiguration
        if (highWater < 0L)
          highWater = Marks.read(markDir(checkpointDir), hconf).values
            .map { case (b, c) => b + c }.foldLeft(0L)(math.max)
        // crash-replayed batch: reuse its recorded base so seqs are stable;
        // fresh batch: base = max committed (base + count) so far
        val base: Long = Marks.readOne(markDir(checkpointDir), batchId, hconf).map(_._1)
          .getOrElse(highWater)

        // Contiguous seq assignment without a global window: range-partition
        // by the order columns (global order across partition indices), sort
        // within partitions, then per-partition counts -> cumulative offsets
        // (one tiny driver array) -> stamp in mapPartitionsWithIndex.
        // Fully parallel; the only driver-side data is one long per partition.
        val sortedRdd = batch
          .repartitionByRange(orderCols.map(col): _*)
          .sortWithinPartitions(orderCols.map(col): _*)
          .rdd
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val counts = sortedRdd
          .mapPartitions(it => Iterator(it.size.toLong), preservesPartitioning = true)
          .collect()
        val offsets = counts.scanLeft(0L)(_ + _)
        val n = offsets.last
        val outSchema = StructType(batch.schema.fields :+ StructField("seq", LongType, nullable = false))
        val stamped = ss.createDataFrame(
          sortedRdd.mapPartitionsWithIndex { (i, it) =>
            var j = 0L
            it.map { row =>
              j += 1
              Row.fromSeq(row.toSeq :+ (base + offsets(i) + j))
            }
          },
          outSchema)
        // per-batch directory + overwrite = idempotent replay (the sorted-run
        // flush, WriteLevel0Table, kv/db/db_impl.cpp:562-606); bloomCols get
        // parquet bloom filters so point gets skip row groups whose min/max
        // straddle the key (the reference's filter blocks,
        // kv/table/table.cpp:260-266)
        stamped
          .write
          .options(graft.core.Maintenance.bloomOptions(bloomCols))
          .mode("overwrite")
          .parquet(s"$sinkDir/batch_id=$batchId")
        sortedRdd.unpersist(blocking = false)
        highWater = math.max(highWater, base + n)
        (base, n)
    }
  }

  /** Streaming DEDUP ingest — dedup-on-write for a document stream: each
    * micro-batch is classified against a persisted exact-dedup index
    * ([[graft.operators.Dedup.exactIncremental]]), only first-occurrences
    * (never seen in the corpus, an earlier batch, or earlier in this batch)
    * are written to the sink, and the batch's groups are folded into the
    * index — so the sink IS the deduplicated corpus, maintained
    * incrementally as data lands.
    *
    * Exactly-once: the sink write is per-batch-directory overwrite (as in
    * [[startChangelogIngest]]), and the index append is a NAMED segment
    * keyed by batchId with overwrite semantics
    * ([[graft.operators.Dedup.writeExactIndexSegment]]) — a crash-replayed
    * batch rewrites both identically. Replay keeps the kept-set stable even
    * when the crashed attempt already appended its segment: the batch's
    * keys then resolve to the batch's own minimum ids, so `is_kept` is
    * unchanged (group_size in the transient classification inflates, but
    * nothing persisted depends on it).
    *
    * The index must exist (build it with
    * [[graft.operators.Dedup.writeExactIndex]], possibly over an empty
    * corpus slice). [[graft.operators.Dedup.compactExactIndex]] with
    * `gc = false` is safe to run BESIDE this ingest (the fold-marker
    * publish is atomic and concurrently-appended segments stay live);
    * defer [[graft.operators.Dedup.gcExactIndex]] until in-flight
    * micro-batches drain — one trigger interval. */
  def startDedupIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      indexPath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    ingest(spark, sourceDir, schema, checkpointDir, availableNow, maxFilesPerTrigger, triggerInterval) {
      (s, batch, batchId) =>
        // one source read feeds classify + keep-join
        land(exactBatch(s(batch), indexPath, batchId, idCol, textCol), sinkDir, batchId)
    }

  /** Streaming NEAR-DUP ingest — MinHash/LSH dedup-on-write: each
    * micro-batch is signed with the index's own LSH parameters, probed
    * incrementally ([[graft.operators.Dedup.minHashIncremental]] split
    * form: batch-vs-corpus and batch-vs-batch pairs, never
    * corpus-vs-corpus), the pair graph is closed into clusters, and only
    * FIRST-OCCURRENCE documents land: a batch document is dropped when
    * its cluster already contains a corpus document (the corpus copy was
    * kept when IT landed — arrival wins, whatever the ids), or when a
    * batch-only cluster has a lower-id member (the deterministic in-batch
    * tiebreak). Kept documents' signature rows are folded into the
    * index — so, as with [[startDedupIngest]], the sink IS the
    * near-deduplicated corpus and the index IS the sink's signatures.
    *
    * ARRIVAL-ORDER semantics
    * ([[graft.operators.Dedup.collapseDuplicatesArrival]]) are the
    * standard streaming near-dup policy (near-duplication is not
    * transitive; first-occurrence-wins is decided per cluster against the
    * already-kept corpus) and need NO id-monotonicity contract: document
    * ids may arrive in any order, and a duplicate arriving with a LOWER
    * id than its already-landed partner still drops — the sink is
    * append-only, so what landed stays.
    *
    * Exactly-once: sink batch directory and index segment are both keyed
    * by batchId with overwrite semantics
    * ([[graft.operators.Dedup.writeMinHashSegment]]); a crash-replayed
    * batch recomputes identical pairs (the hash family is deterministic,
    * and the probe de-duplicates signature rows it may see on both the
    * stored and batch sides after a replayed append) and rewrites both
    * identically. The index must exist
    * ([[graft.operators.Dedup.writeMinHashIndex]], possibly over an empty
    * corpus slice). Per-batch segments are folded CONCURRENTLY by
    * [[graft.operators.Dedup.foldDocSegments]] (atomic fold-marker
    * publish, `gc = false` beside the live ingest, [[graft.operators.Dedup.gcDocIndex]]
    * after a drain), or all the way into flat `docs/` by
    * [[graft.operators.Dedup.compactDocIndex]] while ingest is stopped. */
  def startNearDupIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      indexPath: String,
      threshold: Double = 0.7,
      idCol: String = "doc_id",
      textCol: String = "text",
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    ingest(spark, sourceDir, schema, checkpointDir, availableNow, maxFilesPerTrigger, triggerInterval) {
      (s, batch, batchId) =>
        // one source read feeds sign + keep-join
        land(nearDupBatch(s(batch), indexPath, threshold, batchId, idCol, textCol),
          sinkDir, batchId)
    }

  /** Streaming SEMANTIC ingest — embedding near-dup dedup-on-write, the
    * third of the dedup-at-ingest family (exact [[startDedupIngest]],
    * MinHash [[startNearDupIngest]], semantic here): each micro-batch of
    * (id, embedding) rows is assigned to the persisted IVF index's
    * inverted lists with its STORED centroid model, compared against only
    * the probed lists' corpus vectors (bucket is a partition column in the
    * base lists AND every streamed segment, so the read is
    * partition-pruned to the batch's buckets), and cosine >= `threshold`
    * pairs are closed into clusters with ARRIVAL-ORDER keeps
    * ([[graft.operators.Dedup.collapseDuplicatesArrival]] — the
    * already-landed copy wins whatever the ids; in-batch ties break by
    * lowest id). Kept rows land in the sink and their assigned vectors
    * fold into the index as a named segment
    * ([[graft.operators.Ivf.writeListSegment]], overwrite =>
    * replay-idempotent) — the sink IS the semantically-deduplicated
    * corpus, the index IS the sink's vectors, and
    * [[graft.operators.Ivf.topKIndexed]] search sees streamed vectors
    * immediately.
    *
    * The probe is the MICRO shape throughout: the batch side (assigned
    * vectors) broadcasts into the bucket equi-join, so the corpus side is
    * scanned map-side only — no corpus shuffle per trigger, and only
    * |batch buckets| / C of the index is read at all. Self-pairs are
    * excluded BY ID, which also makes crash replay stable: a replayed
    * batch may see its own pre-crash vectors in the index, but they pair
    * only with other ids and membership is decided by id, so the replay
    * recomputes the identical kept set and rewrites sink + segment in
    * place. Fold segments with
    * [[graft.operators.Ivf.compactIndexSegments]] between runs;
    * [[graft.operators.Ivf.needsRebuild]] counts streamed rows, and
    * [[graft.operators.Ivf.rebuildIndex]] folds them through a retrain.
    *
    * The index must exist ([[graft.operators.Ivf.writeIndex]], trained on
    * a representative sample — possibly an initial corpus slice; like any
    * IVF deployment, recall of the WITHIN-LIST pair search depends on the
    * model summarizing the distribution, which is what the rebuild gate
    * monitors). */
  def startSemanticIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      indexPath: String,
      threshold: Double = 0.95,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    ingest(spark, sourceDir, schema, checkpointDir, availableNow, maxFilesPerTrigger, triggerInterval) {
      (s, batch, batchId) =>
        land(semanticBatch(s(batch), indexPath, threshold, batchId, idCol, vecCol),
          sinkDir, batchId)
    }

  /** Streaming ExactSubstr ingest — SUB-DOCUMENT dedup-on-write: each
    * micro-batch is excised against the persisted span catalog (token
    * windows already cataloged, or earlier in the batch by (id, offset),
    * are cut and the remainder rejoins — the first occurrence of every
    * repeated span survives exactly once corpus-wide), the CLEANED rows
    * land in the sink with `textCol` replaced (untouched documents pass
    * through whitespace-normalized; fully-excised ones land with empty
    * text for the caller to filter), and the cleaned batch's own windows
    * fold into the catalog as a named segment. The catalog therefore
    * always equals [[graft.operators.Dedup.writeSpanCatalog]] run over
    * the SINK corpus (spec-pinned), and the sink IS the
    * passage-level-deduplicated corpus — the streaming shape of
    * q27l's batch probe.
    *
    * Exactly-once: sink batch directory and catalog segment are both
    * keyed by batchId (per-path overwrite + segment-sequence reuse), so a
    * crash-replayed batch rewrites both identically. Window length n is
    * the catalog's frozen meta — a stream can never sign with a
    * different n than the store it probes. */
  def startSpanIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      indexPath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    ingest(spark, sourceDir, schema, checkpointDir, availableNow, maxFilesPerTrigger, triggerInterval) {
      (s, batch, batchId) =>
        val b = s(batch) // one source read feeds probe + rebuild
        // null-id rows bypass the dedup fold entirely: the min-fold below
        // keys by id, so two DISTINCT-text null-id rows would collapse to
        // one text and fan it back to both. They pass through with the
        // same whitespace normalization every untouched row gets from the
        // excision (token re-join), nothing else.
        val bIds = b.filter(col(idCol).isNotNull)
        val bNulls = b.filter(col(idCol).isNull)
          .withColumn(textCol, concat_ws(" ",
            graft.functions.TextOps.tokens(coalesce(col(textCol), lit("")))))
          .select(b.columns.map(col).toIndexedSeq: _*)
        // min-fold per id: a malformed batch carrying the same id twice
        // must not fan out through the rejoin (2x2 rows), and the
        // reduction must be DETERMINISTIC or crash replay would rewrite a
        // different sink (dropDuplicates picks an arbitrary row)
        val cleaned = s(Curation
          .exciseDuplicateSpansIncremental(bIds, indexPath, textCol, idCol)
          .groupBy(col(idCol))
          .agg(min(col("text_clean")).as("text_clean")))
        // splice the cleaned text back under the batch's own schema (and
        // column order) — the sink looks exactly like the source, deduped
        val c = cleaned
          .withColumnRenamed(idCol, "_graft_cid")
          .withColumnRenamed("text_clean", textCol)
        val out = s(bIds.drop(textCol)
          .join(c, col(idCol) === col("_graft_cid"))
          .select(b.columns.map(col).toIndexedSeq: _*)
          .unionByName(bNulls))
        out.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")
        // catalog the SINK rows (not the raw batch): the catalog stays the
        // exact span catalog of what actually landed
        Dedup.writeSpanCatalogSegment(
          out, indexPath, s"seg_batch_$batchId", textCol, idCol)
        (0L, out.count())
    }

  /** Curation-on-ingest: each micro-batch runs the ordered quality
    * [[graft.operators.Curation.filterChain]] (and, when `redactPii`, PII
    * redaction of the text column) BEFORE anything lands — the sink is the
    * curated corpus, and every dropped document is attributed to the first
    * rule it violated in a per-batch funnel table. The streaming analogue
    * of running filter + redact over the corpus after the fact, but
    * paying the scan once, at write time.
    *
    * Exactly-once: sink batch directory, funnel directory (both
    * per-batch-path overwrite), and the mark are all keyed by batchId — a
    * crash-replayed batch rewrites all three identically. The funnel lives
    * under `<sinkDir>/_funnel/` (underscore-prefixed: invisible to plain
    * parquet reads of the sink); read it with [[curationFunnel]]. */
  def startCuratedIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      rules: Seq[(String, org.apache.spark.sql.Column)],
      redactPii: Boolean = true,
      textCol: String = "text",
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    ingest(spark, sourceDir, schema, checkpointDir, availableNow, maxFilesPerTrigger, triggerInterval) {
      (s, batch, batchId) =>
        // one source read feeds funnel + sink
        val chained = s(Curation.filterChain(batch, rules))
        Curation.filterReport(chained)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$sinkDir/_funnel/batch_id=$batchId")
        val keptRaw = chained.filter(col("keep") === 1L).drop("fail_rule", "keep")
        // checkpoint the redacted frame too: the sink write and the mark's
        // count() below would otherwise each recompute the 3-pass PII
        // projection from `chained`
        land(s(if (redactPii) redactText(keptRaw, textCol) else keptRaw), sinkDir, batchId)
    }

  /** Streaming CONTENT-SIGNATURE dedup-on-write — the dedup-at-ingest
    * family's multimodal member: each micro-batch is signed by `signer`
    * (any batch → `(doc_id, sh)` projection —
    * [[graft.operators.Multimodal.imageSignatures]] for perceptual image
    * dHashes, [[graft.operators.Multimodal.audioSignatures]] for audio
    * fingerprints, or any custom 64-bit signature family), probed against
    * the persisted signature store within `maxHamming` bits
    * ([[graft.operators.Dedup.signatureMicroIncremental]] — the
    * guaranteed-recall banding in the micro shape: batch side broadcast,
    * store scanned map-side only), near-dup clusters keep their
    * FIRST-ARRIVED member ([[graft.operators.Dedup.collapseDuplicatesArrival]]),
    * and survivors' signatures fold in as replay-idempotent named segments
    * ([[graft.operators.Dedup.writeSignatureSegment]]) — "have I seen this
    * image/clip?" answered at write time, with the sink as the
    * content-deduplicated corpus and a 16-byte/item signature store as its
    * index.
    *
    * Exactly-once: the [[startNearDupIngest]] contract verbatim (sink
    * batch directory + named segment, both batchId-keyed overwrite;
    * signatures are deterministic; self-pairs excluded by id, so a
    * replayed batch that already appended its segment recomputes the
    * identical kept set). The store must exist
    * ([[graft.operators.Dedup.writeSignatureIndex]], possibly over an
    * empty slice); fold segments beside the live ingest with
    * [[graft.operators.Dedup.foldDocSegments]], take down ids with
    * [[graft.operators.Dedup.deleteFromDocIndex]]. */
  def startSignatureIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      indexPath: String,
      signer: DataFrame => DataFrame,
      maxHamming: Int = 10,
      idCol: String = "doc_id",
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    ingest(spark, sourceDir, schema, checkpointDir, availableNow, maxFilesPerTrigger, triggerInterval) {
      (s, batch, batchId) =>
        val b = s(batch)
        // sign ONCE: the signature frame feeds the probe AND the kept
        // segment write (decode cost is the dominant term — images/audio
        // decode exactly once per payload per batch)
        val sigs = s(signer(b))
        // the MICRO probe shape: batch side broadcast, stored signatures
        // scanned map-side only — no corpus shuffle or sort per trigger
        // (the merge form would sort the full banded corpus every batch)
        val pairs = s(Dedup.signatureMicroIncremental(sigs, indexPath, maxHamming))
        val kept = s(Dedup.collapseDuplicatesArrival(b, pairs, idCol))
        Dedup.writeSignatureSegment(
          sigs.join(kept.select(col(idCol).cast("long").as("doc_id")), Seq("doc_id")),
          indexPath, f"seg_batch_$batchId%06d")
        land(kept, sinkDir, batchId)
    }

  /** Streaming VIDEO dedup-on-write — [[startSignatureIngest]] for clip
    * corpora: each micro-batch's `payload` column (MJPEG-AVI) is decoded
    * ONCE into per-slot temporal fingerprints
    * ([[graft.operators.Multimodal.videoHashes]] — bounded work: at most
    * `maxFrames` JPEG decodes per clip however long the video), probed
    * per-CLIP against a persisted slot store
    * ([[graft.operators.Multimodal.videoIncremental]] — slot-aligned
    * hamming matches aggregated to a `match_ratio`, partition-pruned on a
    * bucketed store), near-dup clip clusters keep their FIRST-ARRIVED
    * member, and survivors' slot rows fold in as a replay-idempotent
    * named segment. The hash frame feeds the probe AND the kept-segment
    * write, so each payload decodes exactly once per batch. Clips with no
    * decodable frame are always kept and never indexed (the never-throw
    * decode posture: an undecodable payload can't claim twins).
    *
    * Exactly-once: the [[startSignatureIngest]] contract verbatim (sink
    * batch directory + named segment, both batchId-keyed overwrite; the
    * fingerprints are deterministic, so a replayed batch recomputes the
    * identical kept set). The store must exist
    * ([[graft.operators.Multimodal.writeVideoIndex]], possibly over an
    * empty slice); fold segments beside the live ingest with
    * [[graft.operators.Dedup.foldDocSegments]], take down clips with
    * [[graft.operators.Multimodal.deleteVideoFromIndex]]. */
  def startVideoIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      indexPath: String,
      maxHamming: Int = 10,
      minMatchRatio: Double = 0.6,
      maxFrames: Int = 8,
      idCol: String = "doc_id",
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery = {
    require(maxFrames <= Multimodal.VideoSlotCap,
      s"maxFrames must fit the slot encoding (<= ${Multimodal.VideoSlotCap})")
    ingest(spark, sourceDir, schema, checkpointDir, availableNow, maxFilesPerTrigger, triggerInterval) {
      (s, batch, batchId) =>
        val b = s(batch)
        // decode ONCE: the slim hash frame feeds the probe and the kept
        // segment write (per-frame JPEG decode is the dominant term)
        val hashes = s(Multimodal.videoHashes(b, maxFrames, idCol))
        val pairs = s(Multimodal.videoIncremental(hashes, indexPath, maxHamming, minMatchRatio))
        val kept = s(Dedup.collapseDuplicatesArrival(b, pairs, idCol))
        Dedup.writeSignatureSegment(
          Multimodal.videoSlotSignatures(
            hashes.join(kept.select(col(idCol).cast("long").as("doc_id")), Seq("doc_id"))),
          indexPath, f"seg_batch_$batchId%06d")
        land(kept, sinkDir, batchId)
    }
  }

  /** Streaming SEARCHABLE-ON-WRITE: each micro-batch's postings land as a
    * named segment of a [[graft.operators.Search.buildTextIndex]] index
    * ([[graft.operators.Search.writePostingsSegment]] — batchId-keyed
    * overwrite, per-segment stats, `segmeta` as the commit point), so
    * `bm25Indexed` sees every ingested document immediately with EXACTLY
    * the stats a batch rebuild would produce. Exactly-once under crash
    * replay because nothing global mutates per batch: the replayed batch
    * rewrites its own segment (postings AND stats) in place. Fold the
    * accumulated segments BESIDE the ingest with
    * [[graft.operators.Search.foldTextSegments]] (which also grows the
    * bucket count when the live postings outgrow it), or flat with
    * [[graft.operators.Search.compactTextIndex]] while stopped. */
  def startTextIndexIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      indexPath: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    ingest(spark, sourceDir, schema, checkpointDir, availableNow, maxFilesPerTrigger, triggerInterval) {
      (s, batch, batchId) =>
        (0L, Search.writePostingsSegment(
          s(batch), indexPath, f"seg_batch_$batchId%06d", idCol, textCol))
    }

  /** The STREAMING composition of the whole curation pipeline — ONE ingest
    * running filter → redact → exact dedup → near-dup → (optional
    * semantic) per micro-batch, the streaming twin of
    * [[graft.operators.Curation.curationPipeline]]: instead of four
    * hand-chained queries with four checkpoints
    * ([[startCuratedIngest]] → [[startDedupIngest]] →
    * [[startNearDupIngest]] → [[startSemanticIngest]]), one source read
    * flows through every stage, one sink holds the fully-curated corpus,
    * and a per-batch CROSS-STAGE FUNNEL (`_funnel/batch_id=N`, rows
    * (ord, stage, docs_in, docs_out)) accounts for every document — read
    * the aggregate with [[pipelineFunnel]].
    *
    * Stage semantics are EXACTLY the standalone ingests': the quality
    * cascade labels with the first violated rule; exact dedup probes and
    * appends the persisted key index
    * ([[graft.operators.Dedup.exactIncremental]]); near-dup probes
    * the MinHash index with the MICRO shape (batch side broadcast — no
    * corpus shuffle per trigger) and keeps by ARRIVAL order; the optional
    * semantic stage (pass `semanticIndexPath`; the source schema must
    * carry `vecCol`) probes the IVF index bucket-pruned. Each dedup stage
    * folds only what IT passed into its index, so the indexes stay
    * consistent with what the next stage (and future batches) must
    * suppress against.
    *
    * Exactly-once composes because every per-batch artifact is keyed by
    * batchId with overwrite semantics: sink directory, funnel directory,
    * one named segment per index, and the mark last (the commit point). A
    * crash mid-pipeline replays the whole batch; each stage recomputes the
    * identical result against its possibly-already-appended segment (the
    * replay-stability arguments of the standalone ingests, unchanged).
    *
    * The indexes must exist (build them with
    * [[graft.operators.Dedup.writeExactIndex]] /
    * [[graft.operators.Dedup.writeMinHashIndex]] /
    * [[graft.operators.Ivf.writeIndex]], possibly over empty corpus
    * slices); the concurrent fold/GC maintenance contracts of the
    * standalone ingests apply per index. */
  def startPipelineIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      rules: Seq[(String, org.apache.spark.sql.Column)],
      exactIndexPath: String,
      nearDupIndexPath: String,
      semanticIndexPath: Option[String] = None,
      nearDupThreshold: Double = 0.7,
      semanticThreshold: Double = 0.95,
      redactPii: Boolean = true,
      idCol: String = "doc_id",
      textCol: String = "text",
      vecCol: String = "embedding",
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery = {
    require(semanticIndexPath.isEmpty || schema.fieldNames.contains(vecCol),
      s"semantic stage needs a '$vecCol' column in the source schema")
    ingest(spark, sourceDir, schema, checkpointDir, availableNow, maxFilesPerTrigger, triggerInterval) {
      (s, batch, batchId) =>
        val funnel = Seq.newBuilder[(Int, String, Long, Long)]
        var ord = 0
        var cur = s(batch)
        var nCur = cur.count()
        // the curationPipeline stage loop, per micro-batch: each stage
        // returns its output checkpointed (one computation feeds the count,
        // the next stage, and any segment write). Every stage frame and
        // operator-internal checkpoint is freed by the batch's scope at
        // BATCH END, not between stages: storage stays batch-bounded either
        // way
        def stage(name: String)(f: DataFrame => DataFrame): Unit = {
          val next = f(cur)
          val nNext = next.count()
          funnel += ((ord, name, nCur, nNext))
          ord += 1
          cur = next
          nCur = nNext
        }
        stage("filter")(d => s(Curation.filterChain(d, rules)
          .filter(col("keep") === 1L).drop("fail_rule", "keep")))
        if (redactPii) stage("redact")(d => s(redactText(d, textCol)))
        // each dedup stage is the standalone ingest's batch step, so it
        // folds only what IT passed into its index
        stage("exact")(exactBatch(_, exactIndexPath, batchId, idCol, textCol))
        stage("neardup")(
          nearDupBatch(_, nearDupIndexPath, nearDupThreshold, batchId, idCol, textCol))
        semanticIndexPath.foreach(ivfPath => stage("semantic")(
          semanticBatch(_, ivfPath, semanticThreshold, batchId, idCol, vecCol)))
        import batch.sparkSession.implicits._
        funnel.result().toDF("ord", "stage", "docs_in", "docs_out")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$sinkDir/_funnel/batch_id=$batchId")
        cur.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")
        (0L, nCur)
    }
  }

  /** Aggregate cross-stage funnel of a [[startPipelineIngest]] sink over
    * its COMMITTED batches: (stage, docs_in, docs_out) totals in pipeline
    * order. Reads only the tiny per-batch funnel tables, never the
    * corpus. */
  def pipelineFunnel(spark: SparkSession, sinkDir: String, checkpointDir: String): DataFrame = {
    val committed = Marks.read(
      markDir(checkpointDir), spark.sparkContext.hadoopConfiguration).keys.toSeq.sorted
    require(committed.nonEmpty, s"no committed batches under $checkpointDir")
    Parquet.read(spark, Map("basePath" -> s"$sinkDir/_funnel"),
        committed.map(b => s"$sinkDir/_funnel/batch_id=$b"): _*)
      .groupBy("ord", "stage")
      .agg(sum("docs_in").as("docs_in"), sum("docs_out").as("docs_out"))
      .orderBy("ord")
      .drop("ord")
  }

  /** Aggregate drop funnel across a curated sink's COMMITTED batches:
    * (fail_rule, n_docs) totals. Reads only the tiny per-batch funnel
    * tables, never the corpus. */
  def curationFunnel(spark: SparkSession, sinkDir: String, checkpointDir: String): DataFrame = {
    val committed = Marks.read(
      markDir(checkpointDir), spark.sparkContext.hadoopConfiguration).keys.toSeq.sorted
    require(committed.nonEmpty, s"no committed batches under $checkpointDir")
    Parquet.read(spark, Map("basePath" -> s"$sinkDir/_funnel"),
        committed.map(b => s"$sinkDir/_funnel/batch_id=$b"): _*)
      .groupBy("fail_rule").agg(sum("n_docs").as("n_docs"))
      .orderBy("fail_rule")
  }

  /** Read the ingest sink showing ONLY committed batches — the reference's
    * manifest-visibility rule (files not recorded in the manifest do not
    * exist, kv/db/version_set.cpp:920-1018). A concurrent writer's
    * half-written `batch_id` directory is invisible until its mark file is
    * committed. Building the reader runs no Spark job: it opens every
    * mark file (one per committed batch) and lists the batch directories,
    * and [[graft.core.Parquet.read]] reads one footer on the driver for the
    * schema. The per-batch paths keep partition pruning on `batch_id`. */
  def readCommitted(spark: SparkSession, sinkDir: String, checkpointDir: String): DataFrame = {
    val committed = Marks.read(
      markDir(checkpointDir), spark.sparkContext.hadoopConfiguration).keys.toSeq.sorted
    require(committed.nonEmpty, s"no committed batches under $checkpointDir")
    Parquet.read(spark, Map("basePath" -> sinkDir),
        committed.map(b => s"$sinkDir/batch_id=$b"): _*)
  }

  /** Compact an ingest sink's COMMITTED view into `outDir` — background
    * maintenance concurrent with ingest, the reference's interleaved
    * write + compaction model (kv/db/db_impl.cpp:608-644). Reads through
    * [[readCommitted]], so a concurrent writer's half-written (markless)
    * batch directory is invisible to the compaction by construction: the
    * output captures exactly the committed prefix, and a crashed batch
    * replayed later neither appears in nor invalidates it. */
  def compactCommitted(
      spark: SparkSession,
      sinkDir: String,
      checkpointDir: String,
      outDir: String,
      spec: graft.core.ChangelogSpec,
      retention: Long,
      force: Boolean = false): Long =
    graft.core.Maintenance.compactFrameMetrics(
      spark, readCommitted(spark, sinkDir, checkpointDir).drop("batch_id"),
      outDir, spec, retention, force = force)
      .fold(-1L)(_.rowsWritten)

  /** `GetProperty`-style ingest stats from the mark manifest — the
    * reference's write-path `stats` property (per-level file counts and
    * write volumes, kv/db/db_impl.cpp:1621-1697) over the changelog sink:
    * committed batch count, total committed rows, and the high-water
    * sequence. One tiny mark-dir listing; never scans data. */
  def ingestProperties(spark: SparkSession, checkpointDir: String): Map[String, String] = {
    val marks = Marks.read(
      markDir(checkpointDir), spark.sparkContext.hadoopConfiguration)
    Map(
      "graft.ingest.committed.batches" -> marks.size.toString,
      "graft.ingest.committed.rows" -> marks.values.map(_._2).sum.toString,
      "graft.ingest.highwater.seq" ->
        marks.values.map { case (b, c) => b + c }.foldLeft(0L)(math.max).toString)
  }

  /** RepairDB analogue (kv/include/db.h:112-116): rebuild the high-water
    * mark metadata from the data itself after the mark directory is lost or
    * corrupted. Each `batch_id=N` directory's seq range is re-derived
    * (min/max seq read via parquet footer stats — no data pages), and marks
    * are rewritten as (batchId, base = min-1, count = max-min+1). Returns
    * the number of batches actually repaired (empty directories and
    * incomplete writes are skipped and NOT counted).
    *
    * TRUST BOUNDARY — like the reference's RepairDB, repair recovers what
    * is on disk, so it can only be as honest as the write path's
    * visibility: a directory missing its `_SUCCESS` marker (an output
    * commit that never finished — e.g. a crash mid-write on a
    * direct-write committer) is SKIPPED rather than promoted to
    * committed, because its rows may be a partial batch the original
    * mark protocol would never have exposed. Repaired counts are derived
    * from the seq RANGE; if an FS lost individual files inside a
    * committed batch, the count can overstate the surviving rows — the
    * reference's repair has the same property (recovered data is best
    * effort, kv/db/repair.cc semantics). */
  def repairMarks(spark: SparkSession, sinkDir: String, checkpointDir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val batchDirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath)
    var repaired = 0
    batchDirs.foreach { p =>
      val batchId = p.getName.stripPrefix("batch_id=").toLong
      // _SUCCESS is the parquet output commit's own completion marker —
      // absent means the batch write never finished; do not promote it
      val committed = fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
      if (committed) {
        val range = Parquet.read(spark, p.toString)
          .agg(org.apache.spark.sql.functions.min("seq"), org.apache.spark.sql.functions.max("seq"))
          .head()
        if (!range.isNullAt(0)) {
          val (lo, hi) = (range.getLong(0), range.getLong(1))
          Marks.write(markDir(checkpointDir), batchId, lo - 1, hi - lo + 1,
            spark.sparkContext.hadoopConfiguration)
          repaired += 1
        }
      }
    }
    repaired
  }

  /** DestroyDB analogue: remove a changelog table's data and checkpoint. */
  def destroy(spark: SparkSession, sinkDir: String, checkpointDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(sinkDir, checkpointDir).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** Tumbling/sliding event-time window aggregation with watermark — the
    * streaming analogue of snapshot-horizon GC (reference smallest_snapshot,
    * kv/db/db_impl.cpp:1044-1051): state older than the watermark is dropped
    * exactly as versions below the oldest snapshot are GC'd. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      watermark: String,
      windowDuration: String,
      slideDuration: Option[String] = None): DataFrame = {
    val withWm = events.withWatermark(tsCol, watermark)
    val win = slideDuration
      .fold(window(col(tsCol), windowDuration))(s => window(col(tsCol), windowDuration, s))
    withWm
      .groupBy(win.as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 10)))
          .cast("double").as("sum_value"))
      .select(
        col("w.start").as("w_start"),
        col("w.end").as("w_end"),
        col("event_type"),
        col("n"),
        col("sum_value"))
  }

  /** Per-key session windows (gap-based). */
  def sessionCounts(events: DataFrame, tsCol: String, watermark: String, gap: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("s_start"), col("w.end").as("s_end"), col("n"))

  /** State for the streaming LWW upsert: newest (seq, value, tombstone) per
    * key — the incremental form of the changelog collapse (reference:
    * kv/db/db_iter.cpp:199-222, last-write-wins by sequence). */
  final case class UpsertState(seq: Long, value: Double, isDelete: Boolean)
  final case class UpsertRow(user_id: Long, event_type: String, seq: Long, value: Double, isDelete: Boolean)
  final case class UpsertOut(user_id: Long, event_type: String, last_seq: Long, last_value: Double, is_delete: Boolean)

  /** Streaming stateful LWW upsert view over a changelog stream: per
    * (user_id, event_type) key, maintain the highest-seq row (tombstones
    * included — readers filter), emitting the refreshed state each batch.
    * `flatMapGroupsWithState` in Update mode; unlike `dropDuplicates` this
    * is last-write-wins, not first-wins.
    *
    * `isDelete` is the caller's tombstone rule (a boolean Column over the
    * input) — the reference's value-vs-deletion type bit
    * (kv/db/dbformat.h:49-58) generalized to any predicate; the test
    * harness's `event_id % 10 = 0` convention lives in the registry, not
    * here. */
  def streamingUpsert(events: DataFrame, isDelete: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.{Dataset, Encoders}
    val typed: Dataset[UpsertRow] = events
      .withColumn("_graft_is_delete", isDelete)
      .selectExpr("user_id", "event_type", "event_id as seq", "value",
        "_graft_is_delete as isDelete")
      .as[UpsertRow](Encoders.product[UpsertRow])
    typed
      .groupByKey(r => (r.user_id, r.event_type))(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (key: (Long, String), rows: Iterator[UpsertRow], state: GroupState[UpsertState]) => {
          val incoming = rows.maxBy(_.seq)
          val cur = state.getOption
          if (cur.forall(_.seq < incoming.seq)) {
            state.update(UpsertState(incoming.seq, incoming.value, incoming.isDelete))
            Iterator(UpsertOut(key._1, key._2, incoming.seq, incoming.value, incoming.isDelete))
          } else Iterator.empty
        })(Encoders.product[UpsertState], Encoders.product[UpsertOut])
      .toDF()
  }

  /** Streaming stateful dedup on key columns with watermark-bounded state
    * (keeps the first occurrence — Spark's built-in exactly-once dedup).
    * `dropDuplicatesWithinWatermark`, NOT `dropDuplicates`: plain
    * dropDuplicates only evicts state when the event-time column is part of
    * the key subset, so key-only dedup would grow state unboundedly; the
    * within-watermark variant expires each key's state once the watermark
    * passes its first-seen event time. */
  def streamingDedup(events: DataFrame, tsCol: String, watermark: String, keyCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keyCols)
}
