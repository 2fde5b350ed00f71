package graft

import graft.core.{Changelog, ChangelogSpec, GraftSession, Maintenance, Snapshots, Stats, Tables}
import graft.operators.{AsOf, Dedup, Ivf, Multimodal, Pq, Similarity}
import graft.streaming.Ingest
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The engine's user-facing facade — what a reference (QuasDB) user programs
  * against after switching (SURVEY.md §7's session facade). One object per
  * data directory; every method is a lazy DataFrame transformation over the
  * directory's tables, so composition and Catalyst optimization work as
  * usual.
  *
  * Construct ONE facade per directory: compaction/snapshot bookkeeping
  * ([[properties]], [[lastCompaction]], [[snapshots]]) is instance-local —
  * the mirror of the reference's DBImpl-local stats. A second facade (or a
  * direct [[graft.core.Maintenance]] call) over the same directory runs
  * fine but its job metrics are invisible to this instance's properties.
  *
  * {{{
  * val g = Graft(spark, "/data/sf0.1")
  * g.collapse(g.events, Tables.eventsSpec)            // KV read view (O8/O20)
  * g.pointGet(key = col("user_id") === 7 && ..., 500) // DB::Get at snapshot
  * g.nearDuplicates(threshold = 0.7)                  // LLM-pipeline dedup
  * g.topKNeighbors(queries, k = 10)                   // similarity search
  * }}}
  */
// a PLAIN class, deliberately not a case class: the facade holds
// instance-local mutable state (the snapshot registry, lastCompaction),
// so a compiler-generated copy() would mint an ==-equal twin with a
// FRESH empty registry — compactAtFloor through the twin would then
// ignore every held snapshot pin and destroy versions a reader still
// depends on. Reference identity matches the one-facade-per-directory
// semantics; the companion apply keeps the Graft(spark, dir) call form.
final class Graft(val spark: SparkSession, val dir: String) {

  // ---- tables (the "DBs") -------------------------------------------------
  def table(name: String): DataFrame = Tables.load(spark, dir, name)
  def events: DataFrame = Tables.events(spark, dir)
  def documents: DataFrame = Tables.documents(spark, dir)
  def embeddings: DataFrame = Tables.embeddings(spark, dir)

  // ---- changelog / KV semantics (the reference's DB API) ------------------
  /** The WRITE path — DB::Put/Write/WriteBatch as a streaming changelog
    * ingest (micro-batch = group commit, contiguous seqs, exactly-once marks;
    * [[graft.streaming.Ingest.startChangelogIngest]]). `availableNow = true`
    * drains what is currently in `sourceDir` and stops — the batch-write
    * shape; `false` keeps ingesting as files land. Key columns get parquet
    * bloom filters so the point-get read path skips row groups.
    *
    * Backpressure (the reference's L0 write throttle,
    * kv/db/db_impl.cpp:1542-1619): `maxFilesPerTrigger` caps each
    * micro-batch — a backlog drains as several bounded commits rather than
    * one giant one (also under `availableNow`); `None` removes the cap.
    * `triggerInterval` paces continuous mode. */
  def ingest(
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      orderCols: Seq[String],
      spec: ChangelogSpec,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(Ingest.DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    Ingest.startChangelogIngest(
      spark, sourceDir, schema, sinkDir, checkpointDir, orderCols,
      availableNow = availableNow, maxFilesPerTrigger = maxFilesPerTrigger,
      triggerInterval = triggerInterval, bloomCols = spec.keyCols)

  /** Committed-batches-only view of an ingest sink (manifest visibility). */
  def readCommitted(sinkDir: String, checkpointDir: String): DataFrame =
    Ingest.readCommitted(spark, sinkDir, checkpointDir)

  /** Streaming dedup-on-write: ingest a document stream, keep only first
    * occurrences (vs the persisted dedup index at `indexPath`, earlier
    * batches, and earlier rows of the same batch), and fold each batch into
    * the index — the sink IS the deduplicated corpus. Exactly-once under
    * crash replay (per-batch overwrite + named index segments). Build the
    * index first with [[buildDedupIndex]]. */
  def ingestDedup(
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      indexPath: String,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(Ingest.DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    Ingest.startDedupIngest(
      spark, sourceDir, schema, sinkDir, checkpointDir, indexPath,
      availableNow = availableNow, maxFilesPerTrigger = maxFilesPerTrigger,
      triggerInterval = triggerInterval)

  /** Streaming SUB-DOCUMENT dedup-on-write (ExactSubstr): each
    * micro-batch is excised against the span catalog at `indexPath`
    * (spans already cataloged or earlier in the batch are cut, first
    * occurrences kept), cleaned rows land in the sink, and the cleaned
    * batch's windows fold into the catalog — so the catalog always
    * equals the catalog of the sink corpus. Exactly-once under crash
    * replay. Build the catalog first with [[buildSpanCatalog]]. */
  def ingestSpanDedup(
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      indexPath: String,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(Ingest.DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    Ingest.startSpanIngest(
      spark, sourceDir, schema, sinkDir, checkpointDir, indexPath,
      availableNow = availableNow, maxFilesPerTrigger = maxFilesPerTrigger,
      triggerInterval = triggerInterval)

  /** Streaming near-dup-on-write: MinHash/LSH dedup at ingest time — each
    * micro-batch is probed against the persisted signature index at
    * `indexPath` (plus its own batch), and near-duplicate clusters keep
    * only their FIRST-ARRIVED document (already-landed corpus copy wins
    * whatever the ids; in-batch ties break by lowest id); kept signatures
    * fold into the index. Exactly-once under crash replay (per-batch
    * overwrite + named index segments). Build the index
    * first with [[buildNearDupIndex]]; fold accumulated segments with
    * [[foldDocSegments]] beside the live ingest, or all the way into flat
    * `docs/` with [[compactDocIndex]] while ingest is stopped. */
  def ingestNearDup(
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      indexPath: String,
      threshold: Double = 0.7,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(Ingest.DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    Ingest.startNearDupIngest(
      spark, sourceDir, schema, sinkDir, checkpointDir, indexPath,
      threshold = threshold, availableNow = availableNow,
      maxFilesPerTrigger = maxFilesPerTrigger, triggerInterval = triggerInterval)

  /** Streaming semantic ingest: embedding near-dup dedup-on-write against
    * a persisted IVF index — batches assigned with the stored centroid
    * model, compared only within partition-pruned probed lists, clusters
    * keep their first-arrived document, kept vectors fold in as
    * replay-idempotent named segments. Build the index first with
    * [[buildVectorIndex]]; fold segments with
    * `Ivf.compactIndexSegments` between runs. */
  def ingestSemantic(
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      indexPath: String,
      threshold: Double = 0.95,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(Ingest.DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    Ingest.startSemanticIngest(
      spark, sourceDir, schema, sinkDir, checkpointDir, indexPath,
      threshold = threshold, availableNow = availableNow,
      maxFilesPerTrigger = maxFilesPerTrigger, triggerInterval = triggerInterval)

  /** Curation-on-ingest: filter each micro-batch through an ordered rule
    * cascade (and PII-redact the survivors) before it lands — the sink is
    * the curated corpus, with a per-batch drop funnel under
    * `<sinkDir>/_funnel`. Exactly-once under crash replay. Read totals
    * with [[curationFunnel]]. */
  def ingestCurated(
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      rules: Seq[(String, Column)],
      redactPii: Boolean = true,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(Ingest.DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    Ingest.startCuratedIngest(
      spark, sourceDir, schema, sinkDir, checkpointDir, rules,
      redactPii = redactPii, availableNow = availableNow,
      maxFilesPerTrigger = maxFilesPerTrigger, triggerInterval = triggerInterval)

  /** Aggregate (fail_rule, n_docs) drop totals across a curated sink's
    * committed batches — reads only the tiny funnel tables. */
  def curationFunnel(sinkDir: String, checkpointDir: String): DataFrame =
    Ingest.curationFunnel(spark, sinkDir, checkpointDir)

  /** The whole curation pipeline as ONE stream — filter → redact → exact
    * dedup → near-dup → (optional semantic) per micro-batch with a
    * cross-stage funnel, the streaming twin of [[curationPipeline]]'s
    * batch form. Exactly-once under crash replay; read stage totals with
    * [[pipelineFunnel]]. Build the indexes first ([[buildDedupIndex]],
    * [[buildNearDupIndex]], [[buildVectorIndex]]). */
  def ingestPipeline(
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      rules: Seq[(String, Column)],
      exactIndexPath: String,
      nearDupIndexPath: String,
      semanticIndexPath: Option[String] = None,
      nearDupThreshold: Double = 0.7,
      semanticThreshold: Double = 0.95,
      redactPii: Boolean = true,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(Ingest.DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    Ingest.startPipelineIngest(
      spark, sourceDir, schema, sinkDir, checkpointDir, rules,
      exactIndexPath, nearDupIndexPath, semanticIndexPath,
      nearDupThreshold, semanticThreshold, redactPii,
      availableNow = availableNow, maxFilesPerTrigger = maxFilesPerTrigger,
      triggerInterval = triggerInterval)

  /** Aggregate (stage, docs_in, docs_out) totals of a pipeline-ingest
    * sink's committed batches, in pipeline order. */
  def pipelineFunnel(sinkDir: String, checkpointDir: String): DataFrame =
    Ingest.pipelineFunnel(spark, sinkDir, checkpointDir)

  /** Materialize the deterministic training order as a sharded parquet
    * sink (file row order = training order per shard). */
  def writeTrainingShards(outDir: String, numShards: Int, seed: Long = 0L): Unit =
    operators.Curation.writeTrainingShards(documents, outDir, numShards, seed)

  /** Split this directory's documents into fixed-size training sequences
    * (sliding token windows, map-only). */
  def chunkDocuments(chunkTokens: Int, overlapTokens: Int = 0): DataFrame =
    operators.Curation.chunk(documents, chunkTokens, overlapTokens)

  /** Pack this directory's documents, in their deterministic training
    * order, into examples of at most `tokensPerExample` tokens (first-fit
    * in order; an oversized doc occupies one example alone). */
  def packDocuments(tokensPerExample: Long, numShards: Int, seed: Long = 0L): DataFrame =
    operators.Curation.packDocuments(documents, tokensPerExample, numShards, seed)

  /** DB::NewIterator's collapsed read view (newest per key, tombstones hidden). */
  def collapse(df: DataFrame, spec: ChangelogSpec): DataFrame = Changelog.collapse(df, spec)

  /** Repeatable reads at a pinned sequence — DB::GetSnapshot + reads. */
  def collapseAt(df: DataFrame, spec: ChangelogSpec, snapshot: Long): DataFrame =
    Changelog.collapseAt(df, spec, snapshot)

  /** DB::Get(key) at a snapshot, over the events changelog. */
  def pointGet(key: Column, snapshot: Long): DataFrame =
    Changelog.pointGet(events, Tables.eventsSpec, key, snapshot)

  /** DB::NewIterator range scan over the collapsed events view. */
  def rangeScan(range: Column, orderCols: Seq[String], reverse: Boolean = false): DataFrame =
    Changelog.rangeScan(events, Tables.eventsSpec, range, orderCols, reverse)

  /** DB::GetApproximateSizes per key-range bucket. */
  def approximateSizes(bucket: Column, bytes: Column): DataFrame =
    Changelog.approximateSizes(events, bucket, bytes)

  /** Job metrics of the most recent compaction THAT WROTE through this
    * facade — the reference's model exactly: compaction stats live in the
    * DBImpl that ran the compaction and surface via GetProperty
    * (kv/db/db_impl.cpp:1621-1697). Merged into [[properties]], together
    * with a run counter (`graft.compaction.runs`) that only increments on
    * actual rewrites, so a poller can tell a trivial-move skip (counter
    * unchanged, metrics from the previous run) from a fresh run. */
  private val lastCompaction =
    new java.util.concurrent.atomic.AtomicReference[(Long, Map[String, String])]((0L, Map.empty))

  private def recordCompaction(m: Option[Maintenance.CompactionMetrics]): Long = {
    // counter and metrics move together in ONE atomic update, so concurrent
    // compactions can never publish a lower runs value after a higher one
    m.foreach { x =>
      lastCompaction.updateAndGet { case (runs, _) =>
        val n = runs + 1
        (n, x.properties + ("graft.compaction.runs" -> n.toString))
      }
    }
    m.fold(-1L)(_.rowsWritten)
  }

  /** Full-table compaction as a maintenance job (trivial-move aware).
    * Returns rows written, -1 on trivial-move skip; job metrics surface in
    * [[properties]]. */
  def compact(inDir: String, outDir: String, spec: ChangelogSpec, retention: Long): Long =
    recordCompaction(Maintenance.compactTableMetrics(spark, inDir, outDir, spec, retention))

  /** DB::CompactRange(begin, end): compact only keys in [lo, hi]; files
    * outside the range are carried over byte-identical. */
  def compactRange(
      inDir: String, outDir: String, spec: ChangelogSpec, retention: Long,
      lo: Any, hi: Any): Long =
    recordCompaction(
      Maintenance.compactRangeMetrics(spark, inDir, outDir, spec, retention, lo, hi))

  /** Snapshot lifecycle registry (DB::GetSnapshot / DB::ReleaseSnapshot);
    * [[compactAtFloor]] derives its retention from the oldest live handle.
    *
    * CONTRACT: one registry instance per table, owned by the process that
    * runs compaction — exactly the reference's model, where the snapshot
    * list lives in the single DBImpl that also picks compactions. Handles
    * acquired on a DIFFERENT Graft instance (or JVM) are invisible to this
    * floor; coordinating snapshots across writers requires an external
    * store, which the reference does not have either. */
  val snapshots: Snapshots = new Snapshots
  def getSnapshot(seq: Long): Snapshots.Handle = snapshots.acquire(seq)
  def releaseSnapshot(h: Snapshots.Handle): Unit = snapshots.release(h)

  /** Compact with retention derived from the snapshot registry — the
    * reference's smallest_snapshot rule: oldest live snapshot, else
    * `currentSeq`. Reads at every held snapshot are unchanged. */
  def compactAtFloor(inDir: String, outDir: String, spec: ChangelogSpec, currentSeq: Long): Long =
    compact(inDir, outDir, spec, snapshots.retentionFloor(currentSeq))

  /** DB::GetProperty-style stats surface: session confs plus the job
    * metrics of the last compaction run through this facade. */
  def tableStats: DataFrame = Stats.tableStats(spark, dir)
  def properties: Map[String, String] =
    Stats.engineProperties(spark) ++ lastCompaction.get._2

  /** Write-path `stats` properties of an ingest sink (committed batches,
    * committed rows, high-water seq) from its mark manifest. */
  def ingestProperties(checkpointDir: String): Map[String, String] =
    Ingest.ingestProperties(spark, checkpointDir)

  /** Background compaction of an ingest sink's committed view — safe to run
    * concurrently with the ingest: a half-written batch is invisible until
    * its mark commits, so the output captures exactly the committed prefix. */
  def compactCommitted(
      sinkDir: String, checkpointDir: String, outDir: String,
      spec: ChangelogSpec, retention: Long, force: Boolean = false): Long =
    Ingest.compactCommitted(spark, sinkDir, checkpointDir, outDir, spec, retention, force)

  // ---- relational extensions ---------------------------------------------
  /** As-of join: newest right row at-or-before each left row's time.
    * `horizon` bounds the lookback and turns the time bound into a bucketed
    * equi-join (the scale-safe form for hot keys with deep history). */
  def asOfJoin(
      left: DataFrame, right: DataFrame, keys: Seq[(String, String)],
      leftTime: String, rightTime: String, leftId: Seq[String],
      tieBreak: Seq[String] = Seq.empty,
      horizon: Option[Long] = None): DataFrame =
    AsOf.join(left, right, keys, leftTime, rightTime, leftId, tieBreak,
      horizon = horizon)

  /** Unbounded as-of join in the sorted carry-forward form — linear on any
    * key distribution (use on skewed keys, where [[asOfJoin]] without a
    * horizon fans out |lefts| x |rights| per hot key). Right columns come
    * back prefixed `r_`. */
  def asOfJoinSorted(
      left: DataFrame, right: DataFrame, keys: Seq[(String, String)],
      leftTime: String, rightTime: String,
      tieBreak: Seq[String] = Seq.empty): DataFrame =
    AsOf.joinSorted(left, right, keys, leftTime, rightTime, tieBreak)

  // ---- LLM-data-pipeline --------------------------------------------------
  /** Exact dedup groups over normalized document text. "Exact" is
    * with-high-probability by default: groups form on a 64-bit hash of the
    * normalized text (collision odds ~N²/2⁶⁵ — negligible below ~10⁹ docs),
    * keeping the shuffle key 8 bytes. Pass `wideKey = true` for a SHA-256
    * key when certainty matters more than 4x the shuffle-key bytes. */
  def exactDuplicates(wideKey: Boolean = false): DataFrame =
    Dedup.exact(documents, wideKey = wideKey)

  /** Persist an exact-dedup corpus index over this directory's documents —
    * build once, then classify each day's batch with [[dedupAgainstIndex]]
    * and fold it in with [[appendToDedupIndex]], never re-hashing the
    * corpus. Same key-width caveat as [[exactDuplicates]]; incremental
    * reads infer the key kind from the stored schema. */
  def buildDedupIndex(path: String, wideKey: Boolean = false): Unit =
    Dedup.writeExactIndex(documents, path, wideKey = wideKey)

  /** Classify a new batch against a persisted dedup index: corpus-dup,
    * batch-dup, or first occurrence anywhere (`is_kept`). Batch ids must
    * sort after every indexed id (the appending-pipeline contract). */
  def dedupAgainstIndex(newDocs: DataFrame, path: String): DataFrame =
    Dedup.exactIncremental(newDocs, path)

  /** Append a batch's dedup groups to the index as a new segment (the
    * L0-append path); returns the segment's distinct-key count. Run
    * [[compactDedupIndex]] when [[dedupIndexProperties]] shows the segment
    * count has grown. */
  def appendToDedupIndex(newDocs: DataFrame, path: String): Long =
    Dedup.appendToExactIndex(newDocs, path)

  /** Retract content from a persisted dedup index (takedown/opt-out):
    * tombstone the dedup keys of `removedDocs` so later batches carrying
    * the same text are treated as fresh. Newest-wins: content re-appended
    * after the deletion re-enters the index. */
  def deleteFromDedupIndex(removedDocs: DataFrame, path: String): Long =
    Dedup.deleteFromExactIndex(removedDocs, path)

  /** Fold all appended index segments (and tombstones) back into one
    * (merged view unchanged). Safe beside a running [[ingestDedup]] with
    * `gc = false`; then reclaim the folded directories with
    * [[gcDedupIndex]] after in-flight readers drain. */
  def compactDedupIndex(path: String, gc: Boolean = true): Unit =
    Dedup.compactExactIndex(spark, path, gc)

  /** Delete folded (superseded) dedup-index segments left by a
    * `gc = false` compaction. Returns every directory removed. */
  def gcDedupIndex(path: String): Long =
    Dedup.gcExactIndex(spark, path)

  /** GetProperty-style health of a persisted dedup index: segments, keys,
    * docs, duplicate ratio, key width. */
  def dedupIndexProperties(path: String): Map[String, String] =
    Dedup.exactIndexStats(spark, path)

  /** SUB-DOCUMENT duplicate spans (ExactSubstr, Lee et al. 2022): every
    * non-first occurrence of an n-token window across the corpus —
    * within-document repeats included; the global first occurrence of
    * each repeated span is never flagged. */
  def duplicateSpans(n: Int = 6): DataFrame =
    operators.Curation.duplicateSpans(documents, n)

  /** ExactSubstr EXCISION: tokens covered by a non-first duplicated
    * window are cut and the remainder rejoins in order, so repeated
    * content survives exactly once corpus-wide — the passage-level
    * dedup that keeps the page where [[exactDuplicates]] would only
    * drop whole documents. */
  def exciseDuplicateSpans(n: Int = 6): DataFrame =
    operators.Curation.exciseDuplicateSpans(documents, n)

  /** Persist the ExactSubstr SPAN CATALOG over this directory's
    * documents: one row per distinct n-token window with its first
    * occurrence, gram-sorted + bloom-indexed so daily batches excise
    * against it ([[exciseSpansAgainstCatalog]]) reading only their own
    * grams' row groups — never the corpus text. n freezes in meta. */
  def buildSpanCatalog(path: String, n: Int = 6): Unit =
    Dedup.writeSpanCatalog(documents, path, n)

  /** Excise a new batch against a persisted span catalog (and nothing
    * else): spans already cataloged or earlier in the batch are cut,
    * first occurrences kept. Fold the batch in afterwards with
    * [[appendToSpanCatalog]]. */
  def exciseSpansAgainstCatalog(newDocs: DataFrame, path: String): DataFrame =
    operators.Curation.exciseDuplicateSpansIncremental(newDocs, path)

  /** Append a batch's own per-gram first occurrences to the span
    * catalog as a new segment; returns rows appended. */
  def appendToSpanCatalog(newDocs: DataFrame, path: String): Long =
    Dedup.appendToSpanCatalog(newDocs, path)

  /** Retract passages from the span catalog (takedown/opt-out):
    * tombstone every window gram of `removedDocs` so later batches
    * carrying those passages re-enter fresh instead of being excised
    * against content that no longer exists. Newest-wins: passages
    * re-appended after the deletion re-enter naturally. */
  def deleteFromSpanCatalog(removedDocs: DataFrame, path: String): Long =
    Dedup.deleteFromSpanCatalog(removedDocs, path)

  /** Fold appended span-catalog segments (and gram tombstones) into one
    * (merged view unchanged; the [[graft.core.SegmentLog]] fold, as
    * [[compactDedupIndex]]). */
  def compactSpanCatalog(path: String, gc: Boolean = true): Unit =
    Dedup.compactSpanCatalog(spark, path, gc)

  /** GetProperty-style health of a span catalog: segments, tombstones,
    * folded dirs awaiting GC, live grams, frozen window length. */
  def spanCatalogProperties(path: String): Map[String, String] =
    Dedup.spanCatalogStats(spark, path)

  /** MinHash-LSH near-duplicate pairs (banded join, two-stage verify). */
  def nearDuplicates(threshold: Double = 0.7): DataFrame =
    Dedup.minHashLsh(documents, threshold = threshold)

  /** Persist a MinHash near-dup index (signatures + shingle hashes) over
    * this directory's documents — the one expensive tokenize+sign pass,
    * stored so each day's batch probes it with [[nearDuplicatesIncremental]]
    * and joins it with [[appendToNearDupIndex]]. The default layout is
    * AUTO: flat below the family's measured crossover (where the flat
    * scan is the faster probe), band-bucketed at an auto-sized partition
    * count above it — streaming probes then partition-prune the index
    * side to the batch's buckets instead of scanning every stored
    * signature, the long-uptime-ingest scale lever — and
    * [[compactDocIndex]] PROMOTES an auto-flat store past the crossover
    * and re-buckets one that outgrows its P (see
    * [[graft.operators.Dedup.writeMinHashIndex]]). `bandBuckets = 0` pins
    * flat forever; a positive count is honored verbatim. */
  def buildNearDupIndex(
      path: String, shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      bandBuckets: Int = Dedup.AutoBuckets): Unit =
    Dedup.writeMinHashIndex(documents, path, shingleN, numHashes, bands,
      bandBuckets = bandBuckets)

  /** Near-dup pairs touching a new batch (batch-vs-corpus + batch-vs-batch)
    * against a persisted index; the corpus text is never re-read. */
  def nearDuplicatesIncremental(
      newDocs: DataFrame, path: String, threshold: Double = 0.7): DataFrame =
    Dedup.minHashIncremental(newDocs, path, threshold)

  /** Sign a batch and append it to a persisted near-dup index. */
  def appendToNearDupIndex(newDocs: DataFrame, path: String): Long =
    Dedup.appendToMinHashIndex(newDocs, path)

  /** Retract documents by id from a persisted MinHash or SimHash index
    * (exact id-level takedown — these indexes store one row per doc).
    * Probes anti-join the tombstones; [[compactDocIndex]] folds them into
    * a physical rewrite. */
  def deleteFromDocIndex(removedIds: DataFrame, path: String): Long =
    Dedup.deleteFromDocIndex(removedIds, path)

  /** Fold a MinHash/SimHash index's tombstones and streaming segments into
    * a physical rewrite (stop-the-world for that index). */
  def compactDocIndex(path: String): Unit =
    Dedup.compactDocIndex(spark, path)

  /** Fold a doc index's accumulated streaming segments into one, SAFE
    * beside a running [[ingestNearDup]] (atomic fold-marker publish; pass
    * `gc = false` beside a live ingest and [[gcDocIndex]] after a drain). */
  def foldDocSegments(path: String, gc: Boolean = true): Unit =
    Dedup.foldDocSegments(spark, path, gc)

  /** Delete a doc index's folded segment directories, their band twins,
    * stale fold markers and superseded band generations after concurrent
    * readers have drained. Returns every directory removed. */
  def gcDocIndex(path: String): Long =
    Dedup.gcDocIndex(spark, path)

  /** GetProperty-style health of a persisted MinHash/SimHash/signature
    * doc-row index — docs, segments, tombstones, band layout, and
    * `orphan-docs` (docs a crashed append left without band rows; nonzero
    * means bucketed probes admit their duplicates until the next
    * [[foldDocSegments]] or [[compactDocIndex]] heals the tree). */
  def docIndexProperties(path: String): Map[String, String] =
    Dedup.docIndexStats(spark, path)

  /** Detect (and by default heal) docs a crashed direct append left
    * without band rows — the fail-open window of the bucketed layouts.
    * Runs automatically inside every [[foldDocSegments]] cycle; exposed
    * for deployments that append in batch without ever folding. Returns
    * the orphan doc count found. */
  def reconcileBandOrphans(path: String, heal: Boolean = true): Long =
    Dedup.reconcileBandOrphans(spark, path, heal)

  /** SimHash near-duplicate pairs: all pairs within `maxHamming` bits
    * (multi-index block-combination banding, guaranteed recall). */
  def simHashDuplicates(maxHamming: Int = 6): DataFrame =
    Dedup.simHashPairs(documents, maxHamming)

  /** Persist a SimHash signature store (one long per document — the
    * lightest incremental index). The default layout is AUTO — flat
    * below the family's measured crossover, else band-bucketed at an
    * auto-sized partition count: banding at (`maxHamming`, `comboSize`)
    * is frozen into a partition-pruned `bands/` tree so the streaming
    * dedup-on-write probe reads only the batch's hit buckets per trigger
    * instead of every stored signature
    * ([[graft.operators.Dedup.writeSignatureIndex]]), and
    * [[compactDocIndex]] promotes an auto-flat store past the crossover
    * and re-buckets one that outgrows its P; probes at OTHER banding
    * parameters fall back to the flat scan. `sigBuckets = 0` pins the
    * flat store, where banding is query-time and nothing can go stale. */
  def buildSimHashIndex(
      path: String,
      maxHamming: Int = 6, comboSize: Int = 2,
      sigBuckets: Int = Dedup.AutoBuckets): Unit =
    Dedup.writeSimHashIndex(documents, path,
      maxHamming = maxHamming, comboSize = comboSize, sigBuckets = sigBuckets)

  /** Persist a generic 64-bit content-signature store from precomputed
    * `(doc_id, sh)` rows — the image/audio dedup index
    * ([[graft.operators.Multimodal.imageSignatures]] /
    * `audioSignatures` output, or any custom signature family).
    * AUTO layout by default — flat below the crossover, band-bucketed
    * with an auto-sized partition count above it (see
    * [[buildSimHashIndex]]) so [[ingestImageDedup]]/[[ingestAudioDedup]]
    * probe sub-linearly in a large store; `sigBuckets = 0` pins the flat
    * layout. */
  def buildSignatureIndex(
      signatures: DataFrame, path: String,
      maxHamming: Int = 10, comboSize: Int = 2,
      sigBuckets: Int = Dedup.AutoBuckets): Unit =
    Dedup.writeSignatureIndex(signatures, path,
      maxHamming = maxHamming, comboSize = comboSize, sigBuckets = sigBuckets)

  /** SimHash pairs within `maxHamming` bits touching a new batch, against
    * a persisted signature store — same recall guarantee as
    * [[simHashDuplicates]]. */
  def simHashDuplicatesIncremental(
      newDocs: DataFrame, path: String, maxHamming: Int = 6): DataFrame =
    Dedup.simHashIncremental(newDocs, path, maxHamming)

  /** Sign a batch and append it to a persisted SimHash store. */
  def appendToSimHashIndex(newDocs: DataFrame, path: String): Long =
    Dedup.appendToSimHashIndex(newDocs, path)

  /** Collapse any pair-finder's output into the deduplicated corpus: one
    * representative (min id) per transitive duplicate cluster, untouched
    * docs kept. E.g. `g.collapseDuplicates(g.nearDuplicates())`. */
  def collapseDuplicates(pairs: DataFrame): DataFrame =
    Dedup.collapseDuplicates(documents, pairs)

  /** Duplicate clusters (doc_id -> component representative) from a
    * pair-finder's output — the transitive closure of pairwise findings. */
  def duplicateComponents(pairs: DataFrame): DataFrame =
    Dedup.connectedComponents(pairs)

  /** SemDeDup-style semantic dedup over the embeddings table: IVF-bucketed
    * cosine near-dup pairs, component-collapsed to min-id representatives.
    * Recall < 1 by design (cross-list pairs are never examined). */
  def semanticDedup(threshold: Double = 0.95, lists: Int = 64): DataFrame =
    Dedup.semanticDedup(documents, embeddings, threshold, lists)

  /** Exact shingle-Jaccard near-dup pairs within (lang, token-count)
    * blocks — the oracle-checkable exact variant of [[nearDuplicates]]. */
  def jaccardDuplicates(threshold: Double = 0.5): DataFrame =
    Dedup.exactJaccardPairs(documents, threshold = threshold)

  /** Exact top-k cosine neighbors for a query batch. */
  def topKNeighbors(queries: DataFrame, k: Int): DataFrame =
    Similarity.bruteForceTopK(embeddings, queries, k)

  /** Approximate (multi-table LSH) top-k neighbors — the 100 TB path. */
  def topKNeighborsApprox(queries: DataFrame, k: Int, dim: Int = 64): DataFrame =
    Similarity.lshTopK(embeddings, queries, k, dim)

  /** int8-quantized LSH MIPS top-k — the 4x-smaller-rows production
    * variant; every step after the quantize is exact integer math. */
  def topKNeighborsInt8(queries: DataFrame, k: Int, dim: Int = 64): DataFrame =
    Similarity.lshTopKInt8(embeddings, queries, k, dim)

  /** int8 IVF-flat MIPS top-k over the closed-form integer codebook —
    * map-only assignment, partition-prunable bucket probes, exact
    * integer scoring. */
  def topKNeighborsIvfInt8(
      queries: DataFrame, k: Int, dim: Int = 64, c: Int = 16, nProbe: Int = 4): DataFrame =
    Similarity.ivfTopKInt8(embeddings, queries, k, dim, c, nProbe)

  /** Cluster-balanced sample of this directory's embeddings: at most
    * `perList` vectors per k-means bucket in deterministic hash order —
    * the SemDeDup-style diversity selection that stops dense embedding
    * regions dominating a training mix. */
  def clusterBalancedSample(perList: Int, lists: Int = 16, seed: Long = 0L): DataFrame =
    Ivf.balancedSample(embeddings, Ivf.train(embeddings, lists), perList, seed)

  /** Group-balanced sample of this directory's documents: at most
    * `perGroup` rows per distinct `groupCol` value (domain, language,
    * source, ...) in deterministic hash order — the model-free diversity
    * cap, same keep kernel as [[clusterBalancedSample]]. */
  def groupBalancedSample(
      groupCol: String, perGroup: Int, seed: Long = 0L): DataFrame =
    Ivf.balancedSampleBy(documents, groupCol, perGroup, seed, idCol = "doc_id")

  /** Persist an IVF-PQ index over this directory's embeddings: coarse
    * quantizer + product-quantized codes, no vectors stored — the
    * compressed layout for corpora where the embeddings are the dominant
    * bytes. Search with [[searchIndexPq]]. */
  def buildVectorIndexPq(
      path: String, lists: Int = 16, m: Int = 8, k: Int = 256): Unit =
    Pq.writeIndex(embeddings,
      Ivf.train(embeddings, lists), Pq.train(embeddings, m, k), path)

  /** Approximate top-k cosine search over a [[buildVectorIndexPq]] index
    * (partition-pruned coarse probes + ADC scoring over codes). */
  def searchIndexPq(path: String, queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame =
    Pq.topKIndexed(spark, path, queries, k, nProbe)

  /** Two-stage PQ search: ADC overfetch + exact cosine re-rank against
    * this directory's uncompressed embeddings — near-exact quality, the
    * corpus-wide pass still reads only codes. */
  def searchIndexPqReranked(
      path: String, queries: DataFrame, k: Int, nProbe: Int = 4,
      overfetch: Int = 4): DataFrame =
    Pq.topKIndexedReranked(spark, path, queries, embeddings, k, nProbe, overfetch)

  /** Append new vectors to a persisted IVF-PQ index without retraining
    * (assign + encode with the stored models; append == rewrite). Each
    * append records its quantization error against the build-time
    * codebooks — the drift trail [[pqIndexNeedsRebuild]] reads. */
  def appendToVectorIndexPq(path: String, newVectors: DataFrame): Long =
    Pq.appendToIndex(newVectors, path)

  /** Codebook-staleness gate for a [[buildVectorIndexPq]] index: true when
    * appended vectors quantize `maxDrift`× worse than the build corpus did
    * — distribution drift silently degrading ADC recall. Fire =>
    * [[rebuildVectorIndexPq]]. */
  def pqIndexNeedsRebuild(path: String, maxDrift: Double = 2.0): Boolean =
    Pq.needsRebuild(spark, path, maxDrift)

  /** Retrain a PQ index's codebooks over this directory's uncompressed
    * embeddings (the index stores only codes, so the rebuild feeds from
    * the re-rank source of truth) and rewrite it in place; `retrainCoarse`
    * refits the coarse quantizer too. */
  def rebuildVectorIndexPq(
      path: String, iters: Int = 3, retrainCoarse: Boolean = false): Unit =
    Pq.rebuildIndex(embeddings, path, iters, retrainCoarse)

  /** Train an IVF model over this directory's embeddings and persist the
    * index (inverted lists partitioned by bucket + centroid matrix) —
    * train once, search many. */
  def buildVectorIndex(path: String, lists: Int = 16, iters: Int = 3): Unit =
    Ivf.writeIndex(embeddings, Ivf.train(embeddings, lists, iters), path)

  /** [[buildVectorIndex]] with count-driven sizing: lists = n /
    * `targetListSize`, trained hierarchically once the list count outgrows
    * a flat centroid scan ([[Ivf.trainAuto]]) — call this when the corpus
    * size is not known up front. */
  def buildVectorIndexAuto(path: String, targetListSize: Int = 128, iters: Int = 2): Unit =
    Ivf.writeIndex(embeddings, Ivf.trainAuto(embeddings, targetListSize, iters), path)

  /** Top-k cosine search over a persisted index; reads only the probed
    * inverted-list partitions (static partition pruning). */
  def searchIndex(path: String, queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame =
    Ivf.topKIndexed(spark, path, queries, k, nProbe)

  /** Append vectors to a persisted index with the stored model (no retrain);
    * check [[vectorIndexProperties]] / [[Ivf.needsRebuild]] afterwards and
    * [[rebuildVectorIndex]] when the staleness gate fires. */
  def appendToVectorIndex(path: String, newVectors: DataFrame): Long =
    Ivf.appendToIndex(newVectors, path)

  /** GetProperty-style health of a persisted index: rows, growth since
    * training, list imbalance — the inputs to the rebuild decision. */
  def vectorIndexProperties(path: String): Map[String, String] =
    Ivf.indexStats(spark, path)

  /** Retrain a persisted index over its current contents and publish the
    * result as a new GENERATION behind the `_LISTS` pointer — safe beside
    * live searches and a running semantic ingest (readers serve the old
    * generation until the atomic flip; superseded generations sweep after
    * drain via [[gcVectorIndexSegments]]). `branch > 0` retrains
    * hierarchically — the choice when `lists` has grown with the corpus. */
  def rebuildVectorIndex(path: String, lists: Int = 16, iters: Int = 3, branch: Int = 0): Unit =
    Ivf.rebuildIndex(spark, path, lists, iters, branch)

  /** Takedown path for a persisted vector index: tombstone the given ids
    * so search, stats, and the semantic-ingest probe no longer see them (a
    * deleted vector neither surfaces nor suppresses a future
    * near-duplicate); physically reclaimed by [[compactVectorIndex]] or
    * [[rebuildVectorIndex]]. Idempotent; returns distinct ids deleted. */
  def deleteFromVectorIndex(path: String, removedIds: DataFrame): Long =
    Ivf.deleteFromIndex(removedIds, path)

  /** Fold a vector index's streamed segments and tombstones into one flat
    * bucket-partitioned tree (stop-the-world for this index). */
  def compactVectorIndex(path: String): Unit =
    Ivf.compactIndexSegments(spark, path)

  /** Fold a vector index's live streamed segments into one compact segment
    * PER ASSIGNING GENERATION — safe beside a running semantic ingest
    * (atomic fold-marker commit; pass the follow-up sweep to
    * [[gcVectorIndexSegments]] after readers drain). */
  def foldVectorIndexSegments(path: String, gc: Boolean = false): Unit =
    Ivf.foldIndexSegments(spark, path, gc)

  /** Sweep a vector index's folded/absorbed segment directories and
    * superseded generations once readers have drained. Returns every
    * directory removed. */
  def gcVectorIndexSegments(path: String): Long =
    Ivf.gcIndexSegments(spark, path)

  /** Token-budget curation: per-language greedy fill of the best documents
    * (by the built-in quality heuristic) until `budgetTokens` — the
    * "assemble an N-token training mix" selection, prefiltered so no
    * stratum ever sorts more than ~2x the budget regardless of corpus
    * size. */
  def tokenBudget(budgetTokens: Long, strataCol: String = "lang"): DataFrame =
    operators.Curation.tokenBudget(
      documents, budgetTokens,
      score = graft.functions.TextOps.qualityScore(org.apache.spark.sql.functions.col("text")),
      strataCol = strataCol)

  /** Deterministic stratified sample of this directory's documents —
    * reproducible hash-threshold membership, nested across rates (a pilot
    * sample is a subset of the full-rate sample), map-side only. */
  def sampleDocuments(
      rates: Map[String, Double], defaultRate: Double = 0.0, seed: Long = 0L): DataFrame =
    operators.Curation.stratifiedSample(documents, rates, defaultRate, seed)

  /** PII scrubbing of this directory's documents: sequential email / IPv4 /
    * phone redaction with per-pass counts (map-only, codegen'd). */
  def redactDocuments(token: String = "[PII]"): DataFrame =
    operators.Curation.redact(documents, token = token)

  /** The end-to-end curation pipeline over this directory's documents:
    * quality filter → PII redact → exact dedup → near-dup collapse →
    * optional decontamination → optional token budget, optionally
    * materialized as training shards. Returns (curated corpus, per-stage
    * funnel). The corpus is a checkpoint: inside a `graft.core.Stage.scope`
    * it is freed when the scope ends unless the scope returns it; outside
    * one, free it with `graft.core.Stage.free` when done. */
  def curatePipeline(
      rules: Seq[(String, org.apache.spark.sql.Column)] =
        operators.Curation.defaultQualityRules(),
      benchmark: Option[DataFrame] = None,
      nearDupThreshold: Double = 0.7,
      fuzzyThreshold: Option[Double] = None,
      dsirTarget: Option[DataFrame] = None,
      dsirSampleSize: Option[Int] = None,
      budgetTokens: Option[Long] = None,
      shardsDir: Option[String] = None,
      numShards: Int = 64,
      seed: Long = 0L): (DataFrame, DataFrame) =
    operators.Curation.curationPipeline(
      documents, rules, benchmark, nearDupThreshold,
      fuzzyThreshold = fuzzyThreshold,
      dsirTarget = dsirTarget, dsirSampleSize = dsirSampleSize,
      budgetTokens = budgetTokens,
      shardsDir = shardsDir, numShards = numShards, seed = seed)

  /** Benchmark decontamination: per-document distinct word n-gram overlap
    * of this directory's documents against an eval-set `benchmark` frame,
    * with a `contaminated` flag at `minOverlap`. The benchmark side
    * broadcasts as a distinct n-gram-hash set; the corpus is never
    * shuffled. Overlap counts are hash-based (exact w.h.p., ~|ngrams|²/2⁶⁵
    * collision odds). */
  def decontaminate(benchmark: DataFrame, n: Int = 4, minOverlap: Long = 1L): DataFrame =
    operators.Curation.decontaminate(documents, benchmark, n, minOverlap)

  /** FUZZY benchmark decontamination: MinHash/LSH banding of this
    * directory's documents ACROSS the corpus/benchmark boundary, catching
    * paraphrased/truncated eval leaks the exact n-gram check misses. One
    * (doc_id, n_matches, max_jaccard, contaminated) row per document; the
    * benchmark side broadcasts, the corpus never shuffles. */
  def decontaminateFuzzy(benchmark: DataFrame, threshold: Double = 0.7): DataFrame =
    operators.Curation.decontaminateFuzzy(documents, benchmark, threshold)

  /** Intra-document repetition stats (duplicate token/2-gram/3-gram
    * fractions + repetitive flag) over this directory's documents —
    * map-only, codegen'd. */
  def repetitionStats(maxDup2gramFrac: Double = 0.5): DataFrame =
    operators.Curation.repetitionStats(documents, maxDup2gramFrac = maxDup2gramFrac)

  /** Ordered quality filter chain over this directory's documents: each doc
    * labeled with the first violated rule (funnel accounting), `keep` = 1
    * iff it passes all. Pair with [[operators.Curation.filterReport]] for
    * per-rule drop counts. */
  def filterDocuments(rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    operators.Curation.filterChain(documents, rules)

  /** Deterministic training-shard order for this directory's documents:
    * shard + in-shard position as a pure function of (doc_id, seed) — a
    * reproducible global example shuffle with one slim exchange. */
  def trainingOrder(numShards: Int, seed: Long = 0L): DataFrame =
    operators.Curation.trainingOrder(documents, numShards, seed)

  /** Top-k token frequency table over this directory's documents (the
    * tokenizer-training seed; one partial-agg count + TakeOrdered). */
  def vocabulary(k: Int = 100): DataFrame =
    operators.Curation.vocabulary(documents, k)

  /** CCNet-style LM-perplexity quality scores for this directory's
    * documents under a stupid-backoff bigram model trained on `reference`
    * (defaults to the documents themselves): one (doc_id, n_tokens, ppl)
    * row per document. Low perplexity ≈ reference-like text; the model is
    * pruned to broadcast size, so scoring never shuffles the corpus. */
  def perplexityScores(
      reference: Option[DataFrame] = None,
      maxVocab: Int = 100000,
      maxBigrams: Int = 1000000,
      tokenizer: functions.Tokenizer = functions.Tokenizer.Whitespace): DataFrame = {
    val lm = operators.Curation.trainNgramLm(
      reference.getOrElse(documents), maxVocab, maxBigrams, tokenizer = tokenizer)
    operators.Curation.perplexity(documents, lm)
  }

  /** Naive-Bayes "reference-like" quality scores for this directory's
    * documents: train by pure counting on a labeled split (`positive` =
    * curated reference docs, `negative` = raw docs — the GPT-3/LLaMA
    * quality-classifier pattern), then score every document map-only
    * against the broadcast log-likelihood-ratio table. One
    * (doc_id, n_tokens, nb_logodds, is_quality) row per document. */
  def qualityClassifierScores(
      positive: DataFrame,
      negative: DataFrame,
      maxVocab: Int = 100000,
      tokenizer: functions.Tokenizer = functions.Tokenizer.Whitespace): DataFrame = {
    val nb = operators.Curation.trainQualityClassifier(
      positive, negative, maxVocab, tokenizer = tokenizer)
    operators.Curation.classifierScore(documents, nb)
  }

  /** DSIR importance weights for this directory's documents against a
    * `target` reference frame (hashed-bigram bucket models, broadcast
    * scoring): one (doc_id, n_grams, log_weight) row per document. */
  def dsirWeights(target: DataFrame, buckets: Int = 10007): DataFrame = {
    val m = operators.Curation.trainDsir(target, documents, buckets)
    operators.Curation.dsirScore(documents, m)
  }

  /** DSIR importance RESAMPLING: a reproducible `sampleSize`-document data
    * mix drawn from this directory's documents, tilted toward `target` by
    * the importance weights via deterministic Gumbel-top-k. */
  def dsirSelect(
      target: DataFrame, sampleSize: Int, seed: Long = 0L,
      buckets: Int = 10007): DataFrame = {
    val m = operators.Curation.trainDsir(target, documents, buckets)
    operators.Curation.dsirResample(documents, m, sampleSize, seed)
  }

  /** Batch BM25 keyword retrieval over this directory's documents:
    * (query_id, doc_id, rank, score) hits for a (query_id, query_text)
    * frame — ad-hoc corpus inspection without an external search cluster.
    * The query-term set broadcasts; the corpus never sort-merges. */
  def searchDocuments(queries: DataFrame, topK: Int = 10): DataFrame =
    operators.Search.bm25(documents, queries, topK)

  /** Hybrid keyword + dense retrieval over this directory: BM25 ranks and
    * exact cosine ranks fused by reciprocal-rank fusion
    * ([[operators.Search.hybridTopK]]). `queries` carries (query_id,
    * query_text, query_vec).
    *
    * SCALE NOTE — the dense side here is BRUTE-FORCE exact cosine over
    * every stored embedding: right for the convenience API at query-batch
    * sizes, WRONG as the corpus grows (the dense scan is O(corpus) per
    * batch). At corpus scale swap in an index-backed dense ranking —
    * rankings are the interchange format precisely so the dense
    * implementation can change without touching fusion:
    * {{{
    * val dense = searchIndexPq(pqPath, queries
    *     .select(col("query_id").as("vec_id"), col("query_vec").as("embedding")), k = 50)
    *   .select(col("q_id").as("query_id"), col("n_id").as("doc_id"), col("rank"))
    * val kw = searchDocumentsIndexed(textIdxPath, queries, topK = 50)
    *   .select(col("query_id"), col("doc_id"), col("rank"))
    * operators.Search.fuseRankings(Seq(kw, dense), topK = 10)
    * }}}
    * SearchSpec's IVF-PQ fusion case pins that the swap preserves the
    * fused contract. */
  def hybridSearch(queries: DataFrame, topK: Int = 10, fetchK: Int = 50): DataFrame =
    operators.Search.hybridTopK(documents, embeddings, queries, topK, fetchK)

  /** Persist an inverted text index (postings partitioned by term-hash
    * bucket) for [[searchDocumentsIndexed]] — tokenize once, search many. */
  def buildTextIndex(path: String, buckets: Int = 64): Unit =
    operators.Search.buildTextIndex(documents, path, buckets)

  /** BM25 over a persisted text index: identical results to
    * [[searchDocuments]], reading only the query terms' posting buckets. */
  def searchDocumentsIndexed(path: String, queries: DataFrame, topK: Int = 10): DataFrame =
    operators.Search.bm25Indexed(spark, path, queries, topK)

  /** Append new documents to a persisted text index (search after append
    * == full rebuild; no staleness gate needed). */
  def appendToTextIndex(newDocs: DataFrame, path: String): Long =
    operators.Search.appendToTextIndex(newDocs, path)

  /** Retract documents from a persisted text index by id (search after
    * delete == rebuild without them; reclaim via [[compactTextIndex]]). */
  def deleteFromTextIndex(removedIds: DataFrame, path: String): Long =
    operators.Search.deleteFromTextIndex(removedIds, path)

  /** Physically reclaim tombstoned postings and fold streamed segments
    * (stop-the-world, idempotent); grows the bucket count when the live
    * postings have outgrown it. */
  def compactTextIndex(path: String): Unit =
    operators.Search.compactTextIndex(spark, path)

  /** Fold streamed postings segments into one compact segment and grow
    * the base bucket count when outgrown — safe BESIDE a live
    * [[ingestSearchable]] (the [[foldDocSegments]] contract: pass
    * `gc = false` beside a live ingest, then [[gcTextIndex]] after the
    * per-batch readers drain). */
  def foldTextSegments(path: String, gc: Boolean = true): Unit =
    operators.Search.foldTextSegments(spark, path, gc)

  /** Delete a text index's folded segment directories, spent fold
    * markers, and superseded base generations (run after readers drain).
    * Returns every directory removed. */
  def gcTextIndex(path: String): Long =
    operators.Search.gcTextIndex(spark, path)

  /** GetProperty-style health of a persisted text index. */
  def textIndexProperties(path: String): Map[String, String] =
    operators.Search.textIndexStats(spark, path)

  /** Streaming searchable-on-write: each micro-batch of `sourceDir` lands
    * as a replay-idempotent postings segment of the text index at
    * `indexPath` — [[searchDocumentsIndexed]] sees every ingested document
    * immediately, with exactly the stats a batch rebuild would produce. */
  def ingestSearchable(
      sourceDir: String,
      schema: org.apache.spark.sql.types.StructType,
      indexPath: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] =
        Some(streaming.Ingest.DefaultMaxFilesPerTrigger)): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.Ingest.startTextIndexIngest(
      spark, sourceDir, schema, indexPath, checkpointDir,
      maxFilesPerTrigger = maxFilesPerTrigger)

  /** A trained-classifier quality gate as a [[filterDocuments]] /
    * curated-ingest RULE (violated = classified junk): the
    * model-filter-at-ingest pattern, verdicts identical to
    * [[qualityClassifierScores]] by construction WHEN TRAINED AT THE SAME
    * `maxVocab` — the default here is deliberately smaller than the
    * scoring operator's 100k (a 10k-term model can disagree with the 100k
    * one on documents whose decisive terms fall outside the top 10k), so
    * pass `maxVocab = 100000` when verdict parity with default
    * [[qualityClassifierScores]] matters. The llr table rides the rule
    * Column as a LITERAL map serialized into every micro-batch plan, which
    * is why the default trades vocabulary for per-trigger plan size. */
  def qualityClassifierRule(
      positive: DataFrame, negative: DataFrame,
      maxVocab: Int = 10000): (String, org.apache.spark.sql.Column) =
    operators.Curation.classifierRule(
      operators.Curation.trainQualityClassifier(positive, negative, maxVocab))

  /** Multimodal feature extraction over a binary payload column. */
  def mediaFeatures(withPayload: DataFrame): DataFrame = Multimodal.extractFeatures(withPayload)

  /** Content-level image near-dup pairs over a binary payload column:
    * pure-JVM pixel decode, perceptual dHash, guaranteed-recall banded
    * Hamming search. Feed into [[Dedup.collapseDuplicates]] like the text
    * dedup families. */
  def imageDupPairs(withPayload: DataFrame, maxHamming: Int = 10): DataFrame =
    Multimodal.imageDupPairs(Multimodal.imageHashes(withPayload), maxHamming)

  /** Content-level audio near-dup pairs over a binary payload column: PCM
    * decode, energy-delta fingerprint (gain- and sample-width-invariant),
    * guaranteed-recall banded Hamming search. */
  def audioDupPairs(withPayload: DataFrame, maxHamming: Int = 10): DataFrame =
    Multimodal.audioDupPairs(Multimodal.audioHashes(withPayload), maxHamming)

  /** Fixed-shape grayscale tensors from a binary image payload column —
    * decode + box-average resize to `width x height`, [0,1] floats
    * ([[Multimodal.resizeImages]]): the image-tower input step of a
    * multimodal training pipeline. */
  def imageTensors(withPayload: DataFrame, width: Int = 32, height: Int = 32): DataFrame =
    Multimodal.resizeImages(withPayload, width, height)

  /** The DECODE MATRIX of a payload corpus, per format: rows, content-
    * decodable rows, and the ratio — the measurement that turns "formats
    * the engine can't decode silently skip content dedup" into a number.
    * Image content decode covers PNG, BMP, JPEG (baseline + progressive),
    * GIF (first frame), and lossless WebP (VP8L, all four transforms);
    * audio covers PCM, G.711 and IMA-ADPCM WAV, FLAC and AIFF. Everything
    * else (lossy-VP8 WebP, MP3/AAC, float WAV, arithmetic
    * or 12-bit JPEG, palette/interlaced PNG) reports `decodable = false`
    * and skips dedup; watch the ratio before trusting a corpus's dedup
    * coverage. Per-row form: [[Multimodal.decodeStatus]]. */
  def decodeStats(withPayload: DataFrame): DataFrame =
    Multimodal.decodeStats(withPayload)

  /** Content-level VIDEO near-dup pairs over an MJPEG-AVI payload column:
    * stride-sampled frame decode (bounded work per clip however long),
    * per-frame perceptual dHash — a temporal fingerprint — and a
    * slot-aligned banded Hamming search with a match-ratio verify
    * ([[Multimodal.videoDupPairs]]). MJPEG is the one codec a pure-JVM
    * engine honestly decodes; H.264/VP9/AV1 clips report undecodable in
    * [[decodeStats]] instead of silently skipping. */
  def videoDupPairs(
      withPayload: DataFrame, maxHamming: Int = 10,
      minMatchRatio: Double = 0.6): DataFrame =
    Multimodal.videoDupPairs(
      Multimodal.videoHashes(withPayload), maxHamming, minMatchRatio)

  /** Streaming IMAGE dedup-on-write: perceptual-hash each micro-batch's
    * payloads, drop content near-duplicates of anything already landed,
    * fold survivors' signatures into the persisted store. Build the store
    * first ([[Dedup.writeSignatureIndex]] over
    * [[Multimodal.imageSignatures]] of an initial corpus — possibly
    * empty). */
  def ingestImageDedup(
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      indexPath: String,
      maxHamming: Int = 10,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(Ingest.DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    Ingest.startSignatureIngest(
      spark, sourceDir, schema, sinkDir, checkpointDir, indexPath,
      Multimodal.imageSignatures(_), maxHamming,
      availableNow = availableNow, maxFilesPerTrigger = maxFilesPerTrigger,
      triggerInterval = triggerInterval)

  /** Streaming AUDIO dedup-on-write — [[ingestImageDedup]] with the
    * energy-delta audio fingerprint as the signature family. */
  def ingestAudioDedup(
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      indexPath: String,
      maxHamming: Int = 10,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(Ingest.DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    Ingest.startSignatureIngest(
      spark, sourceDir, schema, sinkDir, checkpointDir, indexPath,
      Multimodal.audioSignatures(_), maxHamming,
      availableNow = availableNow, maxFilesPerTrigger = maxFilesPerTrigger,
      triggerInterval = triggerInterval)

  /** Persist a VIDEO slot store over an MJPEG-AVI payload corpus — the
    * clip analogue of [[buildSignatureIndex]]: per-slot temporal
    * fingerprints under slot-encoded ids, so the index inherits the full
    * generic signature-store lifecycle (segments, fold/GC, tombstones,
    * compaction, auto band-bucketing) verbatim
    * ([[Multimodal.writeVideoIndex]]). */
  def buildVideoIndex(
      withPayload: DataFrame, path: String,
      maxHamming: Int = 10, maxFrames: Int = 8,
      sigBuckets: Int = Dedup.AutoBuckets): Unit = {
    require(maxFrames <= Multimodal.VideoSlotCap,
      s"maxFrames must fit the slot encoding (<= ${Multimodal.VideoSlotCap})")
    Multimodal.writeVideoIndex(
      Multimodal.videoHashes(withPayload, maxFrames), path,
      maxHamming = maxHamming, sigBuckets = sigBuckets)
  }

  /** Per-clip video near-dup pairs TOUCHING a new batch of payloads,
    * against a persisted slot store — [[videoDupPairs]] across the index
    * boundary ([[Multimodal.videoIncremental]]): batch-vs-corpus and
    * batch-vs-batch, with only the batch decoded. */
  def videoDupPairsIncremental(
      withPayload: DataFrame, path: String,
      maxHamming: Int = 10, minMatchRatio: Double = 0.6,
      maxFrames: Int = 8): DataFrame = {
    require(maxFrames <= Multimodal.VideoSlotCap,
      s"maxFrames must fit the slot encoding (<= ${Multimodal.VideoSlotCap})")
    Multimodal.videoIncremental(
      Multimodal.videoHashes(withPayload, maxFrames), path,
      maxHamming, minMatchRatio)
  }

  /** Decode a batch and append its slot rows to a persisted video index.
    * Returns slot rows appended. */
  def appendToVideoIndex(
      withPayload: DataFrame, path: String, maxFrames: Int = 8): Long = {
    require(maxFrames <= Multimodal.VideoSlotCap,
      s"maxFrames must fit the slot encoding (<= ${Multimodal.VideoSlotCap})")
    Multimodal.appendToVideoIndex(
      Multimodal.videoHashes(withPayload, maxFrames), path)
  }

  /** Takedown clips from a persisted video index by clip id
    * ([[Multimodal.deleteVideoFromIndex]]). Returns clips tombstoned. */
  def deleteVideoFromIndex(removedClipIds: DataFrame, path: String): Long =
    Multimodal.deleteVideoFromIndex(removedClipIds, path)

  /** Streaming VIDEO dedup-on-write — [[ingestImageDedup]] for clip
    * corpora: per-slot temporal fingerprints probed per clip (slot-
    * aligned match ratio), first-arrived keeps, survivors' slot rows
    * folded into the persisted store
    * ([[graft.streaming.Ingest.startVideoIngest]]). */
  def ingestVideoDedup(
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      indexPath: String,
      maxHamming: Int = 10,
      minMatchRatio: Double = 0.6,
      maxFrames: Int = 8,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = Some(Ingest.DefaultMaxFilesPerTrigger),
      triggerInterval: String = "1 second"): StreamingQuery =
    Ingest.startVideoIngest(
      spark, sourceDir, schema, sinkDir, checkpointDir, indexPath,
      maxHamming, minMatchRatio, maxFrames,
      availableNow = availableNow, maxFilesPerTrigger = maxFilesPerTrigger,
      triggerInterval = triggerInterval)
}

object Graft {
  /** The case-class-like construction form, without the case-class
    * copy/equals that would break the snapshot registry (see the class
    * note). */
  def apply(spark: SparkSession, dir: String): Graft = new Graft(spark, dir)

  /** Build a correctly-configured local engine session (UTC, nanos parquet,
    * AQE, graft extensions). */
  def local(cores: Int, dir: String): Graft =
    Graft(GraftSession.local(cores), dir)
}
