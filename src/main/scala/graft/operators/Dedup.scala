package graft.operators

import graft.core.{Parquet, SegmentLog, Stage}
import graft.functions.TextOps
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deduplication operators for large-scale document corpora.
  *
  * Scale notes (100 TB):
  *   - exact dedup is one hash aggregation — fully shuffle-parallel;
  *   - MinHash-LSH replaces the O(n^2) pair scan with an equi-join on band
  *     buckets: cost is O(n * bands) rows through one shuffle, candidates are
  *     verified with exact Jaccard only within buckets;
  *   - SimHash pairs band on multi-index pigeonhole block COMBINATIONS
  *     (maxHamming+q blocks, join on q-block combos): every pair within the
  *     Hamming budget shares at least one all-clean combo, so candidate
  *     generation provably misses nothing — while the wider composite keys
  *     keep bucket sizes (and thus candidate pairs) sub-quadratic on
  *     low-entropy corpora.
  */
object Dedup {

  /** The dedup group key: a hash of the normalized text. NULL text
    * normalizes to the empty string (a null-unsafe join key would silently
    * DROP null-text docs, breaking the one-row-per-doc contract).
    *
    * The group/join key is `xxhash64` of the normalized text, NOT the text
    * itself: both shuffles (the aggregation and the join-back) would
    * otherwise sort/hash full document bodies — at corpus scale that is the
    * difference between shuffling (id, 8-byte key) rows and shuffling the
    * corpus twice. Grouping by the 64-bit hash equals grouping by the text
    * w.h.p. (collision odds ~N²/2⁶⁵ — below 1e-3 even at 10⁸ distinct texts;
    * `wideKey = true` swaps in SHA-256, whose collision odds are
    * cryptographically negligible at ANY corpus size, for 4x the shuffle-key
    * bytes — 32 raw bytes vs 8). The normalized text itself never leaves the
    * map side on either path. */
  private def groupKey(textCol: String, wideKey: Boolean) = {
    val normText = TextOps.normalized(coalesce(col(textCol), lit("")))
    if (wideKey) unhex(sha2(normText.cast("binary"), 256)) else xxhash64(normText)
  }

  /** Exact dedup on normalized text: keep the smallest doc_id per group.
    * Output: one row per input doc, with the id of the kept representative
    * and the group size (group_size == 1 => unique). Key semantics, null
    * handling, and the `wideKey` trade-off are documented on [[groupKey]]
    * above; both shuffles carry (id, key) only — the text never leaves the
    * map side. */
  def exact(
      documents: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      wideKey: Boolean = false): DataFrame = Stage.scope { s =>
    val norm = s(documents
      .withColumn("_k", groupKey(textCol, wideKey))
      .select(col(idCol), col("_k")))
    val groups = norm
      .groupBy(col("_k"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))
    norm
      .join(groups, "_k")
      .select(col(idCol), col("keep_id"), col("group_size"), (col(idCol) === col("keep_id")).as("is_kept"))
  }

  // ---- incremental exact dedup: persisted corpus index ---------------------
  //
  // A daily-ingest pipeline must not re-hash yesterday's corpus to dedup
  // today's batch. The index is an APPEND LOG of per-segment dedup groups
  // (_k, keep_id, group_size, _seq) — writes only ever add a new segment
  // directory, and the read view merges segments with one aggregation (min
  // keep, summed counts). This is the engine's changelog pattern applied to
  // its own index: cheap L0-style appends, a merge on read, and an explicit
  // compaction that folds segments back into one — the same shape as the
  // reference's memtable/SSTable split (kv/db/db_impl.cpp:608-644).
  //
  // CONTRACT (id monotonicity): document ids in an appended batch must sort
  // after every id already indexed — the natural property of an appending
  // pipeline, and the same assumption the changelog's sequence numbers make.
  // Under it, `exactIncremental` over a batch equals `exact` over
  // (corpus UNION batch) restricted to the batch's rows (DedupIncrementalSpec
  // proves the equality), because the corpus representative of any shared
  // group is also the union-wide minimum.
  //
  // SEGMENTS: `keys/` (additions) and `tombs/` (key tombstones, see
  // [[deleteFromExactIndex]]) under the [[graft.core.SegmentLog]] protocol,
  // committed by the `_SEQ` sidecar. Rows carry their segment's sequence
  // number `_seq`, which totally orders segments (next = max live + 1) and
  // implements the reference's newest-wins rule (O20,
  // kv/db/dbformat.h:49-53) for deletions: a tombstone kills every addition
  // of its key with `_seq <= tombstone._seq`; later re-additions outrank it.
  // A compacted segment carries the max seq of what it folded, so the order
  // survives folds.

  /** Max distinct batch keys the micro probe turns into a literal
    * parquet-pushed IN filter (row-group skipping via stats + blooms);
    * beyond it the probe falls back to the broadcast semi-join. Must stay
    * <= the session's `spark.sql.parquet.pushdown.inFilterThreshold`
    * (GraftSession pins 1024) or the pushed filter degrades to a useless
    * [min,max] range over uniform hash keys.
    *
    * STACK BOUND: Spark translates a pushed In to a LEFT-DEEP
    * `FilterApi.or` chain (one node per value), and parquet-mr evaluates
    * it with a recursive visitor — depth == value count. A ~2,500-value
    * probe overflows a default 1 MiB task-thread stack (measured: q27e at
    * sf0.1, StackOverflowError inside the row-group filter under the
    * codegen'd scan). 1024 leaves >2x headroom while still covering the
    * micro-batch sizes the probe exists for; larger batches take the
    * broadcast semi-join, which is the scale path anyway. */
  private[graft] val MaxInProbe = 1024

  /** Writer options for doc-row stores (MinHash (doc, sh, sig) rows): an
    * id bloom filter plus SMALL row groups (~2 MB vs the 128 MB default),
    * so the micro verify's pushed-In candidate filter skips row groups at
    * candidate granularity — the rows are ~1 KB heavyweights (512-byte
    * signatures + shingle arrays), and a 128 MB group would make every
    * pushed filter read most of the store anyway. Paired with the
    * sorted-by-id layout every doc-row write path maintains. */
  private def docRowOptions(idCol: String): Map[String, String] =
    graft.core.Maintenance.bloomOptions(Seq(idCol)) +
      ("parquet.block.size" -> (2 << 20).toString)

  private def snapshot(spark: SparkSession, path: String): SegmentLog.Snapshot =
    SegmentLog.Sequenced.live(SegmentLog.fs(spark, path), new Path(path))

  private def nextSeq(spark: SparkSession, path: String): Long =
    snapshot(spark, path).maxSeq + 1

  /** Write one committed segment: parquet rows stamped with `_seq`, then the
    * commit mark published atomically LAST. */
  private def writeSegment(df: DataFrame, dir: String, seq: Long): Unit = {
    df.withColumn("_seq", lit(seq))
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#_k", "true")
      .parquet(dir)
    SegmentLog.commitSeq(SegmentLog.fs(df.sparkSession, dir), new Path(dir), seq)
  }

  /** Build an exact-dedup corpus index at `path`: one row per distinct
    * normalized-text key with its canonical representative and group size,
    * written as the first segment (`keys/base`, seq 0) of the append log.
    * The key column carries a parquet bloom filter so point probes ("have I
    * seen this doc?") skip row groups. `wideKey` picks the SHA-256 key;
    * incremental reads infer the key kind from the stored schema, so
    * callers cannot mismatch. */
  def writeExactIndex(
      documents: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      wideKey: Boolean = false): Unit = {
    val spark = documents.sparkSession
    SegmentLog.fs(spark, path).delete(new Path(path), true) // rebuild = fresh index
    writeSegment(segmentGroups(documents, idCol, textCol, wideKey), s"$path/keys/base", 0L)
  }

  /** One segment of the index: the batch's own dedup groups, keyed and
    * sorted so each parquet file covers a tight key range (row-group
    * min/max + bloom make absent-key probes IO-free). */
  private def segmentGroups(
      documents: DataFrame, idCol: String, textCol: String, wideKey: Boolean): DataFrame =
    documents
      .withColumn("_k", groupKey(textCol, wideKey))
      .groupBy(col("_k"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))
      .sortWithinPartitions("_k")

  /** The merged view over an explicit segment snapshot: tombstones applied
    * newest-wins (an addition survives iff no tombstone of its key has
    * `_seq >= _seq(addition)`), then min representative + summed count per
    * key. One aggregation over slim (key, id, count) rows — never the
    * corpus text; the tombstone side is takedown-sized and broadcasts.
    *
    * `restrictTo` (a frame with a `_k` column) pre-filters the key log
    * before the aggregation — the micro-batch probe shape. Up to
    * [[MaxInProbe]] distinct keys it becomes a LITERAL IN filter (a
    * batch-bounded driver collect): pushed to parquet and evaluated
    * against each row group's min/max stats AND the `_k` bloom filter
    * every segment write enables, so with the sorted-within-partition
    * key layout the scan SKIPS row groups holding none of the batch's
    * keys — per-trigger probe IO tracks the batch, not the key log.
    * Larger batches fall back to the broadcast semi-join (map-side scan
    * of the whole log, batch-sized shuffle). Semantics-preserving for
    * any downstream join ON those keys either way. */
  /** Restrict a key log to a probe batch's keys — up to [[MaxInProbe]]
    * distinct keys as a LITERAL IN (pushed to parquet: row-group min/max +
    * the `_k` bloom filter skip groups holding none of them), larger
    * batches as a broadcast semi-join (map-side scan, batch-sized
    * shuffle). Shared by every keyed store probe here. */
  private def restrictKeys(adds0: DataFrame, keys: DataFrame): DataFrame = {
    val vals = keys.select("_k").distinct().limit(MaxInProbe + 1)
      .collect().map(_.get(0)).toIndexedSeq
    if (vals.isEmpty) adds0.filter(lit(false))
    else if (vals.length <= MaxInProbe) adds0.filter(col("_k").isin(vals: _*))
    else adds0.join(broadcast(keys.select("_k").distinct()), Seq("_k"), "left_semi")
  }

  private def mergeView(
      spark: SparkSession, s: SegmentLog.Snapshot,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    require(s.paths("keys").nonEmpty, "no committed index key segments")
    val adds0 = Parquet.read(spark, s.paths("keys"): _*)
    val adds = restrictTo.fold(adds0)(restrictKeys(adds0, _))
    val alive =
      if (s.paths("tombs").isEmpty) adds
      else {
        val del = Parquet.read(spark, s.paths("tombs"): _*)
          .groupBy("_k").agg(max("_seq").as("_del_seq"))
        adds.join(broadcast(del), Seq("_k"), "left")
          .filter(col("_del_seq").isNull || col("_seq") > col("_del_seq"))
          .drop("_del_seq")
      }
    alive
      .groupBy("_k")
      .agg(min("keep_id").as("keep_id"), sum("group_size").as("group_size"))
  }

  /** The merged read view of an index: min representative + summed count
    * per key across all live appended segments, with key tombstones applied
    * newest-wins (see [[deleteFromExactIndex]]). */
  def readExactIndex(spark: SparkSession, path: String): DataFrame =
    mergeView(spark, snapshot(spark, path))

  /** Append a batch's groups as a NAMED segment with overwrite semantics —
    * the exactly-once form of [[appendToExactIndex]] for replayable
    * writers (streaming foreachBatch): a crash-replayed batch rewrites the
    * SAME segment instead of appending a duplicate, so the merged view is
    * replay-idempotent. A replay also REUSES the segment's original
    * sequence number, so a deletion issued between the crash and the replay
    * still outranks the replayed rows. */
  /** The shared named-segment replay protocol: a replayed segment REUSES
    * its original `_SEQ` (so a deletion issued between the crash and the
    * replay still outranks the replayed rows), a fresh one takes one past
    * the snapshot's max live seq. One definition, or the stores'
    * exactly-once invariants could diverge. */
  private def replaySegmentSeq(
      spark: SparkSession, indexPath: String, dir: String, s: SegmentLog.Snapshot): Long =
    SegmentLog.readSeq(SegmentLog.fs(spark, indexPath), new Path(dir))
      .getOrElse(s.maxSeq + 1)

  def writeExactIndexSegment(
      batchDocs: DataFrame,
      indexPath: String,
      segment: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    SegmentLog.requireName(segment)
    val spark = batchDocs.sparkSession
    val dir = s"$indexPath/keys/$segment"
    // ONE snapshot serves both the next-seq derivation and the key-width
    // probe: this runs once per streaming trigger, and each snapshot is a
    // full marker + segment-dir listing against the store — on an object
    // store the duplicate listings were the dominant per-trigger driver
    // latency
    val s = snapshot(spark, indexPath)
    val seq = replaySegmentSeq(spark, indexPath, dir, s)
    writeSegment(
      segmentGroups(batchDocs, idCol, textCol, snapshotIsWide(spark, indexPath, s)), dir, seq)
  }

  /** Whether a persisted index was built with the SHA-256 wide key. */
  private def indexIsWide(spark: SparkSession, path: String): Boolean =
    snapshotIsWide(spark, path, snapshot(spark, path))

  private def snapshotIsWide(spark: SparkSession, path: String, s: SegmentLog.Snapshot): Boolean = {
    require(s.paths("keys").nonEmpty, s"no committed index key segments under $path")
    Parquet.read(spark, s.paths("keys").head)
      .schema("_k").dataType == org.apache.spark.sql.types.BinaryType
  }

  /** Dedup a new batch against a persisted corpus index WITHOUT touching
    * the corpus text: hash the batch once, aggregate its own groups, and
    * left-join the slim group keys against the merged index. Output matches
    * [[exact]] over (corpus UNION batch) restricted to batch rows:
    * `keep_id` is the corpus representative when the key is already
    * indexed, else the batch's own minimum id; `group_size` counts both
    * sides; `is_kept` marks the first occurrence ANYWHERE — exactly the
    * rows a training pipeline keeps from today's crawl. */
  def exactIncremental(
      newDocs: DataFrame,
      indexPath: String,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = Stage.scope { s =>
    // the slim (id, _k) projection, keyed to match the index's key width
    val batch = s(newDocs
      .withColumn("_k", groupKey(textCol, indexIsWide(newDocs.sparkSession, indexPath)))
      .select(col(idCol), col("_k")))
    val batchGroups = batch
      .groupBy(col("_k"))
      .agg(min(col(idCol)).as("b_keep"), count(lit(1)).as("b_n"))
    // the index side is RESTRICTED to the batch's keys before its merge
    // aggregation (broadcast semi-join): the key log is scanned map-side
    // and the per-trigger shuffle is batch-sized, not index-sized
    val merged = batchGroups
      .join(
        mergeView(batch.sparkSession, snapshot(batch.sparkSession, indexPath),
          restrictTo = Some(batch))
          .withColumnRenamed("keep_id", "c_keep").withColumnRenamed("group_size", "c_n"),
        Seq("_k"), "left")
      .select(
        col("_k"),
        coalesce(col("c_keep"), col("b_keep")).as("keep_id"),
        (col("b_n") + coalesce(col("c_n"), lit(0L))).as("group_size"))
    batch
      .join(merged, "_k")
      .select(col(idCol), col("keep_id"), col("group_size"),
        (col(idCol) === col("keep_id")).as("is_kept"))
  }

  /** Append a batch's groups to the index as a new segment (no read-back,
    * no rewrite — the L0-append path). The read view's min/sum merge makes
    * the result identical to rebuilding the index over the union, under the
    * id-monotonicity contract. Returns the number of distinct keys in the
    * appended segment. */
  def appendToExactIndex(
      newDocs: DataFrame,
      indexPath: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Long = {
    val spark = newDocs.sparkSession
    val seq = nextSeq(spark, indexPath)
    Stage.scope { s =>
      // count + write from one materialization
      val seg = s(segmentGroups(newDocs, idCol, textCol, indexIsWide(spark, indexPath)))
      writeSegment(seg,
        f"$indexPath/keys/seg_$seq%06d_${java.util.UUID.randomUUID().toString.take(8)}", seq)
      seg.count()
    }
  }

  /** Retract CONTENT from a persisted exact-dedup index — the takedown /
    * opt-out path: tombstone the dedup keys of `removedDocs`, so the merged
    * view forgets those groups and a LATER batch carrying the same text is
    * treated as fresh (its own minimum id becomes the representative)
    * instead of resolving to a representative that no longer exists.
    *
    * Deletion is by KEY (normalized text), not by id: the index stores one
    * (key, representative, count) row per group — member ids are not
    * recorded — and takedown semantics are content-level anyway (the text
    * must go, wherever it appears; pass the removed documents themselves).
    * Tombstones apply newest-wins by segment sequence (the reference's O20
    * rule, kv/db/dbformat.h:49-53): additions appended AFTER the tombstone
    * outrank it, so re-admitted content re-enters the index naturally.
    * Tombstone segments are folded away (GC'd) by [[compactExactIndex]].
    * Returns the number of distinct keys tombstoned. */
  def deleteFromExactIndex(
      removedDocs: DataFrame,
      indexPath: String,
      textCol: String = "text"): Long = {
    val spark = removedDocs.sparkSession
    val seq = nextSeq(spark, indexPath)
    Stage.scope { s =>
      val keys = s(removedDocs
        .select(groupKey(textCol, indexIsWide(spark, indexPath)).as("_k"))
        .distinct()
        .sortWithinPartitions("_k"))
      writeSegment(keys, f"$indexPath/tombs/del_$seq%06d", seq)
      keys.count()
    }
  }

  /** Fold all live segments (and tombstones) into one — the index's
    * compaction. The merged view is unchanged (DedupIncrementalSpec), and
    * the publish is SAFE BESIDE A RUNNING INGEST under the
    * [[graft.core.SegmentLog]] fold: a concurrently-appended segment (not
    * in the fold snapshot) stays live untouched, and a crash before the
    * marker leaves the old view fully intact; just compact again.
    *
    * `gc = true` (the single-actor convenience) immediately deletes the
    * folded directories — safe only when no concurrent reader planned its
    * scan before the marker; pass `gc = false` beside live readers and run
    * [[gcExactIndex]] after a grace period. */
  def compactExactIndex(spark: SparkSession, path: String, gc: Boolean = true): Unit =
    compactIndexWith(spark, path, gc)(s => mergeView(spark, s))

  /** The fold shared by every keyed store here: `merged` supplies the
    * store's own merge semantics, the publish/marker/GC protocol is
    * identical. */
  private def compactIndexWith(
      spark: SparkSession, path: String, gc: Boolean)(
      merged: SegmentLog.Snapshot => DataFrame): Unit = {
    val s = snapshot(spark, path)
    if (s.paths("keys").size > 1 || s.paths("tombs").nonEmpty)
      SegmentLog.Sequenced.fold(SegmentLog.fs(spark, path), new Path(path), s.segments)(dir =>
        writeSegment(merged(s).sortWithinPartitions("_k"), dir.toString, s.maxSeq))
    if (gc) gcExactIndex(spark, path)
  }

  /** [[graft.core.SegmentLog.gc]] of the exact index or span catalog.
    * Returns every directory removed: folded key and tombstone segments
    * and orphaned compacts (the store has no twins or generations). Run
    * from the maintenance actor only (never concurrently with a running
    * [[compactExactIndex]]), after readers that planned before the last
    * fold marker have drained. */
  def gcExactIndex(spark: SparkSession, path: String): Long =
    SegmentLog.Sequenced.gc(SegmentLog.fs(spark, path), new Path(path))()

  /** GetProperty-style health of a persisted dedup index: live segment and
    * tombstone-segment counts, folded directories awaiting GC, distinct
    * keys, documents counted, duplicate mass. Key/doc counts come from one
    * aggregation over the slim key log. */
  def exactIndexStats(spark: SparkSession, path: String): Map[String, String] = {
    val s = snapshot(spark, path)
    val agg = mergeView(spark, s)
      .agg(count(lit(1)).as("keys"), sum("group_size").as("docs")).head()
    val keys = agg.getLong(0)
    val docs = if (agg.isNullAt(1)) 0L else agg.getLong(1)
    Map(
      "graft.dedup.segments" -> s.paths("keys").size.toString,
      "graft.dedup.tombstone-segments" -> s.paths("tombs").size.toString,
      "graft.dedup.folded-awaiting-gc" ->
        SegmentLog.Sequenced.awaitingGc(SegmentLog.fs(spark, path), new Path(path), s).toString,
      "graft.dedup.keys" -> keys.toString,
      "graft.dedup.docs" -> docs.toString,
      "graft.dedup.dup-ratio" ->
        f"${if (docs > 0) 1.0 - keys.toDouble / docs else 0.0}%.4f",
      "graft.dedup.wide-key" -> indexIsWide(spark, path).toString)
  }

  // -------------------------------------------------------------------
  // ExactSubstr SPAN CATALOG: persisted first-occurrence gram index
  // -------------------------------------------------------------------

  /** One catalog row per distinct n-token window in `documents`: the
    * gram hash as `_k` (the store key column, so segment writes bloom it)
    * plus the FIRST occurrence by (id, offset). Sorted within partitions
    * so each parquet file covers a tight gram range. */
  private def spanCatalogRows(
      documents: DataFrame, n: Int, textCol: String, idCol: String): DataFrame = {
    // first_id rides the catalog as a long; a non-numeric id would cast to
    // null and silently disable every isNotNull-guarded probe downstream —
    // fail fast at write time instead of under-deduplicating forever
    val idType = documents.schema(idCol).dataType
    require(
      idType.isInstanceOf[org.apache.spark.sql.types.ByteType] ||
        idType.isInstanceOf[org.apache.spark.sql.types.ShortType] ||
        idType.isInstanceOf[org.apache.spark.sql.types.IntegerType] ||
        idType.isInstanceOf[org.apache.spark.sql.types.LongType],
      s"span catalog requires an integral id column; '$idCol' is $idType " +
        "(wide/string keys are supported by the exact index, not the span catalog)")
    // null-id rows never enter the catalog: min(struct(id, offset)) sorts a
    // null id FIRST, so one null-id row would win first_id for every gram it
    // shares with a real doc — and probes treat a null first_id as "no
    // entry" (isNotNull guard), silently disabling cross-batch excision for
    // that gram. Null-id text is unattributable, so it cannot claim a
    // first occurrence.
    Curation.spanOccurrences(documents.filter(col(idCol).isNotNull), n, textCol, idCol)
      .select(col("gram").as("_k"), struct(col(idCol), col("offset")).as("_o"))
      .groupBy("_k")
      .agg(min(col("_o")).as("_f"))
      .select(col("_k"),
        col(s"_f.$idCol").cast("long").as("first_id"),
        col("_f.offset").cast("long").as("first_off"))
      .sortWithinPartitions("_k")
  }

  /** Build the SPAN CATALOG at `path`: the persisted half of INCREMENTAL
    * ExactSubstr dedup ([[graft.operators.Curation.duplicateSpans]]'s
    * daily-ingest shape — yesterday's corpus rides the catalog, today's
    * batch probes it without re-reading any corpus text). One slim row
    * per distinct n-token window with its global first occurrence; the
    * window length is FROZEN in `meta` so probe, append, and build can
    * never sign with different n. Same append-log discipline as the
    * exact index (sorted-by-`_k` segments with bloom filters, `_SEQ`
    * commit marks, fold markers, [[gcExactIndex]]-compatible layout).
    *
    * Scale: catalog rows are corpus-token-scale — inherent to
    * ExactSubstr (a suffix array is corpus-sized too) — but they live in
    * storage sorted and bloom-indexed, and a probe reads only row groups
    * holding the BATCH's grams ([[restrictKeys]]), so per-trigger IO
    * tracks the batch. */
  def writeSpanCatalog(
      documents: DataFrame,
      path: String,
      n: Int = 6,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = documents.sparkSession
    SegmentLog.fs(spark, path).delete(new Path(path), true) // rebuild = fresh catalog
    spanNCache.remove(path) // the ONLY meta writer invalidates the memo
    import spark.implicits._
    Seq(n).toDF("n").coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    writeSegment(spanCatalogRows(documents, n, textCol, idCol), s"$path/keys/base", 0L)
  }

  /** The catalog's frozen window length. n never changes for a catalog's
    * lifetime (meta is written exactly once, by [[writeSpanCatalog]]), so
    * the per-JVM cache spares every probe/append/excise a meta parquet
    * read — a streaming trigger otherwise paid it three times. The memo is
    * stamped with the meta directory's full file listing (names + lengths
    * + mtimes): a catalog REBUILT at the same path by ANOTHER process
    * (this JVM's [[writeSpanCatalog]] also invalidates directly) refreshes
    * the cached n on the next probe — parquet part-file names are
    * rewrite-unique, so even a rebuild landing within the same mtime
    * second moves the stamp. One FS listing call instead of a parquet
    * read, never a silently stale window length. */
  private val spanNCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()
  private[operators] def spanCatalogN(spark: SparkSession, path: String): Int = {
    val stamp = SegmentLog.fs(spark, path)
      .listStatus(new Path(s"$path/meta"))
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString(",")
    val cached = spanNCache.get(path)
    if (cached != null && cached._1 == stamp) cached._2
    else {
      val n = Parquet.read(spark, s"$path/meta").head().getInt(0)
      spanNCache.put(path, (stamp, n))
      n
    }
  }

  private def spanMergeView(
      spark: SparkSession, s: SegmentLog.Snapshot,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    require(s.paths("keys").nonEmpty, "no committed span-catalog segments")
    val adds0 = Parquet.read(spark, s.paths("keys"): _*)
    val adds = restrictTo.fold(adds0)(restrictKeys(adds0, _))
    // gram tombstones apply newest-wins exactly as the exact index's key
    // tombstones: an addition survives iff no tombstone of its gram has
    // _seq >= the addition's (takedown-sized side, broadcast)
    val alive =
      if (s.paths("tombs").isEmpty) adds
      else {
        val del = Parquet.read(spark, s.paths("tombs"): _*)
          .groupBy("_k").agg(max("_seq").as("_del_seq"))
        adds.join(broadcast(del), Seq("_k"), "left")
          .filter(col("_del_seq").isNull || col("_seq") > col("_del_seq"))
          .drop("_del_seq")
      }
    alive
      .select(col("_k"), struct(col("first_id"), col("first_off")).as("_o"))
      .groupBy("_k")
      .agg(min(col("_o")).as("_f"))
      .select(col("_k"), col("_f.first_id").as("first_id"), col("_f.first_off").as("first_off"))
  }

  /** The merged read view: per gram, the minimum (first_id, first_off)
    * across all live segments. */
  def readSpanCatalog(spark: SparkSession, path: String): DataFrame =
    spanMergeView(spark, snapshot(spark, path))

  /** Append a batch's own per-gram firsts as a new committed segment —
    * after this, the batch's spans are "seen" and later batches
    * deduplicate against them. Returns rows appended. */
  def appendToSpanCatalog(
      newDocs: DataFrame,
      catalogPath: String,
      textCol: String = "text",
      idCol: String = "doc_id"): Long = {
    val spark = newDocs.sparkSession
    val seq = nextSeq(spark, catalogPath)
    Stage.scope { s =>
      val seg = s(spanCatalogRows(newDocs, spanCatalogN(spark, catalogPath), textCol, idCol))
      writeSegment(seg,
        f"$catalogPath/keys/seg_$seq%06d_${java.util.UUID.randomUUID().toString.take(8)}", seq)
      seg.count()
    }
  }

  /** Append a batch's per-gram firsts as a NAMED segment with overwrite
    * semantics — the exactly-once form of [[appendToSpanCatalog]] for
    * replayable writers (streaming foreachBatch): a crash-replayed batch
    * rewrites the SAME segment (reusing its original sequence) instead of
    * appending a duplicate, so the merged view is replay-idempotent. */
  def writeSpanCatalogSegment(
      batchDocs: DataFrame,
      catalogPath: String,
      segment: String,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    SegmentLog.requireName(segment)
    val spark = batchDocs.sparkSession
    val dir = s"$catalogPath/keys/$segment"
    val s = snapshot(spark, catalogPath)
    val seq = replaySegmentSeq(spark, catalogPath, dir, s)
    writeSegment(
      spanCatalogRows(batchDocs, spanCatalogN(spark, catalogPath), textCol, idCol), dir, seq)
  }

  /** Retract content from a span catalog — the takedown/opt-out path:
    * tombstone every window gram of `removedDocs`, so LATER batches
    * carrying those passages are treated as fresh (their own occurrence
    * becomes the kept first) instead of being excised against content
    * that no longer exists. Deletion is by GRAM (content-level, like the
    * exact index's key tombstones): pass the removed documents
    * themselves; n comes from meta. Newest-wins — passages re-appended
    * after the deletion re-enter the catalog naturally. Tombstones fold
    * away in [[compactSpanCatalog]]. Returns distinct grams tombstoned. */
  def deleteFromSpanCatalog(
      removedDocs: DataFrame,
      catalogPath: String,
      textCol: String = "text",
      idCol: String = "doc_id"): Long = {
    val spark = removedDocs.sparkSession
    val seq = nextSeq(spark, catalogPath)
    Stage.scope { s =>
      val keys = s(Curation
        .spanOccurrences(removedDocs, spanCatalogN(spark, catalogPath), textCol, idCol)
        .select(col("gram").as("_k"))
        .distinct()
        .sortWithinPartitions("_k"))
      writeSegment(keys, f"$catalogPath/tombs/del_$seq%06d", seq)
      keys.count()
    }
  }

  /** Fold all live catalog segments (and gram tombstones) into one; merge
    * semantics are the per-gram minimum with tombstones applied
    * newest-wins, publish/marker/GC protocol shared with the exact index
    * (safe beside a live appender — see [[compactExactIndex]]). */
  def compactSpanCatalog(spark: SparkSession, path: String, gc: Boolean = true): Unit =
    compactIndexWith(spark, path, gc)(s => spanMergeView(spark, s))

  /** GetProperty-style health of a span catalog: live segments, gram
    * tombstone segments, folded directories awaiting GC, distinct live
    * grams, and the frozen window length — the introspection parity of
    * [[exactIndexStats]]. */
  def spanCatalogStats(spark: SparkSession, path: String): Map[String, String] = {
    val s = snapshot(spark, path)
    val grams = spanMergeView(spark, s).count()
    Map(
      "graft.spans.segments" -> s.paths("keys").size.toString,
      "graft.spans.tomb-segments" -> s.paths("tombs").size.toString,
      "graft.spans.folded-awaiting-gc" ->
        SegmentLog.Sequenced.awaitingGc(SegmentLog.fs(spark, path), new Path(path), s).toString,
      "graft.spans.grams" -> grams.toString,
      "graft.spans.n" -> spanCatalogN(spark, path).toString)
  }

  /** INCREMENTAL duplicate-span detection — the probe half: a batch
    * occurrence is a duplicate iff its gram is already in the catalog
    * under ANOTHER document (the corpus arrived first: arrival-order
    * retention, the convention every incremental dedup form here shares)
    * or an earlier batch occurrence exists (smaller (id, offset) within
    * the batch). A cataloged first occurrence belonging to the probing
    * document ITSELF does not mark it duplicate — the self-recognition
    * that makes crash-replayed streaming batches idempotent after their
    * own segment landed (the exact index gets this from `keep_id`; the
    * span catalog from `first_id`). Equals
    * [[graft.operators.Curation.duplicateSpans]] over (corpus UNION
    * batch) restricted to batch rows when batch ids follow corpus ids.
    * Only the batch is tokenized; the catalog contributes bloom-pruned
    * row groups for the batch's grams only. */
  def duplicateSpansIncremental(
      newDocs: DataFrame,
      catalogPath: String,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = newDocs.sparkSession
    val n = spanCatalogN(spark, catalogPath)
    val occ = Curation.spanOccurrences(newDocs, n, textCol, idCol)
      .select(col(idCol), col("offset"), col("gram").as("_k"))
    val bFirst = occ
      .groupBy("_k")
      .agg(min(struct(col(idCol), col("offset"))).as("_bfirst"))
    val known = spanMergeView(spark, snapshot(spark, catalogPath), Some(occ.select("_k")))
      .select(col("_k"), col("first_id").as("_cat_first_id"))
    occ
      .join(bFirst, Seq("_k"))
      .join(known, Seq("_k"), "left")
      .filter(
        (col("_cat_first_id").isNotNull && col("_cat_first_id") =!= col(idCol)) ||
          struct(col(idCol), col("offset")) =!= col("_bfirst"))
      .select(col(idCol), col("offset").cast("long").as("offset"), col("_k").as("gram"))
  }

  /** MinHash-LSH near-duplicate pairs.
    *
    * shingle(n) -> minhash(k) -> band(b x r) -> self-join on band bucket ->
    * exact-Jaccard verification at `threshold`. Returns candidate pairs that
    * verified, deduplicated: (doc_a < doc_b, jaccard).
    */
  def minHashLsh(
      documents: DataFrame,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = Stage.scope { s =>
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // Tokenize/shingle/hash ONCE: the self-join + estimate + verify joins
    // would otherwise recompute the regex tokenization per branch (~6x).
    // Shingles are carried as their xxhash64 values (array<long>): Jaccard
    // over hashed shingles equals string Jaccard w.h.p. (64-bit collisions),
    // long-array intersection is far cheaper than string sets, and the
    // minhash signature derives from the same array. The checkpoint
    // materializes the one pass (memory/disk blocks) and truncates lineage.
    val shingled = s(documents
      .select(
        col(idCol).as("doc"),
        TextOps.ngramHashes(TextOps.tokenHashes(col(textCol)), shingleN).as("sh")))
    val sigs = s(shingled
      .select(col("doc"), TextOps.minHashFromHashes(col("sh"), numHashes).as("sig")))
    // The band self-join shuffles ONLY (doc, band) — neither signatures nor
    // shingle arrays ride the candidate-pair shuffle. At 100 TB this is the
    // difference between shuffling ids and shuffling the corpus.
    // MERGE: the banded relation is bands x N rows that Catalyst
    // under-estimates (explode keeps the checkpointed child's column-pruned
    // size) — left alone it broadcasts the whole banded corpus once N grows.
    // Sort-merge on the band key spills gracefully at any corpus size.
    val bandsDf = sigs
      .select(col("doc"), explode(TextOps.lshBands(col("sig"), bands, r)).as("band"))
      .hint("merge")
    val candidates = bandsDf.as("a")
      .join(bandsDf.as("b"), col("a.band") === col("b.band") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyCandidates(candidates, sigs, shingled, numHashes, threshold)
  }

  /** Two-stage verification of banded candidate pairs. Chance band
    * collisions explode on corpora with high baseline similarity (shared
    * vocabulary), so first estimate Jaccard from the signatures already
    * computed (k longs per side, one codegen'd zip) and keep the margin
    * conservative: est stddev is sqrt(j(1-j)/k) ~= 0.06 at k=64, margin
    * 0.2 > 3 sigma. Only survivors pay the exact shingle-intersection
    * verify. Shared by [[minHashLsh]] and [[minHashIncremental]]. */
  private def verifyCandidates(
      candidates: DataFrame, // (doc_a, doc_b), distinct
      sigs: DataFrame,       // (doc, sig) covering every candidate id
      shingled: DataFrame,   // (doc, sh) covering every candidate id
      numHashes: Int,
      threshold: Double): DataFrame = {
    val estimated = candidates
      .join(sigs.select(col("doc").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("est",
        aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, m) => acc + m).cast("double") / numHashes)
      .filter(col("est") >= threshold - 0.2)
      .select("doc_a", "doc_b")
    estimated
      .join(shingled.select(col("doc").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shingled.select(col("doc").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", TextOps.jaccardSortedHashes(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ---- incremental MinHash near-dup: persisted signature index -------------
  //
  // The near-dup analogue of the exact-dedup index above: tokenizing and
  // signing the corpus is the expensive pass, so persist its outcome — one
  // row per document holding the minhash signature (for banding + the
  // estimate stage) and the sorted shingle hashes (for exact verification).
  // A new batch is signed once, banded against the stored signatures (the
  // band join reads ONLY (doc, sig) — parquet prunes the heavy shingle
  // column), and verified exactly; the corpus text is never re-read. The
  // LSH parameters ride in a meta file so probe and append can never
  // disagree with the index's banding.

  /** One signature row per document: (doc, sh sorted-distinct shingle
    * hashes, sig minhash signature). The single expensive pass over text. */
  private def signatureRows(
      documents: DataFrame, shingleN: Int, numHashes: Int,
      idCol: String, textCol: String): DataFrame =
    documents
      .select(
        col(idCol).as("doc"),
        TextOps.ngramHashes(TextOps.tokenHashes(col(textCol)), shingleN).as("sh"))
      .withColumn("sig", TextOps.minHashFromHashes(col("sh"), numHashes))

  /** Build a persisted MinHash index at `path`: signature rows plus the LSH
    * parameters. Train-once/probe-many for near-dup, mirroring
    * [[writeExactIndex]] for exact dedup.
    *
    * The AUTO layout is the DEFAULT (`bandBuckets = AutoBuckets`, -1):
    * FLAT below the family's measured crossover
    * ([[FlatCrossoverRowsMinHash]] — there the scan-everything probe is
    * cheaper than per-bucket directory reads) and BAND-BUCKETED above
    * it: a slim
    * `bands/` store of precomputed (doc, band) rows partitioned by
    * `bucket = pmod(band, P)`, which the micro probe PARTITION-PRUNES to
    * the batch's buckets — per-trigger cost O(|batch| · bands · N / P)
    * instead of the O(N · bands) full signature scan, the same
    * bucket-pruning design as the IVF vector index's inverted lists; P
    * auto-sized so per-bucket row count stays constant
    * ([[autoBucketCount]]). A positive count is honored verbatim; `0`
    * pins flat forever. An auto-flat store that grows past the crossover
    * PROMOTES at its next fold cycle ([[foldDocSegments]], online, beside
    * a live ingest) or [[compactDocIndex]]; a bucketed one that outgrows
    * its P re-buckets on the same slots — so a store's layout tracks its
    * size across its whole lifetime with no operator input, even under a
    * never-stopped ingest. */
  /** Retract EVERY auxiliary tree of an existing doc-row store before a
    * rebuild overwrites `docs/` — meta FIRST (from that point probes take
    * the flat scan over whatever docs/ holds, so a crash anywhere
    * mid-rebuild leaves a correct store; the bucketed writers re-create
    * meta LAST as the commit point), then the band layout, then the
    * incremental-lifecycle trees. The lifecycle retraction matters as much
    * as the band one: without it a rebuild-over-existing kept the OLD
    * corpus's live segments inside every probe's union (pairing new
    * batches with docs the rebuild deleted) and the OLD tombstones'
    * anti-join silently hiding any new doc that reuses a tombstoned id.
    * All deletes no-op on a fresh path. */
  private def retractIndexTrees(spark: SparkSession, path: String): Unit = {
    val (fs, root) = (SegmentLog.fs(spark, path), new Path(path))
    val gens = BandGens.all(fs, root)
    def drop(trees: Seq[String]): Unit = trees.foreach(t => fs.delete(new Path(root, t), true))
    drop(Seq("meta", "bands", "bands_staging", "bandsegs"))
    SegmentLog.Docs.retire(fs, root)
    drop(Seq("docs_staging", BandGens.pointer) ++ gens)
  }

  def writeMinHashIndex(
      documents: DataFrame,
      path: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text",
      bandBuckets: Int = AutoBuckets): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = documents.sparkSession
    retractIndexTrees(spark, path)
    if (bandBuckets == 0) {
      signatureRows(documents, shingleN, numHashes, idCol, textCol)
        .sortWithinPartitions("doc")
        .write.mode("overwrite").options(docRowOptions("doc"))
        .parquet(s"$path/docs")
      import spark.implicits._
      Seq((shingleN, numHashes, bands, 0))
        .toDF("shingle_n", "num_hashes", "bands", "band_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    } else {
      // the signing pass feeds BOTH stores — checkpoint so the corpus is
      // tokenized exactly once; freed before meta lands
      val p = Stage.scope { s =>
        val rows = s(signatureRows(documents, shingleN, numHashes, idCol, textCol))
        rows.sortWithinPartitions("doc")
          .write.mode("overwrite").options(docRowOptions("doc"))
          .parquet(s"$path/docs")
        // AutoBuckets: the LAYOUT decision rides the just-signed corpus size
        // (the checkpoint makes the count free of recompute) — flat below
        // the measured crossover where per-bucket listings cost more than
        // the whole scan, bucketed at the constant-per-bucket auto P above
        // it. An explicit positive count is honored verbatim (probe
        // studies, spec fixtures).
        val p = if (bandBuckets < 0)
                  autoLayoutBuckets(rows.count() * bands, FlatCrossoverRowsMinHash)
                else bandBuckets
        if (p > 0) {
          bandRows(rows, bands, numHashes / bands, p)
            .repartition(col("bucket"))
            .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/bands")
          SegmentLog.writeBuckets(SegmentLog.fs(spark, path),
            new Path(s"$path/bands"), p)
        }
        p
      }
      // meta LAST (the commit point). AUTO-FLAT stores (auto requested,
      // corpus below the crossover) record band_buckets = AutoBuckets
      // (-1): probes treat any non-positive value as flat, and the marker
      // is what lets [[compactDocIndex]] PROMOTE the store to bucketed
      // once growth crosses the line — an explicit 0 never promotes.
      import spark.implicits._
      Seq((shingleN, numHashes, bands, if (p > 0) p else AutoBuckets))
        .toDF("shingle_n", "num_hashes", "bands", "band_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    }
  }

  /** (doc, band, bucket) rows for the band-bucketed layout: each signature
    * exploded to its band keys, bucketed by `pmod(band, buckets)` — the
    * partition key the micro probe prunes on. */
  private def bandRows(sigs: DataFrame, bands: Int, rowsPerBand: Int, buckets: Int): DataFrame =
    sigs.select(
        col("doc"),
        explode(TextOps.lshBands(col("sig"), bands, rowsPerBand)).as("band"))
      .withColumn("bucket", pmod(col("band"), lit(buckets.toLong)).cast("int"))

  /** The `band_buckets` of an index's meta (0 for flat / pre-bucketing
    * indexes, whose meta lacks the column). */
  private def metaBandBuckets(spark: SparkSession, indexPath: String): Int = {
    val metaDf = Parquet.read(spark, s"$indexPath/meta")
    if (metaDf.columns.contains("band_buckets"))
      metaDf.head().getAs[Int]("band_buckets")
    else 0
  }

  // ---- bucket-count auto-sizing + the _BUCKETS tree marker ------------------
  //
  // `buckets = -1` (now the DEFAULT everywhere a band-bucketed layout can
  // be requested) auto-sizes the partition count from the store's own row
  // count so per-bucket rows — and therefore per-trigger probe cost, which
  // reads O(|batch| · bandsPerDoc) bucket directories — stay CONSTANT as
  // the store grows: P = clamp(N · bandsPerDoc / TargetBucketRows,
  // MinBuckets, MaxBuckets). The scale-safe layout is what a caller gets
  // without asking; `0` is the explicit flat escape hatch.

  /** Sentinel: auto-size the bucket count from the corpus (the default). */
  val AutoBuckets: Int = -1
  /** Per-bucket row target (the probe's read-amplification unit); the
    * system property is a deployment-tuning + spec-fixture knob — a
    * large-batch deployment can trade smaller buckets (more, finer
    * `bucket=` directories) for a wider pruned-probe regime, since the
    * pruned path engages only while `hitBuckets x 3 <= P`. */
  private def TargetBucketRows: Long =
    sys.props.get("graft.bucket.target.rows").map(_.toLong).getOrElse(4096L)
  private val MinBuckets = 64
  private val MaxBuckets = 65536

  // Below a FAMILY-SPECIFIC band-row count the FLAT layout measurably
  // wins: the bucketed probe's cost is roughly CONSTANT in the store
  // (per-trigger hit-bucket listings + footer reads dominate), the flat
  // probe's is linear with a family-specific slope — so the crossover
  // sits where the flat line crosses the bucketed constant, and the
  // slope differs 20x between the families. Round-10 probe study
  // (local[32], 9-rep medians, auto P):
  //  - MinHash (512-byte signature arrays re-banded per flat probe):
  //    flat 1.84 s vs bucketed 1.43 s ALREADY at 100k docs = 1.6M band
  //    rows — the crossover extrapolates to ~1.3M band rows (~80k docs).
  //  - signature store (8-byte signatures, cheap flat scan): flat 3.35 s
  //    vs bucketed 4.36 s at 1M sigs = 28M band rows (bucketed LOSES),
  //    flat 13.3 s vs bucketed 4.45 s at 4M sigs = 112M rows (bucketed
  //    3x ahead) — the flat line crosses the ~4.4 s probe constant at
  //    ~37M band rows (~1.3M sigs).
  // AutoBuckets resolves to flat below the family's line and the store
  // PROMOTES to bucketed at its first fold cycle ([[foldDocSegments]],
  // online, beside a live ingest) or [[compactDocIndex]] past it.

  /** MinHash flat/bucketed crossover (band rows); the system property is
    * a deployment-tuning + spec-fixture knob. */
  private[graft] def FlatCrossoverRowsMinHash: Long =
    sys.props.get("graft.crossover.minhash").map(_.toLong).getOrElse(1000000L)
  /** Signature-store flat/bucketed crossover (band rows). */
  private[graft] def FlatCrossoverRowsSig: Long =
    sys.props.get("graft.crossover.sig").map(_.toLong).getOrElse(32000000L)

  /** The auto LAYOUT decision: flat (0) below the family's crossover —
    * where flat is measurably faster — else [[autoBucketCount]]. */
  private[graft] def autoLayoutBuckets(totalBandRows: Long, crossover: Long): Int =
    if (totalBandRows < crossover) 0 else autoBucketCount(totalBandRows)

  /** clamp(totalBandRows / TargetBucketRows, 64, 65536) — per-bucket row
    * count (the unit of probe read amplification) held constant across
    * store growth; the floor keeps tiny stores from degenerating to one
    * directory, the ceiling bounds file count on object stores. */
  private[graft] def autoBucketCount(totalBandRows: Long): Int =
    math.min(MaxBuckets.toLong, math.max(MinBuckets.toLong,
      totalBandRows / TargetBucketRows)).toInt

  /** Below this many rows PER BUCKET a partitioned band root is mostly
    * tiny files (a probe of B hit buckets pays B sub-row-group reads for
    * a few KB each — the measured 1.6M-row base tree at P=5859 cost more
    * in per-file overhead than its whole 25 MB scan), so re-publishes
    * write such a root FLAT: one sorted-by-bucket file whose pushed
    * bucket-In filter skips row groups. Partitioned vs flat is a PER-ROOT
    * choice the readers already handle (dirs => path pruning, data column
    * => pushed filter); the operative P rides the marker either way. */
  private val MinBucketFileRows = 1024L

  /** The base band generations behind the `_BANDS` pointer (a generation
    * dir `bands_v<k>` once any re-bucket has published; the legacy `bands/`
    * on build-time stores). A re-bucket WRITES A NEW GENERATION and flips
    * the pointer atomically instead of delete-then-renaming `bands/` in
    * place — the in-place swap has a window where a concurrently-planned
    * probe's file list points at deleted paths (FAILED_READ_FILE under a
    * live ingest, and non-atomic on object stores where rename is a copy).
    * The superseded generation is swept by [[gcDocIndex]] or the
    * stop-the-world [[compactDocIndex]]. Every band tree carries its own
    * `_BUCKETS` marker, written into a new generation BEFORE the pointer
    * flips to it and into `bandsegs/<name>` before the doc segment commits,
    * so it never describes a partitioning the rows don't have — unlike the
    * meta value, which cannot be updated atomically with any tree.
    * Marker-less (pre-marker) stores fall back to the frozen meta value. */
  private val BandGens = SegmentLog.Generations("_BANDS", "bands", "bands", Seq("bands"))

  /** The CURRENT base band root. */
  private def baseBandRoot(fs: FileSystem, indexPath: String): Path =
    new Path(indexPath, BandGens.current(fs, new Path(indexPath)))

  /** The OPERATIVE bucket count of a MinHash index: the CURRENT base band
    * root's `_BUCKETS` marker when present (a re-bucket may have outgrown
    * the build-time meta value), else meta; 0 = flat. */
  private def effectiveBandBuckets(spark: SparkSession, indexPath: String): Int = {
    val mb = metaBandBuckets(spark, indexPath)
    if (mb == 0) 0 // explicit flat (or not a MinHash meta): never bucketed
    else {
      val fs = SegmentLog.fs(spark, indexPath)
      val marker = SegmentLog.readBuckets(fs, baseBandRoot(fs, indexPath))
      if (mb > 0) marker.getOrElse(mb)
      // AutoBuckets meta: an ONLINE promotion publishes the band tree and
      // flips the `_BANDS` pointer WITHOUT rewriting meta (a meta overwrite
      // is not atomic beside live readers) — the published tree's own
      // marker IS the promotion commit point, exactly as it already is for
      // the signature family ([[effectiveSigBuckets]]). No tree = still
      // flat.
      else marker.getOrElse(0)
    }
  }

  /** All near-dup pairs TOUCHING a new batch — batch-vs-corpus and
    * batch-vs-batch, never corpus-vs-corpus (those were found when the
    * corpus was indexed): the daily-crawl question "which of today's
    * documents near-duplicate anything seen so far?". Equals
    * [[minHashLsh]] over (corpus UNION batch) restricted to pairs with at
    * least one batch member (DedupIncrementalSpec proves set equality —
    * the hash family is deterministic, so signatures never drift between
    * index and recompute). Only the batch is tokenized; the corpus
    * contributes its stored signatures to the band join (shingle column
    * pruned) and its stored shingles to the final verify. */
  def minHashIncremental(
      newDocs: DataFrame,
      indexPath: String,
      threshold: Double = 0.7,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // the signed batch lives with the returned plan; the near-dup ingest
    // signs with minHashBatchSigs itself, because its sig frame also
    // feeds the kept segment write
    Stage.scope(s => minHashIncrementalSigned(
      s(minHashBatchSigs(newDocs, indexPath, idCol, textCol)), indexPath, threshold))
  }

  /** Sign a batch with the index's OWN LSH parameters (meta file), without
    * materializing — the caller checkpoints (and later frees) the result.
    * The sign-once half of the split incremental probe. */
  private[graft] def minHashBatchSigs(
      newDocs: DataFrame,
      indexPath: String,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val meta = Parquet.read(newDocs.sparkSession, s"$indexPath/meta").head()
    signatureRows(newDocs, meta.getInt(0), meta.getInt(1), idCol, textCol)
  }

  /** The probe half of the split incremental form: `batchSigs` is a
    * (checkpointed) [[minHashBatchSigs]] result. Same contract as
    * [[minHashIncremental]]. */
  private[graft] def minHashIncrementalSigned(
      batchSigs: DataFrame,
      indexPath: String,
      threshold: Double): DataFrame = {
    val spark = batchSigs.sparkSession
    val meta = Parquet.read(spark, s"$indexPath/meta").head()
    val (numHashes, bands) = (meta.getInt(1), meta.getInt(2))
    val r = numHashes / bands
    val batch = batchSigs
    val all = storedDocs(spark, indexPath, "doc").unionByName(batch)
    val allSigs = all.select("doc", "sig")
    // Band join: batch side vs everything. MERGE for the same reason as
    // minHashLsh — the exploded relations' sizes are under-estimated, and
    // a broadcast of the banded corpus is the 100x OOM cliff.
    def banded(sigs: DataFrame) = sigs
      .select(col("doc"), explode(TextOps.lshBands(col("sig"), bands, r)).as("band"))
      .hint("merge")
    val candidates = banded(batch.select("doc", "sig")).as("a")
      .join(banded(allSigs).as("b"),
        col("a.band") === col("b.band") && col("a.doc") =!= col("b.doc"))
      .select(
        least(col("a.doc"), col("b.doc")).as("doc_a"),
        greatest(col("a.doc"), col("b.doc")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // Trailing dedup mirrors simHashIncremental: a crash-replayed
    // appendToMinHashIndex can leave a batch doc in BOTH the stored index
    // and `batch`, and the duplicated (doc, sig/sh) rows would multiply
    // each verified pair through verifyCandidates' joins. The duplicate
    // rows are byte-identical (the hash family is deterministic), so
    // key-level dropDuplicates restores exact pair semantics.
    verifyCandidates(candidates, allSigs, all.select("doc", "sh"), numHashes, threshold)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** The LIVE streaming segments of a doc-row index under `segs/`
    * ([[graft.core.SegmentLog.Docs]]: a batch segment commits with its
    * parquet `_SUCCESS`, so a compactor snapshot taken mid-rewrite skips the
    * half-written dir). */
  private def liveDocSegs(spark: SparkSession, indexPath: String): Seq[Path] =
    SegmentLog.Docs.live(SegmentLog.fs(spark, indexPath), new Path(indexPath)).segments.map(_.dir)

  /** The MICRO-BATCH candidate stage: banded batch sigs joined against the
    * stored corpus WITH THE BATCH SIDE BROADCAST — the streaming-ingest
    * probe shape. [[minHashIncrementalSigned]]'s merge-hint band join is
    * right when the batch is corpus-sized (broadcasting the banded CORPUS
    * is the 100x OOM cliff), but a micro-batch is small by definition, and
    * broadcasting IT means the corpus band side is scanned map-side only:
    * no corpus shuffle, no corpus sort, per-trigger — the only shuffle in
    * the plan is the candidate-pair dedup (candidate-sized). PlanSpec
    * guards the shape. Covers batch-vs-corpus AND batch-vs-batch (the
    * batch is unioned into the scanned side, never corpus-vs-corpus by
    * the a-side restriction). */
  private[graft] def minHashMicroCandidates(
      batchSigs: DataFrame,
      indexPath: String): DataFrame = {
    val spark = batchSigs.sparkSession
    val meta = Parquet.read(spark, s"$indexPath/meta").head()
    val (numHashes, bands) = (meta.getInt(1), meta.getInt(2))
    val r = numHashes / bands
    def banded(sigs: DataFrame) = sigs
      .select(col("doc"), explode(TextOps.lshBands(col("sig"), bands, r)).as("band"))
    // heal any crashed band-store swap BEFORE reading the operative bucket
    // count: a staged re-bucketed tree healed in AFTER the P read would
    // leave this probe pruning `bucket=` paths computed at the OLD P
    // against the new partitioning — silent recall loss
    val usable = bandTreeUsable(spark, indexPath)
    val bb = if (usable) effectiveBandBuckets(spark, indexPath) else 0
    // BUCKETED path only while the batch hits under a THIRD of the
    // buckets: the explicit-directory read costs O(hit) listings +
    // footers, so once a large batch touches a substantial share the
    // flat signature scan is the cheaper plan — the operator picks per
    // batch, keeping the bucketed index no worse than the flat one. The
    // 1/3 gate is measured, not guessed (round-11 BandProbe sweep at a
    // 400k-doc store): at hit/P = 0.08 the pruned read is 2.2x AHEAD, at
    // hit/P = 0.49 it is 9% BEHIND — the old half-the-buckets gate
    // admitted that losing band.
    val batchBands0 =
      if (bb > 0) Some(bandRows(batchSigs.select("doc", "sig"), bands, r, bb)) else None
    // the batch's raw band VALUES (not buckets): per-root hit buckets are
    // derived from these at each root's own P (storedBands) — a
    // batch-bounded driver collect (<= |batch| · bands longs)
    val bandVals = batchBands0.map(_.select("band").distinct()
      .collect().map(_.getLong(0)))
    val hit = bandVals.map(_.map(v => java.lang.Math.floorMod(v, bb.toLong).toInt)
      .distinct.length)
    val pairHalf =
      if (bb > 0 && hit.get * 3 <= bb) {
        // the index side is the precomputed band store, PRUNED to the
        // batch's buckets by path construction — only |batch buckets| /
        // bandBuckets of the index's band rows are read at all (and none
        // of its signatures), so per-trigger cost tracks the batch, not
        // the corpus. The bucket list is a batch-bounded driver collect
        // (<= min(|batch| · bands, bandBuckets) ints). Tombstoned docs'
        // band rows are NOT filtered here: a candidate pair needs both
        // docs' stored rows in the verify stage, so a stale band row can
        // only produce a candidate that verification drops — compaction
        // sweeps the rows physically.
        val batchBands = batchBands0.get
        val stored = storedBands(spark, indexPath, bandVals, bb,
          segDocs => banded(segDocs.select("doc", "sig")))
        broadcast(batchBands.select("doc", "band")).as("a")
          .join(stored.unionByName(batchBands.select("doc", "band")).as("b"),
            col("a.band") === col("b.band") && col("a.doc") =!= col("b.doc"))
      } else {
        val all = storedDocs(spark, indexPath, "doc").select("doc", "sig")
          .unionByName(batchSigs.select("doc", "sig"))
        broadcast(banded(batchSigs.select("doc", "sig"))).as("a")
          .join(banded(all).as("b"),
            col("a.band") === col("b.band") && col("a.doc") =!= col("b.doc"))
      }
    pairHalf
      .select(
        least(col("a.doc"), col("b.doc")).as("doc_a"),
        greatest(col("a.doc"), col("b.doc")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** The live (doc, band) rows of a band-bucketed index: the partitioned
    * base `bands/` store plus each live segment's `bandsegs/<name>` rows
    * (written by [[writeMinHashSegment]] BEFORE the doc segment, so a
    * committed doc segment always has its band rows; an orphaned band
    * segment whose doc segment never committed pairs only into candidates
    * the verify stage drops).
    *
    * `buckets` prunes the read by PATH CONSTRUCTION, not a partition
    * filter: one listing of each root discovers its `bucket=` directories,
    * and only the HIT ones are handed to the reader — so per-probe listing
    * and footer cost is O(|hit buckets|), never O(bandBuckets). (The
    * filter-on-partition-column form re-lists every bucket directory at
    * plan time — measured at 6-12 s per probe against a 4096-bucket store,
    * dwarfing the scan it prunes.) Flat batch segments carry `bucket` as a
    * data column and get a pushed row filter instead. */
  /** Bucketed-probe gate: heal a crashed band-store swap
    * ([[compactDocIndex]]'s delete-then-rename window), then require the
    * base `bands/` tree to exist. Absence after healing means the band
    * layout is broken mid-maintenance: meta still advertises a bucketed
    * store, but a bucketed probe would silently read segment band rows
    * only and miss every base-store pair until the next compaction
    * happened to rerun — so the caller must take the flat scan instead. */
  private def bandTreeUsable(spark: SparkSession, indexPath: String): Boolean = {
    val fs = SegmentLog.fs(spark, indexPath)
    // legacy staging heal: pre-generation stores re-bucketed with the
    // in-place swap may have crashed mid-swap; generation publishes have
    // no such window (the pointer flips only after the new root is whole)
    SegmentLog.healSwap(fs, new Path(s"$indexPath/bands_staging"),
      new Path(s"$indexPath/bands"))
    fs.exists(baseBandRoot(fs, indexPath))
  }

  private def storedBands(
      spark: SparkSession, indexPath: String, bandVals: Option[Array[Long]],
      baseP: Int, bandTwinless: DataFrame => DataFrame,
      cols: Seq[String] = Seq("doc", "band")): DataFrame = {
    val fs = SegmentLog.fs(spark, indexPath)
    val live = liveDocSegs(spark, indexPath)
    val (twinned, twinless) = live.partition(d =>
      fs.exists(new Path(s"$indexPath/bandsegs/${d.getName}")))
    val roots = baseBandRoot(fs, indexPath).toString +:
      twinned.map(d => s"$indexPath/bandsegs/${d.getName}")
    // EACH ROOT PRUNES AT ITS OWN P: a live segment written before a
    // re-bucket carries bucket values computed at the P operative at ITS
    // write (recorded in its own `_BUCKETS` marker), so the hit-bucket
    // list must be derived per root from the batch's raw band values —
    // one driver-side pmod over a batch-bounded long array. Marker-less
    // roots (pre-marker stores) fall back to the base P, which for them
    // is frozen-correct: growth is gated on every live segment carrying a
    // marker ([[rebuildBandTree]]), so a legacy segment and a moved P can
    // never coexist.
    val views = roots.flatMap { r =>
      val hit = bandVals.map { vs =>
        val p = SegmentLog.readBuckets(fs, new Path(r))
          .getOrElse(baseP).toLong
        vs.map(v => java.lang.Math.floorMod(v, p).toInt).distinct.sorted.toSeq
      }
      SegmentLog.readPruned(spark, fs, r, "bucket", hit).map(_.select(cols.map(col): _*))
    }
    // FLAT-ERA segments (no band twin: committed while the store was still
    // auto-flat, before an ONLINE promotion published the band tree) are
    // banded ON THE FLY from their doc rows — the flat probe's treatment,
    // scoped to exactly these segments, so the bucketed view stays COMPLETE
    // through a mid-ingest promotion. Bounded cost: flat-era rows are
    // capped by the crossover the store was below when they landed plus
    // one fold cadence, and the next [[foldDocSegments]] retires them into
    // a banded compact twin.
    val flatViews =
      if (twinless.isEmpty) Nil
      else Seq(bandTwinless(Parquet.read(spark, twinless.map(_.toString): _*))
        .select(cols.map(col): _*))
    val all = views ++ flatViews
    if (all.isEmpty)
      spark.range(0).select(cols.map(c => col("id").as(c)): _*)
    else all.reduce(_.unionByName(_))
  }

  /** The MICRO-BATCH verify stage: exact-Jaccard verification of
    * `candidates` with the corpus rows RESTRICTED to candidate ids first
    * (broadcast semi-join — candidate ids are micro-batch-bounded), so the
    * corpus (sig, sh) arrays are scanned map-side and never enter an
    * exchange; the verify joins then run on candidate-sized frames. Same
    * contract as the tail of [[minHashIncrementalSigned]], including the
    * replayed-append row dedup. `candidates` should be checkpointed by the
    * caller (it feeds the id restriction and both verify joins). */
  private[graft] def minHashMicroVerify(
      candidates: DataFrame,
      batchSigs: DataFrame,
      indexPath: String,
      threshold: Double): DataFrame = {
    val spark = batchSigs.sparkSession
    val numHashes = Parquet.read(spark, s"$indexPath/meta").head().getInt(1)
    val candIds = candidates
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc")).distinct()
    // candidate ids are micro-batch-bounded (the existing broadcast
    // contract), so up to MaxInProbe of them ALSO ride a literal In pushed
    // into the corpus scan: with the sorted-by-id + bloom doc layout the
    // heavyweight (sig, sh) read skips row groups holding no candidate —
    // the last O(store) term of the micro probe (the band side is already
    // bucket-pruned). Past the valve the pushed filter is dropped and the
    // broadcast semi-join alone restricts (the pre-round-12 plan).
    val idVals = candIds.limit(MaxInProbe + 1).collect().map(_.getLong(0)).toSeq
    val restrict = if (idVals.length <= MaxInProbe) Some(idVals) else None
    val all = storedDocs(spark, indexPath, "doc", restrict).unionByName(batchSigs)
      .join(broadcast(candIds), Seq("doc"), "left_semi")
      .dropDuplicates("doc") // replayed append: batch rows can shadow stored rows
    verifyCandidates(
      candidates, all.select("doc", "sig"), all.select("doc", "sh"),
      numHashes, threshold)
  }

  /** An index's stored per-doc rows minus its tombstoned ids — the live
    * corpus side of the MinHash/SimHash incremental probes: the base
    * `docs/` store plus the LIVE named segments under `segs/` (the
    * replay-idempotent streaming append form, [[writeMinHashSegment]],
    * filtered through the fold-marker protocol of [[liveDocSegs]]).
    * The tombstone side is takedown-sized and broadcasts; with no
    * tombstones the read is the plain parquet scan. The stored id column
    * name is inferred (the MinHash index stores `doc`, the SimHash store
    * `doc_id`). */
  private def storedDocs(
      spark: SparkSession, indexPath: String, idCol: String,
      restrictTo: Option[Seq[Long]] = None): DataFrame = {
    val paths = s"$indexPath/docs" +: liveDocSegs(spark, indexPath).map(_.toString)
    val docs0 = Parquet.read(spark, paths: _*)
    // `restrictTo` (<= MaxInProbe candidate ids — the micro-verify shape)
    // becomes a LITERAL IN pushed to parquet, evaluated against each row
    // group's min/max stats AND the id bloom filter the doc-row writers
    // enable — with the sorted-by-id layout the verify's corpus read SKIPS
    // row groups holding none of the candidates, so per-trigger verify IO
    // tracks the CANDIDATES, not the store (the mergeView/exact-index
    // discipline applied to the heavyweight (sig, sh) rows; the stack
    // bound on pushed In sizes is the MaxInProbe note there). Unsorted
    // pre-round-12 stores evaluate the same filter as a scan — correct,
    // just unpruned.
    val docs = restrictTo.fold(docs0)(ids => docs0.filter(col(idCol).isin(ids: _*)))
    val tombs = new Path(s"$indexPath/tombs")
    if (!SegmentLog.fs(spark, indexPath).exists(tombs)) docs
    else docs.join(
      broadcast(readDocTombs(spark, indexPath).withColumnRenamed("doc_id", idCol)),
      Seq(idCol), "left_anti")
  }

  /** The stored id column of a doc-row index (`doc` for MinHash, `doc_id`
    * for the SimHash store). */
  private def storedIdCol(spark: SparkSession, indexPath: String): String =
    if (Parquet.read(spark, s"$indexPath/docs").columns.contains("doc")) "doc" else "doc_id"

  /** Retract documents from a persisted MinHash or SimHash index by id —
    * the takedown path for the near-dup indexes (which, unlike the exact
    * index, store one row PER DOCUMENT, so id-level deletion is exact):
    * append the ids as tombstones that the incremental probes anti-join
    * away, folded into a physical rewrite by [[compactDocIndex]]. Under the
    * id-monotonicity contract ids are never reused, so a tombstone needs no
    * sequence ordering. Returns distinct ids tombstoned (idempotent —
    * re-deleting is harmless). */
  /** Read a doc-row index's tombstone dir with an EXPLICIT schema: a
    * takedown appending BESIDE a live probe creates the dir before any
    * parquet file commits, and schema inference over a file-less dir
    * fails the reading job (measured: UNABLE_TO_INFER_SCHEMA racing
    * [[graft.operators.Multimodal.deleteVideoFromIndex]] against a live
    * video ingest in the 1000-batch soak). A schema'd read of zero files
    * is simply empty — the correct transient view of an in-flight
    * takedown. */
  private def readDocTombs(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.schema("doc_id LONG").parquet(s"$indexPath/tombs")

  def deleteFromDocIndex(
      removedIds: DataFrame,
      indexPath: String,
      idCol: String = "doc_id"): Long = {
    Stage.scope { s =>
      val batch = s(removedIds.select(col(idCol).cast("long").as("doc_id")).distinct())
      batch.write.mode("append").parquet(s"$indexPath/tombs")
      batch.count()
    }
  }

  /** Fold a MinHash/SimHash index's tombstones AND named streaming
    * segments (`segs/`) into a physical rewrite: stored rows minus deleted
    * ids land in one flat `docs/`, tombstones, segments, and fold markers
    * dropped. STOP-THE-WORLD for this index (rewrites `docs/` in place) —
    * the full fold including the base store and tombstone GC. For the
    * segment-accumulation problem of a LONG-RUNNING near-dup ingest
    * ([[graft.streaming.Ingest.startNearDupIngest]] writes one segment per
    * micro-batch), use [[foldDocSegments]] instead: it folds segments into
    * one beside the live ingest, no stop needed. */
  /** The band layout of a bucketed doc-row store, layout-family agnostic:
    * (bandRowsPerDoc — a LAYOUT CONSTANT: MinHash `bands`, signature
    * C(maxHamming+comboSize, comboSize) block combos; operative bucket
    * count — tree marker over meta; row builder at an arbitrary P). None
    * for flat stores (no band tree to maintain). */
  private def bandLayout(spark: SparkSession, indexPath: String)
      : Option[(Long, Int, (DataFrame, Int) => DataFrame)] = {
    val fs = SegmentLog.fs(spark, indexPath)
    val hasMeta = fs.exists(new Path(s"$indexPath/meta"))
    val bb = if (hasMeta) effectiveBandBuckets(spark, indexPath) else 0
    if (bb > 0) {
      val m = Parquet.read(spark, s"$indexPath/meta").head()
      val bands = m.getInt(2); val rpb = m.getInt(1) / bands
      Some((bands.toLong, bb, (kept, p) => bandRows(kept, bands, rpb, p)))
    } else effectiveSigBuckets(spark, indexPath).map { case (mh, cs, sb) =>
      ((0 until mh + cs).combinations(cs).size.toLong, sb,
        (kept: DataFrame, p: Int) => signatureBandRows(kept, mh, cs, p))
    }
  }

  /** Every live segment's band twin carries its own `_BUCKETS` marker —
    * the gate for re-bucketing BESIDE live segments: a marker-less twin
    * (pre-marker store) was written at the then-operative base P, and its
    * rows would be mis-pruned the moment that P moved, so growth is held
    * back until a fold or compaction has retired it. */
  private def liveBandsegsMarked(
      spark: SparkSession, fs: FileSystem,
      indexPath: String): Boolean = {
    val live = liveDocSegs(spark, indexPath)
    live.map(d => new Path(s"$indexPath/bandsegs/${d.getName}"))
      .filter(fs.exists)
      .forall(b => SegmentLog.readBuckets(fs, b).isDefined)
  }

  /** Rebuild a bucketed store's BASE band tree from `docs/` (an explode
    * over stored sig/sh columns — no text or payload re-read; tombstoned
    * docs' stale band rows are swept because the fold that precedes this
    * dropped their doc rows), published as a NEW GENERATION behind the
    * `_BANDS` pointer. GROW-ONLY RE-BUCKET rides the rebuild: when the
    * store has OUTGROWN its operative P (the auto size from the current
    * doc count is >= 2x it, i.e. per-bucket rows — the probe's
    * read-amplification unit — have doubled), the new generation is
    * partitioned at the new auto P. Never shrinks: an explicitly oversized
    * P costs only small files. Growing BESIDE LIVE SEGMENTS is safe
    * because probes prune each band root at its OWN marker P
    * ([[storedBands]]) — a live segment written at the old P keeps exact
    * recall through its own marker — gated only on every live twin
    * CARRYING a marker ([[liveBandsegsMarked]]; pre-marker segments have
    * no record of their write-time P). `dropBandSegs` additionally drops
    * the segment band twins — correct ONLY when no live doc segments
    * remain (the stop-the-world compaction). */
  private def rebuildBandTree(
      spark: SparkSession, indexPath: String, dropBandSegs: Boolean,
      targetP: Option[Int] = None): Unit =
    bandLayout(spark, indexPath).foreach { case (perDoc, effP, mkRows) =>
      val fs = SegmentLog.fs(spark, indexPath)
      val kept = Parquet.read(spark, s"$indexPath/docs")
      // `targetP` sizes growth off the TOTAL live store (docs/ + live
      // segments — [[reconcileBandOrphans]] computes it): a pure-streaming
      // deployment's rows accumulate in SEGMENTS while docs/ stays frozen,
      // so sizing off docs/ alone would never grow exactly where growth
      // matters most
      val rowCount = kept.count() * perDoc
      val autoP = targetP.getOrElse(autoBucketCount(rowCount))
      val canGrow = dropBandSegs || liveBandsegsMarked(spark, fs, indexPath)
      val newP = if (canGrow && autoP >= 2 * effP) autoP else effP
      publishBandTree(spark, fs, indexPath, mkRows(kept, newP), newP, rowCount)
      if (dropBandSegs) {
        val bandsegs = new Path(s"$indexPath/bandsegs")
        if (fs.exists(bandsegs)) { fs.delete(bandsegs, true); () }
      }
    }

  /** Publish a COMPLETE band tree as a new generation ([[BandGens]]):
    * `rowsAtP` (already carrying `bucket` computed at `p`) land with the
    * `_BUCKETS` marker written BEFORE the rows (append-mode parquet
    * preserves it), then the `_BANDS` pointer flips. */
  private def publishBandTree(
      spark: SparkSession, fs: FileSystem,
      indexPath: String, rowsAtP: DataFrame, p: Int, rowCount: Long): Unit =
    BandGens.publish(fs, new Path(indexPath)) { dir =>
      SegmentLog.writeBuckets(fs, dir, p)
      if (rowCount / math.max(1, p) >= MinBucketFileRows)
        rowsAtP.repartition(col("bucket"))
          .write.mode("append").partitionBy("bucket").parquet(dir.toString)
      else
        // thin root (e.g. the docs/-only base tree of a streaming-heavy
        // store after a growth re-bucket): one sorted-by-bucket file —
        // probes push a bucket-In filter instead of listing hit dirs
        rowsAtP.coalesce(1).sortWithinPartitions("bucket")
          .write.mode("append").parquet(dir.toString)
    }

  /** Promote an AUTO-FLAT store — auto layout requested at build time but
    * the corpus was below its family's crossover
    * ([[FlatCrossoverRowsMinHash]] / [[FlatCrossoverRowsSig]]), recorded
    * as meta bucket value [[AutoBuckets]] — to the band-bucketed layout
    * once growth has carried it past the crossover.
    *
    * Two callers, one commit discipline:
    *
    * `online = true` ([[foldDocSegments]], every cycle, BESIDE A LIVE
    * INGEST): growth is sized off the TOTAL live store (`docs/` + live
    * segment footer counts — a pure-streaming store's rows accumulate in
    * segments while docs/ stays frozen), the tree is built from `docs/`
    * only, and META IS NEVER TOUCHED — a meta overwrite is not atomic
    * beside live readers. The `_BANDS` pointer flip (marker inside the
    * tree) IS the commit point: both families' probes consult the marker
    * over an AutoBuckets meta ([[effectiveBandBuckets]] /
    * [[effectiveSigBuckets]]). Live FLAT-ERA segments have no band twins
    * at that instant; bucketed probes flat-scan exactly those
    * ([[storedBands]]'s twin-less arm) so the view stays complete, and the
    * fold that carried the promotion retires them into a banded compact
    * twin. A crash before the pointer flip leaves an unreferenced
    * generation (swept later) and probes flat — the next cycle
    * re-promotes idempotently; after the flip the promotion is durable.
    *
    * `online = false` ([[compactDocIndex]], stop-the-world, after the full
    * fold): same tree publish when none exists yet, then meta is rewritten
    * at the operative P — persisting an earlier online promotion (tree
    * already marked: meta-only write) or committing a fresh one. A crash
    * between tree and meta is harmless (the marker already carries the
    * promotion for both families' probes).
    *
    * An explicitly-flat store (band/sig buckets = 0, or no meta at all)
    * never promotes. */
  private def promoteAutoFlat(
      spark: SparkSession, indexPath: String, online: Boolean = false): Unit = {
    val fs = SegmentLog.fs(spark, indexPath)
    val metaPath = new Path(s"$indexPath/meta")
    if (!fs.exists(metaPath)) return
    val metaDf = Parquet.read(spark, metaPath.toString)
    import spark.implicits._

    // footer-count rows living in segments (0 after a stop-the-world fold)
    def liveSegRows: Long = liveDocSegs(spark, indexPath)
      .map(d => Parquet.read(spark, d.toString).count()).sum

    def promote(
        perDoc: Long, crossover: Long,
        mkRows: (DataFrame, Int) => DataFrame, writeMeta: Int => Unit): Unit = {
      val existing = SegmentLog.readBuckets(fs, baseBandRoot(fs, indexPath))
      if (existing.isDefined) {
        // already promoted online (tree + marker live, meta still -1):
        // stop-the-world persists the operative P into meta, online no-ops
        if (!online) writeMeta(existing.get)
        return
      }
      val kept = Parquet.read(spark, s"$indexPath/docs")
      val docRows = kept.count() * perDoc
      val p = autoLayoutBuckets(docRows + liveSegRows * perDoc, crossover)
      if (p <= 0) return
      publishBandTree(spark, fs, indexPath, mkRows(kept, p), p, docRows)
      if (!online) writeMeta(p)
    }

    if (metaDf.columns.contains("band_buckets")) {
      val m = metaDf.head()
      if (m.getAs[Int]("band_buckets") != AutoBuckets) return
      val (sn, nh, bands) = (m.getInt(0), m.getInt(1), m.getInt(2))
      promote(bands.toLong, FlatCrossoverRowsMinHash,
        (kept, p) => bandRows(kept, bands, nh / bands, p),
        p => Seq((sn, nh, bands, p))
          .toDF("shingle_n", "num_hashes", "bands", "band_buckets")
          .coalesce(1).write.mode("overwrite").parquet(metaPath.toString))
    } else if (metaDf.columns.contains("sig_buckets")) {
      val m = metaDf.head()
      if (m.getAs[Int]("sig_buckets") != AutoBuckets) return
      val (mh, cs) = (m.getInt(0), m.getInt(1))
      val combos = (0 until mh + cs).combinations(cs).size
      promote(combos.toLong, FlatCrossoverRowsSig,
        (kept, p) => signatureBandRows(kept, mh, cs, p),
        p => Seq((mh, cs, p)).toDF("max_hamming", "combo_size", "sig_buckets")
          .coalesce(1).write.mode("overwrite").parquet(metaPath.toString))
    }
  }

  /** Footer-count orphan reconcile of a bucketed store's BASE band tree —
    * the detector for [[appendToSignatureIndex]]'s fail-open crash window
    * (docs committed, band rows not: the orphaned docs' duplicates are
    * ADMITTED by bucketed probes until the tree is rebuilt). Band rows per
    * doc is a layout constant, so `bands == docs * perDoc` — two parquet
    * footer counts, no data pages — detects orphans exactly. Returns the
    * orphan doc count found (0 when counts reconcile, the store is flat,
    * or bands only carry harmless EXTRA rows — stale tombstoned bands
    * produce candidates the verify drops and are compaction's business);
    * `heal` rebuilds the base tree from `docs/` when orphans are found.
    * Runs inside every [[foldDocSegments]] cycle so a streaming deployment
    * that never stops for [[compactDocIndex]] still converges — the
    * fail-open window is bounded by the fold cadence instead of forever. */
  def reconcileBandOrphans(
      spark: SparkSession, indexPath: String, heal: Boolean = true): Long =
    bandLayout(spark, indexPath) match {
      case None => 0L
      case Some((perDoc, effP, _)) =>
        val fs = SegmentLog.fs(spark, indexPath)
        val docsCount = Parquet.read(spark, s"$indexPath/docs").count()
        val bandsCount = SegmentLog.rowCount(spark, fs, baseBandRoot(fs, indexPath))
        val missing = docsCount * perDoc - bandsCount
        val orphans = if (missing > 0) (missing + perDoc - 1) / perDoc else 0L
        // GROWTH rides the same fold-cycle slot as the heal: a store that
        // has outgrown its P (auto size >= 2x operative — per-bucket rows
        // doubled) re-buckets HERE, beside the live ingest, so a
        // deployment that never stops for [[compactDocIndex]] still rides
        // the flat per-trigger cost curve (the round-11 soak measured the
        // fixed-P alternative at Theta(N/P) per trigger — linear drift).
        // Sized off the TOTAL live store: a streaming deployment's rows
        // accumulate in segments while docs/ stays frozen (the fold keeps
        // the base store untouched by contract), so the doubling test must
        // see segment docs too — footer counts over the (post-fold, O(1))
        // live segment list. The moved P reaches segment rows through the
        // NEXT fold's compact twin (re-bucketed at the operative P, its
        // own marker); until then old segments prune exactly at their
        // recorded P. Safe beside live segments by the same markers.
        val liveDocs = liveDocSegs(spark, indexPath)
          .map(d => Parquet.read(spark, d.toString).count()).sum
        val autoP = autoBucketCount((docsCount + liveDocs) * perDoc)
        val growDue = heal && autoP >= 2 * effP &&
          liveBandsegsMarked(spark, fs, indexPath)
        if ((orphans > 0 && heal) || growDue)
          rebuildBandTree(spark, indexPath, dropBandSegs = false,
            targetP = if (growDue) Some(autoP) else None)
        orphans
    }

  /** GetProperty-style health of a persisted MinHash/SimHash/signature
    * doc-row index: base docs, live segments, tombstones, the operative
    * band layout, and — the maintenance signal — `orphan-docs`, the
    * footer-count estimate of docs a crashed direct append left without
    * band rows ([[reconcileBandOrphans]]'s detector, heal-free). Nonzero
    * orphans mean bucketed probes are ADMITTING those docs' duplicates;
    * the next [[foldDocSegments]] cycle or [[compactDocIndex]] heals. All
    * counts are parquet footer metadata — no data pages. */
  def docIndexStats(spark: SparkSession, indexPath: String): Map[String, String] = {
    val fs = SegmentLog.fs(spark, indexPath)
    val docsCount = Parquet.read(spark, s"$indexPath/docs").count()
    val live = liveDocSegs(spark, indexPath)
    val tombsPath = new Path(s"$indexPath/tombs")
    val tombCount =
      if (fs.exists(tombsPath)) readDocTombs(spark, indexPath).count() else 0L
    val bandsCount = SegmentLog.rowCount(spark, fs, baseBandRoot(fs, indexPath))
    val layout = bandLayout(spark, indexPath)
    val orphans = layout.fold(0L) { case (perDoc, _, _) =>
      val missing = docsCount * perDoc - bandsCount
      if (missing > 0) (missing + perDoc - 1) / perDoc else 0L
    }
    Map(
      "graft.docindex.docs" -> docsCount.toString,
      "graft.docindex.segments" -> live.size.toString,
      "graft.docindex.tombstones" -> tombCount.toString,
      "graft.docindex.band-buckets" -> layout.fold(0)(_._2).toString,
      "graft.docindex.band-rows" -> bandsCount.toString,
      "graft.docindex.orphan-docs" -> orphans.toString)
  }

  def compactDocIndex(spark: SparkSession, indexPath: String): Unit = {
    val (fs, root) = (SegmentLog.fs(spark, indexPath), new Path(indexPath))
    val docsDir = new Path(s"$indexPath/docs")
    val staging = new Path(s"$indexPath/docs_staging")
    SegmentLog.healSwap(fs, staging, docsDir) // finish a crashed prior swap first
    // heal a crashed BANDS swap too (bucketed indexes): a crash inside
    // swapInto(bandStaging, bands) between delete and rename would
    // otherwise leave the index with no bands/ tree until a later
    // compaction happened to rerun the band rebuild
    SegmentLog.healSwap(fs,
      new Path(s"$indexPath/bands_staging"),
      new Path(s"$indexPath/bands"))
    val tombs = new Path(s"$indexPath/tombs")
    val segs = new Path(s"$indexPath/segs")
    val layout = bandLayout(spark, indexPath)
    val haveFold = fs.exists(tombs) || fs.exists(segs)
    if (!haveFold && layout.isEmpty) {
      // flat store, nothing to fold — the only compaction business left is
      // the auto-flat → bucketed PROMOTION once growth crossed the line
      promoteAutoFlat(spark, indexPath)
      return
    }
    if (!haveFold) {
      // Bucketed store with NOTHING to fold: the only possible damage is
      // band rows lost to a crashed direct append (docs committed, band
      // rows not yet written — [[appendToSignatureIndex]]'s fail-open
      // window) or a vanished band tree the entry heals couldn't restore —
      // the footer-count reconcile detects both; when the counts agree AND
      // the store hasn't outgrown its P this is a no-op, never the O(N)
      // docs rewrite the general fold below pays.
      // with segs/ gone, surviving fold markers are pure hazard: a
      // marker listing batch_N as folded would HIDE a future segment
      // reusing that name — retire them here, exactly as the full fold's
      // tail does
      SegmentLog.Docs.retire(fs, root)
      val (perDoc, effP, _) = layout.get
      val bandsDir = baseBandRoot(fs, indexPath)
      val docsCount = Parquet.read(spark, docsDir.toString).count()
      val bandsCount =
        if (fs.exists(bandsDir)) SegmentLog.rowCount(spark, fs, bandsDir) else -1L
      if (bandsCount == docsCount * perDoc
          && autoBucketCount(docsCount * perDoc) < 2 * effP) {
        BandGens.sweep(fs, root) // stop-the-world: drain-free
        return
      }
      rebuildBandTree(spark, indexPath, dropBandSegs = true)
      BandGens.sweep(fs, root)
      return
    }
    // stage-then-swap (SegmentLog.swapInto): the folded view streams from
    // the live tree into a durable sibling; a crash at any point leaves a
    // complete docs tree on disk, where the previous localCheckpoint +
    // in-place overwrite lost both old and new if the JVM died mid-write.
    // dropDuplicates(id): a crash after the docs swap but before the segs
    // delete makes this rerun union the already-folded docs/ with the same
    // segments again — duplicated doc rows (and their derived band rows)
    // would otherwise persist; rows per id are byte-identical, so id-level
    // dedup restores exact contents (the compactTextIndex discipline).
    val idc = storedIdCol(spark, indexPath)
    storedDocs(spark, indexPath, idc)
      .dropDuplicates(idc)
      .repartitionByRange(col(idc))
      .sortWithinPartitions(idc)
      .write.mode("overwrite").options(docRowOptions(idc))
      .parquet(staging.toString)
    SegmentLog.swapInto(fs, staging, docsDir)
    rebuildBandTree(spark, indexPath, dropBandSegs = true)
    // segments before tombstones: a crash in between must not leave a
    // tombstoned segment doc for the rerun without its tombstone
    SegmentLog.Docs.retire(fs, root)
    // AFTER the fold (so the promotion decision sees the folded row
    // count): an auto-flat store that has grown past the crossover gets
    // its band tree here — or, if a fold-cycle ONLINE promotion already
    // published it beside the ingest, just its meta persisted at the
    // operative P.
    promoteAutoFlat(spark, indexPath)
    BandGens.sweep(fs, root) // stop-the-world: drain-free
  }

  /** Fold the LIVE streaming segments of a doc-row index into one —
    * SAFE BESIDE A RUNNING [[graft.streaming.Ingest.startNearDupIngest]]
    * under the [[graft.core.SegmentLog]] fold, with the compact band twin
    * written before the marker. The base
    * `docs/` store and tombstones are NOT touched (that full fold is
    * [[compactDocIndex]], stop-the-world) — this bounds the per-probe
    * listing+read cost of a week-long ingest at O(1) segments instead of
    * O(batches).
    *
    * `gc = true` immediately deletes the folded directories — safe only
    * when no concurrent reader planned its scan before the marker; pass
    * `gc = false` beside a live ingest and run [[gcDocIndex]] after the
    * per-micro-batch readers drain (one trigger). */
  def foldDocSegments(spark: SparkSession, indexPath: String, gc: Boolean = true): Unit = {
    // ONLINE auto-flat -> bucketed PROMOTION rides the fold slot, BEFORE
    // the fold reads the layout: a store seeded auto-flat under a
    // never-stopped ingest promotes the first fold cycle after growth
    // (docs/ + live segments) crosses its family's crossover — and because
    // the promotion lands first, THIS fold's compact twin is already
    // banded, so the probe flattens one cadence after the line is crossed.
    // One meta head + (pre-promotion only) live footer counts per cycle.
    promoteAutoFlat(spark, indexPath, online = true)
    val (fs, root) = (SegmentLog.fs(spark, indexPath), new Path(indexPath))
    val segs = SegmentLog.Docs.live(fs, root).segments
    val live = segs.map(_.dir)
    if (live.size > 1) SegmentLog.Docs.fold(fs, root, segs) { dir =>
      val twin = s"$indexPath/bandsegs/${dir.getName}"
      // band rows first (when bucketed): the fold MARKER is the publish
      // point for both trees, and a committed marker must find the compact
      // band segment on disk. The compact twin is derived from the folded
      // DOC rows (band rows are a pure function of them) rather than by
      // merging the per-segment twins: segments written at DIFFERENT P's
      // (a beside-live re-bucket moves the operative P between batches)
      // and FLAT-ERA segments with no twin at all (appended before an
      // online promotion) both collapse to one compact twin computed at
      // the CURRENT operative P, recorded in its own `_BUCKETS` marker —
      // one compact segment, one P, exact probes. The superseded
      // per-segment twins ride out with their doc segments at GC.
      bandLayout(spark, indexPath).foreach { case (perDoc, foldP, mkRows) =>
        // parquet-footer doc counts (no data pages) feed the flat floor
        val foldRows = live.map(d => Parquet.read(spark, d.toString).count()).sum * perDoc
        val folded = mkRows(Parquet.read(spark, live.map(_.toString): _*), foldP)
        // per-root flat floor, same rule as publishBandTree: a small fold
        // partitioned across a grown P would be all tiny files
        if (foldRows / math.max(1, foldP) < MinBucketFileRows)
          folded.coalesce(1).sortWithinPartitions("bucket")
            .write.mode("overwrite").parquet(twin)
        else
          folded.repartition(col("bucket"))
            .write.mode("overwrite").partitionBy("bucket").parquet(twin)
        SegmentLog.writeBuckets(fs, new Path(twin), foldP)
      }
      // range-cluster the fold by id (replacing the earlier plain
      // coalesce, which only consolidated file count): the compact doc
      // segment is the BULK of a long-running store, and the sorted-by-id
      // + bloom + small-row-group layout is what lets the micro verify's
      // pushed-In candidate filter skip its row groups — without it every
      // trigger's verify re-scans the whole folded corpus
      val idc = storedIdCol(spark, indexPath)
      Parquet.read(spark, live.map(_.toString): _*)
        .repartitionByRange(
          math.max(1, spark.sparkContext.defaultParallelism / 2), col(idc))
        .sortWithinPartitions(idc)
        .write.mode("overwrite").options(docRowOptions(idc))
        .parquet(dir.toString)
    }
    if (gc) gcDocIndex(spark, indexPath)
    // the footer-count orphan reconcile rides every fold cycle: a crashed
    // direct append's fail-open window (docs committed, band rows not)
    // would otherwise persist until a stop-the-world [[compactDocIndex]]
    // that a long-running streaming deployment may never schedule. Two
    // footer counts when healthy; heals the base band tree when not.
    reconcileBandOrphans(spark, indexPath, heal = true)
    ()
  }

  /** [[graft.core.SegmentLog.gc]] of a doc-row index, plus the band twins
    * and the superseded base band generations. Same contract as
    * [[gcExactIndex]]: run from the maintenance actor only, after readers
    * that planned before the last fold marker or pointer flip have
    * drained. Returns every directory removed: segments, their
    * `bandsegs/` twins, unreachable compact band segments and band
    * generations. */
  def gcDocIndex(spark: SparkSession, indexPath: String): Long = {
    val (fs, root) = (SegmentLog.fs(spark, indexPath), new Path(indexPath))
    // a doc segment's band twin (bucketed indexes) shares its name and its
    // lifecycle: folded => delete both; orphaned compact_* => delete both.
    // NON-compact band segments without a doc twin are left alone — they
    // can be a crashed batch's pre-commit write that a replay is about to
    // overwrite (deleting one concurrently with the ingest would lose the
    // replayed batch's band rows).
    val removed = SegmentLog.Docs.gc(fs, root)(name =>
      if (fs.delete(new Path(root, s"bandsegs/$name"), true)) 1L else 0L)
    // a compact band segment whose doc twin never committed (crash between
    // the band fold and the doc fold) is unreachable — sweep it
    val unreachable = SegmentLog.listDirs(fs, new Path(root, "bandsegs")).count { d =>
      SegmentLog.isCompact(d.getName) && !fs.exists(new Path(root, s"segs/${d.getName}")) &&
        fs.delete(d, true)
    }
    // superseded base band GENERATIONS and crashed unreferenced publishes:
    // GC is the drain-safe slot, so they sweep here alongside the folded
    // segment dirs
    removed + unreachable + BandGens.sweep(fs, root)
  }

  /** Write already-signed rows ([[minHashBatchSigs]] output, possibly
    * filtered) as a NAMED index segment under `segs/<segName>`, overwrite
    * semantics — the replay-idempotent streaming form of
    * [[appendToMinHashIndex]]: a crash-replayed micro-batch rewrites the
    * same directory instead of appending twice. Folded into flat `docs/`
    * by [[compactDocIndex]]. Returns rows written. */
  def writeMinHashSegment(
      sigs: DataFrame,
      indexPath: String,
      segName: String): Long = Stage.scope { s =>
    val spark = sigs.sparkSession
    val batch = s(sigs.select("doc", "sh", "sig"))
    // heal-then-read: `bucket` rides as a data column, computed at the
    // CURRENT operative P and recorded in the segment's own `_BUCKETS`
    // marker — probes prune this root at the marker P, so the segment
    // stays exactly readable even after a later re-bucket moves the base P
    bandTreeUsable(spark, indexPath)
    val bb = effectiveBandBuckets(spark, indexPath)
    if (bb > 0) {
      // band rows FIRST: the doc segment's _SUCCESS is the commit point
      // (liveDocSegs), so a committed doc segment always has its band rows
      // on disk; a crash in between leaves an orphaned band segment the
      // replay overwrites. Batch-bounded => one file. The marker lands
      // after the parquet overwrite (which wipes the dir) and before the
      // doc segment commits — a committed segment always carries its P.
      val meta = Parquet.read(spark, s"$indexPath/meta").head()
      bandRows(batch, meta.getInt(2), meta.getInt(1) / meta.getInt(2), bb)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$indexPath/bandsegs/$segName")
      SegmentLog.writeBuckets(SegmentLog.fs(spark, indexPath),
        new Path(s"$indexPath/bandsegs/$segName"), bb)
    }
    batch.sortWithinPartitions("doc")
      .write.mode("overwrite").options(docRowOptions("doc"))
      .parquet(s"$indexPath/segs/$segName")
    batch.count()
  }

  /** Sign a batch and append its rows to the index (no retrain, no
    * rewrite — LSH banding has no model to go stale, so unlike the IVF
    * index there is no rebuild trigger). Returns rows appended. */
  def appendToMinHashIndex(
      newDocs: DataFrame,
      indexPath: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Long = Stage.scope { s =>
    val spark = newDocs.sparkSession
    val meta = Parquet.read(spark, s"$indexPath/meta").head()
    val batch = s(signatureRows(newDocs, meta.getInt(0), meta.getInt(1), idCol, textCol))
    // Heal a crashed compaction swap BEFORE touching bands/ — appending
    // with bands/ missing would re-create the tree holding only this
    // batch, turning [[bandTreeUsable]]'s exists-check permanently green
    // over a store whose base band rows are gone: every bucketed probe
    // from then on silently misses the pre-crash corpus. If no staged
    // tree heals it (bands/ truly destroyed mid-maintenance), SKIP the
    // band append entirely — probes fall back to the flat scan
    // (bandTreeUsable false), correct over docs/, until [[compactDocIndex]]
    // rebuilds the band tree. Heal-then-read: the operative bucket count
    // is read only after the heal, never from a stale meta over a
    // re-bucketed tree.
    val usable = bandTreeUsable(spark, indexPath)
    val bb = if (usable) effectiveBandBuckets(spark, indexPath) else 0
    if (bb > 0)
      bandRows(batch, meta.getInt(2), meta.getInt(1) / meta.getInt(2), bb)
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket")
        .parquet(baseBandRoot(SegmentLog.fs(spark, indexPath), indexPath).toString)
    batch.sortWithinPartitions("doc")
      .write.mode("append").options(docRowOptions("doc"))
      .parquet(s"$indexPath/docs")
    batch.count()
  }

  /** Exact pairwise shingle-Jaccard near-dup within blocking keys — the
    * oracle-friendly exact variant (blocking bounds the pair count; at real
    * scale the blocks come from LSH buckets instead). Pairs must share `lang`
    * and be within `tokenSlack` tokens of each other.
    *
    * Verification is FUSED into the blocking join: both sides carry their
    * shingle arrays through the ONE (lang, token-block) exchange, and the
    * Jaccard is computed as the sort-merge join emits each candidate — no
    * row ever rides a second shuffle. The earlier ids-only-block /
    * re-attach-arrays-by-id shape looked lighter but was not: with B
    * candidates per doc (tens at corpus scale) the re-attach joins either
    * shuffle candidates×arrays (B× the corpus bytes) or rely on Catalyst
    * broadcasting the under-estimated checkpointed shingle relation — the
    * executor-OOM cliff documented in BASELINE.md. Here total array movement
    * is exactly 3× the corpus (1× build side + 2× probe side), independent
    * of the candidate count. */
  def exactJaccardPairs(
      documents: DataFrame,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      tokenSlack: Int = 5): DataFrame = {
    // tokenSlack = 0 would divide the block key by zero — null blocks
    // under non-ANSI eval, so the equi-join matches NOTHING and the
    // function silently returns no pairs even for identical documents
    require(tokenSlack >= 1, s"tokenSlack must be >= 1, got $tokenSlack")
    // ONE materialization holding both the blocking fields and the shingle
    // sets (shingles carried as xxhash64 longs: identical Jaccard w.h.p.,
    // long-set intersection instead of string-set per pair). The raw token
    // hashes never persist — with the native tokenizer they are cheap to
    // fold straight into (nt, sh). MERGE: the relation is checkpointed, so
    // Catalyst under-estimates it (see the band joins above) and would
    // broadcast a corpus of shingle arrays; sort-merge on the block key
    // spills gracefully at any corpus size.
    val d = Stage.scope(_(documents
      .select(col("doc_id"), col("lang"), TextOps.tokenHashes(col("text")).as("th"))
      .select(
        col("doc_id"), col("lang"), size(col("th")).as("nt"),
        TextOps.ngramHashes(col("th"), shingleN).as("sh"))
      .withColumn("nt_block", floor(col("nt") / (tokenSlack * 2)))))
      .hint("merge")
    // Orient each pair by (nt, doc_id) instead of doc_id alone: the lower
    // side then only ever probes UP, so {block, block+1} covers every
    // qualifying pair (nb ∈ [na, na+slack] with block width 2·slack puts b
    // in a's block or the next one) — a 2-way probe explode instead of the
    // 3-way ±1 an id-oriented probe needs. Each pair matches exactly once
    // (one probe value equals b's block; the orientation predicate picks one
    // side), so there is nothing to deduplicate — and no post-join exchange
    // at all: the jaccard filter runs in the same stage the join emits into.
    val probe = d.withColumn(
      "nt_probe", explode(array(col("nt_block"), col("nt_block") + 1)))
    probe.as("a")
      .join(
        d.as("b"),
        col("a.lang") === col("b.lang") &&
          col("a.nt_probe") === col("b.nt_block") &&
          (col("a.nt") < col("b.nt") ||
            (col("a.nt") === col("b.nt") && col("a.doc_id") < col("b.doc_id"))) &&
          col("b.nt") - col("a.nt") <= tokenSlack)
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        TextOps.jaccardSortedHashes(col("a.sh"), col("b.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** SimHash near-dup pairs: 64-bit simhash, pigeonhole multi-block banding,
    * verify by Hamming distance <= maxHamming. Token hashes are materialized
    * once per document so the 64 bit-folds share them. */
  def simHashPairs(documents: DataFrame, maxHamming: Int = 6): DataFrame = {
    // signature computed once, not per self-join side
    val d = Stage.scope(_(documents
      .select(col("doc_id"),
        TextOps.simHashFromHashes(TextOps.tokenHashes(col("text"))).as("sh"))))
    simHashPairsFromSignatures(d, maxHamming)
  }

  /** Pair search over precomputed 64-bit signatures (`doc_id`, `sh`).
    *
    * Multi-index blocking with a RECALL GUARANTEE (the multi-index Hamming
    * search scheme of Norouzi et al., generalized pigeonhole): the 64 bits
    * are split into `maxHamming + comboSize` nearly-equal blocks. A pair
    * within the Hamming budget has at most `maxHamming` dirty blocks, so at
    * least `comboSize` blocks are untouched — therefore the combination of
    * those `comboSize` clean blocks matches exactly. Candidates = pairs
    * sharing ANY of the C(maxHamming+comboSize, comboSize) block
    * combinations; every qualifying pair is provably generated.
    *
    * Why combinations and not single blocks (comboSize = 1): bucket width is
    * what bounds candidate growth. At maxHamming = 6, single blocks are 7
    * keys of ~9 bits — on a low-entropy corpus candidate pairs grow as
    * ~7·N²/2⁹, effectively quadratic. comboSize = 2 emits 28 keys of ~16
    * bits: 4× the banding rows (ids only) for ~2⁷× smaller buckets, flipping
    * candidate growth to ~28·N²/2¹⁶. Join key is (combo index, bits of each
    * block in the combo).
    *
    * Why not comboSize = 3 (84 keys × ~21 bits, another ~2⁵× smaller
    * buckets): measured at 50k, 500k (100× probe), and 1.5M docs, 3 is
    * 2-3× SLOWER than 2 at every scale — the sort/shuffle of 3× more banding
    * rows costs more than the 2⁵× candidate reduction saves, and the
    * verify filter (two long ops per candidate) is too cheap to rescue.
    * The candidate term stays sub-dominant under comboSize = 2 through at
    * least 1.5M docs (join wall-clock sub-linear: ~8 s at 500k, ~19 s at
    * 1.5M on local[32]); revisit only past that regime. */
  def simHashPairsFromSignatures(
      signatures: DataFrame,
      maxHamming: Int,
      comboSize: Int = 2): DataFrame = {
    val banded = simHashBanded(signatures, maxHamming, comboSize)
    banded.as("a")
      .join(banded.as("b"), col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        TextOps.hamming64(col("a.sh"), col("b.sh")).as("hamming"))
      // verify BEFORE deduplicating: hamming64 is two long ops, so filtering
      // first means only true pairs (tiny) reach the dedup shuffle
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b") // pairs can share several blocks
  }

  /** (doc_id, sh, blk) — each signature exploded to its multi-index block
    * combination keys. MERGE, never broadcast or hash-build: the banded
    * relation is |combos| x N rows — Catalyst under-estimates it (explode
    * keeps the checkpointed child's size), tries to broadcast, and OOMs once
    * N x C(h+q, q) rows no longer fit a hash table on one node (shuffle-hash
    * fares no better: every concurrent task builds a per-partition map).
    * Sort-merge spills gracefully and tolerates band-key skew — the plan
    * that survives any corpus size. */
  private def simHashBanded(
      signatures: DataFrame, maxHamming: Int, comboSize: Int,
      hinted: Boolean = true): DataFrame = {
    val banded = signatures
      .select(col("doc_id"), col("sh"),
        explode(simHashBlockKeys(maxHamming, comboSize)).as("blk"))
    // merge by default — the banded relation is |combos| x N rows and
    // Catalyst under-estimates it (see the scaladoc above); the micro probe
    // passes hinted = false because THERE the batch side is explicitly
    // broadcast and the corpus side must stay un-hinted so the BHJ builds
    // on the batch
    if (hinted) banded.hint("merge") else banded
  }

  /** The multi-index pigeonhole block-combination keys of a `sh` signature
    * column as ONE array Column — each element a struct `(t, b0, …)` of the
    * combo index and its blocks' bits. The single definition both the
    * query-time banding ([[simHashBanded]]) and the persisted bucketed band
    * store ([[signatureBandRows]]) explode, so layout and probe can never
    * disagree on a key. */
  private[operators] def simHashBlockKeys(
      maxHamming: Int, comboSize: Int): org.apache.spark.sql.Column = {
    require(comboSize >= 1, "comboSize must be >= 1")
    val nBlocks = maxHamming + comboSize
    require(nBlocks <= 64, "maxHamming + comboSize too large for a 64-bit signature")
    val bounds = (0 to nBlocks).map(i => i * 64 / nBlocks)
    def blockBits(i: Int) = {
      val lo = bounds(i)
      val width = bounds(i + 1) - lo
      val mask = if (width == 64) -1L else (1L << width) - 1
      shiftrightunsigned(col("sh"), lo).bitwiseAND(lit(mask))
    }
    val combos = (0 until nBlocks).combinations(comboSize).toSeq
    array(combos.zipWithIndex.map { case (combo, ci) =>
      struct(lit(ci).as("t") +:
        combo.zipWithIndex.map { case (b, j) => blockBits(b).as(s"b$j") }: _*)
    }: _*)
  }

  // ---- incremental SimHash: persisted signature store -----------------------
  //
  // The lightest of the three incremental indexes: a simhash signature is
  // ONE long per document, and banding (maxHamming/comboSize) is derived
  // from it at query time — so the store has no parameters to go stale and
  // no meta file. Probe cost per batch is |batch| signature computations
  // plus a banded join whose corpus side reads 16 bytes per indexed doc.

  /** One signature row per document for the simhash store. */
  private def simHashRows(documents: DataFrame, idCol: String, textCol: String): DataFrame =
    documents.select(
      col(idCol).as("doc_id"),
      TextOps.simHashFromHashes(TextOps.tokenHashes(col(textCol))).as("sh"))

  /** Persist a SimHash signature store (doc_id, sh) at `path` — AUTO
    * layout by default (flat below the crossover, else band-bucketed at
    * an auto-sized P, see [[writeSignatureIndex]]): above the crossover
    * the banding at (`maxHamming`, `comboSize`) is frozen into a pruned
    * `bands/` tree, and the streaming micro probe at those parameters
    * reads only the batch's hit buckets instead of scanning every stored
    * signature per trigger. `sigBuckets = 0` pins the flat layout. */
  def writeSimHashIndex(
      documents: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 6, comboSize: Int = 2, sigBuckets: Int = AutoBuckets): Unit =
    writeSignatureIndex(simHashRows(documents, idCol, textCol), path,
      maxHamming, comboSize, sigBuckets)

  /** All pairs within `maxHamming` bits TOUCHING a new batch, against a
    * persisted signature store — same recall guarantee as
    * [[simHashPairsFromSignatures]] (every qualifying pair shares a clean
    * block combination, whichever side of the index it is on). Equals the
    * full recompute restricted to pairs with a batch member
    * (DedupIncrementalSpec); only the batch is tokenized. */
  def simHashIncremental(
      newDocs: DataFrame,
      indexPath: String,
      maxHamming: Int = 6,
      comboSize: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    signatureIncremental(simHashRows(newDocs, idCol, textCol), indexPath, maxHamming, comboSize)

  /** Sign a batch and append it to the signature store. Returns rows
    * appended. */
  def appendToSimHashIndex(
      newDocs: DataFrame, indexPath: String,
      idCol: String = "doc_id", textCol: String = "text"): Long =
    appendToSignatureIndex(simHashRows(newDocs, idCol, textCol), indexPath)

  // The signature store is (doc_id, sh) parquet — nothing about it is
  // text-specific, so the SAME incremental probe, append path, tombstone
  // takedown, and segment fold/GC lifecycle serve ANY 64-bit content
  // signature: SimHash (text), perceptual dHash (images,
  // [[Multimodal.imageHashes]]), energy-delta fingerprints (audio,
  // [[Multimodal.audioHashes]]). The generic forms below are what the
  // multimodal dedup-at-ingest composes with.

  /** Persist a 64-bit signature store from PRECOMPUTED `(doc_id, sh)`
    * rows — [[writeSimHashIndex]] without the text signing step.
    *
    * The AUTO layout that [[writeMinHashIndex]] pioneered for the
    * MinHash store is the DEFAULT (`sigBuckets = AutoBuckets`, -1): FLAT
    * below the family's measured crossover
    * ([[FlatCrossoverRowsSig]] — there the cheap 8-byte-signature full
    * scan beats per-bucket directory reads), else BAND-BUCKETED: a slim `bands/` tree of
    * precomputed `(doc, band, bucket)` rows — one row per pigeonhole
    * block-combination key of each signature, `band` the XXH64 of the
    * key, `bucket = pmod(band, P)` the partition directory. The micro
    * probe ([[signatureMicroIncremental]]) then PARTITION-PRUNES the
    * index side to the batch's hit buckets by path construction —
    * per-trigger cost O(|batch| · combos · N / P) instead of the O(N)
    * full signature scan that made continuous image/audio/simhash
    * dedup-on-write linear in the index. A positive count is honored
    * verbatim; `0` pins flat. [[compactDocIndex]] PROMOTES an auto-flat
    * store past the crossover and re-buckets one that outgrows its P.
    * Banding (`maxHamming`, `comboSize`) is FROZEN
    * into the layout (meta file); a probe at different parameters falls
    * back to the flat scan, which stays exactly as before. Recall is
    * untouched: band equality is key equality in the collision-free
    * limit, and an XXH64 collision can only ADD a candidate pair that
    * the hamming verify drops. */
  def writeSignatureIndex(
      signatures: DataFrame, path: String,
      maxHamming: Int = 6, comboSize: Int = 2, sigBuckets: Int = AutoBuckets): Unit = {
    val spark = signatures.sparkSession
    // REBUILD-OVER-EXISTING: retract the band layout and the whole
    // incremental lifecycle FIRST ([[retractIndexTrees]] — meta before
    // bands, so a flat rebuild over a previously bucketed store can never
    // leave probes running the frozen banding against the old corpus's
    // band rows, and stale segments/tombstones can never pollute the
    // rebuilt store's unions). In the bucketed branch the same retraction
    // makes the write crash-safe: meta is rewritten LAST (the commit
    // point), so a crash anywhere in between leaves a metaless store the
    // probe treats as flat — correct over whatever docs/ holds.
    retractIndexTrees(spark, path)
    if (sigBuckets == 0) {
      signatures.select(col("doc_id"), col("sh"))
        .write.mode("overwrite").parquet(s"$path/docs")
    } else {
      // the signing pass upstream already ran; this is an 8-byte/row frame,
      // checkpoint so docs/ and bands/ don't recompute the source twice;
      // freed before meta lands
      val p = Stage.scope { s =>
        val rows = s(signatures.select(col("doc_id"), col("sh")))
        rows.write.mode("overwrite").parquet(s"$path/docs")
        // AutoBuckets (the default): the LAYOUT decision — flat below the
        // family's measured crossover (where the flat scan wins), else
        // auto-sized P; explicit positive counts honored verbatim
        val combos = (0 until maxHamming + comboSize).combinations(comboSize).size
        val p = if (sigBuckets < 0)
                  autoLayoutBuckets(rows.count() * combos, FlatCrossoverRowsSig)
                else sigBuckets
        if (p > 0) {
          signatureBandRows(rows, maxHamming, comboSize, p)
            .repartition(col("bucket"))
            .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/bands")
          SegmentLog.writeBuckets(SegmentLog.fs(spark, path),
            new Path(s"$path/bands"), p)
        }
        p
      }
      // AUTO-FLAT stores record sig_buckets = AutoBuckets (-1): treated as
      // flat by every probe ([[effectiveSigBuckets]] filters non-positive),
      // promoted to bucketed by [[compactDocIndex]] once past the
      // crossover; an explicit 0 (flat, no meta at all) never promotes.
      import spark.implicits._
      Seq((maxHamming, comboSize, if (p > 0) p else AutoBuckets))
        .toDF("max_hamming", "combo_size", "sig_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    }
  }

  /** `(doc, band, sh, bucket)` rows for the bucketed signature layout:
    * each signature exploded to its pigeonhole block-combination keys
    * ([[simHashBanded]]'s family), each key collapsed to one long by XXH64,
    * bucketed by `pmod(band, buckets)` — the partition key the micro probe
    * prunes on. Key equality implies band equality, so banding recall
    * carries over; an XXH64 collision adds only candidates the hamming
    * verify drops. Unlike the MinHash band store, the SIGNATURE itself
    * rides each band row (8 bytes — a signature IS the verify input, where
    * MinHash verification needs the heavyweight stored shingle arrays), so
    * the ENTIRE probe — candidates and hamming verify — runs inside the
    * pruned band read, with no O(N) docs-store pass at all. */
  private def signatureBandRows(
      sigs: DataFrame, maxHamming: Int, comboSize: Int, buckets: Int): DataFrame =
    sigs.select(
        col("doc_id").as("doc"), col("sh"),
        explode(simHashBlockKeys(maxHamming, comboSize)).as("blk"))
      .select(col("doc"), xxhash64(col("blk")).as("band"), col("sh"))
      .withColumn("bucket", pmod(col("band"), lit(buckets.toLong)).cast("int"))

  /** The frozen banding of a bucketed signature store: `(max_hamming,
    * combo_size, sig_buckets)` from its meta file; None for flat stores
    * (no meta, or a MinHash meta). */
  private def sigMetaBuckets(spark: SparkSession, indexPath: String): Option[(Int, Int, Int)] = {
    val meta = new Path(s"$indexPath/meta")
    if (!SegmentLog.fs(spark, indexPath).exists(meta)) None
    else {
      val df = Parquet.read(spark, meta.toString)
      if (!df.columns.contains("sig_buckets")) None
      else {
        val r = df.head()
        Some((r.getAs[Int]("max_hamming"), r.getAs[Int]("combo_size"),
          r.getAs[Int]("sig_buckets")))
      }
    }
  }

  /** [[sigMetaBuckets]] with the OPERATIVE bucket count: the band tree's
    * `_BUCKETS` marker when present (a re-bucketing compaction may have
    * outgrown the build-time meta value), else the meta value. */
  private def effectiveSigBuckets(spark: SparkSession, indexPath: String): Option[(Int, Int, Int)] =
    sigMetaBuckets(spark, indexPath).map { case (mh, cs, sb) =>
      val fs = SegmentLog.fs(spark, indexPath)
      (mh, cs, SegmentLog.readBuckets(fs, baseBandRoot(fs, indexPath)).getOrElse(sb))
    }.filter(_._3 > 0) // AUTO-FLAT meta (sig_buckets = -1, no tree): flat

  /** All pairs within `maxHamming` bits TOUCHING a batch of precomputed
    * signatures, against a persisted store — [[simHashIncremental]]'s
    * probe with the signing step factored out: the recall guarantee
    * (every qualifying pair shares a clean block combination) and the
    * tombstone anti-join apply to any 64-bit signature family. */
  def signatureIncremental(
      batchSigs: DataFrame,
      indexPath: String,
      maxHamming: Int = 6,
      comboSize: Int = 2): DataFrame = Stage.scope { s =>
    val spark = batchSigs.sparkSession
    val batch = s(batchSigs.select(col("doc_id"), col("sh")))
    val all = storedDocs(spark, indexPath, "doc_id").unionByName(batch)
    simHashBanded(batch, maxHamming, comboSize).as("a")
      .join(simHashBanded(all, maxHamming, comboSize).as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        TextOps.hamming64(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** The MICRO-BATCH form of [[signatureIncremental]] — the streaming-probe
    * shape of the signature store, mirroring [[minHashMicroCandidates]] on
    * the MinHash index: the banded BATCH side is broadcast into the block
    * join, so the stored signatures are scanned map-side only — no corpus
    * shuffle, no corpus sort, per trigger (the merge form sorts the full
    * |combos| x N banded corpus every probe). Sound because the caller
    * bounds the batch (`maxFilesPerTrigger`); a corpus-sized batch belongs
    * on [[signatureIncremental]]. Same recall guarantee and pair contract;
    * the hamming verify rides the banded rows (8-byte signatures), so the
    * only shuffle in the plan is the candidate-pair dedup. `batchSigs`
    * should be checkpointed by the caller (it feeds both join sides) and
    * freed by it — unlike the merge form, nothing is pinned internally, so
    * per-batch loops leak no checkpoint blocks. */
  def signatureMicroIncremental(
      batchSigs: DataFrame,
      indexPath: String,
      maxHamming: Int = 6,
      comboSize: Int = 2): DataFrame = {
    val spark = batchSigs.sparkSession
    val batch = batchSigs.select(col("doc_id"), col("sh"))
    // BUCKETED path when the store carries a band tree FROZEN AT EXACTLY
    // this (maxHamming, comboSize) — a probe at other parameters needs
    // different block keys than the stored rows, so it takes the flat scan
    // (correct at any parameters, as before). Like minHashMicroCandidates,
    // bucketed only while the batch hits under a THIRD of the buckets
    // (the measured gate — see the sweep note there): past that the flat
    // signature scan is the cheaper plan, so the bucketed index stays no
    // worse than the flat one.
    // heal-then-read, same order as minHashMicroCandidates: the operative
    // bucket count must be read AFTER any crashed swap is healed in
    val usable = bandTreeUsable(spark, indexPath)
    effectiveSigBuckets(spark, indexPath) match {
      case Some((mh, cs, bb)) if usable && mh == maxHamming && cs == comboSize =>
        val batchBands = signatureBandRows(batch, mh, cs, bb)
        // raw band values, not buckets: storedBands derives each root's
        // hit buckets at that root's own P (batch-bounded driver collect)
        val bandVals = batchBands.select("band").distinct()
          .collect().map(_.getLong(0))
        val hit = bandVals.map(v => java.lang.Math.floorMod(v, bb.toLong).toInt)
          .distinct.length
        if (hit * 3 <= bb) {
          // the whole probe runs on the persisted band rows, the index side
          // PRUNED to the batch's buckets by path construction (storedBands
          // — the same reader as the MinHash band store): per-trigger read
          // is O(|batch| · combos · N / sigBuckets) band rows and ZERO
          // stored doc rows, because each band row carries its 8-byte
          // signature and the hamming verify rides the banded join exactly
          // as it does in the flat probe. The batch side is broadcast, so
          // the only shuffle in the plan is the pair dedup. Tombstones
          // must be filtered HERE (takedown-sized broadcast anti-join) —
          // there is no later doc-row verify stage to drop a deleted doc's
          // stale band rows; compaction sweeps them physically.
          val stored0 = storedBands(spark, indexPath, Some(bandVals), bb,
            segDocs => signatureBandRows(segDocs, mh, cs, 1),
            cols = Seq("doc", "band", "sh"))
          val tombsPath = new Path(s"$indexPath/tombs")
          val stored =
            if (!SegmentLog.fs(spark, indexPath).exists(tombsPath)) stored0
            else stored0.join(
              broadcast(readDocTombs(spark, indexPath)
                .select(col("doc_id").as("doc"))),
              Seq("doc"), "left_anti")
          // dropDuplicates(doc_a, doc_b): a crash-replayed append can leave
          // a doc's (byte-identical) band rows in both the base store and a
          // segment, and any true pair shares several block keys anyway.
          broadcast(batchBands.select("doc", "band", "sh")).as("a")
            .join(stored.unionByName(batchBands.select("doc", "band", "sh")).as("b"),
              col("a.band") === col("b.band") && col("a.doc") =!= col("b.doc"))
            .select(
              least(col("a.doc"), col("b.doc")).as("doc_a"),
              greatest(col("a.doc"), col("b.doc")).as("doc_b"),
              TextOps.hamming64(col("a.sh"), col("b.sh")).as("hamming"))
            .filter(col("hamming") <= maxHamming)
            .dropDuplicates("doc_a", "doc_b")
        } else signatureMicroFlat(batch, indexPath, maxHamming, comboSize)
      case _ => signatureMicroFlat(batch, indexPath, maxHamming, comboSize)
    }
  }

  /** The flat-layout micro probe (the pre-bucketing shape): banded batch
    * broadcast against the banded full signature scan — map-side over the
    * store, O(N) per trigger; the fallback when no band tree matches the
    * probe's banding or the batch hits most buckets. */
  private def signatureMicroFlat(
      batch: DataFrame, indexPath: String,
      maxHamming: Int, comboSize: Int): DataFrame = {
    val spark = batch.sparkSession
    val all = storedDocs(spark, indexPath, "doc_id").unionByName(batch)
    broadcast(simHashBanded(batch, maxHamming, comboSize, hinted = false)).as("a")
      .join(simHashBanded(all, maxHamming, comboSize, hinted = false).as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        TextOps.hamming64(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Append precomputed `(doc_id, sh)` rows to a signature store (plus
    * their band rows on a bucketed store). Returns rows appended. */
  def appendToSignatureIndex(batchSigs: DataFrame, indexPath: String): Long = Stage.scope { s =>
    val spark = batchSigs.sparkSession
    val batch = s(batchSigs.select(col("doc_id"), col("sh")))
    // docs FIRST, band rows second — the opposite of the segment path
    // (where the doc segment's _SUCCESS gates the band segment's
    // visibility). A direct append into the live bands/ tree has no such
    // gate: band-first would make a crash window leave PHANTOM band rows
    // whose sh verifies against future twins, silently dropping genuinely
    // new documents as duplicates of a doc that exists nowhere. Docs-first
    // fails OPEN instead: the crash window leaves stored docs missing
    // their band rows, so the bucketed probe admits their duplicates until
    // [[compactDocIndex]] rebuilds the band tree from docs/ — a space
    // cost, never a data loss, and the flat probe is unaffected.
    batch.write.mode("append").parquet(s"$indexPath/docs")
    // bandTreeUsable: heal a crashed compaction swap before appending into
    // bands/, and if bands/ is truly gone (mid-maintenance destruction)
    // DON'T re-create it from this batch alone — that would mask the
    // damage behind a tree whose exists-check passes while the base
    // corpus's band rows are missing. Skipping leaves these docs in the
    // fail-open orphan state below, healed by the same compaction rebuild.
    // Heal BEFORE reading the operative bucket count (effectiveSigBuckets)
    // — a re-bucketed staged tree healed in after the read would take this
    // batch's band rows under the wrong partitioning.
    if (bandTreeUsable(spark, indexPath))
      effectiveSigBuckets(spark, indexPath).foreach { case (mh, cs, bb) =>
        signatureBandRows(batch, mh, cs, bb)
          .repartition(col("bucket"))
          .write.mode("append").partitionBy("bucket")
          .parquet(baseBandRoot(SegmentLog.fs(spark, indexPath), indexPath).toString)
      }
    batch.count()
  }

  /** Write `(doc_id, sh)` rows as a NAMED overwrite segment under
    * `segs/<segName>` — the replay-idempotent streaming form of
    * [[appendToSignatureIndex]] (a crash-replayed micro-batch rewrites the
    * same directory instead of appending its rows twice), read through the
    * same live-segment view as the MinHash doc segments and foldable
    * beside a live ingest by [[foldDocSegments]]. On a bucketed store the
    * band twin lands under `bandsegs/<segName>` FIRST (the doc segment's
    * `_SUCCESS` is the commit point, so a committed doc segment always has
    * its band rows; an orphaned band segment pairs only into candidates
    * the verify stage drops, and the replay overwrites it). Returns rows
    * written. */
  def writeSignatureSegment(batchSigs: DataFrame, indexPath: String, segName: String): Long =
      Stage.scope { s =>
    val spark = batchSigs.sparkSession
    val batch = s(batchSigs.select(col("doc_id"), col("sh")))
    // heal-then-read: the segment's `bucket` data column is computed at
    // the CURRENT operative P and recorded in the segment's own `_BUCKETS`
    // marker (after the parquet overwrite, before the doc segment commits)
    // — probes prune this root at the marker P, so a later base re-bucket
    // can never mis-filter these rows
    bandTreeUsable(spark, indexPath)
    effectiveSigBuckets(spark, indexPath).foreach { case (mh, cs, bb) =>
      // batch-bounded => one flat file; `bucket` rides as a data column and
      // gets a pushed row filter in the probe (readBandRoot's flat branch)
      signatureBandRows(batch, mh, cs, bb)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$indexPath/bandsegs/$segName")
      SegmentLog.writeBuckets(SegmentLog.fs(spark, indexPath),
        new Path(s"$indexPath/bandsegs/$segName"), bb)
    }
    batch.write.mode("overwrite").parquet(s"$indexPath/segs/$segName")
    batch.count()
  }

  /** Connected components over a duplicate-pair list: every node appearing
    * in `pairs` is labeled with its component's MINIMUM id — the
    * deterministic cluster representative. This is the closure step that
    * turns pairwise near-dup findings (Jaccard / MinHash / SimHash /
    * embedding pairs) into dedup GROUPS: near-duplication is not
    * transitive, but dedup keep-one-per-cluster semantics are defined on
    * the transitive closure.
    *
    * Algorithm: min-label propagation with pointer jumping. Each round,
    * every node takes the minimum of its own label, its neighbors' labels,
    * and its LABEL'S label (the shortcut step — label chains halve every
    * round, so rounds needed are O(log diameter), not diameter; measured
    * on a 5M-edge diameter-7 chain graph: 745 s plain propagation → 288 s
    * with jumping → 115 s with per-round unpersist, ComponentsProbe).
    * Convergence is detected by the label SUM going
    * stable: labels only ever decrease, so an unchanged exact (decimal)
    * sum means a fixpoint — one aggregate per round, no compare-join. A
    * `maxIter` breach throws rather than returning unconverged labels.
    *
    * Scale design: the input is the PAIR list (|pairs| ≪ corpus — the
    * near-dup graph, not the corpus), materialized once through
    * [[graft.core.Stage.Scope.localOr]]. A pair list with non-null `long`
    * ids that fits the gate's driver budget (16 bytes a pair) is collected
    * and the SAME synchronous rounds run in driver memory: identical
    * labels, round count, `maxIter` behaviour and output schema, returned
    * as a local relation. That is 2 Spark jobs instead of ~2 per round,
    * whose fixed cost dominated small pair graphs. Larger graphs run the
    * distributed loop over the symmetric
    * edge list built from that materialized pair list: every round is two
    * equi-joins plus one min-aggregation on (long, long) rows, and
    * `localCheckpoint` truncates the growing lineage each round; that
    * driver loop holds only per-round label sums, never data. */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** [[connectedComponents]] plus the number of propagation rounds it took
    * to converge (including the final no-change confirmation round) — the
    * observability hook the rounds-vs-diameter probe reads. */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 20): (DataFrame, Int) = Stage.scope { _ =>
    // the gate sees the pair list, not the symmetric edge list: the
    // distinct that builds the latter costs a shuffle, which the driver
    // path does not need. Null ids take the distributed path: the loop
    // gives a null node labels (it collects its neighbours' minimum)
    // without ever joining on it, a semantics the driver path does not
    // copy. The pair checkpoint is freed as soon as the driver rounds or
    // the symmetric edge list have read it, before the distributed loop
    // runs.
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val driverOrEdges = Stage.scope { s =>
      val gate =
        if (!edges.schema.forall(_.dataType == LongType)) Right(s(edges))
        else s.localOr(edges, when(col("src").isNotNull && col("dst").isNotNull, lit(16L))) { rows =>
          val b = Array.newBuilder[Long]
          rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
          b.result()
        }
      gate.fold(
        packs => Left(componentsOnDriver(packs.flatten, edges, maxIter)),
        cp => Right(s(symmetricEdges(cp, "src", "dst"))))
    }
    driverOrEdges.fold(identity, componentsLoop(_, maxIter))
  }

  /** The distributed loop whatever the graph size — the reference the
    * driver path is tested against. */
  private[graft] def connectedComponentsDistributed(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 20): (DataFrame, Int) =
    Stage.scope(s => componentsLoop(s(symmetricEdges(pairs, aCol, bCol)), maxIter))

  private def symmetricEdges(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  private def requireConverged(converged: Boolean, maxIter: Int): Unit =
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "the pair graph has a longer chain than near-dup clusters produce; raise maxIter")

  /** The rounds of [[componentsLoop]] in driver memory over the collected
    * pair list `packed` (src0, dst0, src1, dst1, ...: non-null `long` ids
    * of `edges`): same labels, same round count, same `maxIter` breach,
    * same output schema. */
  private def componentsOnDriver(packed: Array[Long], edges: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // dense node indices in id order: the minimum index is the minimum id
    val sorted = packed.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    for (k <- sorted.indices if n == 0 || sorted(k) != sorted(n - 1)) {
      sorted(n) = sorted(k)
      n += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, n)
    val node = packed.map(java.util.Arrays.binarySearch(ids, _)) // a0, b0, a1, b1, ...
    var label = Array.range(0, n)
    val merged = new Array[Int](n)
    var iter = 0
    var converged = n == 0
    while (!converged && iter < maxIter) {
      // own label and the neighbours' labels (each pair is an edge both
      // ways), then one pointer jump through the PREVIOUS round's table —
      // the loop's synchronous round
      System.arraycopy(label, 0, merged, 0, n)
      var k = 0
      while (k < node.length) {
        val a = node(k)
        val b = node(k + 1)
        if (label(a) < merged(b)) merged(b) = label(a)
        if (label(b) < merged(a)) merged(a) = label(b)
        k += 2
      }
      val next = new Array[Int](n)
      var changed = false
      var i = 0
      while (i < n) {
        next(i) = math.min(merged(i), label(merged(i)))
        changed ||= next(i) != label(i)
        i += 1
      }
      // labels never increase, so the loop's "exact label sum repeats"
      // is "a round after the first changed no label"
      converged = iter > 0 && !changed
      label = next
      iter += 1
    }
    requireConverged(converged, maxIter)
    // the loop's ids come from a union of both columns
    val idNullable = edges.schema.exists(_.nullable)
    val schema = StructType(Seq(
      StructField("doc_id", LongType, idNullable),
      // the loop's min() aggregate makes the label nullable from round one
      StructField("component", LongType, idNullable || iter > 0)))
    val rows = Array.tabulate(n)(i => Row(ids(i), ids(label(i))))
    (edges.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema), iter)
  }

  /** The distributed min-label propagation over the materialized symmetric
    * edge list `sym`. */
  private def componentsLoop(sym: DataFrame, maxIter: Int): (DataFrame, Int) = Stage.scope { s =>
    // s.loop on every loop checkpoint: localCheckpoint copies
    // the truncated plan's SIZE ESTIMATE into the new leaf, and this loop
    // joins the previous round's table against itself-derived frames — the
    // inherited estimate compounds as ~size^2 every round, so its BigInt
    // DIGIT COUNT doubles per round until Catalyst's stats visitor spends
    // minutes of driver CPU multiplying 100k-digit integers (caught live
    // on q30c2 while probing a 3-joins-per-round variant, which merely hit
    // the same wall two rounds sooner — the blow-up is latent in ANY
    // round count >~12). The re-wrap keeps the SAME persisted RDD
    // (its scope still frees it, partitioning/ordering preserved) and
    // resets the estimate to the non-compounding session default.
    var labels = s.loop(sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var iter = 0
    var prevSum: Option[java.math.BigDecimal] = None
    var converged = labels.isEmpty // no pairs => nothing to do
    while (!converged && iter < maxIter) {
      val fromNeighbors = sym
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
      val merged = labels.unionByName(fromNeighbors)
        .groupBy("id").agg(min("label").as("label"))
      // pointer jumping (synchronous): follow the label one hop through
      // the PREVIOUS round's table — label chains halve every round.
      // (r15 measured-and-rejected: batching a SECOND hop per round —
      // VERDICT's prescription — changes the round count on NO shape:
      // ComponentsProbe diameter-15 chain converges in 5 rounds either
      // way, cliques in 2, because the one-hop loop is already
      // path-doubling — the neighbor labels and the previous table both
      // carry the shortcuts accumulated so far. The extra hop is one
      // more |V|-row shuffle join per round for zero rounds saved.)
      val obs = org.apache.spark.sql.Observation(
        s"cc_round_${java.util.UUID.randomUUID()}")
      // the round's scope adopts the superseded table and frees it once
      // `next` has materialized, keeping peak storage at 2x|V| instead of
      // rounds x|V|
      labels = Stage.scope { r =>
        r.adopt(labels)
        r.loop(merged
          .join(
            labels.select(col("id").as("_bid"), col("label").as("_blabel")),
            col("label") === col("_bid"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("_blabel"), col("label"))).as("label"))
          // the convergence sum is OBSERVED inside the checkpoint
          // materialization itself: the former standalone aggregate re-read
          // the whole label table once more per round — a full |V| pass per
          // round at any scale, spent on one number the checkpoint job
          // already streams past. Exact decimal sum as before (ids may span
          // the full long range); labels.isEmpty was checked before the
          // loop, so the metrics always materialize (no empty-relation
          // collapse — the label table is non-empty by construction).
          // Distributed-deployment caveat (ADVICE r14 #1): task/stage
          // retries can double-count rows into this accumulator-backed sum.
          // A corrupted sum can delay convergence by a round (cheap) or —
          // only if two consecutive corrupted sums collide exactly —
          // spuriously signal it. A cluster deployment that sees retries
          // should cross-check with a second observation round or the exact
          // standalone aggregate before trusting an early exit.
          .observe(obs, sum(col("label").cast("decimal(38,0)")).as("lsum")))
      }
      val lsum = obs.get("lsum") match {
        case d: java.math.BigDecimal => d
        case d: scala.math.BigDecimal => d.bigDecimal
        case other => sys.error(s"convergence sum came back as $other")
      }
      converged = prevSum.exists(_.compareTo(lsum) == 0)
      prevSum = Some(lsum)
      iter += 1
    }
    requireConverged(converged, maxIter)
    (labels.select(col("id").as("doc_id"), col("label").as("component")), iter)
  }

  /** Collapse a duplicate-pair list into a deduplicated corpus: keep every
    * document that is its cluster's representative (minimum id) or appears
    * in no pair. The companion to the pair-finders — `collapseDuplicates(
    * docs, minHashLsh(docs))` is full near-dup dedup. One anti-join of the
    * corpus against the (tiny) non-representative id set. */
  def collapseDuplicates(
      documents: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 20): DataFrame = {
    val drop = connectedComponents(pairs, aCol, bCol, maxIter)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as(idCol))
    documents.join(drop, Seq(idCol), "left_anti")
  }

  /** The pair stage of [[semanticDedup]]: embedding cosine >= `threshold`
    * within IVF lists — the coarse quantizer's buckets play the LSH-bucket
    * blocking role, so candidate generation is quadratic only in the LIST
    * (corpus/C per list), never the corpus. Output: (id_a, id_b, score),
    * id_a < id_b. */
  def semanticDupPairs(
      embeddings: DataFrame,
      model: Ivf.Model,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    Similarity.nearDupPairs(
      embeddings.withColumn("_bucket", Ivf.nearestCentroid(col(vecCol), model)),
      threshold, blockCol = "_bucket", idCol = idCol, vecCol = vecCol)

  /** SemDeDup-style semantic deduplication (public literature: embedding
    * near-duplicate pruning via cluster-local cosine, Abbas et al. 2023):
    * train a coarse k-means quantizer, find cosine >= `threshold` pairs
    * WITHIN each inverted list, close the pairs into clusters, and keep
    * each cluster's minimum-id document. The composition of the engine's
    * existing pieces — [[Ivf.train]] → [[semanticDupPairs]] →
    * [[connectedComponents]] → [[collapseDuplicates]] — registered as one
    * operator because it is a standard curation stage.
    *
    * Returns `documents` minus the dropped near-duplicates (ids joined
    * against `embeddings`' id column; a document without an embedding is
    * never dropped).
    *
    * Recall is < 1 by design: a pair whose members quantize into different
    * lists is never examined (the SemDeDup trade — candidate cost bounds).
    * DedupAndSimilaritySpec pins a planted-paraphrase recall floor and the
    * no-false-collapse property at high thresholds.
    *
    * Scale design: never all-pairs (quadratic only within lists — C sizes
    * the lists; raise C as the corpus grows to hold list size constant);
    * component collapse is bound by the pair graph, not the corpus; the
    * document text never shuffles (only the drop-id anti-join touches
    * `documents`). Lloyd training is the one multi-pass stage and caches
    * only the (id, vector) projection. */
  def semanticDedup(
      documents: DataFrame,
      embeddings: DataFrame,
      threshold: Double = 0.95,
      lists: Int = 64,
      trainIters: Int = 3,
      docIdCol: String = "doc_id",
      vecIdCol: String = "vec_id",
      vecCol: String = "embedding",
      maxIter: Int = 20): DataFrame = {
    // coarse-quantizer training on a bounded sample (~50 vectors per list):
    // a corpus that grows C with n to keep lists constant-sized must not
    // pay O(n x C) training (see Ivf.train's maxTrainRows note).
    // `lists <= 0` = AUTO: size the list count from the corpus and switch
    // to the hierarchical quantizer once it outgrows a flat scan
    // ([[Ivf.trainAuto]]) — the default a 100 TB deployment should run.
    val model =
      if (lists > 0)
        Ivf.train(embeddings, lists, trainIters, vecIdCol, vecCol,
          maxTrainRows = 50L * lists)
      else Ivf.trainAuto(embeddings, targetListSize = 128, iters = trainIters,
        idCol = vecIdCol, vecCol = vecCol)
    val pairs = semanticDupPairs(embeddings, model, threshold, vecIdCol, vecCol)
    collapseDuplicates(documents, pairs, docIdCol, "id_a", "id_b", maxIter)
  }

  /** The STREAMING form of [[collapseDuplicates]] — ARRIVAL-ORDER keep
    * semantics for a batch probed against an already-kept corpus: a batch
    * document drops when its duplicate cluster contains ANY corpus
    * document (what landed first stays landed — the exactly-once sink is
    * append-only, so the corpus copy IS the cluster's first occurrence),
    * and a batch-only cluster keeps its minimum id (the deterministic
    * in-batch tiebreak). Unlike [[collapseDuplicates]]' global min-id
    * policy, this needs NO id-monotonicity contract: a duplicate arriving
    * with a lower id than its already-kept partner still drops.
    *
    * `pairs` is the graph TOUCHING the batch (batch-vs-corpus +
    * batch-vs-batch — the incremental probes never emit corpus-vs-corpus);
    * corpus membership is inferred as "paired id not in the batch". Cost
    * is bound by the pair graph: `batch` itself moves only through the
    * final drop-id anti-join. */
  def collapseDuplicatesArrival(
      batch: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 20): DataFrame = {
    val batchIds = batch.select(col(idCol).cast("long").as("doc_id"))
      .withColumn("_inb", lit(1L))
    val comps = connectedComponents(pairs, aCol, bCol, maxIter)
    val stats = comps
      .join(batchIds, Seq("doc_id"), "left")
      .groupBy("component")
      .agg(
        max(when(col("_inb").isNull, 1L).otherwise(0L)).as("_has_corpus"),
        min(when(col("_inb").isNotNull, col("doc_id"))).as("_min_batch"))
    val drop = comps
      .join(batchIds, Seq("doc_id"))
      .join(stats, "component")
      .filter(col("_has_corpus") === 1L || col("doc_id") =!= col("_min_batch"))
      .select(col("doc_id").as(idCol))
    batch.join(drop, Seq(idCol), "left_anti")
  }
}
