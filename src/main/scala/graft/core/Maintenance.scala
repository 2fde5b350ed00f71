package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance jobs over changelog tables — the reference's background
  * compaction driver (kv/db/db_impl.cpp:1031-1220) as explicit batch jobs.
  */
object Maintenance {

  /** Writer options enabling a parquet bloom filter per key column — the
    * reference's per-block filter (kv/util/bloom.cpp:10-101, wired into
    * table reads at kv/table/table.cpp:260-266): point gets on a key that a
    * row group does not contain skip the group even when its min/max range
    * straddles the key. Applied to every engine write path that produces
    * key-addressed data (compaction outputs, ingest batches). */
  private[graft] def bloomOptions(keyCols: Seq[String]): Map[String, String] =
    keyCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap

  /** Job metrics of one compaction run — the reference's per-compaction
    * `stats` property line (rows/bytes written, files produced,
    * kv/db/db_impl.cpp:1621-1697). `filesCopied` counts trivial moves
    * (compactRange's untouched files). Rendered as `GetProperty`-style
    * key/values by [[properties]]. */
  final case class CompactionMetrics(
      rowsWritten: Long,
      filesProduced: Long,
      filesCopied: Long,
      bytesWritten: Long) {
    def properties: Map[String, String] = Map(
      "graft.compaction.rows.written" -> rowsWritten.toString,
      "graft.compaction.files.produced" -> filesProduced.toString,
      "graft.compaction.files.copied" -> filesCopied.toString,
      "graft.compaction.bytes.written" -> bytesWritten.toString)
  }

  /** File count and byte size of a compaction output directory (one
    * filesystem listing, no data scan). */
  private def outputFootprint(spark: SparkSession, outDir: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    (files.length.toLong, files.map(_.getLen).sum)
  }

  /** Is there anything to compact at this horizon? Mirrors the reference's
    * trivial-move shortcut (no-merge promotion, kv/db/db_impl.cpp:843-861):
    * if no key has more than one version at-or-below the horizon and no
    * tombstone sits at-or-below it, a rewrite would be a byte-identical
    * copy — skip it. Both probes are LIMIT-1 existence checks. */
  def needsCompaction(df: DataFrame, spec: ChangelogSpec, retention: Long): Boolean = {
    val pre = df.filter(col(spec.seqCol) <= retention)
    val hasTombstone = spec.deleteCol.exists(d =>
      pre.filter(col(d)).limit(1).count() > 0)
    def hasShadowed =
      pre.groupBy(spec.keyCols.map(col): _*)
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .limit(1).count() > 0
    hasTombstone || hasShadowed
  }

  /** Compact a changelog parquet directory into `outDir`: apply
    * [[Changelog.compact]] at `retention`, range-partition by the user key
    * (the reference's sorted, non-overlapping output files,
    * kv/db/version_set.cpp:1816-1844), sort within partitions by
    * (key, seq), and bound output file sizes with `maxRecordsPerFile`
    * (the 2 MB output-split analogue). Returns the number of rows written,
    * or -1 if the trivial-move check found nothing to do. */
  def compactTable(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      spec: ChangelogSpec,
      retention: Long,
      maxRecordsPerFile: Long = 1L << 20,
      force: Boolean = false): Long =
    compactTableMetrics(spark, inDir, outDir, spec, retention, maxRecordsPerFile, force)
      .fold(-1L)(_.rowsWritten)

  /** [[compactTable]] returning the full job metrics (None = trivial-move
    * skip, nothing written). */
  def compactTableMetrics(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      spec: ChangelogSpec,
      retention: Long,
      maxRecordsPerFile: Long = 1L << 20,
      force: Boolean = false): Option[CompactionMetrics] = {
    // in-place compaction is NOT supported: the overwrite write would
    // delete the files the lazily-read input plan still reads
    require(new org.apache.hadoop.fs.Path(inDir).toUri.normalize !=
      new org.apache.hadoop.fs.Path(outDir).toUri.normalize,
      s"compactTable: outDir must differ from inDir ($inDir)")
    compactFrameMetrics(spark, Parquet.read(spark, inDir), outDir, spec, retention,
      maxRecordsPerFile, force)
  }

  /** [[compactTableMetrics]] over an explicit input frame — the entry point
    * when the input is a FILTERED view rather than a whole directory (e.g.
    * an ingest sink's committed-batches-only view: compacting the raw sink
    * path would read uncommitted batch directories, violating the manifest
    * rule; see [[graft.streaming.Ingest.compactCommitted]]). */
  def compactFrameMetrics(
      spark: SparkSession,
      df: org.apache.spark.sql.DataFrame,
      outDir: String,
      spec: ChangelogSpec,
      retention: Long,
      maxRecordsPerFile: Long = 1L << 20,
      force: Boolean = false): Option[CompactionMetrics] = {
    if (!force && !needsCompaction(df, spec, retention)) return None
    val keys = spec.keyCols.map(col)
    val compacted = Changelog.compact(df, spec, retention)
      .repartitionByRange(keys: _*)
      .sortWithinPartitions(keys :+ col(spec.seqCol): _*)
    compacted.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .options(bloomOptions(spec.keyCols))
      .mode("overwrite")
      .parquet(outDir)
    val rows = Parquet.read(spark, outDir).count()
    val (nFiles, nBytes) = outputFootprint(spark, outDir)
    Some(CompactionMetrics(rows, nFiles, filesCopied = 0L, nBytes))
  }

  /** Key-range-bounded manual compaction — `DB::CompactRange(begin, end)`
    * (reference kv/db/db_impl.cpp:646-665): compact ONLY the keys in
    * `[lo, hi]` on `rangeCol` (defaults to the first key column), leaving
    * data outside the range untouched.
    *
    * File-level, mirroring the reference's overlapping-SSTable selection:
    * per-file (min, max) of the range column picks the files that intersect
    * the range; non-intersecting files are BYTE-COPIED into `outDir`
    * unchanged (they cannot contain an in-range key, and every version of an
    * in-range key lives in some intersecting file — so the rewrite sees each
    * in-range key's full history). Intersecting files are rewritten:
    * in-range rows go through [[Changelog.compact]] at `retention`,
    * out-of-range rows (incl. null keys) pass through as-is.
    *
    * Operates on flat table directories (the shape [[compactTable]] writes);
    * partitioned ingest sinks are compacted per batch directory. Returns the
    * number of rows rewritten, or -1 if the trivial-move check found nothing
    * to do within the range. */
  def compactRange(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      spec: ChangelogSpec,
      retention: Long,
      lo: Any,
      hi: Any,
      rangeCol: String = null,
      maxRecordsPerFile: Long = 1L << 20,
      force: Boolean = false): Long =
    compactRangeMetrics(
      spark, inDir, outDir, spec, retention, lo, hi, rangeCol, maxRecordsPerFile, force)
      .fold(-1L)(_.rowsWritten)

  /** [[compactRange]] returning the full job metrics (None = trivial-move
    * skip; `filesCopied` counts the untouched files carried over). */
  def compactRangeMetrics(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      spec: ChangelogSpec,
      retention: Long,
      lo: Any,
      hi: Any,
      rangeCol: String = null,
      maxRecordsPerFile: Long = 1L << 20,
      force: Boolean = false): Option[CompactionMetrics] = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val rc = Option(rangeCol).getOrElse(spec.keyCols.head)
    // the every-version-in-an-intersecting-file invariant (and therefore
    // correctness of compacting only the touched files) holds ONLY when the
    // range column is part of the user key: a non-key range (e.g. a payload
    // timestamp) could split one key's versions across touched and untouched
    // files and resurrect tombstoned values
    require(spec.keyCols.contains(rc),
      s"compactRange: range column '$rc' must be one of the key columns ${spec.keyCols}")
    // in-place compaction is NOT supported: the overwrite write to outDir
    // would delete the very files the lazy touched-plan and the untouched
    // FileUtil.copy below still read — silent loss of the out-of-range data
    require(new Path(inDir).toUri.normalize != new Path(outDir).toUri.normalize,
      s"compactRange: outDir must differ from inDir ($inDir)")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(inDir)
    val fs = root.getFileSystem(conf)
    // every non-hidden data file, matching what Parquet.read(spark, inDir)
    // scans (suffix-filtering would silently DROP rows of oddly-named files
    // from the output: scanned into stats but neither rewritten nor copied)
    val dataFiles = fs.listStatus(root).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.getPath)
    require(dataFiles.nonEmpty, s"compactRange: no data files under $inDir")

    // per-file key range in one narrow scan (range column + file metadata) —
    // the manifest's per-SSTable [smallest, largest] analogue. Matched by
    // file NAME (unique part-<uuid> names) to dodge URI-normalization
    // differences between _metadata.file_path and FileSystem listings.
    val fileStats = Parquet.read(spark, inDir)
      .select(col(rc).as("k"), col("_metadata.file_name").as("f"))
      .groupBy("f")
      .agg(min(col("k")).as("klo"), max(col("k")).as("khi"))
      .withColumn("touch",
        coalesce(col("khi") >= lit(lo) && col("klo") <= lit(hi), lit(false)))
      .collect()
    val byName = fileStats.map(r => r.getString(0) -> r.getBoolean(3)).toMap
    val (touched, untouched) = dataFiles.partition(p => byName.getOrElse(p.getName, false))

    val rewritten: Long =
      if (touched.isEmpty) -1L
      else {
        val touchedDf = Parquet.read(spark, touched.map(_.toString): _*)
        val inside = touchedDf.filter(col(rc).between(lit(lo), lit(hi)))
        if (!force && !needsCompaction(inside, spec, retention)) -1L
        else {
          val outside = touchedDf.filter(!col(rc).between(lit(lo), lit(hi)) || col(rc).isNull)
          val keys = spec.keyCols.map(col)
          val merged = Changelog.compact(inside, spec, retention)
            .unionByName(outside)
            .repartitionByRange(keys: _*)
            .sortWithinPartitions(keys :+ col(spec.seqCol): _*)
          merged.write
            .option("maxRecordsPerFile", maxRecordsPerFile)
            .options(bloomOptions(spec.keyCols))
            .mode("overwrite")
            .parquet(outDir)
          Parquet.read(spark, outDir).count()
        }
      }
    if (rewritten < 0) return None
    // footprint BEFORE the trivial-move copies: bytesWritten means bytes the
    // compaction actually wrote, same as compactTableMetrics (copied files
    // are counted in filesCopied, not in bytes/files produced)
    val (producedFiles, producedBytes) = outputFootprint(spark, outDir)
    // byte-copy the untouched files (the reference's trivial move,
    // kv/db/db_impl.cpp:843-861: files outside the compaction range are not
    // rewritten). Names are unique part-<uuid> files — no collision with the
    // rewritten output.
    untouched.foreach { p =>
      FileUtil.copy(fs, p, fs, new Path(outDir, p.getName), false, conf)
    }
    Some(CompactionMetrics(rewritten, producedFiles, untouched.size.toLong, producedBytes))
  }
}
