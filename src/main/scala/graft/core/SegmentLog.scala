package graft.core

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import scala.util.Try

/** The segment protocol of the persisted indexes — the exact index and span
  * catalog ([[graft.operators.Dedup]]), the MinHash/SimHash/signature doc
  * stores (Dedup), the vector index ([[graft.operators.Ivf]]) and the text
  * index ([[graft.operators.Search]]). This is the only code that knows it;
  * each store is one `SegmentLog` value naming its segment directories and
  * its commit rule, and keeps only its own rows and twins.
  *
  * SEGMENT PROTOCOL (visibility, deletion, concurrent compaction):
  *   - every segment is a DIRECTORY under one of the store's segment
  *     directories (`keys/` and `tombs/` for the exact index and the span
  *     catalog, `segs/` for the others). A segment without its COMMIT MARK
  *     does not exist, so a half-written segment is never read
  *     (manifest-visibility, kv/db/version_set.cpp:920-1018). The mark is
  *     the store's commit rule: a `_SEQ` sidecar written LAST via
  *     temp+atomic-rename ([[Sequenced]], which also orders segments:
  *     newest-wins tombstones, O20, kv/db/dbformat.h:49-53), the parquet
  *     job-commit `_SUCCESS` ([[Docs]]), or both `postings/_SUCCESS` and
  *     `segmeta/_SUCCESS` ([[Text]], `segmeta` written last);
  *   - a fold ([[SegmentLog.fold]]) writes the folded result as a new
  *     `compact_*` segment, INVISIBLE until its marker under `_folded/`
  *     commits (temp+rename). The marker lists the folded segments' names
  *     — `keys/<name>` / `tombs/<name>` in a store with several segment
  *     directories, the bare name otherwise. Readers treat a `compact_*`
  *     segment as live iff its marker exists and exclude every segment a
  *     marker lists: ONE atomic rename flips the view from the folded set
  *     to the compacted segment, with no window where a reader sees both
  *     (double counts) or neither (data loss). [[SegmentLog.live]] lists
  *     the markers BEFORE the segment directories, so a marker committed
  *     between the two listings leaves the reader on the consistent
  *     pre-fold view, and a marker that WAS seen implies its compacted data
  *     was fully committed first (happens-before through the rename);
  *   - folded segments stay on disk, excluded, until [[SegmentLog.gc]];
  *   - the safe concurrency envelope: ONE appending writer (an ingest) plus
  *     ONE maintenance actor folding beside it, any number of readers. GC
  *     is the only step needing a grace period — a reader that PLANNED its
  *     scan before a fold marker committed still reads the folded
  *     directories, so run it once such readers have drained
  *     (per-micro-batch readers drain within one trigger). It deletes the
  *     folded directories, markers whose compact segment is itself gone,
  *     and uncommitted `compact_*` directories of a crashed fold. Markers
  *     whose compact segment is live OUTLIVE GC (next point);
  *   - NAMED-SEGMENT NAME REUSE: a segment written under a name a live
  *     marker lists as folded is INVISIBLE to readers. For a
  *     crash-REPLAYED batch that is exactly right — its rows already live
  *     in the compacted segment, and the replayed rewrite must stay
  *     excluded (spec-pinned in the replay-after-fold tests). The writer
  *     cannot tell that legitimate replay from the hazardous case — a
  *     streaming-checkpoint RESET restarting batch ids at 0 against an
  *     index whose markers survived GC — so the contract lives with the
  *     operator: a checkpoint reset requires a fresh index (or a fresh
  *     segment-name prefix); collisions with LIVE segments would clobber
  *     them under overwrite semantics anyway, folded or not;
  *   - a stop-the-world compaction that folds every segment into the base
  *     tree retires the segment directories, the tombstones and the
  *     markers together ([[SegmentLog.retire]]).
  *
  * BASE GENERATIONS ([[SegmentLog.Generations]]): a store that rewrites its
  * base tree beside live readers publishes a NEW generation
  * `<prefix>_v<k>` and flips a pointer file at the index root in one
  * atomic rename — the commit point. Readers planned against the old root
  * keep reading it; it is swept only after they drain (GC) or by a
  * stop-the-world compaction, and a crash before the flip leaves an
  * unreferenced generation the same sweep collects. A missing or bad
  * pointer resolves to the store's legacy root. Publishers are serialized
  * by the maintenance contract, so the generation counter cannot race.
  *
  * BUCKETED ROOTS ([[SegmentLog.Buckets]]): the band stores and the text
  * postings share one layout policy — the operative bucket count of a
  * root, the auto size, the thin-root floor and its writer, the grow rule
  * and the pruned multi-root read. */
private[graft] final case class SegmentLog(dirs: Seq[String], marks: Seq[String]) {
  import SegmentLog._

  private val sequenced = marks == Seq(SeqMark)

  /** A segment's name as fold markers list it. */
  private def rel(dir: String, name: String): String =
    if (dirs.size > 1) s"$dir/$name" else name

  private def dirOf(root: Path, rel: String): Path =
    if (dirs.size > 1) new Path(root, rel) else new Path(root, s"${dirs.head}/$rel")

  /** The committed live segments, in directory then name order. `retired`
    * names are excluded like folded ones (the vector index's absorbed
    * set); it is read after the markers. A store with no segment
    * directory costs one existence check per directory and nothing else. */
  def live(fs: FileSystem, root: Path, retired: => Set[String] = Set.empty): Snapshot = {
    val present = dirs.filter(d => fs.exists(new Path(root, d)))
    if (present.isEmpty) return Snapshot(Nil, Set.empty)
    val markers = readMarkers(fs, root)
    val folded = markers.values.flatten.toSet
    val excluded = folded ++ retired
    val segs = for {
      dir <- present
      d <- listDirs(fs, new Path(root, dir)).sortBy(_.getName)
      name = d.getName
      if !excluded(rel(dir, name)) && (!isCompact(name) || markers.contains(name))
      seq <- (if (isCompact(name) && !sequenced) Some(-1L) else stamp(fs, d))
    } yield Segment(d, rel(dir, name), seq)
    Snapshot(segs, folded)
  }

  /** The segment's `_SEQ` under the sequenced rule, -1 when its marks
    * exist under the others, None while uncommitted. */
  private def stamp(fs: FileSystem, d: Path): Option[Long] =
    if (sequenced) readSeq(fs, d)
    else if (marks.forall(m => fs.exists(new Path(d, m)))) Some(-1L)
    else None

  /** Fold `live` into one `compact_*` segment: `write` fills the compact
    * directory (rows, commit mark and any store-specific twin), then the
    * marker listing `live` publishes it. A crash before the marker leaves
    * the old view intact and an orphan GC collects. */
  def fold(fs: FileSystem, root: Path, live: Seq[Segment])(write: Path => Unit): Unit = {
    val name = CompactPrefix + java.util.UUID.randomUUID().toString.take(12)
    write(new Path(root, s"${dirs.head}/$name"))
    writeAtomic(fs, new Path(root, s"$FoldedDir/$name"), live.map(_.rel).mkString("\n"))
  }

  /** Delete folded directories (and `retired` ones), markers whose compact
    * segment is gone, and uncommitted `compact_*` directories. `twin` runs
    * with the name of every folded or orphaned segment, present or not,
    * and returns the directories it removed. Returns every directory
    * removed: the segments' and their twins'. */
  def gc(fs: FileSystem, root: Path, retired: Set[String] = Set.empty)(
      twin: String => Long = _ => 0L): Long = {
    val markers = readMarkers(fs, root)
    val home = new Path(root, dirs.head)
    var removed = 0L
    def drop(d: Path): Unit = {
      if (fs.delete(d, true)) removed += 1
      removed += twin(d.getName)
    }
    (markers.values.flatten.toSet ++ retired).foreach(r => drop(dirOf(root, r)))
    markers.keys.foreach { name =>
      if (!fs.exists(new Path(home, name))) fs.delete(new Path(root, s"$FoldedDir/$name"), false)
    }
    listDirs(fs, home).filter(d => isCompact(d.getName) && !markers.contains(d.getName))
      .foreach(drop)
    removed
  }

  /** Stop-the-world retire after a fold into the base tree: the segment
    * directories, then the tombstones, then the markers. */
  def retire(fs: FileSystem, root: Path): Unit =
    (dirs ++ Seq("tombs", FoldedDir)).distinct.foreach(d => fs.delete(new Path(root, d), true))

  /** Folded directories still on disk, awaiting GC. */
  def awaitingGc(fs: FileSystem, root: Path, s: Snapshot): Int =
    s.folded.count(r => fs.exists(dirOf(root, r)))
}

private[graft] object SegmentLog {
  private val SeqMark = "_SEQ"
  private val FoldedDir = "_folded"
  private val CompactPrefix = "compact_"
  private val BucketsMark = "_BUCKETS"

  /** The exact index and the span catalog: `keys/` and `tombs/`, committed
    * and ordered by the `_SEQ` sidecar. */
  val Sequenced = SegmentLog(Seq("keys", "tombs"), Seq(SeqMark))
  /** Doc and list segments under `segs/`, committed by parquet `_SUCCESS`. */
  val Docs = SegmentLog(Seq("segs"), Seq("_SUCCESS"))
  /** Text segments under `segs/`: postings, then `segmeta` as the commit. */
  val Text = SegmentLog(Seq("segs"), Seq("postings/_SUCCESS", "segmeta/_SUCCESS"))

  /** One committed live segment: its directory, its name as markers list
    * it, and its `_SEQ` (-1 under the `_SUCCESS` rules). */
  final case class Segment(dir: Path, rel: String, seq: Long) {
    def kind: String = dir.getParent.getName
  }

  /** A live set plus the names the markers list as folded. */
  final case class Snapshot(segments: Seq[Segment], folded: Set[String]) {
    def paths(kind: String): Seq[String] = segments.filter(_.kind == kind).map(_.dir.toString)
    def maxSeq: Long = (segments.map(_.seq) :+ -1L).max
  }

  def isCompact(name: String): Boolean = name.startsWith(CompactPrefix)

  /** A caller-chosen segment name: non-empty, one path component, not
    * hidden, not a compact name. */
  def requireName(segment: String): Unit =
    require(segment.nonEmpty && !segment.contains("/") && !segment.startsWith(".") &&
      !isCompact(segment), s"bad segment name: $segment")

  /** Commit a sequenced segment: its `_SEQ`, published atomically LAST. */
  def commitSeq(fs: FileSystem, dir: Path, seq: Long): Unit =
    writeAtomic(fs, new Path(dir, SeqMark), seq.toString)

  /** The segment's committed sequence number, or None if uncommitted. */
  def readSeq(fs: FileSystem, dir: Path): Option[Long] =
    Try(readSmall(fs, new Path(dir, SeqMark)).trim.toLong).toOption

  /** The fold markers: marker name -> the segment names it lists. */
  private def readMarkers(fs: FileSystem, root: Path): Map[String, Seq[String]] =
    listFiles(fs, new Path(root, FoldedDir))
      .map(p => p.getName -> readSmall(fs, p).split("\n").map(_.trim).filter(_.nonEmpty).toSeq)
      .toMap

  /** A store's base generations behind the `pointer` file at its root:
    * `<prefix>_v<k>` directories, and the `legacy` root (`""` = the index
    * root itself) made of `legacyTrees` before the first publish. */
  final case class Generations(
      pointer: String, prefix: String, legacy: String, legacyTrees: Seq[String]) {
    private val stem = s"${prefix}_v"

    /** The current generation's name: the pointer content, or `legacy`
      * when the pointer is missing, empty, unreadable or not one name. */
    def current(fs: FileSystem, root: Path): String =
      Try(readSmall(fs, new Path(root, pointer)).trim).toOption
        .filter(n => n.nonEmpty && !n.contains('/')).getOrElse(legacy)

    /** Every generation directory on disk, referenced or not. */
    def all(fs: FileSystem, root: Path): Seq[String] =
      listDirs(fs, root).map(_.getName).filter(_.startsWith(stem))

    /** Publish the next generation: `write` fills a fresh `<prefix>_v<k>`,
      * then the pointer flips to it (the commit point). Returns its name. */
    def publish(fs: FileSystem, root: Path)(write: Path => Unit): String = {
      val k = 1 + all(fs, root).flatMap(n => Try(n.stripPrefix(stem).toInt).toOption)
        .foldLeft(0)(math.max)
      val gen = s"$stem$k"
      val dir = new Path(root, gen)
      fs.delete(dir, true) // a crashed earlier attempt
      fs.mkdirs(dir)
      write(dir)
      writeAtomic(fs, new Path(root, pointer), gen)
      gen
    }

    /** Delete every generation but the current one and those `keep`
      * names, and the legacy trees once a generation serves. Drain-gated
      * like GC. Returns directories removed. */
    def sweep(fs: FileSystem, root: Path, keep: String => Boolean = _ => false): Long = {
      val cur = current(fs, root)
      val gens = all(fs, root).filter(n => n != cur && !keep(n)).map(new Path(root, _))
      val legacyDirs =
        if (cur == legacy || keep(legacy)) Nil else legacyTrees.map(new Path(root, _))
      (gens ++ legacyDirs).count(fs.delete(_, true)).toLong
    }
  }

  /** THE bucketed-root policy of the MinHash and signature band stores
    * ([[graft.operators.Dedup]], `part = "bucket"`) and the text postings
    * ([[graft.operators.Search]], `part = "pb"`). A root's rows carry
    * `part = pmod(hash, P)`, and the root's `_BUCKETS` marker records the P
    * they were ACTUALLY written at; a store keeps its base root behind a
    * [[Generations]] pointer, so a re-bucket publishes a new root instead
    * of rewriting one beside its readers.
    *   - [[operative]]: a root's P is its marker, else the store's frozen
    *     meta value (pre-marker roots).
    *   - [[auto]]: clamp(rows / `target`, 64, 65536) — per-bucket rows, the
    *     probe's read-amplification unit, stay constant as the store grows;
    *     the floor keeps tiny stores from one directory, the ceiling bounds
    *     file count on object stores.
    *   - [[grow]]: grow-only, to the auto size once it reaches 2x the
    *     operative P (per-bucket rows doubled), and only while every live
    *     root carries a marker: a pre-marker root has no record of its
    *     write-time P, so moving P beside it would mis-prune it.
    *   - [[write]]: marker FIRST, then the rows. Under 1,024 rows per
    *     bucket a root is one file sorted by `part` (partitioned, it would
    *     be mostly tiny files: a probe of B hit buckets pays B sub-row-group
    *     reads); readers push a `part` filter on it instead.
    *   - [[read]]: each root pruned at its OWN P, its hit buckets derived
    *     from the probe's raw hash values — so roots written at different
    *     P's (a segment written before a re-bucket) coexist exactly. */
  final case class Buckets(part: String, target: Long) {

    def auto(rows: Long): Int = math.min(65536L, math.max(64L, rows / target)).toInt

    def operative(fs: FileSystem, root: Path, fallback: => Int): Int =
      readBuckets(fs, root).getOrElse(fallback)

    /** The P a re-bucket of a store of `rows` rows at operative `p` writes:
      * the auto size once it reaches 2x `p` and every one of `live` (the
      * store's other live roots; absent ones are skipped) carries a
      * marker, else `p`. */
    def grow(fs: FileSystem, rows: Long, p: Int, live: => Seq[Path]): Int = {
      val a = auto(rows)
      if (a >= 2 * p && live.filter(fs.exists).forall(readBuckets(fs, _).isDefined)) a else p
    }

    /** The distinct buckets of raw `hashes` at `p`, sorted. */
    def hit(hashes: Seq[Long], p: Int): Seq[Int] =
      hashes.map(h => java.lang.Math.floorMod(h, p.toLong).toInt).distinct.sorted

    /** Replace the root `dir` with `rowsAtP` (`part` computed at `p`): the
      * marker first, then the rows appended behind it (None: the marker
      * alone, an empty root). A root of `rows` rows under the floor is one
      * sorted file; `rows` None is partitioned (the builds, which learn
      * their size only by writing, and the text postings' base roots). */
    def write(fs: FileSystem, dir: Path, p: Int, rowsAtP: Option[DataFrame],
        rows: Option[Long] = None): Unit = {
      fs.delete(dir, true)
      writeBuckets(fs, dir, p)
      rowsAtP.foreach(into(_, dir, rows.forall(_ / math.max(1, p) >= MinFileRows)))
    }

    /** Append `rowsAtP` (at the root's operative P) to the root `dir` in the
      * root's own layout: one more sorted file in a thin root, else
      * partitioned. */
    def append(fs: FileSystem, dir: Path, rowsAtP: DataFrame): Unit =
      into(rowsAtP, dir, !listStatus(fs, dir).exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))

    private def into(df: DataFrame, dir: Path, partitioned: Boolean): Unit =
      if (partitioned) writePartitioned(df.repartition(col(part)), part, "append", dir.toString)
      else df.coalesce(1).sortWithinPartitions(part).write.mode("append").parquet(dir.toString)

    /** Each of `roots` pruned to the buckets of `hashes` at its own P
      * (`fallback` for a pre-marker root); roots with nothing to read are
      * skipped. */
    def read(spark: SparkSession, fs: FileSystem, roots: Seq[String], hashes: Seq[Long],
        fallback: => Int): Seq[DataFrame] =
      roots.flatMap { r =>
        readPruned(spark, fs, r, part, Some(hit(hashes, operative(fs, new Path(r), fallback))))
      }
  }

  /** The thin-root floor: rows per bucket below which a root is one file. */
  private val MinFileRows = 1024L

  /** `df` written one directory per value of `part`: the bucketed roots'
    * writer ([[Buckets]]) and the vector index's inverted lists, which are
    * partitioned by centroid id at a P the model fixes. */
  def writePartitioned(df: DataFrame, part: String, mode: String, dir: String): Unit =
    df.write.mode(mode).partitionBy(part).parquet(dir)

  // ---- per-root helpers ----

  /** The `_BUCKETS` marker inside a partitioned root: the bucket count its
    * rows were written at; None when absent or unreadable. */
  def readBuckets(fs: FileSystem, root: Path): Option[Int] =
    Try(readSmall(fs, new Path(root, BucketsMark)).trim.toInt).toOption.filter(_ > 0)

  def writeBuckets(fs: FileSystem, root: Path, p: Int): Unit = {
    val out = fs.create(new Path(root, BucketsMark), true)
    try out.write(p.toString.getBytes("UTF-8")) finally out.close()
  }

  /** True iff the tree under `root` holds a parquet DATA file. A zero-row
    * (partitioned) write leaves only `_SUCCESS`, and schema inference over
    * such a tree throws. */
  def hasData(fs: FileSystem, root: Path): Boolean =
    try {
      val it = fs.listFiles(root, true)
      var found = false
      while (!found && it.hasNext) found = it.next().getPath.getName.endsWith(".parquet")
      found
    } catch { case _: java.io.FileNotFoundException => false }

  /** Parquet-footer row count of a tree; 0 when it holds no data files. */
  def rowCount(spark: SparkSession, fs: FileSystem, root: Path): Long =
    if (hasData(fs, root)) Parquet.read(spark, root.toString).count() else 0L

  /** One root pruned to the `hit` values of its partition column `part`:
    * a partitioned root reads only the hit `part=` directories (path
    * construction after one listing — the filter-on-partition-column form
    * re-lists every directory at plan time), a flat root reads whole with
    * a pushed `part` row filter. `None` hit reads the whole root; the
    * result is None when there is nothing to read. */
  def readPruned(
      spark: SparkSession, fs: FileSystem, root: String,
      part: String, hit: Option[Seq[Int]]): Option[DataFrame] = {
    val st = listStatus(fs, new Path(root))
    val parts = st.filter(_.isDirectory).map(_.getPath.getName).filter(_.startsWith(s"$part="))
    if (parts.nonEmpty) hit match {
      case Some(bs) =>
        val present = parts.map(_.stripPrefix(s"$part=").toInt).toSet
        val dirs = bs.filter(present).map(b => s"$root/$part=$b")
        if (dirs.isEmpty) None else Some(Parquet.read(spark, dirs: _*))
      case None => Some(Parquet.read(spark, root))
    } else if (!st.exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))) None
    else {
      val df = Parquet.read(spark, root)
      Some(hit.fold(df)(bs => df.filter(col(part).isin(bs: _*))))
    }
  }

  // ---- file plumbing ----

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Atomic small-file publish: temp write + rename-overwrite. The ingest
    * batch marks ([[graft.streaming.Ingest.Marks]]) publish through it. */
  def writeAtomic(fs: FileSystem, dst: Path, content: String): Unit = {
    fs.mkdirs(dst.getParent)
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(dst.toUri, fs.getConf).rename(tmp, dst, Options.Rename.OVERWRITE)
  }

  def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  /** The visible (non-hidden) entries of `parent`; empty when it is absent. */
  private def listStatus(fs: FileSystem, parent: Path): Seq[FileStatus] =
    try fs.listStatus(parent).toSeq.filterNot(_.getPath.getName.startsWith("."))
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  def listDirs(fs: FileSystem, parent: Path): Seq[Path] =
    listStatus(fs, parent).filter(_.isDirectory).map(_.getPath)

  def listFiles(fs: FileSystem, parent: Path): Seq[Path] =
    listStatus(fs, parent).filter(_.isFile).map(_.getPath)

  /** Finish a crashed [[swapInto]]: if the final tree is missing but a
    * COMMITTED staged tree (its `_SUCCESS` present) exists, rename it
    * into place. Call at the entry of any maintenance op that stages —
    * the one crash window swapping leaves (between delete and rename)
    * then self-heals on the next call instead of stranding the index. */
  def healSwap(fs: FileSystem, stagingDir: Path, finalDir: Path): Unit =
    if (!fs.exists(finalDir) && fs.exists(new Path(stagingDir, "_SUCCESS"))) {
      fs.rename(stagingDir, finalDir); ()
    }

  /** Swap a fully-written staged tree into place over `finalDir`. The
    * staged tree must be durably complete (parquet `_SUCCESS`) BEFORE
    * this call: a crash before it leaves the old tree untouched (partial
    * staging is overwritten on rerun), a crash between the delete and
    * the rename leaves the complete staged tree for [[healSwap]] — at no
    * point does neither complete tree exist on disk. This is what makes
    * an in-place rewrite of a store FROM ITS OWN CONTENTS crash-safe:
    * the read plan streams from the old tree while the write lands in
    * the sibling, with no reliance on executor-memory checkpoints that a
    * crash would lose. */
  def swapInto(fs: FileSystem, stagingDir: Path, finalDir: Path): Unit = {
    require(fs.exists(new Path(stagingDir, "_SUCCESS")),
      s"staged tree $stagingDir is not committed (_SUCCESS missing)")
    if (fs.exists(finalDir)) { fs.delete(finalDir, true); () }
    fs.rename(stagingDir, finalDir); ()
  }
}
