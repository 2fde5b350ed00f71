package graft

import graft.core.SegmentLog
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The segment protocol primitive on the local file system: commit rules,
  * fold-marker visibility, replayed folded names, retired sets, GC,
  * generation pointers and the per-root helpers. */
class SegmentLogSpec extends AnyFunSuite {
  private val fs: FileSystem = FileSystem.getLocal(new Configuration())

  private def freshRoot(): Path =
    new Path(java.nio.file.Files.createTempDirectory("graft_seglog_").toString)

  private def touch(p: Path, content: String = ""): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** A segment directory with its commit marks (none when `committed` is
    * false) and one data file. */
  private def segment(root: Path, dir: String, name: String, log: SegmentLog,
      committed: Boolean = true, seq: Long = 0L): Path = {
    val d = new Path(root, s"$dir/$name")
    touch(new Path(d, "part-0.parquet"))
    if (committed) {
      if (log == SegmentLog.Sequenced) SegmentLog.commitSeq(fs, d, seq)
      else log.marks.foreach(m => touch(new Path(d, m)))
    }
    d
  }

  private def names(log: SegmentLog, root: Path, retired: Set[String] = Set.empty): Seq[String] =
    log.live(fs, root, retired).segments.map(_.rel)

  test("a segment without its commit mark is invisible, under each commit rule") {
    val seqRoot = freshRoot()
    segment(seqRoot, "keys", "base", SegmentLog.Sequenced, seq = 0L)
    segment(seqRoot, "keys", "half", SegmentLog.Sequenced, committed = false)
    segment(seqRoot, "tombs", "del_000001", SegmentLog.Sequenced, seq = 1L)
    val s = SegmentLog.Sequenced.live(fs, seqRoot)
    assert(s.segments.map(_.rel) == Seq("keys/base", "tombs/del_000001"))
    assert(s.maxSeq == 1L && s.paths("keys").size == 1 && s.paths("tombs").size == 1)

    val docRoot = freshRoot()
    segment(docRoot, "segs", "batch_0", SegmentLog.Docs)
    segment(docRoot, "segs", "batch_1", SegmentLog.Docs, committed = false)
    assert(names(SegmentLog.Docs, docRoot) == Seq("batch_0"))

    val textRoot = freshRoot()
    segment(textRoot, "segs", "batch_0", SegmentLog.Text)
    // postings committed, segmeta (the commit point) not yet
    val half = segment(textRoot, "segs", "batch_1", SegmentLog.Text, committed = false)
    touch(new Path(half, "postings/_SUCCESS"))
    assert(names(SegmentLog.Text, textRoot) == Seq("batch_0"))
    assert(names(SegmentLog.Docs, freshRoot()).isEmpty, "an absent store has no segments")
  }

  test("a compact segment is invisible until its marker commits; folded names stay excluded after a replay") {
    val root = freshRoot()
    segment(root, "segs", "batch_0", SegmentLog.Docs)
    segment(root, "segs", "batch_1", SegmentLog.Docs)
    val live = SegmentLog.Docs.live(fs, root).segments
    var compact = ""
    SegmentLog.Docs.fold(fs, root, live) { dir =>
      compact = dir.getName
      segment(root, "segs", compact, SegmentLog.Docs)
      assert(names(SegmentLog.Docs, root) == Seq("batch_0", "batch_1"),
        "the compact segment is invisible before its marker")
    }
    assert(compact.startsWith("compact_"))
    assert(names(SegmentLog.Docs, root) == Seq(compact))
    val marker = new Path(root, s"_folded/$compact")
    assert(SegmentLog.readSmall(fs, marker) == "batch_0\nbatch_1", "bare names in the marker")
    // a crash-replayed batch rewrites an already-folded name: still excluded,
    // before and after GC (the marker outlives GC while its compact is live)
    segment(root, "segs", "batch_1", SegmentLog.Docs)
    assert(names(SegmentLog.Docs, root) == Seq(compact))
    SegmentLog.Docs.gc(fs, root)()
    segment(root, "segs", "batch_1", SegmentLog.Docs)
    assert(fs.exists(marker))
    assert(names(SegmentLog.Docs, root) == Seq(compact))
  }

  test("a sequenced fold lists qualified names and the extra retired set is excluded") {
    val root = freshRoot()
    segment(root, "keys", "base", SegmentLog.Sequenced, seq = 0L)
    segment(root, "keys", "seg_a", SegmentLog.Sequenced, seq = 1L)
    segment(root, "tombs", "del_000002", SegmentLog.Sequenced, seq = 2L)
    assert(names(SegmentLog.Sequenced, root, Set("keys/seg_a")) == Seq("keys/base", "tombs/del_000002"))
    val s = SegmentLog.Sequenced.live(fs, root)
    SegmentLog.Sequenced.fold(fs, root, s.segments) { dir =>
      assert(dir.getParent.getName == "keys")
      SegmentLog.commitSeq(fs, dir, s.maxSeq)
    }
    val after = SegmentLog.Sequenced.live(fs, root)
    assert(after.segments.size == 1 && after.maxSeq == 2L)
    assert(after.folded == Set("keys/base", "keys/seg_a", "tombs/del_000002"))
    assert(SegmentLog.Sequenced.awaitingGc(fs, root, after) == 3)
    assert(SegmentLog.Sequenced.gc(fs, root)() == 3L)
    assert(SegmentLog.Sequenced.awaitingGc(fs, root, after) == 0)
    assert(SegmentLog.Sequenced.live(fs, root).segments == after.segments)

    val docs = freshRoot()
    segment(docs, "segs", "batch_0", SegmentLog.Docs)
    segment(docs, "segs", "batch_1", SegmentLog.Docs)
    assert(names(SegmentLog.Docs, docs, Set("batch_0")) == Seq("batch_1"))
  }

  test("gc deletes folded dirs, spent markers and orphan compacts, calls the twin hook, keeps live markers") {
    val root = freshRoot()
    segment(root, "segs", "batch_0", SegmentLog.Docs)
    segment(root, "segs", "batch_1", SegmentLog.Docs)
    segment(root, "segs", "batch_2", SegmentLog.Docs)
    val live = SegmentLog.Docs.live(fs, root).segments.take(2)
    var compact = ""
    SegmentLog.Docs.fold(fs, root, live) { dir => compact = dir.getName; fs.mkdirs(dir) }
    // an orphan from a fold that crashed before its marker, and a spent
    // marker whose compact segment is already gone
    fs.mkdirs(new Path(root, "segs/compact_orphan"))
    SegmentLog.writeAtomic(fs, new Path(root, "_folded/compact_gone"), "batch_9")
    val twins = scala.collection.mutable.Set.empty[String]
    val removed = SegmentLog.Docs.gc(fs, root, retired = Set("batch_2"))(n => { twins += n; 1L })
    assert(removed == 4L + 5L,
      "batch_0, batch_1, retired batch_2, the orphan compact, and the hook's five twin deletes")
    assert(twins == Set("batch_0", "batch_1", "batch_2", "batch_9", "compact_orphan"))
    assert(SegmentLog.listDirs(fs, new Path(root, "segs")).map(_.getName) == Seq(compact))
    assert(fs.exists(new Path(root, s"_folded/$compact")), "the live compact keeps its marker")
    assert(!fs.exists(new Path(root, "_folded/compact_gone")), "the spent marker is dropped")
    assert(SegmentLog.Docs.gc(fs, root)() == 0L)
  }

  test("retire drops segments, tombstones and markers") {
    val root = freshRoot()
    segment(root, "segs", "batch_0", SegmentLog.Docs)
    fs.mkdirs(new Path(root, "tombs"))
    SegmentLog.writeAtomic(fs, new Path(root, "_folded/compact_x"), "batch_0")
    fs.mkdirs(new Path(root, "docs"))
    SegmentLog.Docs.retire(fs, root)
    assert(SegmentLog.listDirs(fs, root).map(_.getName) == Seq("docs"))
  }

  test("pointer resolution falls back to the legacy root when missing, empty, unreadable or not one name") {
    val root = freshRoot()
    val gens = SegmentLog.Generations("_BANDS", "bands", "bands", Seq("bands"))
    val ptr = new Path(root, "_BANDS")
    assert(gens.current(fs, root) == "bands", "missing")
    touch(ptr, "  \n")
    assert(gens.current(fs, root) == "bands", "empty")
    touch(ptr, "x/bands_v1")
    assert(gens.current(fs, root) == "bands", "contains a slash")
    fs.delete(ptr, false)
    fs.mkdirs(ptr)
    assert(gens.current(fs, root) == "bands", "unreadable")
    fs.delete(ptr, true)
    touch(ptr, "bands_v2\n")
    assert(gens.current(fs, root) == "bands_v2")
    val ivf = SegmentLog.Generations("_LISTS", "gen", "", Seq("lists", "centroids", "meta"))
    assert(ivf.current(fs, root) == "", "the vector index's legacy root is the index root")
  }

  test("a generation publish picks the next k and the sweep keeps the current generation") {
    val root = freshRoot()
    val gens = SegmentLog.Generations("_POSTINGS", "postings", "postings", Seq("postings"))
    Seq("postings", "postings_v1", "postings_v3", "postings_vx").foreach(d => fs.mkdirs(new Path(root, d)))
    var seen: Path = null
    val gen = gens.publish(fs, root) { dir =>
      seen = dir
      assert(gens.current(fs, root) == "postings", "the pointer flips after the write")
      touch(new Path(dir, "part-0.parquet"))
    }
    assert(gen == "postings_v4" && seen.getName == gen)
    assert(gens.current(fs, root) == gen)
    assert(gens.sweep(fs, root, keep = _ == "postings_v3") == 3L, "v1, vx, the legacy root")
    assert(SegmentLog.listDirs(fs, root).map(_.getName).sorted == Seq("postings_v3", "postings_v4"))
    assert(gens.sweep(fs, root) == 1L)
    assert(fs.exists(new Path(root, s"$gen/part-0.parquet")))

    val ivfRoot = freshRoot()
    val ivf = SegmentLog.Generations("_LISTS", "gen", "", Seq("lists", "centroids", "meta"))
    Seq("lists", "centroids", "meta", "segs").foreach(d => fs.mkdirs(new Path(ivfRoot, d)))
    assert(ivf.sweep(fs, ivfRoot) == 0L, "the legacy root serves: nothing to sweep")
    assert(ivf.publish(fs, ivfRoot)(_ => ()) == "gen_v1")
    assert(ivf.sweep(fs, ivfRoot, keep = _ == "") == 0L, "a live segment still needs the legacy quantizer")
    assert(ivf.sweep(fs, ivfRoot) == 3L)
    assert(SegmentLog.listDirs(fs, ivfRoot).map(_.getName).sorted == Seq("gen_v1", "segs"))
  }

  test("_BUCKETS is read whole; hasData sees only parquet data files") {
    val root = freshRoot()
    assert(SegmentLog.readBuckets(fs, root).isEmpty)
    SegmentLog.writeBuckets(fs, root, 4096)
    assert(SegmentLog.readBuckets(fs, root).contains(4096))
    // longer than one small read: the marker must still parse
    touch(new Path(root, "_BUCKETS"), " " * 64 + "128\n")
    assert(SegmentLog.readBuckets(fs, root).contains(128))
    touch(new Path(root, "_BUCKETS"), "0")
    assert(SegmentLog.readBuckets(fs, root).isEmpty, "a non-positive count is no marker")

    val tree = freshRoot()
    assert(!SegmentLog.hasData(fs, new Path(tree, "absent")))
    touch(new Path(tree, "_SUCCESS"))
    assert(!SegmentLog.hasData(fs, tree))
    touch(new Path(tree, "pb=3/part-0.parquet"))
    assert(SegmentLog.hasData(fs, tree))
  }

  test("readPruned reads only hit partitions of a partitioned root and filters a flat one") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = freshRoot()
    val rows = (0 until 40).map(i => (i.toLong, i % 4)).toDF("doc", "bucket")
    rows.write.partitionBy("bucket").parquet(s"$root/part")
    rows.coalesce(1).write.parquet(s"$root/flat")
    def docs(df: Option[org.apache.spark.sql.DataFrame]) =
      df.map(_.select("doc").collect().map(_.getLong(0)).toSet)
    val want = (0 until 40).filter(i => i % 4 == 1 || i % 4 == 3).map(_.toLong).toSet
    assert(docs(SegmentLog.readPruned(spark, fs, s"$root/part", "bucket", Some(Seq(1, 3, 9)))).contains(want))
    assert(docs(SegmentLog.readPruned(spark, fs, s"$root/flat", "bucket", Some(Seq(1, 3)))).contains(want))
    assert(SegmentLog.readPruned(spark, fs, s"$root/part", "bucket", Some(Seq(9))).isEmpty)
    assert(docs(SegmentLog.readPruned(spark, fs, s"$root/part", "bucket", None)).map(_.size).contains(40))
    fs.mkdirs(new Path(root, "empty"))
    touch(new Path(root, "empty/_SUCCESS"))
    assert(SegmentLog.readPruned(spark, fs, s"$root/empty", "bucket", Some(Seq(1))).isEmpty)
  }
}
