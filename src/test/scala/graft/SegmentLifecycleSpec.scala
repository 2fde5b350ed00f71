package graft

import graft.core.SegmentLog
import graft.operators.{Dedup, Ivf, Search}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable
import scala.util.Random

/** One seeded lifecycle property across the persisted index families (the
  * exact index, the MinHash doc index, flat and band-bucketed, the
  * signature store, IVF and the text index), each driven through its
  * public API: seeded sequences of named-segment
  * appends, deletes, folds with `gc = false`, GCs and crashes, where a
  * crash removes the newest fold marker (right after a fold) or the commit
  * mark of the newest segment (which is then replayed). After every step
  * the index's merged view must equal a full recompute over the documents
  * a model says are live. */
class SegmentLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import SegmentLifecycleSpec._

  /** One index family: its write paths, its commit mark, its merged view
    * and the recompute that view must equal. */
  private trait Family {
    /** Deletion by content (newest-wins by append order) instead of by id. */
    def byContent: Boolean = false
    def build(path: String, docs: Seq[Doc]): Unit
    def append(path: String, seg: String, docs: Seq[Doc]): Unit
    def delete(path: String, docs: Seq[Doc]): Unit
    def fold(path: String): Unit
    def gc(path: String): Unit
    def commitMark(seg: String): String
    def view(path: String, everything: Seq[Doc]): Any
    def recompute(live: Seq[Doc]): Any
    /** Checked once the sequence has run. */
    def settled(path: String): Unit = ()
  }

  private def frame(docs: Seq[Doc]): DataFrame = {
    val s = spark
    import s.implicits._
    docs.map(d => (d.id, d.text, d.vec)).toDF("doc_id", "text", "embedding")
  }
  private def ids(docs: Seq[Doc]): DataFrame = frame(docs).select("doc_id")

  private object Exact extends Family {
    override def byContent = true
    def build(path: String, docs: Seq[Doc]): Unit = Dedup.writeExactIndex(frame(docs), path)
    def append(path: String, seg: String, docs: Seq[Doc]): Unit =
      Dedup.writeExactIndexSegment(frame(docs), path, seg)
    def delete(path: String, docs: Seq[Doc]): Unit = { Dedup.deleteFromExactIndex(frame(docs), path); () }
    def fold(path: String): Unit = Dedup.compactExactIndex(spark, path, gc = false)
    def gc(path: String): Unit = { Dedup.gcExactIndex(spark, path); () }
    def commitMark(seg: String): String = s"keys/$seg/_SEQ"
    def view(path: String, everything: Seq[Doc]): Any =
      Dedup.readExactIndex(spark, path).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    def recompute(live: Seq[Doc]): Any =
      live.groupBy(_.text).values.map(g => (g.map(_.id).min, g.size.toLong)).toSet
  }

  /** The doc-row stores' shared lifecycle: named segments committed by
    * `_SUCCESS`, id tombstones and the fold cycle. The view is the stored
    * docs that pair with an exact copy of themselves. */
  private abstract class DocStore extends Family {
    /** The band-bucketed stores below start at P = 8: the fold cycles have
      * grown them to the auto P. */
    protected def grown(path: String): Unit =
      assert(Dedup.docIndexStats(spark, path)("graft.docindex.band-buckets") == "64", path)
    def delete(path: String, docs: Seq[Doc]): Unit = { Dedup.deleteFromDocIndex(ids(docs), path); () }
    def fold(path: String): Unit = Dedup.foldDocSegments(spark, path, gc = false)
    def gc(path: String): Unit = { Dedup.gcDocIndex(spark, path); () }
    def commitMark(seg: String): String = s"segs/$seg/_SUCCESS"
    def recompute(live: Seq[Doc]): Any = live.map(_.id).toSet

    protected def copies(everything: Seq[Doc]): Seq[Doc] =
      everything.map(d => d.copy(id = d.id + CopyOffset))
    /** The copies in batches of at most 21 band rows, so that a store grown
      * to P = 64 reads them pruned (hit buckets at most a third of P). */
    protected def chunks(everything: Seq[Doc], bandsPerDoc: Int): Seq[Seq[Doc]] =
      copies(everything).grouped(21 / bandsPerDoc).toSeq
    protected def copyPairs(pairs: DataFrame): Set[Long] =
      pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        .collect { case (a, b) if b == a + CopyOffset => a }.toSet
  }

  private object MinHash extends DocStore {
    def build(path: String, docs: Seq[Doc]): Unit = Dedup.writeMinHashIndex(frame(docs), path)
    def append(path: String, seg: String, docs: Seq[Doc]): Unit = {
      Dedup.writeMinHashSegment(Dedup.minHashBatchSigs(frame(docs), path), path, seg); ()
    }
    def view(path: String, everything: Seq[Doc]): Any =
      copyPairs(Dedup.minHashIncremental(frame(copies(everything)), path))
  }

  /** The MinHash doc index band-bucketed at an explicit P = 8. Its first
    * fold cycle grows the base band tree to the auto P (64 >= 2 x 8), and
    * every band root is thin (under 1,024 rows per bucket), so the folds
    * run the shared grow rule and thin-root writer. The view runs the
    * micro probe, which reads the grown store pruned. */
  private object BucketedMinHash extends DocStore {
    def build(path: String, docs: Seq[Doc]): Unit =
      Dedup.writeMinHashIndex(frame(docs), path, numHashes = 8, bands = 2, bandBuckets = 8)
    def append(path: String, seg: String, docs: Seq[Doc]): Unit = MinHash.append(path, seg, docs)
    def view(path: String, everything: Seq[Doc]): Any = {
      val sigs = chunks(everything, 2).map(c => Dedup.minHashBatchSigs(frame(c), path))
      // checkpointed, as the near-dup ingest does: candidates feed both
      // the id restriction and the verify joins
      graft.core.Stage.scope { s =>
        val candidates = s(sigs.map(Dedup.minHashMicroCandidates(_, path)).reduce(_ unionByName _))
        copyPairs(Dedup.minHashMicroVerify(candidates, sigs.reduce(_ unionByName _), path, 0.7))
      }
    }
    override def settled(path: String): Unit = grown(path)
  }

  /** The signature store over 64-bit text hashes, band-bucketed at an
    * explicit P = 8 like [[BucketedMinHash]] (3 band rows per doc). */
  private object Signature extends DocStore {
    private def sigs(docs: Seq[Doc]): DataFrame =
      frame(docs).select(col("doc_id"), xxhash64(col("text")).as("sh"))
    def build(path: String, docs: Seq[Doc]): Unit =
      Dedup.writeSignatureIndex(sigs(docs), path, maxHamming = 2, comboSize = 1, sigBuckets = 8)
    def append(path: String, seg: String, docs: Seq[Doc]): Unit = {
      Dedup.writeSignatureSegment(sigs(docs), path, seg); ()
    }
    def view(path: String, everything: Seq[Doc]): Any =
      copyPairs(chunks(everything, 3)
        .map(c => Dedup.signatureMicroIncremental(sigs(c), path, maxHamming = 2, comboSize = 1))
        .reduce(_ unionByName _))
    override def settled(path: String): Unit = grown(path)
  }

  private object Vectors extends Family {
    def build(path: String, docs: Seq[Doc]): Unit = {
      val df = frame(docs)
      Ivf.writeIndex(df, Ivf.train(df, c = 4, iters = 2, idCol = "doc_id"), path, idCol = "doc_id")
    }
    def append(path: String, seg: String, docs: Seq[Doc]): Unit = {
      val model = Ivf.readModel(spark, path)
      Ivf.writeListSegment(frame(docs).select(col("doc_id").as("n_id"), col("embedding").as("n_vec"),
        graft.functions.VectorOps.normSq(col("embedding")).as("n_nsq"),
        Ivf.nearestCentroid(col("embedding"), model).as("bucket")), path, seg)
      ()
    }
    def delete(path: String, docs: Seq[Doc]): Unit = {
      Ivf.deleteFromIndex(ids(docs), path, idCol = "doc_id"); ()
    }
    def fold(path: String): Unit = Ivf.foldIndexSegments(spark, path, gc = false)
    def gc(path: String): Unit = { Ivf.gcIndexSegments(spark, path); () }
    def commitMark(seg: String): String = s"segs/$seg/_SUCCESS"
    /** Every live vector, once: a full-probe top-k larger than the index. */
    def view(path: String, everything: Seq[Doc]): Any = {
      val q = frame(Seq(Doc(-1L, "", everything.head.vec))).select("doc_id", "embedding")
      Ivf.topKIndexed(spark, path, q, k = 100000, nProbe = 4, idCol = "doc_id")
        .collect().map(_.getLong(1)).toSeq.sorted
    }
    def recompute(live: Seq[Doc]): Any = live.map(_.id).sorted
  }

  private object Text extends Family {
    def build(path: String, docs: Seq[Doc]): Unit = Search.buildTextIndex(frame(docs), path, buckets = 8)
    def append(path: String, seg: String, docs: Seq[Doc]): Unit = {
      Search.writePostingsSegment(frame(docs), path, seg); ()
    }
    def delete(path: String, docs: Seq[Doc]): Unit = { Search.deleteFromTextIndex(ids(docs), path); () }
    def fold(path: String): Unit = Search.foldTextSegments(spark, path, gc = false)
    def gc(path: String): Unit = { Search.gcTextIndex(spark, path); () }
    def commitMark(seg: String): String = s"segs/$seg/segmeta/_SUCCESS"
    private def queries = {
      val s = spark
      import s.implicits._
      Seq((1L, "w1 w2 w3"), (2L, "w10 w20 w30 w40")).toDF("query_id", "query_text")
    }
    private def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    def view(path: String, everything: Seq[Doc]): Any = rows(Search.bm25Indexed(spark, path, queries, topK = 6))
    def recompute(live: Seq[Doc]): Any = rows(Search.bm25(frame(live), queries, topK = 6))
  }

  /** Run one seeded sequence against `family`, checking after every step. */
  private def lifecycle(family: Family, seed: Long): Unit = {
    val rnd = new Random(seed)
    val path = java.nio.file.Files.createTempDirectory("graft_lifecycle_").toString + "/idx"
    val fs = SegmentLog.fs(spark, path)
    var nextId = 0L
    var clock = 0
    val texts = mutable.ArrayBuffer.empty[String]
    val created = mutable.ArrayBuffer.empty[Doc]
    def docs(n: Int): Seq[Doc] = Seq.fill(n) {
      // the exact index gets repeated texts, so its groups have members
      val text =
        if (family.byContent && texts.nonEmpty && rnd.nextInt(4) == 0) texts(rnd.nextInt(texts.size))
        else Seq.fill(10)(s"w${rnd.nextInt(60)}").mkString(" ")
      texts += text
      nextId += 1
      created += Doc(nextId, text, Array.fill(4)(rnd.nextFloat()))
      created.last
    }
    // the model: every append (clock, segment, docs) and every deletion
    val appended = mutable.ArrayBuffer.empty[(Int, String, Seq[Doc])]
    val deleted = mutable.ArrayBuffer.empty[(Int, Seq[Doc])]
    def live: Seq[Doc] = appended.toSeq.flatMap { case (t, _, ds) =>
      ds.filterNot(d => deleted.exists { case (td, gone) =>
        if (family.byContent) td > t && gone.exists(_.text == d.text) else gone.exists(_.id == d.id)
      })
    }
    def check(step: String): Unit =
      assert(family.view(path, created.toSeq) == family.recompute(live), s"seed $seed after $step")
    def tick(): Int = { clock += 1; clock }

    val base = docs(6)
    family.build(path, base)
    appended += ((tick(), "", base))
    check("build")
    var segNo = 0
    var lastFoldMarkers = Set.empty[String]
    def markers: Set[String] =
      SegmentLog.listFiles(fs, new Path(path, "_folded")).map(_.getName).toSet
    def append(): String = {
      val seg = f"batch_$segNo%05d"
      segNo += 1
      val ds = docs(2 + rnd.nextInt(3))
      family.append(path, seg, ds)
      appended += ((tick(), seg, ds))
      seg
    }
    val middle = rnd.shuffle(List("append", "delete", "gc"))
    val ops = List("append", "crash") ++ middle ++ List("fold", "crash", "fold", "delete", "gc")
    var previous = ""
    ops.foreach { op =>
      op match {
        case "append" => append()
        case "delete" =>
          val pick = rnd.shuffle(live).take(2)
          family.delete(path, pick)
          deleted += ((tick(), pick))
        case "fold" =>
          val before = markers
          family.fold(path)
          lastFoldMarkers = markers -- before
          assert(lastFoldMarkers.nonEmpty, s"seed $seed: the fold published a marker")
        case "gc" => family.gc(path)
        case "crash" if previous == "fold" =>
          // the fold crashed before its marker: the compact segment is an
          // orphan and the folded segments stay live
          lastFoldMarkers.foreach(m => fs.delete(new Path(path, s"_folded/$m"), false))
        case "crash" =>
          // the newest segment crashed before its commit mark; then replay it
          val (_, seg, ds) = appended.last
          assert(fs.delete(new Path(path, family.commitMark(seg)), false))
          appended.remove(appended.size - 1)
          check(s"crash of $seg")
          family.append(path, seg, ds)
          appended += ((tick(), seg, ds))
      }
      check(op)
      previous = op
    }
    family.settled(path)
  }

  test("exact index: merged view == recompute through append, delete, fold, gc and crash") {
    lifecycle(Exact, 61001L)
  }

  test("MinHash doc index: merged view == recompute through append, delete, fold, gc and crash") {
    lifecycle(MinHash, 61002L)
  }

  test("band-bucketed MinHash doc index: merged view == recompute through append, delete, fold, gc and crash") {
    lifecycle(BucketedMinHash, 61005L)
  }

  test("signature store: merged view == recompute through append, delete, fold, gc and crash") {
    lifecycle(Signature, 61006L)
  }

  test("IVF index: merged view == recompute through append, delete, fold, gc and crash") {
    lifecycle(Vectors, 61003L)
  }

  test("text index: merged view == recompute through append, delete, fold, gc and crash") {
    lifecycle(Text, 61004L)
  }
}

object SegmentLifecycleSpec {
  final case class Doc(id: Long, text: String, vec: Array[Float])
  private val CopyOffset = 1000000L
}
