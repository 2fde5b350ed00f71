package perfbench

import graft.Graft
import graft.core.{Changelog, ChangelogSpec}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col
import perfbench.Gen._

import scala.collection.mutable

/** kv_changelog: QuasDB's own surface. Each step ingests one small-file
  * Put/Delete batch through `Graft.ingest(availableNow = true)`, then
  * runs the fixed read mix over `readCommitted` at a snapshot pinned one
  * batch behind, and every [[CompactEvery]] steps compacts the committed
  * view. Reads are checked against an in-memory replay of the changelog. */
final class KvChangelog(tmp: String) extends Workload {
  val shape = KvShape(keySpace = 3000, rowsPerStep = 400, filesPerStep = 4, deleteShare = 0.1)
  val CompactEvery = 2
  override def warmSteps: Int = 2
  private val spec = ChangelogSpec(Seq("k"), "seq", Some("is_delete"))
  private val schema = Encoders.product[KvRow].schema
  private var seed = 0L

  /** One ingest sink with its source, checkpoint and compaction outputs. */
  private final class Table(name: String) {
    val root = s"$tmp/kv/$name"
    val src = s"$root/src"
    val sink = s"$root/sink"
    val ckpt = s"$root/ckpt"
    def compactDir(i: Int) = s"$root/compact-$i"
  }

  private val table = new Table("timed")
  // replay model: key -> versions (seq, value, deleted) in seq order
  private val history = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, String, Boolean)]]
  private var committed = 0L
  private var userBytes = 0L
  private var compactBytesWritten = 0L
  private val compactions = mutable.ArrayBuffer.empty[(String, Long, Long, Long)] // dir, retention, high water, rows out

  /** Write step `step`'s rows as small parquet files into `t.src`
    * (written aside, then renamed in, so the file source never sees a
    * partial file). Returns the bytes delivered. */
  private def deliver(c: Client, t: Table, step: Int): Long = {
    val staging = s"${t.root}/staging-$step"
    import c.spark.implicits._
    changelogStep(seed, shape, step).toDF().repartition(shape.filesPerStep).write.parquet(staging)
    val src = java.nio.file.Paths.get(t.src)
    java.nio.file.Files.createDirectories(src)
    val moved = Files.list(staging).filter(_.getFileName.toString.endsWith(".parquet")).zipWithIndex.map {
      case (p, j) => java.nio.file.Files.move(p, src.resolve(s"step-$step-$j.parquet"))
    }
    Files.deleteTree(staging)
    moved.map(java.nio.file.Files.size).sum
  }

  def generate(c: Client, seed: Long): Unit = {
    this.seed = seed
    (0 until Main.SetupReps).foreach(r => deliver(c, new Table(s"setup-$r"), 0))
  }

  private def ingest(c: Client, g: Graft, t: Table, rows: Long): Unit =
    c.call("streaming", "ingest", (_: Unit) => rows) {
      val query = c.tracer.span("streaming", "start")(g.ingest(t.src, schema, t.sink, t.ckpt, Seq("event_id"), spec))
      c.tracer.span("streaming", "await")(query.awaitTermination())
    }

  private def read(c: Client, t: Table, r: KvRead, snapshot: Long): Option[Seq[(Long, String)]] = {
    def rows(df: DataFrame) = df.select("k", "v").collect().map(x => (x.getLong(0), x.getString(1))).toSeq
    val kind = r match {
      case _: PointGet => "point_get"
      case _: RangeScan => "range_scan"
      case CollapseAll => "collapse_at"
    }
    c.call("core", kind, (x: Seq[(Long, String)]) => x.size.toLong) {
      val query = c.tracer.span("core", "plan") {
        val df = Graft(c.spark, tmp).readCommitted(t.sink, t.ckpt)
        r match {
          case PointGet(k) => Changelog.pointGet(df, spec, col("k") === k, snapshot)
          case RangeScan(lo, hi, rev) =>
            Changelog.rangeScan(df.filter(col("seq") <= snapshot), spec, col("k").between(lo, hi), Seq("k"), rev)
          case CollapseAll => Changelog.collapseAt(df, spec, snapshot)
        }
      }
      c.tracer.span("spark", "collect")(rows(query))
    }
  }

  private def compact(c: Client, t: Table, i: Int, retention: Long): Option[Long] =
    c.call("core", "compact", (_: Long) => 0L) {
      Graft(c.spark, tmp).compactCommitted(t.sink, t.ckpt, t.compactDir(i), spec, retention)
    }

  /** The set-up unit is one ingest into a fresh table. */
  def setup(c: Client, rep: Int): Unit = ingest(c, Graft(c.spark, tmp), new Table(s"setup-$rep"), shape.rowsPerStep)

  /** Live (key, value) pairs at `snapshot`, from the replay model. */
  private def live(snapshot: Long): Map[Long, String] =
    history.iterator.flatMap { case (k, vs) =>
      vs.reverseIterator.find(_._1 <= snapshot).filterNot(_._3).map(v => k -> v._2)
    }.toMap

  def step(c: Client, i: Int): Unit = {
    userBytes += deliver(c, table, i)
    changelogStep(seed, shape, i).foreach { r =>
      // seqs are 1-based and follow event order: one batch per step
      history.getOrElseUpdate(r.k, mutable.ArrayBuffer.empty) += ((r.event_id + 1, r.v, r.is_delete))
    }
    ingest(c, Graft(c.spark, tmp), table, shape.rowsPerStep)
    committed += shape.rowsPerStep
    val snapshot = shape.rowsPerStep.toLong * math.max(1, i)
    lazy val model = live(snapshot)
    kvReads(seed, shape, i).foreach { r =>
      read(c, table, r, snapshot).foreach { got =>
        val want: Seq[(Long, String)] = r match {
          case PointGet(k) => model.get(k).map(k -> _).toSeq
          case RangeScan(lo, hi, rev) =>
            val in = model.toSeq.filter { case (k, _) => k >= lo && k <= hi }.sortBy(_._1)
            if (rev) in.reverse else in
          case CollapseAll => model.toSeq.sortBy(_._1)
        }
        val cmp = if (r == CollapseAll) got.sortBy(_._1) else got
        c.check(s"kv.read.$r@$snapshot")(cmp == want, s"got ${cmp.take(3)}.. (${cmp.size}) want ${want.take(3)}.. (${want.size})")
      }
    }
    if (i % CompactEvery == CompactEvery - 1) {
      compact(c, table, i, snapshot).foreach { out =>
        val dir = table.compactDir(i)
        compactBytesWritten += Files.bytes(dir)
        compactions.lastOption.foreach(prev => Files.deleteTree(prev._1))
        compactions += ((dir, snapshot, committed, out))
      }
    }
  }

  def finish(c: Client): Unit = {
    val g = Graft(c.spark, tmp)
    val acked = g.ingestProperties(table.ckpt)("graft.ingest.committed.rows").toLong
    val seen = g.readCommitted(table.sink, table.ckpt).count()
    c.check("kv.fresh_reader_sees_acknowledged_rows")(acked == committed && seen == acked,
      s"model $committed, acknowledged $acked, fresh reader $seen")
    compactions.lastOption.foreach { case (dir, retention, high, _) =>
      val out = c.spark.read.parquet(dir)
      Seq(retention, high).foreach { s =>
        val got = Changelog.collapseAt(out, spec, s).select("k", "v").collect()
          .map(x => x.getLong(0) -> x.getString(1)).toMap
        c.check(s"kv.compacted_view@$s")(got == live(s), s"${got.size} keys vs ${live(s).size}")
      }
    }
  }

  def rowsPerS(c: Client): Double = Stats.median(c.of("ingest").filter(_.ok).map(o => o.rows / (o.ms / 1e3)))

  def layerMetrics(c: Client): Map[String, Double] = {
    def counters(kinds: String*) = c.of(kinds: _*).flatMap(o => Option(c.tracer.counters.get(o.id)))
    val triggers = counters("ingest").flatMap(_.triggers)
    def phase(p: String) = if (triggers.isEmpty) 0.0 else triggers.map(_.getOrElse(p, 0L)).sum.toDouble / triggers.size
    val reads = c.of("point_get", "range_scan", "collapse_at")
    val readCounters = counters("point_get", "range_scan", "collapse_at")
    val gets = counters("point_get")
    val sinkBytes = Files.bytes(table.sink)
    val lastCompact = compactions.lastOption.map(x => Files.bytes(x._1)).getOrElse(0L)
    Map(
      "streaming.triggers" -> triggers.size.toDouble / math.max(1, c.of("ingest").size),
      "streaming.trigger_ms" -> phase("triggerExecution"),
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.get_batch_ms" -> phase("getBatch"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.rows_per_trigger" -> phase("numInputRows"),
      "core.rows_examined_per_row_returned" ->
        readCounters.map(_.scanRows).sum.toDouble / math.max(1L, reads.map(_.rows).sum),
      "core.files_read_per_lookup" -> gets.map(_.scanFiles).sum.toDouble / math.max(1, gets.size),
      "core.sink_files" -> Files.count(table.sink, _.endsWith(".parquet")).toDouble,
      "core.compact_rows_in" -> avg(compactions.map(_._3.toDouble)),
      "core.compact_rows_out" -> avg(compactions.map(_._4.toDouble)),
      "core.write_amp" -> (sinkBytes + compactBytesWritten).toDouble / userBytes,
      "core.space_amp" -> (sinkBytes + lastCompact).toDouble / userBytes)
  }

  private def avg(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Small local-filesystem helpers over java.nio; names starting with '.'
  * or '_' (checksums, markers) are not data. */
object Files {
  import java.nio.file.{Files => F, Path, Paths}
  import scala.jdk.CollectionConverters._

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!F.exists(p)) Nil
    else {
      val s = F.walk(p)
      try s.iterator().asScala.filter(F.isRegularFile(_)).toList finally s.close()
    }
  }

  private def isData(p: Path): Boolean = { val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }

  def list(dir: String): Seq[Path] = {
    val s = F.list(Paths.get(dir))
    try s.iterator().asScala.toList.sortBy(_.getFileName.toString) finally s.close()
  }

  def bytes(dir: String): Long = walk(dir).filter(isData).map(F.size).sum
  def count(dir: String, name: String => Boolean): Int = walk(dir).count(p => isData(p) && name(p.getFileName.toString))

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (F.exists(p)) {
      val s = F.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(F.delete) finally s.close()
    }
  }
}
