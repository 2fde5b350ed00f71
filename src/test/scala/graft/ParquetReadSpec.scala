package graft

import graft.core.{Changelog, ChangelogSpec, Parquet}
import graft.streaming.Ingest
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The engine's parquet read ([[Parquet.read]]) against `spark.read.parquet`
  * with the same arguments: the same schema and rows, and no Spark job to
  * resolve the schema unless merging is asked for. Job counts come from a
  * listener filtered to this suite's job group, read after the listener bus
  * has drained. */
class ParquetReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val spec = ChangelogSpec(Seq("k"), "seq", Some("is_delete"))

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobs[T](body: => T): (T, Int) = counted(_ => 1)(body)

  /** `body`'s result and the tasks of the Spark jobs it started. */
  private def tasks[T](body: => T): (T, Int) = counted(_.stageInfos.map(_.numTasks).sum)(body)

  /** `body`'s result and the sum of `count` over the Spark jobs it started. */
  private def counted[T](count: SparkListenerJobStart => Int)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"parquet-read-spec-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.addAndGet(count(e))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      org.apache.spark.GraftTestBus.drain(sc)
      (r, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertSame(ours: DataFrame, theirs: DataFrame): Unit = {
    assert(ours.schema == theirs.schema)
    assert(rows(ours) == rows(theirs))
  }

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** A 3-batch changelog ingest sink: (sink, checkpoint, batch dirs). */
  private lazy val sink: (String, String, Seq[String]) = {
    import spark.implicits._
    val tmp = tmpDir("graft_pread_sink_")
    // key 7 is never deleted, so a point get on it at the last seq finds one row
    (0 until 300).map(i => (i.toLong % 40, s"v$i", i.toLong, i % 7 == 0 && i % 40 != 7))
      .toDF("k", "v", "event_id", "is_delete")
      .repartition(3).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    Graft(spark, TestSpark.Sf0001).ingest(s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt",
      Seq("event_id"), spec, maxFilesPerTrigger = Some(1)).awaitTermination()
    val batches = Files.list(Paths.get(s"$tmp/sink")).iterator.asScala
      .map(_.getFileName.toString).filter(_.startsWith("batch_id=")).toSeq.sorted
    assert(batches.size == 3, batches)
    (s"$tmp/sink", s"$tmp/ckpt", batches.map(b => s"$tmp/sink/$b"))
  }

  test("readCommitted: Spark's schema and rows, batch_id included, with no job to build the reader") {
    val (sinkDir, ckpt, batchDirs) = sink
    val (ours, oursJobs) = jobs(Ingest.readCommitted(spark, sinkDir, ckpt))
    val (theirs, sparkJobs) = jobs(spark.read.option("basePath", sinkDir).parquet(batchDirs: _*))
    assertSame(ours, theirs)
    assert(ours.columns.contains("batch_id") && ours.count() == 300)
    assert(oursJobs == 0, "the schema is read on the driver")
    assert(sparkJobs == 1, "Spark infers it in a one-task job")

    def get(df: => DataFrame) = jobs(Changelog.pointGet(df, spec, col("k") === 7, 300).collect().toSeq)
    val (got, getJobs) = get(Ingest.readCommitted(spark, sinkDir, ckpt))
    val (want, sparkGetJobs) = get(spark.read.option("basePath", sinkDir).parquet(batchDirs: _*))
    assert(got == want && got.size == 1)
    assert(getJobs == 2 && sparkGetJobs == 3, s"point get jobs: $getJobs, through spark.read: $sparkGetJobs")
  }

  test("readCommitted over 100 batches lists them in at most spark.sql.shuffle.partitions tasks") {
    import spark.implicits._
    // a sink and mark log in the layout Ingest commits: one `batch_id=N`
    // directory and one `graft-marks/N` mark per batch
    val tmp = tmpDir("graft_pread_many_")
    val (sinkDir, ckpt, n) = (s"$tmp/sink", s"$tmp/ckpt", 100)
    (0 until 10 * n).map(i => (i.toLong % 40, s"v$i", i.toLong, false, i % n))
      .toDF("k", "v", "event_id", "is_delete", "batch_id")
      .write.partitionBy("batch_id").parquet(sinkDir)
    Files.createDirectories(Paths.get(ckpt, "graft-marks"))
    (0 until n).foreach(b =>
      Files.write(Paths.get(ckpt, "graft-marks", b.toString), s"$b ${10 * b} 10".getBytes("UTF-8")))

    // above Spark's 32-path threshold the listing runs as a job
    val (df, listing) = tasks(Ingest.readCommitted(spark, sinkDir, ckpt))
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(listing > 0, "100 paths are listed in a Spark job")
    assert(listing <= cap, s"the listing job ran $listing tasks for $n paths (cap $cap)")
    assert(df.count() == 10 * n && df.select("batch_id").distinct().count() == n)
  }

  test("paths with different columns: the file Spark picks wins, whatever the argument order") {
    import spark.implicits._
    val tmp = tmpDir("graft_pread_cols_")
    val (a, b, c) = (s"$tmp/a", s"$tmp/b", s"$tmp/c")
    Seq((1L, "x1"), (2L, "x2")).toDF("id", "x").write.parquet(a)
    Seq((3L, 30.0)).toDF("id", "y").write.parquet(b)
    // summary files (`_common_metadata`) beat data files even when their
    // directory sorts last
    Seq((4L, true)).toDF("id", "z").write.option("parquet.summary.metadata.level", "ALL").parquet(c)
    assert(Files.exists(Paths.get(c, "_common_metadata")), "the writer left no summary file")

    for (paths <- Seq(Seq(a, b), Seq(b, a))) {
      val ours = Parquet.read(spark, paths: _*)
      assertSame(ours, spark.read.parquet(paths: _*))
      assert(ours.columns.toSeq == Seq("id", "x"), paths)
    }
    for (paths <- Seq(Seq(a, c), Seq(c, b, a))) {
      val ours = Parquet.read(spark, paths: _*)
      assertSame(ours, spark.read.parquet(paths: _*))
      assert(ours.columns.toSeq == Seq("id", "z"), paths)
    }
  }

  test("a directory holding only _SUCCESS fails as in Spark: UNABLE_TO_INFER_SCHEMA") {
    val dir = Paths.get(tmpDir("graft_pread_empty_"), "t")
    Files.createDirectories(dir)
    Files.createFile(dir.resolve("_SUCCESS"))
    val ours = intercept[AnalysisException](Parquet.read(spark, dir.toString))
    val theirs = intercept[AnalysisException](spark.read.parquet(dir.toString))
    assert(ours.getCondition == "UNABLE_TO_INFER_SCHEMA")
    assert(ours.getCondition == theirs.getCondition && ours.getMessage == theirs.getMessage)
  }

  test("mergeSchema=true hands off to Spark's inference: merged schema, same job") {
    import spark.implicits._
    val tmp = tmpDir("graft_pread_merge_")
    val (a, b) = (s"$tmp/a", s"$tmp/b")
    Seq((1L, "x1")).toDF("id", "x").write.parquet(a)
    Seq((2L, 2.0)).toDF("id", "y").write.parquet(b)
    val opts = Map("mergeSchema" -> "true")
    val (ours, oursJobs) = jobs(Parquet.read(spark, opts, a, b))
    val (theirs, sparkJobs) = jobs(spark.read.options(opts).parquet(a, b))
    assertSame(ours, theirs)
    assert(ours.columns.toSeq == Seq("id", "x", "y"))
    assert(oursJobs == sparkJobs && oursJobs >= 1, s"$oursJobs vs $sparkJobs")
  }
}
