package graft

import graft.core.{Stage, Tables}
import graft.operators.{Curation, Dedup, Ivf}
import graft.streaming.Ingest
import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The lifetime rule of [[Stage]]: a checkpoint lives until its scope
  * ends unless the scope returns it. Storage is read as the context's
  * persistent RDDs before and after; job counts come from a listener read
  * after the listener bus has drained. */
class StageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def persistent(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDDs persisted by `body` that are still persisted after it. */
  private def residue[T](body: => T): (T, Set[Int]) = {
    val before = persistent()
    val r = body
    (r, persistent() -- before)
  }

  private def range(n: Long): DataFrame = spark.range(n).toDF()

  test("a scope frees its checkpoints on normal exit and when the body throws") {
    val (n, left) = residue(Stage.scope { s =>
      val a = s(range(10))
      s(a.filter(col("id") > 2)).count() + a.count()
    })
    assert(n == 17 && left.isEmpty, s"left: $left")

    val (_, leftOnThrow) = residue(intercept[IllegalStateException](Stage.scope { s =>
      s(range(10)).count()
      throw new IllegalStateException("boom")
    }))
    assert(leftOnThrow.isEmpty, s"left after a throw: $leftOnThrow")
  }

  test("the leaves of a returned Dataset or tuple survive and read back; the rest is freed") {
    val (one, left) = residue(Stage.scope { s =>
      val kept = s(range(10))
      s(range(20)).count()
      kept.filter(col("id") >= 5)
    })
    assert(left.size == 1 && one.count() == 5)
    Stage.free(one)
    assert(persistent().intersect(left).isEmpty)

    val ((a, b, k), leftTuple) = residue(Stage.scope { s =>
      val x = s(range(3))
      val y = s(range(4))
      s(range(5)).count()
      (x, y.select((col("id") * 2).as("id")), 7)
    })
    assert(leftTuple.size == 2 && k == 7)
    assert(a.count() == 3 && b.agg(sum("id")).head().getLong(0) == 12L)
    Stage.free(a)
    Stage.free(b)
    assert(persistent().intersect(leftTuple).isEmpty)
  }

  test("a nested scope hands its surviving leaves to the enclosing scope") {
    val ((innerRows, whileOuter), left) = residue(Stage.scope { _ =>
      val before = persistent()
      val inner = Stage.scope { t =>
        t(range(6)).count()
        t(range(8))
      }
      (inner.count(), persistent() -- before)
    })
    assert(innerRows == 8 && whileOuter.size == 1, "only the returned leaf outlives the inner scope")
    assert(left.isEmpty, s"the outer scope frees what it was handed: $left")
  }

  test("a frame that reaches a freed checkpoint only through RDD lineage fails loudly") {
    val hidden = Stage.scope { s =>
      val a = s(range(3))
      spark.createDataFrame(a.rdd, a.schema)
    }
    val e = intercept[SparkException](hidden.collect())
    assert(e.getMessage.contains("Checkpoint block"), e.getMessage)
  }

  test("s.loop drops the inherited size estimate and keeps the constraints") {
    val df = range(1000).filter(col("id") > 5)
    Stage.scope { s =>
      val before = s(df).queryExecution.analyzed
      val after = s.loop(df).queryExecution.analyzed
      val default = org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes
      assert(before.constraints.nonEmpty && after.constraints == before.constraints)
      assert(before.stats.sizeInBytes < default)
      assert(after.stats.sizeInBytes == default && after.stats.rowCount.isEmpty)
    }
  }

  /** The job group of every job started while `body` ran. */
  private def jobGroups[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.GraftTestBus.drain(sc)
      (r, groups.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  // The pinned counts are those of the hand-placed checkpoints and frees
  // this primitive replaced: freeing starts no job.
  test("Stage adds and removes no Spark job: curationPipeline and one near-dup ingest batch") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val group = s"stage-spec-${java.util.UUID.randomUUID}"
    spark.sparkContext.setJobGroup(group, group)
    val ((corpus, _), groups) =
      try jobGroups(Curation.curationPipeline(docs, Curation.defaultQualityRules()))
      finally spark.sparkContext.clearJobGroup()
    Stage.free(corpus)
    assert(groups.count(_ == group) == 19, s"curationPipeline jobs: ${groups.count(_ == group)}")

    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage_jobs_").toString
    Dedup.writeMinHashIndex(docs, s"$tmp/idx", shingleN = 3, numHashes = 64, bands = 16)
    val t3 = docs.filter(col("doc_id") === 3).select("text").head().getString(0)
    val fresh = "the quick auburn fox vaulted the idle hound while meteor showers streaked"
    Seq((2000L, t3), (2001L, fresh), (2002L, fresh)).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .coalesce(1).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    // a stream runs its jobs under its own run id as the job group
    val (q, streamGroups) = jobGroups {
      val q = Ingest.startNearDupIngest(
        spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx", threshold = 0.5)
      q.awaitTermination()
      q
    }
    val n = streamGroups.count(_ == q.runId.toString)
    assert(n == 38, s"near-dup ingest batch jobs: $n")
  }

  test("localOr collects an input that fits the driver budget and checkpoints one that does not") {
    def gate(rows: Long) = Stage.scope { s =>
      val before = persistent()
      val (out, jobs) =
        jobGroups(s.localOr(range(rows).toDF(), lit(Stage.DriverBudget / 8))(_.map(_.getLong(0)).toArray))
      (out.left.map(_.flatten.sorted.toSeq), out.map(_.count()), persistent() -- before, jobs.size)
    }
    // eight rows fill the budget exactly: collected, and the checkpoint freed
    val (fits, _, heldFits, fitsJobs) = gate(8)
    assert(fits == Left(0L until 8L) && heldFits.isEmpty && fitsJobs == 2, s"$fits $heldFits $fitsJobs")
    // one row over: the checkpoint, held by the scope, and no collect job
    val (over, overRows, heldOver, overJobs) = gate(9)
    assert(over.isRight && overRows == Right(9L) && heldOver.size == 1 && overJobs == 1,
      s"$over $heldOver $overJobs")
    // a row without a size sends a small input to the checkpoint too
    val unsized = Stage.scope(_.localOr(range(3).toDF(), when(col("id") =!= 1, lit(8L)))(_.size))
    assert(unsized.isRight)
  }

  test("Ivf.train and buildVectorIndex run a fixed number of jobs on a small corpus") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val group = s"stage-spec-${java.util.UUID.randomUUID}"
    def jobs[T](body: => T): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try jobGroups(body)._2.count(_ == group) finally spark.sparkContext.clearJobGroup()
    }
    // the gate's checkpoint and its collect; the Lloyd rounds add none
    assert(jobs(Ivf.train(emb, c = 16, iters = 3)) == 2)
    assert(jobs(Ivf.train(emb, c = 16, iters = 6)) == 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage_ivf_").toString
    // the training's 2, then the index writes
    val build = jobs(Graft(spark, TestSpark.Sf0001).buildVectorIndex(s"$tmp/ivf", lists = 16, iters = 3))
    assert(build == 7, s"buildVectorIndex jobs: $build")
  }

  test("the dedup, near-dup, semantic and pipeline ingests leave no blocks behind") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage_ingest_").toString
    val seeds = Seq(
      (1L, Array(1f, 1f, 1f, 1f)), (2L, Array(1f, -1f, 1f, -1f)),
      (3L, Array(-1f, 1f, 1f, -1f)), (4L, Array(1f, 1f, -1f, -1f))
    ).toDF("vec_id", "embedding")
    val model = Ivf.train(seeds, c = 2, iters = 2)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    for (k <- Seq("dedup", "pipe")) Dedup.writeExactIndex(empty, s"$tmp/xidx_$k")
    for (k <- Seq("near", "pipe"))
      Dedup.writeMinHashIndex(empty, s"$tmp/midx_$k", shingleN = 3, numHashes = 64, bands = 16)
    for (k <- Seq("sem", "pipe")) Ivf.writeIndex(seeds, model, s"$tmp/vidx_$k")

    val fresh = Seq(
      "the quick auburn fox vaulted the idle hound while meteors streaked over the harbor",
      "seven engineers debated the merits of columnar storage formats late into the evening",
      "a separate treatise on migratory patterns of arctic terns crossing polar summers")
    // three files, one batch each: fresh text, an exact copy of an earlier
    // batch, and a near-duplicate vector of another row
    for (b <- 0 until 3) {
      Seq(
        (10L * b, fresh(b), Array(1f, b.toFloat, 0f, 0f)),
        (10L * b + 1, fresh((b + 1) % 3), Array(0f, 0f, 1f, b.toFloat)),
        (10L * b + 2, fresh(b) + " again", Array(1.001f, b.toFloat, 0f, 0f)))
        .toDF("doc_id", "text", "embedding")
        .coalesce(1).write.parquet(s"$tmp/stage/f$b")
      val dst = new java.io.File(s"$tmp/src")
      dst.mkdirs()
      new java.io.File(s"$tmp/stage/f$b").listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(f.toPath, new java.io.File(dst, s"f$b.parquet").toPath))
    }
    val schema = spark.read.parquet(s"$tmp/src").schema
    val src = s"$tmp/src"
    val one = Some(1)

    val (_, left) = residue {
      Seq(
        Ingest.startDedupIngest(spark, src, schema, s"$tmp/sink_dedup", s"$tmp/ckpt_dedup",
          s"$tmp/xidx_dedup", maxFilesPerTrigger = one),
        Ingest.startNearDupIngest(spark, src, schema, s"$tmp/sink_near", s"$tmp/ckpt_near",
          s"$tmp/midx_near", threshold = 0.5, maxFilesPerTrigger = one),
        Ingest.startSemanticIngest(spark, src, schema, s"$tmp/sink_sem", s"$tmp/ckpt_sem",
          s"$tmp/vidx_sem", idCol = "doc_id", maxFilesPerTrigger = one),
        Ingest.startPipelineIngest(spark, src, schema, s"$tmp/sink_pipe", s"$tmp/ckpt_pipe",
          rules = Seq("never" -> lit(false)), exactIndexPath = s"$tmp/xidx_pipe",
          nearDupIndexPath = s"$tmp/midx_pipe", semanticIndexPath = Some(s"$tmp/vidx_pipe"),
          nearDupThreshold = 0.5, maxFilesPerTrigger = one)
      ).foreach { q =>
        q.awaitTermination()
        assert(q.recentProgress.count(_.numInputRows > 0) == 3, s"${q.name}: three batches")
      }
    }
    assert(left.isEmpty, s"ingests left RDD blocks behind: $left")
    val landed = Ingest.readCommitted(spark, s"$tmp/sink_pipe", s"$tmp/ckpt_pipe").count()
    assert(landed > 0 && landed < 9, s"the pipeline dropped some rows and kept some: $landed")
  }
}
