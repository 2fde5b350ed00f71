package graft.tools

import graft.core.{GraftSession, Layout, Parquet, Tables}
import graft.streaming.Ingest
import org.apache.spark.sql.functions._

/** Dev-only scratch main for plan/perf experiments (sbt console does not
  * fork with the JDK17 add-opens flags; edit this and `runMain` instead).
  * Not part of the engine surface. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.local(8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_final_").toString

    // driver smoke: entry + all 53 queries on sf0.001
    println(s"SMOKE entry rows=${graft.SparkEntry.entry(s).count()}")
    val bad = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, fn) =>
      try { fn(s, "/root/testdata/sf0.001").collect(); None }
      catch { case e: Throwable => Some(n -> e.getMessage.take(120)) }
    }
    println(s"SMOKE queries=${graft.SparkEntry.queries.size} failures=${bad.size}")
    bad.foreach(println)

    // Layout surface: bucketize twice (idempotent), shuffle-free join
    Layout.bucketize(Tables.lineitem(s, "/root/testdata/sf0.001"), "probe_li", Seq("l_orderkey"), 4)
    Layout.bucketize(Tables.lineitem(s, "/root/testdata/sf0.001"), "probe_li", Seq("l_orderkey"), 4)
    Layout.bucketize(Tables.orders(s, "/root/testdata/sf0.001"), "probe_or", Seq("o_orderkey"), 4)
    val j = Layout.table(s, "probe_li").hint("merge")
      .join(Layout.table(s, "probe_or"), col("l_orderkey") === col("o_orderkey"))
    val n = j.count()
    val shuffles = "Exchange hashpartitioning".r
      .findAllIn(j.queryExecution.executedPlan.toString).size
    println(s"PROBE-L bucketedJoinRows=$n shuffleExchanges=$shuffles (expect 0)")

    // repair/destroy surface
    Parquet.read(s, "/root/testdata/sf0.001/events.parquet").repartition(2).write.parquet(s"$tmp/src")
    val schema = Parquet.read(s, s"$tmp/src").schema
    Ingest.startChangelogIngest(s, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt",
      Seq("event_id"), maxFilesPerTrigger = Some(1)).awaitTermination()
    new java.io.File(s"$tmp/ckpt/graft-marks").listFiles().foreach(_.delete())
    val repaired = Ingest.repairMarks(s, s"$tmp/sink", s"$tmp/ckpt")
    val visible = Ingest.readCommitted(s, s"$tmp/sink", s"$tmp/ckpt").count()
    println(s"PROBE-R repairedBatches=$repaired visibleRows=$visible (expect 2, 1000)")
    println(s"PROBE-R2 repairOnMissingSink=${Ingest.repairMarks(s, s"$tmp/nothing", s"$tmp/c2")} (expect 0)")
    Ingest.destroy(s, s"$tmp/sink", s"$tmp/ckpt")
    println(s"PROBE-D destroyed=${!new java.io.File(s"$tmp/sink").exists()}")
    s.stop()
  }
}
