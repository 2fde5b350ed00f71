package graft.tools

import graft.core.GraftSession
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: split the MinHash micro probe's wall into its two stages —
  * candidate generation (the band-store read) and verification (the
  * doc-row read) — against an EXISTING store left on disk by a
  * [[GrowthProbe]] run, to attribute any residual per-trigger slope to
  * the right side. Usage:
  *   run_probe.sh graft.tools.VerifySplitProbe <storePath> <horizonDocs> [batchDocs] [reps]
  */
object VerifySplitProbe {

  private def corpus(spark: SparkSession, from: Long, until: Long): DataFrame = {
    val words = (0 until 24).map(j =>
      concat(lit("w"), pmod(xxhash64(col("doc_id") * 1000003L + j), lit(50000L))))
    spark.range(from, until)
      .select(col("id").as("doc_id"))
      .withColumn("text", concat_ws(" ", words: _*))
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val idx = args(0)
    val horizon = args(1).toLong
    val batchDocs = args.lift(2).map(_.toInt).getOrElse(48)
    val reps = args.lift(3).map(_.toInt).getOrElse(7)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-vsplit-probe")
    spark.sparkContext.setLogLevel("ERROR")
    println(s"[vsplit] store stats=${Dedup.docIndexStats(spark, idx)}")

    def probe(rep: Int): (Double, Double, Long) = {
      val half = math.max(1, batchDocs / 2)
      val twins = corpus(spark, 0, horizon)
        .filter(pmod(col("doc_id") + lit(rep * 7919), lit(horizon / (2L * half))) === 0)
        .limit(half)
        .withColumn("doc_id", col("doc_id") + lit(10L * horizon))
      val fresh = corpus(spark, 0, half)
        .withColumn("doc_id", col("doc_id") + lit(20L * horizon + rep * 100000L))
        .withColumn("text", concat(col("text"), lit(s" fresh$rep")))
      val sigs = Dedup.minHashBatchSigs(twins.unionByName(fresh), idx).localCheckpoint()
      val t0 = System.nanoTime()
      val cands = Dedup.minHashMicroCandidates(sigs, idx).localCheckpoint()
      val nCands = cands.count()
      val t1 = System.nanoTime()
      Dedup.minHashMicroVerify(cands, sigs, idx, threshold = 0.5).count()
      val t2 = System.nanoTime()
      graft.core.Stage.free(cands); graft.core.Stage.free(sigs)
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, nCands)
    }

    probe(0) // warmup
    val runs = (1 to reps).map(probe)
    println(f"[vsplit] batchDocs=$batchDocs cands=${median(runs.map(_._1))}%.3f s " +
      f"verify=${median(runs.map(_._2))}%.3f s nCands(median)=${runs(reps / 2)._3}")
    spark.stop()
  }
}
