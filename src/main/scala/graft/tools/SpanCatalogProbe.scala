package graft.tools

import graft.core.GraftSession
import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: does the span catalog's batch probe stay flat as the catalog
  * grows? The probe's contract is that per-trigger IO tracks the BATCH —
  * catalog rows are gram-sorted with `_k` bloom filters, and
  * [[Dedup.duplicateSpansIncremental]] restricts the scan to the batch's
  * grams (literal In under MaxInProbe, broadcast semi-join above), so row
  * groups holding none of the batch's grams are skipped. The O(store)
  * alternative (re-scanning the whole catalog per trigger) would grow
  * linearly with corpus size; this probe measures both the micro-batch
  * regime (<= MaxInProbe distinct grams: the literal-In path) and a
  * larger batch (semi-join path) across catalog doublings.
  *
  * Batch composition: half fresh docs, half docs that COPY a 6-token run
  * from a random corpus doc (so excision does real work and the probe's
  * join sides are non-trivial at every size).
  *
  * Usage: runMain graft.tools.SpanCatalogProbe [startDocs] [horizonDocs] [reps]
  */
object SpanCatalogProbe {

  /** Hash-derived 24-word docs over a 50k-word vocabulary (the soak
    * generator): consecutive 6-grams are distinct w.h.p., so catalog rows
    * ≈ 19 per doc. */
  private def corpus(spark: SparkSession, from: Long, until: Long): DataFrame = {
    val words = (0 until 24).map(j =>
      concat(lit("w"), pmod(xxhash64(col("doc_id") * 1000003L + j), lit(50000L))))
    spark.range(from, until)
      .select(col("id").as("doc_id"))
      .withColumn("text", concat_ws(" ", words: _*))
  }

  /** `batchDocs` probe docs above `idBase`: even slots fresh, odd slots
    * open with a 6-token run copied from corpus doc (id % corpusDocs) —
    * a planted cross-corpus span duplicate. */
  private def batch(
      spark: SparkSession, idBase: Long, batchDocs: Int, corpusDocs: Long): DataFrame = {
    val fresh = (0 until 24).map(j =>
      concat(lit("f"), pmod(xxhash64(col("doc_id") * 999983L + j), lit(50000L))))
    val copied = (0 until 6).map(j =>
      concat(lit("w"), pmod(xxhash64(pmod(col("doc_id"), lit(corpusDocs)) * 1000003L + j),
        lit(50000L))))
    spark.range(idBase, idBase + batchDocs)
      .select(col("id").as("doc_id"))
      .withColumn("text",
        when(col("doc_id") % 2 === 0, concat_ws(" ", fresh: _*))
          .otherwise(concat_ws(" ", (copied ++ fresh.take(18)): _*)))
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val startDocs = args.lift(0).map(_.toLong).getOrElse(50000L)
    val horizon = args.lift(1).map(_.toLong).getOrElse(800000L)
    val reps = args.lift(2).map(_.toInt).getOrElse(7)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-span-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val out = java.nio.file.Files.createTempDirectory("graft_spanprobe_")
    val cat = s"$out/catalog"

    var size = startDocs
    Dedup.writeSpanCatalog(corpus(spark, 0L, size), cat, n = 6)
    while (size <= horizon) {
      val grams = Dedup.readSpanCatalog(spark, cat).count()
      for (batchDocs <- Seq(32, 4096)) {
        val b = batch(spark, 10000000L + size, batchDocs, size).localCheckpoint()
        val times = (0 until reps).map { _ =>
          val t0 = System.nanoTime()
          val r = Curation
            .exciseDuplicateSpansIncremental(b, cat)
            .agg(sum("n_removed")).head().getLong(0)
          require(r >= 6L * (batchDocs / 2), s"planted spans must excise: $r")
          (System.nanoTime() - t0) / 1e9
        }
        println(f"docs=$size%8d grams=$grams%10d batch=$batchDocs%5d " +
          f"probe=${median(times)}%6.3f s (min ${times.min}%6.3f)")
        graft.core.Stage.free(b)
      }
      // grow by appending (the deployment shape), then double
      if (size * 2 <= horizon) {
        Dedup.appendToSpanCatalog(corpus(spark, size, size * 2), cat)
        // fold occasionally so segment count stays realistic
        Dedup.compactSpanCatalog(spark, cat)
      }
      size *= 2
    }
    spark.stop()
  }
}
