package graft.tools

import graft.core.GraftSession
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: quantify the band-bucketed SIGNATURE store's probe win — the
  * per-trigger cost of the streaming micro probe
  * ([[Dedup.signatureMicroIncremental]], the SimHash/image/audio
  * dedup-on-write shape) against a FLAT store (scan + re-band every stored
  * signature) vs a BUCKETED one (partition-pruned precomputed band rows
  * carrying their signatures), across growing store sizes. The scale claim
  * under test: flat probe cost grows linearly with the store, the bucketed
  * probe's index-side read is bounded by |batch| · combos · N / sigBuckets —
  * pick sigBuckets ~ N and the probe tracks the BATCH, not the corpus.
  * The signature-store twin of [[BandProbe]] (MinHash).
  *
  * Usage: runMain graft.tools.SigBandProbe [sizes] [batchDocs] [buckets] [reps]
  *   sizes     comma list of store sizes (default 1000000,4000000)
  *   batchDocs micro-batch size (default 50)
  *   buckets   sigBuckets for the bucketed store (default 4096)
  *   reps      timed probes per configuration (default 9, median reported)
  */
object SigBandProbe {

  /** Hash-derived signatures: distinct per key, with ~2% planted twins
    * (same key → same signature → hamming-0 pairs) so the verify has real
    * pairs to confirm. */
  private def sigRows(spark: SparkSession, n: Long): DataFrame = {
    val uniqueKeys = math.max(1L, (n * 98) / 100)
    spark.range(n)
      .select(col("id").as("doc_id"))
      .withColumn("sh", xxhash64(pmod(xxhash64(col("doc_id")), lit(uniqueKeys))))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.size / 2)
  }

  def main(args: Array[String]): Unit = {
    val sizes = args.lift(0).getOrElse("1000000,4000000")
      .split(",").map(_.trim.toLong).toSeq
    val batchDocs = args.lift(1).map(_.toInt).getOrElse(50)
    // "auto" probes the DEFAULT layout (AutoBuckets — P sized off the store)
    val buckets = args.lift(2) match {
      case Some("auto") => Dedup.AutoBuckets
      case v => v.map(_.toInt).getOrElse(4096)
    }
    val reps = args.lift(3).map(_.toInt).getOrElse(9)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-sigband-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val out = java.nio.file.Files.createTempDirectory("graft_sigbandprobe_")

    for (n <- sizes) {
      val sigs = sigRows(spark, n).localCheckpoint()
      val flat = s"$out/flat_$n"
      val bkt = s"$out/bkt_$n"
      var t0 = System.nanoTime()
      Dedup.writeSignatureIndex(sigs, flat, sigBuckets = 0) // explicit flat baseline
      val buildFlat = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      Dedup.writeSignatureIndex(sigs, bkt, maxHamming = 6, comboSize = 2,
        sigBuckets = buckets)
      val buildBkt = (System.nanoTime() - t0) / 1e9
      println(f"[sigband] n=$n%,d build flat=$buildFlat%.1f s bucketed=$buildBkt%.1f s " +
        f"(buckets=$buckets)")

      // probe batches: half twins of stored signatures (id-shifted), half
      // fresh — the daily-crawl shape. One warmup rep, then timed medians.
      def probe(idx: String, rep: Int): (Double, Long) = {
        val batch = sigs
          .filter(pmod(col("doc_id") + lit(rep * 7919), lit(n / batchDocs)) === 0)
          .limit(batchDocs / 2)
          .withColumn("doc_id", col("doc_id") + lit(10L * n))
          .unionByName(
            spark.range(batchDocs / 2)
              .select((col("id") + lit(20L * n + rep * 100000L)).as("doc_id"))
              .withColumn("sh", xxhash64(col("doc_id"), lit(rep))))
          .localCheckpoint()
        val t = System.nanoTime()
        val pairs = Dedup.signatureMicroIncremental(batch, idx, maxHamming = 6).count()
        val secs = (System.nanoTime() - t) / 1e9
        graft.core.Stage.free(batch)
        (secs, pairs)
      }
      for (idx <- Seq(flat, bkt)) {
        probe(idx, 0) // warmup: file listing + codegen
        val runs = (1 to reps).map(r => probe(idx, r))
        val tag = if (idx == flat) "flat" else "bkt "
        println(f"[sigband] n=$n%,d $tag probe median=${median(runs.map(_._1))}%.3f s " +
          f"min=${runs.map(_._1).min}%.3f max=${runs.map(_._1).max}%.3f " +
          f"pairs(median rep)=${runs(reps / 2)._2}")
      }
      graft.core.Stage.free(sigs)
    }
    spark.stop()
  }
}
