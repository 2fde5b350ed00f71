package graft.tools

import graft.core.GraftSession
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: quantify the band-bucketed MinHash layout's probe win — the
  * per-trigger cost of the streaming micro probe against a FLAT index
  * (scan + re-band every stored signature) vs a BUCKETED one (partition-
  * pruned precomputed band rows), across growing index sizes. The scale
  * claim under test: flat probe cost grows linearly with the index, the
  * bucketed probe's index-side read is bounded by
  * |batch| · bands · N / bandBuckets — pick bandBuckets ~ N and the probe
  * tracks the BATCH, not the corpus.
  *
  * Usage: runMain graft.tools.BandProbe [sizes] [batchDocs] [buckets] [reps]
  *   sizes     comma list of corpus sizes (default 100000,400000)
  *   batchDocs micro-batch size (default 50)
  *   buckets   bandBuckets for the bucketed index (default 4096)
  *   reps      timed probes per configuration (default 9, median reported)
  */
object BandProbe {

  /** Hash-derived 24-word docs (the soak generator): distinct per key, with
    * ~2% planted twins so the verify stage has real pairs to confirm. */
  private def corpus(spark: SparkSession, n: Long): DataFrame = {
    val uniqueKeys = math.max(1L, (n * 98) / 100)
    val words = (0 until 24).map(j =>
      concat(lit("w"), pmod(xxhash64(col("_key") * 1000003L + j), lit(50000L))))
    spark.range(n)
      .select(col("id").as("doc_id"))
      .withColumn("_key", pmod(xxhash64(col("doc_id")), lit(uniqueKeys)))
      .withColumn("text", concat_ws(" ", words: _*))
      .drop("_key")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.size / 2)
  }

  def main(args: Array[String]): Unit = {
    val sizes = args.lift(0).getOrElse("100000,400000")
      .split(",").map(_.trim.toLong).toSeq
    val batchDocs = args.lift(1).map(_.toInt).getOrElse(50)
    // "auto" probes the DEFAULT layout (AutoBuckets — P sized off the store)
    val buckets = args.lift(2) match {
      case Some("auto") => Dedup.AutoBuckets
      case v => v.map(_.toInt).getOrElse(4096)
    }
    val reps = args.lift(3).map(_.toInt).getOrElse(9)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-band-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val out = java.nio.file.Files.createTempDirectory("graft_bandprobe_")

    for (n <- sizes) {
      val docs = corpus(spark, n).localCheckpoint()
      val flat = s"$out/flat_$n"
      val bkt = s"$out/bkt_$n"
      var t0 = System.nanoTime()
      Dedup.writeMinHashIndex(docs, flat, shingleN = 3, numHashes = 64, bands = 16,
        bandBuckets = 0) // explicit flat baseline
      val buildFlat = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      Dedup.writeMinHashIndex(docs, bkt, shingleN = 3, numHashes = 64, bands = 16,
        bandBuckets = buckets)
      val buildBkt = (System.nanoTime() - t0) / 1e9
      println(f"[band] n=$n%,d build flat=$buildFlat%.1f s bucketed=$buildBkt%.1f s " +
        f"(buckets=$buckets)")

      // probe batches: half twins of corpus docs (id-shifted), half fresh —
      // the daily-crawl shape. One warmup rep, then timed medians.
      def probe(idx: String, rep: Int): (Double, Long) = {
        val batch = docs
          .filter(pmod(col("doc_id") + lit(rep * 7919), lit(n / batchDocs)) === 0)
          .limit(batchDocs / 2)
          .withColumn("doc_id", col("doc_id") + lit(10L * n))
          .unionByName(
            corpus(spark, batchDocs / 2)
              .withColumn("doc_id", col("doc_id") + lit(20L * n + rep * 100000L))
              .withColumn("text", concat(col("text"), lit(s" fresh$rep"))))
        val sigs = Dedup.minHashBatchSigs(batch, idx).localCheckpoint()
        val t = System.nanoTime()
        val cands = Dedup.minHashMicroCandidates(sigs, idx).localCheckpoint()
        val pairs = Dedup.minHashMicroVerify(cands, sigs, idx, threshold = 0.5).count()
        val secs = (System.nanoTime() - t) / 1e9
        graft.core.Stage.free(cands)
        graft.core.Stage.free(sigs)
        (secs, pairs)
      }
      for (idx <- Seq(flat, bkt)) {
        probe(idx, 0) // warmup: file listing + codegen
        val runs = (1 to reps).map(r => probe(idx, r))
        val tag = if (idx == flat) "flat" else "bkt "
        println(f"[band] n=$n%,d $tag probe median=${median(runs.map(_._1))}%.3f s " +
          f"min=${runs.map(_._1).min}%.3f max=${runs.map(_._1).max}%.3f " +
          f"pairs(median rep)=${runs(reps / 2)._2}")
      }
      graft.core.Stage.free(docs)
    }
    spark.stop()
  }
}
