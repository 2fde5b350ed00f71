package graft.tools

import graft.core.GraftSession
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: the round-12 scale claim — a band-bucketed store that NEVER
  * stops (segments + beside-live folds only, no stop-the-world
  * [[Dedup.compactDocIndex]]) keeps its pruned-probe cost FLAT because the
  * operative P now GROWS on the fold cycle: [[Dedup.reconcileBandOrphans]]
  * sizes autoP off docs/ PLUS live segments, publishes a new `_BANDS`
  * generation when per-bucket rows double, and the next fold re-buckets
  * the compact band twin at the moved P. The round-11 soak measured the
  * fixed-P alternative: per-trigger cost
  * Theta(min(|batch|·bands, P) · N·bands/P) — linear in N for any fixed
  * batch size (1.5x drift over 0→400k docs at P frozen to 1562).
  *
  * Two arms over the SAME growth schedule (one store each, seeded with
  * `startDocs` in docs/ at the start-size auto P, then grown via
  * segments + folds + gc only):
  *   - grow:   default target rows — P doubles with the store (the new path)
  *   - frozen: `graft.bucket.target.rows` pinned huge, so autoP collapses
  *             to the 64-bucket floor and the seed P never moves (the
  *             round-11 behavior, the control)
  * At each corpus doubling both arms run the `batchDocs`-doc micro probe
  * (the streaming dedup-on-write shape) and print median seconds +
  * operative P. batchDocs = 8 is the deep-pruned regime; batchDocs past
  * ~seedP/(3·bands) puts the FROZEN arm on the flat fallback (the
  * round-11 soak's large-batch regime) while the grown arm's moved P
  * keeps the same batch pruned.
  *
  * Usage: runMain graft.tools.GrowthProbe [startDocs] [horizonDocs] [chunkDocs] [foldEvery] [reps] [batchDocs]
  */
object GrowthProbe {

  /** Hash-derived 24-word docs (the soak generator), all distinct. */
  private def corpus(spark: SparkSession, from: Long, until: Long): DataFrame = {
    val words = (0 until 24).map(j =>
      concat(lit("w"), pmod(xxhash64(col("doc_id") * 1000003L + j), lit(50000L))))
    spark.range(from, until)
      .select(col("id").as("doc_id"))
      .withColumn("text", concat_ws(" ", words: _*))
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val startDocs = args.lift(0).map(_.toLong).getOrElse(100000L)
    val horizon = args.lift(1).map(_.toLong).getOrElse(800000L)
    val chunkDocs = args.lift(2).map(_.toLong).getOrElse(25000L)
    val foldEvery = args.lift(3).map(_.toInt).getOrElse(4)
    val reps = args.lift(4).map(_.toInt).getOrElse(9)
    val batchDocs = args.lift(5).map(_.toInt).getOrElse(8)
    val arms = args.lift(6).map(_.split(",").toSeq).getOrElse(Seq("grow", "frozen"))
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-growth-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val out = java.nio.file.Files.createTempDirectory("graft_growth_")

    def operativeP(idx: String): String =
      Dedup.docIndexStats(spark, idx)("graft.docindex.band-buckets")

    // the micro probe (half id-shifted twins + half fresh), BandProbe's
    // shape; batchDocs > ~P/(3·bands) puts the FROZEN arm past the pruned
    // gate (flat fallback — the round-11 soak's large-batch regime) while
    // the grown arm's moved P keeps the same batch pruned
    def probe(idx: String, n: Long, rep: Int): Double = {
      val half = math.max(1, batchDocs / 2)
      val twins = corpus(spark, 0, horizon)
        .filter(pmod(col("doc_id") + lit(rep * 7919), lit(n / (2L * half))) === 0)
        .limit(half)
        .withColumn("doc_id", col("doc_id") + lit(10L * horizon))
      val fresh = corpus(spark, 0, half)
        .withColumn("doc_id", col("doc_id") + lit(20L * horizon + rep * 100000L))
        .withColumn("text", concat(col("text"), lit(s" fresh$rep")))
      val sigs = Dedup.minHashBatchSigs(twins.unionByName(fresh), idx).localCheckpoint()
      val t = System.nanoTime()
      val cands = Dedup.minHashMicroCandidates(sigs, idx).localCheckpoint()
      Dedup.minHashMicroVerify(cands, sigs, idx, threshold = 0.5).count()
      val secs = (System.nanoTime() - t) / 1e9
      graft.core.Stage.free(cands); graft.core.Stage.free(sigs)
      secs
    }

    for (arm <- arms) {
      if (arm == "frozen") sys.props("graft.bucket.target.rows") = "1000000000000"
      else sys.props.remove("graft.bucket.target.rows")
      val idx = s"$out/$arm"
      // both arms seed identically: startDocs in docs/ at the START-size
      // auto P (the honest deployment posture — sized right when built,
      // then outgrown); only the growth path differs from here
      val seedP = math.max(64, (startDocs * 16 / 4096).toInt)
      val seed = corpus(spark, 0, startDocs).localCheckpoint()
      Dedup.writeMinHashIndex(seed, idx, shingleN = 3, numHashes = 64, bands = 16,
        bandBuckets = seedP)
      graft.core.Stage.free(seed)

      var n = startDocs
      var nextCheckpoint = startDocs * 2
      var batch = 0
      probe(idx, n, 0) // warmup listing + codegen
      println(f"[growth] arm=$arm batchDocs=$batchDocs n=$n%,d P=${operativeP(idx)} " +
        f"probe=${median((1 to reps).map(r => probe(idx, n, r)))}%.3f s")
      while (n < horizon) {
        val sigs = Dedup.minHashBatchSigs(corpus(spark, n, n + chunkDocs), idx)
          .localCheckpoint()
        Dedup.writeMinHashSegment(sigs, idx, f"g_$batch%05d")
        graft.core.Stage.free(sigs)
        n += chunkDocs; batch += 1
        if (batch % foldEvery == 0)
          // the beside-live maintenance cycle: fold the segments, gc
          // (drain-free here — no concurrent reader), and let the
          // reconcile-with-growth that rides the fold move P when the
          // TOTAL live store (docs/ + segments) has doubled per bucket
          Dedup.foldDocSegments(spark, idx, gc = true)
        if (n >= nextCheckpoint || n >= horizon) {
          probe(idx, n, 0) // warmup after layout changes
          val t = median((1 to reps).map(r => probe(idx, n, r)))
          println(f"[growth] arm=$arm n=$n%,d P=${operativeP(idx)} probe=$t%.3f s " +
            f"segs=${Dedup.docIndexStats(spark, idx)("graft.docindex.segments")}")
          nextCheckpoint = n * 2
        }
      }
      // ground truth: the store's live view holds every streamed doc
      val stats = Dedup.docIndexStats(spark, idx)
      println(s"[growth] arm=$arm final stats=$stats")
    }
    spark.stop()
  }
}
