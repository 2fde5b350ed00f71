package graft.tools

import graft.core.GraftSession
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: the GrowthProbe arm for the SIGNATURE store family
  * (SimHash / image / audio / slot-encoded video rows) — a
  * [[Dedup.writeSignatureIndex]] store grown past its crossover by
  * SEGMENTS + beside-live folds ONLY (never a stop-the-world
  * [[Dedup.compactDocIndex]]), verifying that the online re-bucketing
  * machinery proven on the MinHash family in round 12 carries over
  * verbatim: auto-flat seed promotes to bucketed on the fold cycle,
  * `_BANDS` generations flip as per-bucket rows double, and the
  * micro-probe ([[Dedup.signatureMicroIncremental]], the dedup-on-write
  * shape) stays FLAT across the growth while a frozen-P control drifts.
  *
  * Arms (same growth schedule, one store each):
  *   - grow:   default per-bucket row target — P moves with the store
  *   - frozen: `graft.bucket.target.rows` pinned huge — seed layout never
  *             re-buckets (the control)
  *
  * Usage: runMain graft.tools.SigGrowthProbe [startSigs] [horizonSigs] [chunkSigs] [foldEvery] [reps] [batchDocs] [arms]
  */
object SigGrowthProbe {

  /** Hash-derived signatures, ~2% planted twins (same key -> same sh). */
  private def sigRows(spark: SparkSession, from: Long, until: Long, horizon: Long): DataFrame = {
    val uniqueKeys = math.max(1L, (horizon * 98) / 100)
    spark.range(from, until)
      .select(col("id").as("doc_id"))
      .withColumn("sh", xxhash64(pmod(xxhash64(col("doc_id")), lit(uniqueKeys))))
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val startSigs = args.lift(0).map(_.toLong).getOrElse(100000L)
    val horizon = args.lift(1).map(_.toLong).getOrElse(1600000L)
    val chunkSigs = args.lift(2).map(_.toLong).getOrElse(50000L)
    val foldEvery = args.lift(3).map(_.toInt).getOrElse(4)
    val reps = args.lift(4).map(_.toInt).getOrElse(9)
    val batchDocs = args.lift(5).map(_.toInt).getOrElse(48)
    val arms = args.lift(6).map(_.split(",").toSeq).getOrElse(Seq("grow", "frozen"))
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-siggrowth-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val out = java.nio.file.Files.createTempDirectory("graft_siggrowth_")

    def stats(idx: String): Map[String, String] = Dedup.docIndexStats(spark, idx)

    /** count `_BANDS` generation dirs ever published (live + superseded
      * are gc'd, so read the generation pointer's value instead). */
    def generation(idx: String): String = {
      val ptr = new java.io.File(s"$idx/_BANDS")
      if (ptr.exists())
        new String(java.nio.file.Files.readAllBytes(ptr.toPath)).trim
      else "(base)"
    }

    def probe(idx: String, n: Long, rep: Int): (Double, Long) = {
      val half = math.max(1, batchDocs / 2)
      val twins = sigRows(spark, 0, n, horizon)
        .filter(pmod(col("doc_id") + lit(rep * 7919), lit(math.max(1L, n / (2L * half)))) === 0)
        .limit(half)
        .withColumn("doc_id", col("doc_id") + lit(10L * horizon))
      val fresh = spark.range(half)
        .select((col("id") + lit(20L * horizon + rep * 100000L)).as("doc_id"))
        .withColumn("sh", xxhash64(col("doc_id"), lit(rep)))
      val batch = twins.unionByName(fresh).localCheckpoint()
      val t = System.nanoTime()
      val pairs = Dedup.signatureMicroIncremental(batch, idx, maxHamming = 6).count()
      val secs = (System.nanoTime() - t) / 1e9
      graft.core.Stage.free(batch)
      (secs, pairs)
    }

    for (arm <- arms) {
      if (arm == "frozen") sys.props("graft.bucket.target.rows") = "1000000000000"
      else sys.props.remove("graft.bucket.target.rows")
      val idx = s"$out/$arm"
      // both arms seed identically at the START-size explicit P (the
      // honest deployment posture GrowthProbe uses — sized right when
      // built, then outgrown); only the growth path differs from here
      val combos = 28 // (0 until 6+2).combinations(2) — band rows per sig
      val seedP = math.max(64, (startSigs * combos / 4096L).toInt)
      val seed = sigRows(spark, 0, startSigs, horizon).localCheckpoint()
      Dedup.writeSignatureIndex(seed, idx, maxHamming = 6, comboSize = 2,
        sigBuckets = seedP)
      graft.core.Stage.free(seed)

      var n = startSigs
      var nextCheckpoint = startSigs * 2
      var batch = 0
      probe(idx, n, 0) // warmup listing + codegen
      val s0 = stats(idx)
      println(f"[siggrowth] arm=$arm batchDocs=$batchDocs n=$n%,d " +
        f"P=${s0("graft.docindex.band-buckets")} gen=${generation(idx)} " +
        f"probe=${median((1 to reps).map(r => probe(idx, n, r)._1))}%.3f s")
      while (n < horizon) {
        val sigs = sigRows(spark, n, n + chunkSigs, horizon).localCheckpoint()
        Dedup.writeSignatureSegment(sigs, idx, f"g_$batch%05d")
        graft.core.Stage.free(sigs)
        n += chunkSigs; batch += 1
        if (batch % foldEvery == 0)
          Dedup.foldDocSegments(spark, idx, gc = true) // beside-live cycle
        if (n >= nextCheckpoint || n >= horizon) {
          probe(idx, n, 0) // warmup after layout changes
          val runs = (1 to reps).map(r => probe(idx, n, r))
          val st = stats(idx)
          require(runs.map(_._2).forall(_ > 0L),
            s"planted twins must surface at n=$n (pairs=${runs.map(_._2).toSet})")
          println(f"[siggrowth] arm=$arm n=$n%,d " +
            f"P=${st("graft.docindex.band-buckets")} gen=${generation(idx)} " +
            f"probe=${median(runs.map(_._1))}%.3f s " +
            f"segs=${st("graft.docindex.segments")} " +
            f"orphans=${st("graft.docindex.orphan-docs")}")
          nextCheckpoint = n * 2
        }
      }
      // live total = docs/ + folded/live segments (a never-compacted
      // store's rows stay in segments); orphan-docs == 0 at every
      // checkpoint above is the band-coverage invariant
      val st = stats(idx)
      require(st("graft.docindex.orphan-docs") == "0",
        s"every live doc row must carry band rows: $st")
      println(s"[siggrowth] arm=$arm final stats=$st gen=${generation(idx)}")
    }
    spark.stop()
  }
}
