package graft.tools

import graft.core.GraftSession
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dev-only: decompose the band-bucketed probe's cost — listing, pruned
  * scan, candidate join, verify — to find the local small-file constant.
  * Usage: runMain graft.tools.BandDiag [n] [buckets] [batchDocs]
  */
object BandDiag {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(400000L)
    val buckets = args.lift(1).map(_.toInt).getOrElse(4096)
    val batchDocs = args.lift(2).map(_.toInt).getOrElse(50)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-band-diag")
    spark.sparkContext.setLogLevel("ERROR")
    val out = java.nio.file.Files.createTempDirectory("graft_banddiag_")

    val uniqueKeys = math.max(1L, (n * 98) / 100)
    val words = (0 until 24).map(j =>
      concat(lit("w"), pmod(xxhash64(col("_key") * 1000003L + j), lit(50000L))))
    val docs = spark.range(n)
      .select(col("id").as("doc_id"))
      .withColumn("_key", pmod(xxhash64(col("doc_id")), lit(uniqueKeys)))
      .withColumn("text", concat_ws(" ", words: _*))
      .drop("_key")
      .localCheckpoint()
    val bkt = s"$out/bkt"
    Dedup.writeMinHashIndex(docs, bkt, shingleN = 3, numHashes = 64, bands = 16,
      bandBuckets = buckets)
    val nf = new java.io.File(s"$bkt/bands").listFiles().count(_.isDirectory)
    println(s"[diag] n=$n buckets=$buckets partition dirs=$nf")

    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[diag] $tag%-34s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    // listing + planning cost of the partitioned root
    t("plan bands read (listing)") { spark.read.parquet(s"$bkt/bands").queryExecution.executedPlan }
    t("count bands FULL") { spark.read.parquet(s"$bkt/bands").count() }
    val someBuckets = (0 until 740).map(i => (i * 5) % buckets).distinct
    t("count bands PRUNED (740 buckets)") {
      spark.read.parquet(s"$bkt/bands").filter(col("bucket").isin(someBuckets: _*)).count()
    }
    t("count bands PRUNED (16 buckets)") {
      spark.read.parquet(s"$bkt/bands").filter(col("bucket").isin((0 until 16): _*)).count()
    }
    t("count docs sig scan (flat-probe shape)") {
      spark.read.parquet(s"$bkt/docs").select("doc", "sig").count()
    }

    val batch = docs.limit(batchDocs).withColumn("doc_id", col("doc_id") + lit(10L * n))
    val sigs = t("sign batch") { Dedup.minHashBatchSigs(batch, bkt).localCheckpoint() }
    for (r <- 1 to 3) {
      val cands = t(s"micro candidates rep$r") {
        val c = Dedup.minHashMicroCandidates(sigs, bkt).localCheckpoint(); c.count(); c
      }
      t(s"micro verify rep$r") {
        Dedup.minHashMicroVerify(cands, sigs, bkt, threshold = 0.5).count()
      }
      graft.core.Stage.free(cands)
    }
    graft.core.Stage.free(sigs)
    spark.stop()
  }
}
