package graft.tools

import graft.core.{GraftSession, Tables}
import graft.operators.{Dedup, Multimodal, Search}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: upscale linearity probe for the round-8 newcomer families —
  * the multimodal decode queries (q30c image dedup, q30d audio dedup,
  * q30e tensor resize) and the retrieval compositions (q32c RRF fusion,
  * q32d hybrid dense). Every older family has 10x-300x scale evidence;
  * these had sf0.1 medians only. The claims under test:
  *   - decode+hash cost is embarrassingly parallel: wall grows ~linearly
  *     with payload count (mapPartitions decode, 28 B/row emitted, no
  *     payload shuffle), and the dedup tail stays pair-bounded;
  *   - BM25 fusion cost is dominated by the scan/agg over postings: wall
  *     grows ~linearly with the corpus at fixed query count.
  *
  * Payloads are synthesized per id (the q30 queries' own generator shape:
  * [[Multimodal.withImagePayload]] / withAudioPayload over an id range),
  * so a 10x run is 10x real decode work, not 10x of the same bytes.
  * Text corpora replicate with salted tokens ([[Upscale]]'s rule) so
  * cross-replica near-dups do not exist and BM25 stats drift realistically.
  *
  * Usage: runMain graft.tools.NewcomerProbe [family] [sizes] [reps]
  *   family  image|audio|resize|retrieval|all (default all)
  *   sizes   comma list of multipliers over the base (default 1,10)
  *   reps    timed reps per configuration (default 3, median)
  */
object NewcomerProbe {

  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }

  private def time[A](f: => A): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
  }

  /** id range with the q30 twin-planting shape: every 10th id gets a
    * noise-twin under a shifted id. */
  private def idsWithTwins(spark: SparkSession, n: Long): (DataFrame, DataFrame) = {
    val ids = spark.range(n).select(col("id").as("doc_id"))
    val twinSeeds = ids.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("doc_id").as("seed"))
    (ids, twinSeeds)
  }

  def main(args: Array[String]): Unit = {
    val family = args.lift(0).getOrElse("all")
    val mults = args.lift(1).getOrElse("1,10").split(",").map(_.trim.toInt).toSeq
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-newcomer-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val baseDocs = 5000L // q30 at sf0.1 decodes 5.5k payloads; 10x = 55k

    def runImage(n: Long): Double = median((1 to reps).map { _ =>
      time {
        val (ids, twinSeeds) = idsWithTwins(spark, n)
        val base = Multimodal.withImagePayload(ids)
        val twins = Multimodal.withImagePayload(twinSeeds, seedCol = "seed", noise = 8)
          .drop("seed")
        val hashes = Multimodal.imageHashes(base.unionByName(twins)).localCheckpoint()
        val kept = Dedup.collapseDuplicates(
          hashes.select("doc_id"), Multimodal.imageDupPairs(hashes, maxHamming = 10),
          idCol = "doc_id", aCol = "doc_a", bCol = "doc_b")
        kept.count()
        graft.core.Stage.free(hashes)
      }
    })

    def runAudio(n: Long): Double = median((1 to reps).map { _ =>
      time {
        val (ids, twinSeeds) = idsWithTwins(spark, n)
        val base = Multimodal.withAudioPayload(ids)
        val twins = Multimodal.withAudioPayload(twinSeeds, seedCol = "seed", noise = 8)
          .drop("seed")
        val hashes = Multimodal.audioHashes(base.unionByName(twins)).localCheckpoint()
        val kept = Dedup.collapseDuplicates(
          hashes.select("doc_id"), Multimodal.audioDupPairs(hashes, maxHamming = 10),
          idCol = "doc_id", aCol = "doc_a", bCol = "doc_b")
        kept.count()
        graft.core.Stage.free(hashes)
      }
    })

    def runResize(n: Long): Double = median((1 to reps).map { _ =>
      time {
        val ids = spark.range(n).select(col("id").as("doc_id"))
        Multimodal.resizeImages(Multimodal.withImagePayload(ids), 32, 32)
          .agg(count(lit(1))).head()
      }
    })

    // retrieval: salted replication of the sf0.1 documents table (Upscale's
    // decorrelation rule), queries fixed — cost scales with the corpus
    def saltedDocs(mult: Int): DataFrame = {
      val docs = Tables.documents(spark, "/root/testdata/sf0.1")
      if (mult <= 1) docs
      else {
        val span = docs.agg(max("doc_id")).head().getLong(0) + 1
        val toks = graft.functions.TextOps.tokens(col("text"))
        val salted = concat_ws(" ",
          zip_with(toks, sequence(lit(0), size(toks) - 1), (t, i) =>
            when(pmod(i, lit(3)) < 2,
              concat(lit("zz"), conv(abs(hash(col("doc_id"), col("_r"), i))
                .cast("string"), 10, 16)))
              .otherwise(t)))
        docs.withColumn("_r", explode(sequence(lit(0), lit(mult - 1))))
          .withColumn("doc_id", col("doc_id") + col("_r").cast("long") * lit(span))
          .withColumn("text", when(col("_r") === 0, col("text")).otherwise(salted))
          .drop("_r")
      }
    }

    def runRetrieval(mult: Int): (Double, Double) = {
      import spark.implicits._
      val docs = saltedDocs(mult).localCheckpoint()
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
      val queries = Seq((1L, "dup scan"), (2L, "spark query merge"), (3L, "zebra"))
        .toDF("query_id", "query_text")
      val qv = queries.join(
        emb.select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
        Seq("query_id"))
      val rrf = median((1 to reps).map { _ =>
        time {
          val kw = Search.bm25(docs, queries, topK = 50)
          val qual = docs.select(col("doc_id"),
            graft.functions.TextOps.qualityScore(col("text")).as("score"))
            .withColumn("rank", row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy(
                col("score").desc, col("doc_id"))).cast("long"))
            .filter(col("rank") <= 50)
            .crossJoin(queries.select("query_id"))
            .select("query_id", "doc_id", "rank")
          Search.fuseRankings(Seq(
            kw.select("query_id", "doc_id", "rank"), qual), topK = 10).count()
        }
      })
      val hybrid = median((1 to reps).map { _ =>
        time { Search.hybridTopK(docs, emb, qv, topK = 10).count() }
      })
      graft.core.Stage.free(docs)
      (rrf, hybrid)
    }

    for (m <- mults) {
      if (family == "image" || family == "all")
        println(f"[newcomer] image  mult=$m%2d n=${baseDocs * m}%,d median=${runImage(baseDocs * m)}%.2f s")
      if (family == "audio" || family == "all")
        println(f"[newcomer] audio  mult=$m%2d n=${baseDocs * m}%,d median=${runAudio(baseDocs * m)}%.2f s")
      if (family == "resize" || family == "all")
        println(f"[newcomer] resize mult=$m%2d n=${baseDocs * m}%,d median=${runResize(baseDocs * m)}%.2f s")
      if (family == "retrieval" || family == "all") {
        val (rrf, hybrid) = runRetrieval(m)
        println(f"[newcomer] rrf    mult=$m%2d median=$rrf%.2f s   hybrid median=$hybrid%.2f s")
      }
    }
    spark.stop()
  }
}
