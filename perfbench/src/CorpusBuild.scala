package perfbench

import graft.Graft
import graft.functions.{TextOps, VectorOps}
import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, size, sum, typedLit}
import perfbench.Gen._

import scala.collection.mutable

/** corpus_build: repeated batch build passes over one seeded corpus. A pass
  * is the exact dedup index, MinHash LSH then connected components, the
  * curation pipeline, the text index, the IVF index and image dedup, in
  * that order. Planted duplicates are the ground truth for the checks. */
final class CorpusBuild(tmp: String) extends Workload {
  val shape = CorpusShape(baseDocs = 1500, exactDupShare = 0.05, nearDupShare = 0.05,
    boilerplateShare = 0.3, images = 120, imageTwinShare = 0.25, dim = 32, clusters = 16)
  val warmShape = shape.copy(baseDocs = 200, images = 20)
  val Lists = 16
  /** A pass takes about as long as a short run measures; two keep the
    * per-call medians from resting on one sample. */
  override def minSteps: Int = 2
  /** Stated recall floors for planted near-duplicate texts and images. */
  val NearDupRecallFloor = 0.9
  val ImageRecallFloor = 0.9

  private var corpus: Corpus = _
  private var warm: Corpus = _
  private val mainDir = s"$tmp/corpus/main"
  private val warmDir = s"$tmp/corpus/warm"
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val functionsS = mutable.Map.empty[String, Double]
  private var propsChecked = false

  private def write(c: Client, dir: String, k: Corpus): Unit = {
    import c.spark.implicits._
    k.docs.toDF().write.parquet(s"$dir/documents.parquet")
    k.vecs.toDF().write.parquet(s"$dir/embeddings.parquet")
    k.images.toDF().write.parquet(s"$dir/images.parquet")
  }

  def generate(c: Client, seed: Long): Unit = {
    corpus = Gen.corpus(seed, shape)
    warm = Gen.corpus(seed, warmShape, firstId = 5000000L)
    write(c, mainDir, corpus)
    write(c, warmDir, warm)
  }

  /** The set-up unit builds the dedup index over the warm corpus. */
  def setup(c: Client, rep: Int): Unit =
    c.call("operators", "dedup_exact")(Graft(c.spark, warmDir).buildDedupIndex(s"$tmp/corpus/warm-out-$rep"))

  /** One build pass; its outputs are deleted afterwards. The warm-up pass
    * runs over the small warm corpus: it makes every call of a pass, so the
    * JIT compiles their hot paths, in less time than a main-corpus pass. Its
    * outputs are not checked; a ten-pair sample says little about recall. */
  def step(c: Client, i: Int): Unit =
    if (i < warmSteps) pass(c, warmDir, warm, s"$tmp/corpus/warm-pass-$i", checked = false)
    else pass(c, mainDir, corpus, s"$tmp/corpus/out-$i", checked = true)

  private def pass(c: Client, dir: String, k: Corpus, out: String, checked: Boolean): Unit = {
    val g = Graft(c.spark, dir)
    c.call("operators", "dedup_exact")(g.buildDedupIndex(s"$out/dedup"))
    // "plan" spans the operator call itself, which runs its own eager
    // jobs; "collect" spans the final action
    def collect(df: => DataFrame) = c.tracer.span("spark", "collect")(c.tracer.span("operators", "plan")(df).collect())
    val pairs = c.call("operators", "minhash_lsh", (x: Array[(Long, Long)]) => x.length.toLong) {
      collect(Dedup.minHashLsh(g.documents)).map(r => (r.getLong(0), r.getLong(1)))
    }
    val components = pairs.flatMap { p =>
      c.call("operators", "components", (x: Map[Long, Long]) => x.size.toLong) {
        import c.spark.implicits._
        collect(Dedup.connectedComponents(p.toSeq.toDF("doc_a", "doc_b"))).map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    }
    val curated = c.call("operators", "curation", (x: Set[Long]) => x.size.toLong) {
      val (docs, funnel) = c.tracer.span("operators", "plan")(g.curatePipeline())
      c.tracer.span("spark", "collect") {
        funnel.collect()
        docs.select("doc_id").collect().map(_.getLong(0)).toSet
      }
    }
    c.call("operators", "text_index_build")(g.buildTextIndex(s"$out/text"))
    c.call("operators", "ivf_build")(g.buildVectorIndex(s"$out/ivf", lists = Lists, iters = 3))
    val imagePairs = c.call("operators", "media_dedup", (x: Set[(Long, Long)]) => x.size.toLong) {
      val images = c.spark.read.parquet(s"$dir/images.parquet")
      collect(Multimodal.imageDupPairs(Multimodal.imageHashes(images))).map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    if (checked) check(c, g, k, out, pairs, components, curated, imagePairs)
    Files.deleteTree(out)
  }

  private def check(c: Client, g: Graft, k: Corpus, out: String, pairs: Option[Array[(Long, Long)]],
      components: Option[Map[Long, Long]], curated: Option[Set[Long]], imagePairs: Option[Set[(Long, Long)]]): Unit = {
    pairs.foreach { p =>
      val found = p.toSet
      val exactMissed = k.exactPairs.filterNot(found)
      c.check("corpus.minhash_finds_every_exact_duplicate")(exactMissed.isEmpty, s"missed $exactMissed")
      val recall = k.nearPairs.count(found).toDouble / k.nearPairs.size
      recalls += recall
      c.check(s"corpus.near_dup_recall>=$NearDupRecallFloor")(recall >= NearDupRecallFloor, s"recall $recall")
    }
    components.foreach { comp =>
      val split = (k.exactPairs ++ k.nearPairs).filter { case (a, b) => comp.get(a).isEmpty || comp.get(a) != comp.get(b) }
      val recall = 1.0 - split.size.toDouble / (k.exactPairs.size + k.nearPairs.size)
      c.check("corpus.components_join_planted_pairs")(recall >= NearDupRecallFloor, s"recall $recall")
    }
    curated.foreach { ids =>
      val both = k.exactPairs.filter { case (a, b) => ids(a) && ids(b) }
      c.check("corpus.curation_drops_exact_copies")(both.isEmpty && ids.nonEmpty, s"${both.size} pairs kept")
    }
    imagePairs.foreach { found =>
      val recall = k.imagePairs.count(found).toDouble / k.imagePairs.size
      c.check(s"corpus.image_twin_recall>=$ImageRecallFloor")(recall >= ImageRecallFloor, s"recall $recall")
    }
    if (!propsChecked) {
      propsChecked = true
      val dedup = g.dedupIndexProperties(s"$out/dedup")
      c.check("corpus.exact_index_keys")(
        dedup("graft.dedup.docs").toLong == k.docs.size &&
          dedup("graft.dedup.keys").toLong == k.docs.size - k.exactPairs.size, dedup.toString)
      val text = g.textIndexProperties(s"$out/text")
      c.check("corpus.text_index_docs")(text("graft.text.docs").toLong == k.docs.size, text.toString)
      val ivf = g.vectorIndexProperties(s"$out/ivf")
      c.check("corpus.ivf_rows")(ivf("graft.ivf.rows").toLong == k.vecs.size, ivf.toString)
    }
  }

  def finish(c: Client): Unit = if (c.tracer.enabled) {
    // the functions layer: its kernels timed alone over the same corpus
    val docs = c.spark.read.parquet(s"$mainDir/documents.parquet")
    val vecs = c.spark.read.parquet(s"$mainDir/embeddings.parquet")
    val probes = corpus.centroids.map(v => VectorOps.dot(col("embedding"), typedLit(v)))
    val phases = Seq(
      "functions.tokenize_s" -> docs.agg(sum(size(TextOps.tokens(col("text"))))),
      "functions.shingle_hash_s" -> docs.agg(sum(size(TextOps.ngramHashes(TextOps.tokenHashes(col("text")), 3)))),
      "functions.vector_dot_s" -> vecs.agg(sum(probes.reduce(_ + _))))
    phases.foreach { case (name, df) =>
      val times = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        df.collect()
        (System.nanoTime() - t0) / 1e9
      }
      functionsS(name) = Stats.median(times)
    }
  }

  /** Corpus documents per second of a pass made of each call's median. */
  def rowsPerS(c: Client): Double =
    corpus.docs.size / (Layers.kindMedians(c.timed).values.sum / 1e3)

  def layerMetrics(c: Client): Map[String, Double] = {
    def s(kind: String) = Layers.p50Ms(c, kind) / 1e3
    Map(
      "operators.dedup_exact_s" -> s("dedup_exact"),
      "operators.minhash_lsh_s" -> s("minhash_lsh"),
      "operators.components_s" -> s("components"),
      "operators.curation_s" -> s("curation"),
      "operators.text_index_build_s" -> s("text_index_build"),
      "operators.ivf_build_s" -> s("ivf_build"),
      "operators.media_dedup_s" -> s("media_dedup"),
      "operators.dup_recall" -> (if (recalls.isEmpty) 0.0 else recalls.min)) ++ functionsS
  }
}
