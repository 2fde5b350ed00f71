package perfbench

import graft.Graft
import graft.operators.Search
import org.apache.spark.sql.DataFrame
import perfbench.Gen._

import scala.collection.mutable

/** index_serve: text, dedup and vector indexes are built during set-up,
  * then one client issues a seeded stream of small requests — BM25 and
  * IVF top-k searches, dedup probes, appends to all three indexes — and
  * folds the appended segments every [[FoldEvery]] steps. */
final class IndexServe(tmp: String) extends Workload {
  val shape = CorpusShape(baseDocs = 1500, exactDupShare = 0.03, nearDupShare = 0.0,
    boilerplateShare = 0.2, images = 0, imageTwinShare = 0.0, dim = 32, clusters = 16)
  val Lists = 16
  val TopK = 10
  val NProbe = 4
  val FoldEvery = 4

  private var seed = 0L
  private var corpus: Corpus = _
  private val dataDir = s"$tmp/serve/data"
  private var idx = ""
  // the served state, mirrored for the checks
  private val served = mutable.ArrayBuffer.empty[Doc]
  private val vectors = mutable.ArrayBuffer.empty[Vec]
  private val indexedTexts = mutable.HashSet.empty[String]
  private var nextId = 0L
  private var appendsSinceFold = 0
  private val segmentsBeforeFold = mutable.ArrayBuffer.empty[Double]

  private def textIdx = s"$idx/text"
  private def dedupIdx = s"$idx/dedup"
  private def ivfIdx = s"$idx/ivf"
  private def norm(t: String) = t.trim.split("\\s+").mkString(" ").toLowerCase

  def generate(c: Client, seed: Long): Unit = {
    this.seed = seed
    corpus = Gen.corpus(seed, shape)
    import c.spark.implicits._
    corpus.docs.toDF().write.parquet(s"$dataDir/documents.parquet")
    corpus.vecs.toDF().write.parquet(s"$dataDir/embeddings.parquet")
    served ++= corpus.docs
    vectors ++= corpus.vecs
    indexedTexts ++= corpus.docs.map(d => norm(d.text))
    nextId = corpus.docs.map(_.doc_id).max + 1
  }

  /** Build all three indexes into a fresh directory; the last set-up
    * repetition's indexes are the ones served. */
  def setup(c: Client, rep: Int): Unit = {
    idx = s"$tmp/serve/idx-$rep"
    val g = Graft(c.spark, dataDir)
    c.call("operators", "text_index_build")(g.buildTextIndex(textIdx))
    c.call("operators", "dedup_index_build")(g.buildDedupIndex(dedupIdx))
    c.call("operators", "ivf_build")(g.buildVectorIndex(ivfIdx, lists = Lists, iters = 3))
  }

  private def ids(n: Int): Seq[Long] = { nextId += n; (nextId - n until nextId) }

  def step(c: Client, i: Int): Unit =
    requests(seed, i, corpus.vocab, corpus.centroids).zipWithIndex.foreach { case (req, j) => serve(c, i, j, req) }

  private def serve(c: Client, i: Int, j: Int, req: Request): Unit = {
    import c.spark.implicits._
    val g = Graft(c.spark, dataDir)
    val qid = i * 10L + j
    req match {
      case Bm25Query(text) =>
        c.call("operators", "bm25_probe", (n: Int) => n.toLong) {
          Search.bm25Indexed(c.spark, textIdx, Seq((qid, text)).toDF("query_id", "query_text"), TopK)
            .collect().length
        }
      case IvfQuery(v) =>
        c.call("operators", "ivf_probe", (n: Int) => n.toLong) {
          g.searchIndex(ivfIdx, Seq((-1L - qid, v)).toDF("vec_id", "embedding"), TopK, NProbe).collect().length
        }
      case DedupProbe(copies, fresh) =>
        val texts = copies.map(n => served(n % served.size).text) ++ fresh
        val probe = ids(texts.size).zip(texts)
        c.call("operators", "dedup_probe", (m: Map[Long, Boolean]) => m.size.toLong) {
          g.dedupAgainstIndex(probe.toDF("doc_id", "text"), dedupIdx).select("doc_id", "is_kept").collect()
            .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        }.foreach { kept =>
          val want = probe.map { case (id, t) => id -> !indexedTexts(norm(t)) }.toMap
          c.check("serve.dedup_probe_matches_index")(kept == want, s"got $kept want $want")
        }
      case Append(fresh, copies) =>
        val texts = fresh ++ copies.map(n => served(n % served.size).text)
        val docs = ids(texts.size).zip(texts).map { case (id, t) => Gen.doc(id, t, "append") }
        val r = Gen.rng(seed, 7, i)
        val vecs = docs.map(d => Vec(d.doc_id, unitVec(r, corpus.centroids(r.nextInt(Lists)), 0.35), 0))
        def append(body: => Long) = c.call("operators", "append", (_: Long) => docs.size.toLong)(body)
        append(g.appendToTextIndex(docs.toDF(), textIdx))
        append(g.appendToDedupIndex(docs.toDF(), dedupIdx))
        append(g.appendToVectorIndex(ivfIdx, vecs.toDF()))
        served ++= docs
        vectors ++= vecs
        indexedTexts ++= docs.map(d => norm(d.text))
        appendsSinceFold += 1
        if (appendsSinceFold == FoldEvery) fold(c, g)
    }
  }

  private def fold(c: Client, g: Graft): Unit = {
    if (c.tracer.enabled) segmentsBeforeFold += segments(g)
    c.call("operators", "fold")(g.foldTextSegments(textIdx))
    c.call("operators", "fold")(g.compactDedupIndex(dedupIdx))
    c.call("operators", "fold")(g.foldVectorIndexSegments(ivfIdx, gc = true))
    appendsSinceFold = 0
  }

  private def segments(g: Graft): Double =
    g.textIndexProperties(textIdx)("graft.text.segments").toDouble +
      g.dedupIndexProperties(dedupIdx)("graft.dedup.segments").toDouble

  def finish(c: Client): Unit = {
    import c.spark.implicits._
    val g = Graft(c.spark, dataDir)
    if (c.tracer.enabled && segmentsBeforeFold.isEmpty) segmentsBeforeFold += segments(g)

    val queries = (0 until 5).map(j => (j.toLong, words(Gen.rng(seed, 8, j), corpus.vocab, 3).mkString(" ")))
      .toDF("query_id", "query_text")
    def hits(df: DataFrame) = df.select("query_id", "doc_id", "rank", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(h => (h._1, h._3)).toSeq
    val indexed = hits(Search.bm25Indexed(c.spark, textIdx, queries, TopK))
    val scanned = hits(Search.bm25(served.toSeq.toDF(), queries, TopK))
    c.check("serve.bm25_indexed_equals_unindexed")(indexed == scanned && indexed.nonEmpty,
      s"${indexed.take(3)} vs ${scanned.take(3)}")

    val probes = (0 until 5).map { j =>
      (-100L - j, unitVec(Gen.rng(seed, 9, j), corpus.centroids(j % Lists), 0.35))
    }
    val got = g.searchIndex(ivfIdx, probes.toDF("vec_id", "embedding"), TopK, nProbe = Lists)
      .select("q_id", "n_id", "score").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(r => r.getLong(1) -> r.getDouble(2)).toMap }
    probes.foreach { case (q, v) =>
      val exact = vectors.map(x => x.vec_id -> cosine(v, x.embedding)).sortBy(x => (-x._2, x._1))
      val top = got.getOrElse(q, Map.empty[Long, Double])
      val kth = exact(TopK - 1)._2
      val ok = top.size == TopK &&
        top.forall { case (id, s) => exact.find(_._1 == id).exists(e => math.abs(e._2 - s) <= 1e-5) } &&
        exact.takeWhile(_._2 > kth + 1e-5).forall(e => top.contains(e._1))
      c.check("serve.ivf_full_probe_equals_brute_force")(ok, s"query $q got $top want ${exact.take(TopK)}")
    }

    val text = g.textIndexProperties(textIdx)("graft.text.docs").toLong
    val dedup = g.dedupIndexProperties(dedupIdx)("graft.dedup.docs").toLong
    val ivf = g.vectorIndexProperties(ivfIdx)("graft.ivf.rows").toLong
    c.check("serve.indexes_hold_every_append")(text == served.size && dedup == served.size && ivf == vectors.size,
      s"text $text dedup $dedup ivf $ivf vs ${served.size}")
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var (d, na, nb) = (0.0, 0.0, 0.0)
    a.indices.foreach { i => d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
    d / math.sqrt(na * nb)
  }

  def rowsPerS(c: Client): Double = Stats.median(c.of("append").filter(_.ok).map(o => o.rows / (o.ms / 1e3)))

  def layerMetrics(c: Client): Map[String, Double] = Map(
    "operators.bm25_probe_ms" -> Layers.p50Ms(c, "bm25_probe"),
    "operators.ivf_probe_ms" -> Layers.p50Ms(c, "ivf_probe"),
    "operators.dedup_probe_ms" -> Layers.p50Ms(c, "dedup_probe"),
    "operators.append_ms" -> Layers.p50Ms(c, "append"),
    "operators.fold_s" -> Layers.p50Ms(c, "fold") / 1e3,
    "operators.index_segments" -> segmentsBeforeFold.sum / segmentsBeforeFold.size)
}
