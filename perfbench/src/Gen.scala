package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every generator draws from a SplittableRandom
  * derived from (seed, stream, index), so the same seed gives the same
  * inputs in any order of calls, and no generator reads engine state. */
object Gen {

  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream * 0xC2B2AE3D27D4EB4FL ^ index * 0x165667B19E3779F9L)

  private def alnum(r: SplittableRandom, n: Int): String = {
    val chars = "abcdefghijklmnopqrstuvwxyz0123456789"
    (0 until n).map(_ => chars.charAt(r.nextInt(chars.length))).mkString
  }

  /** Skewed draw over [0, n): index = floor(n * u^power). */
  private def skewed(r: SplittableRandom, n: Int, power: Double): Int =
    math.min(n - 1, (n * math.pow(r.nextDouble(), power)).toInt)

  // ---- kv_changelog --------------------------------------------------------

  final case class KvRow(event_id: Long, k: Long, v: String, is_delete: Boolean)

  /** Written keys are multiples of 3 over a skewed index, so probes of
    * other keys are misses by construction. */
  val KeyStride = 3L

  final case class KvShape(keySpace: Int, rowsPerStep: Int, filesPerStep: Int, deleteShare: Double)

  /** Step `step`'s Put/Delete rows, event ids continuing the global order. */
  def changelogStep(seed: Long, shape: KvShape, step: Int): IndexedSeq[KvRow] = {
    val r = rng(seed, 1, step)
    (0 until shape.rowsPerStep).map { j =>
      val k = KeyStride * skewed(r, shape.keySpace, 2.5)
      val del = r.nextDouble() < shape.deleteShare
      KvRow(step.toLong * shape.rowsPerStep + j, k, if (del) "" else alnum(r, 24), del)
    }
  }

  sealed trait KvRead
  final case class PointGet(k: Long) extends KvRead
  final case class RangeScan(lo: Long, hi: Long, reverse: Boolean) extends KvRead
  case object CollapseAll extends KvRead

  /** The fixed read mix, in two halves that alternate by step: on even
    * steps 3 point gets (2 on hot keys, 1 on a uniform key that is mostly
    * missing) and one full collapse; on odd steps one forward and one
    * reverse range scan. Halving the reads per step doubles the ingests
    * a run of a given length measures. */
  def kvReads(seed: Long, shape: KvShape, step: Int): Seq[KvRead] = {
    val r = rng(seed, 2, step)
    val space = KeyStride * shape.keySpace
    if (step % 2 == 0)
      (0 until 3).map { i =>
        if (i == 2) PointGet(r.nextLong(space)) else PointGet(KeyStride * skewed(r, shape.keySpace, 2.5))
      } :+ CollapseAll
    else
      (0 until 2).map { i =>
        val lo = KeyStride * skewed(r, shape.keySpace, 1.5)
        RangeScan(lo, lo + KeyStride * 40, reverse = i == 1)
      }
  }

  // ---- corpus --------------------------------------------------------------

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Image(doc_id: Long, payload: Array[Byte])

  final case class CorpusShape(
      baseDocs: Int, exactDupShare: Double, nearDupShare: Double, boilerplateShare: Double,
      images: Int, imageTwinShare: Double, dim: Int, clusters: Int)

  /** A corpus with its ground truth: planted (original, copy) pairs. */
  final case class Corpus(
      docs: IndexedSeq[Doc], vecs: IndexedSeq[Vec], images: IndexedSeq[Image],
      exactPairs: Seq[(Long, Long)], nearPairs: Seq[(Long, Long)], imagePairs: Seq[(Long, Long)],
      vocab: IndexedSeq[String], centroids: IndexedSeq[Array[Float]])

  def vocabulary(seed: Long, n: Int = 6000): IndexedSeq[String] = {
    val r = rng(seed, 3, 0)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until n).map(_ => (0 until 5 + r.nextInt(5)).map(_ => letters.charAt(r.nextInt(26))).mkString)
      .distinct
  }

  def words(r: SplittableRandom, vocab: IndexedSeq[String], n: Int): IndexedSeq[String] =
    (0 until n).map(_ => vocab(skewed(r, vocab.size, 1.6)))

  def docText(r: SplittableRandom, vocab: IndexedSeq[String]): String =
    words(r, vocab, 60 + r.nextInt(80)).mkString(" ")

  def doc(id: Long, text: String, source: String): Doc =
    Doc(id, text, "en", source, text.length.toLong)

  def unitVec(r: SplittableRandom, center: Array[Float], spread: Double): Array[Float] = {
    val v = center.map(c => (c + spread * r.nextGaussian()).toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def centroids(seed: Long, dim: Int, clusters: Int): IndexedSeq[Array[Float]] = {
    val r = rng(seed, 4, 0)
    (0 until clusters).map(_ => unitVec(r, Array.fill(dim)(0f), 1.0))
  }

  /** Base documents with planted exact copies (half of them with extra
    * whitespace, which normalization removes), near copies (2 tokens
    * replaced), shared boilerplate spans, one clustered embedding per
    * document, and an image slice with noisy twins. Ids start at `firstId`. */
  def corpus(seed: Long, shape: CorpusShape, firstId: Long = 1L): Corpus = {
    val r = rng(seed, 5, firstId)
    val vocab = vocabulary(seed)
    val boiler = (0 until 8).map(_ => words(r, vocab, 25).mkString(" "))
    val base = (0 until shape.baseDocs).map { i =>
      val body = docText(r, vocab)
      val text = if (r.nextDouble() < shape.boilerplateShare) body + " " + boiler(r.nextInt(boiler.size)) else body
      doc(firstId + i, text, "web")
    }
    var next = firstId + shape.baseDocs
    val exact = base.filter(_ => r.nextDouble() < shape.exactDupShare).map { d =>
      val text = if (r.nextBoolean()) d.text.replace(" ", "  ") else d.text
      next += 1
      (d.doc_id, doc(next - 1, text, "mirror"))
    }
    val near = base.filter(_ => r.nextDouble() < shape.nearDupShare).map { d =>
      val toks = d.text.split(" ")
      (0 until 2).foreach(_ => toks(r.nextInt(toks.length)) = vocab(r.nextInt(vocab.size)))
      next += 1
      (d.doc_id, doc(next - 1, toks.mkString(" "), "mirror"))
    }
    val docs = base ++ exact.map(_._2) ++ near.map(_._2)
    val cents = centroids(seed, shape.dim, shape.clusters)
    val vecs = docs.map { d =>
      val c = r.nextInt(cents.size)
      Vec(d.doc_id, unitVec(r, cents(c), 0.35), c)
    }
    val imgBase = 10000000L + firstId
    val originals = (0 until shape.images).map(i => (imgBase + i, Images.field(r, 64, 48)))
    val twins = originals.filter(_ => r.nextDouble() < shape.imageTwinShare).zipWithIndex.map {
      case ((id, f), i) => (id, (imgBase + shape.images + i, Images.addNoise(r, f, 2)))
    }
    val images = (originals ++ twins.map(_._2)).map { case (id, f) => Image(id, Images.bmp(64, 48, f)) }
    Corpus(docs, vecs, images,
      exact.map { case (o, c) => (o, c.doc_id) }, near.map { case (o, c) => (o, c.doc_id) },
      twins.map { case (o, (c, _)) => (o, c) }, vocab, cents)
  }

  // ---- index_serve ---------------------------------------------------------

  sealed trait Request extends Product
  final case class Bm25Query(text: String) extends Request
  final case class IvfQuery(vec: Array[Float]) extends Request
  /** `copies` index into the served docs: their texts are re-probed. */
  final case class DedupProbe(copies: Seq[Int], fresh: Seq[String]) extends Request
  final case class Append(docs: Seq[String], copies: Seq[Int]) extends Request

  /** Step `i` of the serving stream: a fixed mix of two BM25 queries, two
    * IVF queries, one dedup probe and one append round, in a seeded order
    * with seeded content. */
  def requests(seed: Long, i: Int, vocab: IndexedSeq[String], cents: IndexedSeq[Array[Float]]): Seq[Request] = {
    val r = rng(seed, 6, i)
    val mix = Seq(
      Bm25Query(words(r, vocab, 3).mkString(" ")),
      Bm25Query(words(r, vocab, 3).mkString(" ")),
      IvfQuery(unitVec(r, cents(r.nextInt(cents.size)), 0.35)),
      IvfQuery(unitVec(r, cents(r.nextInt(cents.size)), 0.35)),
      DedupProbe(Seq(r.nextInt(Int.MaxValue), r.nextInt(Int.MaxValue)), Seq.fill(2)(docText(r, vocab))),
      Append(Seq.fill(14)(docText(r, vocab)), Seq(r.nextInt(Int.MaxValue), r.nextInt(Int.MaxValue))))
    val order = mix.indices.map(_ => r.nextDouble())
    mix.zip(order).sortBy(_._2).map(_._1)
  }
}

/** Smooth grayscale fields written as 24-bit BMP, so perceptual hashes of
  * a field and its noisy twin stay close while distinct fields differ. */
object Images {
  def field(r: SplittableRandom, w: Int, h: Int): Array[Int] = {
    val waves = Seq.fill(4)((r.nextDouble() * 4 + 0.5, r.nextDouble() * 4 + 0.5, r.nextDouble() * 6.3, r.nextDouble()))
    Array.tabulate(w * h) { i =>
      val (x, y) = ((i % w).toDouble / w, (i / w).toDouble / h)
      val s = waves.map { case (fx, fy, ph, a) => a * math.sin(2 * math.Pi * (fx * x + fy * y) + ph) }.sum
      math.max(0, math.min(255, (128 + 50 * s).toInt))
    }
  }

  def addNoise(r: SplittableRandom, f: Array[Int], amp: Int): Array[Int] =
    f.map(p => math.max(0, math.min(255, p + r.nextInt(2 * amp + 1) - amp)))

  def bmp(w: Int, h: Int, gray: Array[Int]): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val size = 54 + rowBytes * h
    val b = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24).putInt(0).putInt(rowBytes * h)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (y <- h - 1 to 0 by -1) {
      for (x <- 0 until w) { val g = gray(y * w + x).toByte; b.put(g).put(g).put(g) }
      for (_ <- w * 3 until rowBytes) b.put(0.toByte)
    }
    b.array()
  }
}
