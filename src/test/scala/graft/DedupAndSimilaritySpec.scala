package graft

import graft.operators.{Dedup, Similarity}
import graft.functions.VectorOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall/precision checks for the probabilistic dedup and ANN operators
  * against their exact counterparts (LSH-family results cannot be DuckDB
  * oracles — this is their correctness gate), plus exactness checks on
  * crafted geometry.
  */
class DedupAndSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("exact dedup groups identical normalized texts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello   World", "en"), (2L, "hello world", "en"),
      (3L, "HELLO  world ", "en"), (4L, "something else", "en"))
      .toDF("doc_id", "text", "lang")
    val out = Dedup.exact(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == ((1L, 3L, true)))
    assert(out(2L) == ((1L, 3L, false)))
    assert(out(3L) == ((1L, 3L, false)))
    assert(out(4L) == ((4L, 1L, true)))
  }

  test("connectedComponents: chains, stars, and multi-component graphs get min-id labels") {
    import spark.implicits._
    // a 6-node chain (diameter 5 — several propagation rounds), a star, a
    // lone pair; labels must be each component's minimum id
    val pairs = Seq(
      (12L, 11L), (12L, 13L), (13L, 14L), (14L, 15L), (15L, 16L), // chain, min 11
      (20L, 25L), (20L, 24L), (20L, 23L), // star centered at 20
      (31L, 30L)) // pair
      .toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((11L to 16L).forall(out(_) == 11L), s"chain collapses to 11: $out")
    assert(Seq(20L, 23L, 24L, 25L).forall(out(_) == 20L), s"star collapses to 20: $out")
    assert(out(30L) == 30L && out(31L) == 30L)
    assert(out.size == 12, "exactly the nodes appearing in pairs are labeled")
    // deterministic under a different partitioning
    val re = Dedup.connectedComponents(pairs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == out)
    // an unconvergeable budget throws instead of returning partial labels
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, maxIter = 2)
    }
  }

  /** Runs both components paths on `pairs`: (default, distributed
    * reference), each as (rows, schema, rounds, ran on the driver). */
  private def componentsBothWays(pairs: org.apache.spark.sql.DataFrame) = {
    def run(r: (org.apache.spark.sql.DataFrame, Int)) = {
      val (df, rounds) = r
      val onDriver = df.queryExecution.analyzed.collectFirst {
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => ()
      }.isDefined
      (df.collect().map(row => (row.get(0), row.get(1))).toSet, df.schema, rounds, onDriver)
    }
    (run(Dedup.connectedComponentsWithRounds(pairs)),
      run(Dedup.connectedComponentsDistributed(pairs)))
  }

  test("connectedComponents: the driver path matches the distributed loop's labels, schema and rounds") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261017L)
    val chainIds = rnd.shuffle((1000L to 1015L).toList) // diameter 15, ids out of order
    val chain = chainIds.zip(chainIds.tail)
    val star = (51L to 70L).map(50L -> _) ++ (80L to 98L).map(_ -> 99L)
    val clique = for (a <- 200L to 209L; b <- 200L to 209L if a < b) yield (a, b)
    val several = Seq((1L, 2L), (3L, 3L), (5L, 4L), (4L, 6L), (-7L, 8L))
    // ~300 nodes, full long range, self-loops and repeated edges possible
    val nodes = Seq.fill(300)(rnd.nextLong())
    val random = Seq.fill(250)((nodes(rnd.nextInt(300)), nodes(rnd.nextInt(300))))
    val graphs = Seq("chain" -> chain, "star" -> star, "clique" -> clique,
      "several" -> several, "random" -> random,
      "union" -> (chain ++ star ++ clique ++ several ++ random))
      .map { case (name, edges) => name -> edges.toDF("doc_a", "doc_b") } ++ Seq(
        // nullable id columns without nulls still take the driver path
        "nullable" -> chain.map { case (a, b) => (Option(a), Option(b)) }.toDF("doc_a", "doc_b"),
        "half nullable" -> chain.map { case (a, b) => (a, Option(b)) }.toDF("doc_a", "doc_b"))
    for ((name, pairs) <- graphs) {
      val ((out, schema, rounds, onDriver), (ref, refSchema, refRounds, _)) =
        componentsBothWays(pairs)
      assert(onDriver, s"$name: a small graph takes the driver path")
      assert(out == ref, s"$name: labels")
      assert(schema == refSchema, s"$name: schema")
      assert(rounds == refRounds, s"$name: rounds")
    }
    // the random graph's labels are its components' minimum ids
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    random.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    val truth = parent.keys.toSeq.map(x => (x: Any, find(x): Any)).toSet
    assert(componentsBothWays(random.toDF("doc_a", "doc_b"))._1._1 == truth)
    // no pairs: no labels and no rounds on either path
    val ((eOut, eSchema, eRounds, _), (eRef, eRefSchema, eRefRounds, _)) =
      componentsBothWays(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(eOut.isEmpty && eOut == eRef && eSchema == eRefSchema && eRounds == 0 && eRefRounds == 0)
    // a maxIter breach throws on both paths
    val chainDf = chain.toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException](Dedup.connectedComponentsWithRounds(chainDf, maxIter = 2))
    intercept[IllegalArgumentException](Dedup.connectedComponentsDistributed(chainDf, maxIter = 2))
  }

  test("connectedComponents: null ids and non-long ids take the distributed loop") {
    import spark.implicits._
    val withNulls = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)), (Some(4L), Some(5L)))
      .toDF("doc_a", "doc_b")
    val ints = Seq((3, 1), (1, 2), (7, 8)).toDF("doc_a", "doc_b")
    for ((name, pairs) <- Seq("nulls" -> withNulls, "ints" -> ints)) {
      val ((out, schema, rounds, onDriver), (ref, refSchema, refRounds, _)) =
        componentsBothWays(pairs)
      assert(!onDriver, s"$name: distributed path")
      assert(out == ref && schema == refSchema && rounds == refRounds, s"$name: same result")
    }
  }

  test("collapseDuplicates keeps one representative per cluster plus all unpaired docs") {
    import spark.implicits._
    val docs = (1L to 10L).map(i => (i, s"doc $i", "en")).toDF("doc_id", "text", "lang")
    val pairs = Seq((2L, 5L), (5L, 9L), (3L, 7L)).toDF("doc_a", "doc_b")
    val kept = Dedup.collapseDuplicates(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // cluster {2,5,9} -> keep 2; cluster {3,7} -> keep 3; rest untouched
    assert(kept == Set(1L, 2L, 3L, 4L, 6L, 8L, 10L), s"kept: $kept")
  }

  test("exact dedup wide key (sha-256) groups identically to the 64-bit default") {
    val docs = graft.core.Tables.documents(spark, TestSpark.Sf0001)
    val narrow = Dedup.exact(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val wide = Dedup.exact(docs, wideKey = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(wide == narrow, "collision-free corpus: both key widths must agree exactly")
  }

  test("exact dedup keeps null-text documents (normalized to empty string)") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, ""), (4L, "  "))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), "every input doc must appear")
    // null, "", and whitespace-only all normalize to "" -> one group of 3
    assert(out(2L) == ((2L, 3L)))
    assert(out(3L) == ((2L, 3L)))
    assert(out(4L) == ((2L, 3L)))
  }

  test("minHashLsh recall >= 0.9 vs exact Jaccard pairs at j >= 0.7 (documents)") {
    // constant lang => exactJaccardPairs' lang blocking is a no-op, making it
    // true all-pairs ground truth (minHashLsh does not block on lang)
    val docs = graft.core.Tables.documents(spark, TestSpark.Sf0001)
      .withColumn("lang", lit("x"))
    val exact = Dedup.exactJaccardPairs(docs, shingleN = 3, threshold = 0.7, tokenSlack = 1000)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLsh(docs, shingleN = 3, numHashes = 64, bands = 16, threshold = 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-duplicate documents")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} true pairs")
    // LSH verifies candidates with exact Jaccard, so precision is 1.0
    assert(lsh.subsetOf(exact), "every LSH pair must pass the exact verification")
  }

  test("simhash pigeonhole blocking finds ALL pairs within the Hamming budget (incl. high bits)") {
    import spark.implicits._
    // crafted signatures: pairs differing only in HIGH bits — a fixed
    // top-16-bit block scheme would miss them; pigeonhole must not
    val base = 0x0123456789abcdefL
    val sigs = Seq(
      (1L, base),
      (2L, base ^ (1L << 63)),                          // hamming 1, high bit
      (3L, base ^ (0x3fL << 58)),                       // hamming 6, all high bits
      (4L, base ^ (0x7fL << 57)),                       // hamming 7 — outside budget
      (5L, base ^ 0x1111111100000000L))                 // hamming 8 — outside
      .toDF("doc_id", "sh")
    val pairs = Dedup.simHashPairsFromSignatures(sigs, maxHamming = 6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"high-bit hamming-1 pair must be found: $pairs")
    assert(pairs.contains((1L, 3L)), s"all-high-bits hamming-6 pair must be found: $pairs")
    assert(!pairs.contains((1L, 4L)), "hamming 7 exceeds the budget")
    assert(!pairs.contains((1L, 5L)), "hamming 8 exceeds the budget")
  }

  test("simhash multi-index blocking == brute-force all-pairs (exactness on random clustered signatures)") {
    import spark.implicits._
    // deterministic pseudo-random corpora with planted near-dup clusters:
    // 60 base signatures, each with 4 perturbations at hamming 0..8 spread
    // over random bit positions (some in, some out of the budget).
    // GRAFT_SOAK=n soaks additional seeds and maxHamming values.
    val seeds = 42L +: (1L to sys.env.get("GRAFT_SOAK").map(_.toLong).getOrElse(0L)).toSeq
    for (seed <- seeds; maxHamming <- Seq(3, 6)) {
      val rnd = new scala.util.Random(seed)
      val sigs = (0 until 60).flatMap { g =>
        val base = rnd.nextLong()
        (0 until 4).map { p =>
          var sh = base
          val flips = rnd.nextInt(9) // 0..8 bit flips
          (0 until flips).foreach(_ => sh ^= (1L << rnd.nextInt(64)))
          (g * 4L + p, sh)
        }
      }.toDF("doc_id", "sh")
      val got = Dedup.simHashPairsFromSignatures(sigs, maxHamming)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = sigs.as("a")
        .join(sigs.as("b"), $"a.doc_id" < $"b.doc_id")
        .filter(bit_count($"a.sh".bitwiseXOR($"b.sh")) <= maxHamming)
        .select($"a.doc_id", $"b.doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      if (seed == 42L && maxHamming == 6)
        assert(want.nonEmpty, "fixture must contain within-budget pairs")
      assert(got == want,
        s"seed=$seed h=$maxHamming: missing=${want -- got}, extra=${got -- want}")
    }
  }

  test("simHash finds exact duplicates and near-permutations at hamming <= 6") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base), (2L, base),                            // identical -> hamming 0
      (3L, base + " extra"),                             // tiny edit
      (4L, "completely different words about spark engines and parquet files"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(docs, maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"identical docs must pair: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc must not pair: $pairs")
  }

  test("semanticDedup: planted paraphrases collapse (recall floor); drops are sound") {
    import spark.implicits._
    import graft.core.Tables
    val base = Tables.embeddings(spark, TestSpark.Sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toArray))
    // plant a near-duplicate of every 10th vector: scaled (cosine-invariant)
    // plus a tiny deterministic perturbation, id offset +10000 so the base
    // copy is always the cluster minimum
    val planted = base.filter(_._1 % 10 == 0).map { case (id, v) =>
      (id + 10000L, v.zipWithIndex.map { case (x, j) =>
        x * 1.07f + 0.003f * (((id + j) % 5) - 2) })
    }
    val all = (base ++ planted).toSeq
      .map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val docs = (base ++ planted).toSeq.map { case (id, _) => (id, s"doc $id", "en") }
      .toDF("doc_id", "text", "lang")

    val keptSem = Dedup.semanticDedup(docs, all, threshold = 0.9, lists = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val droppedSem = allIds -- keptSem

    // ground truth: the same collapse over EXACT all-pairs cosine (single
    // block => no blocking loss)
    val exactPairs = Similarity.nearDupPairs(
      all.withColumn("blk", lit(0)), threshold = 0.9, blockCol = "blk")
    val keptExact = Dedup.collapseDuplicates(
        docs, exactPairs, aCol = "id_a", bCol = "id_b")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val droppedExact = allIds -- keptExact

    // soundness: a semantic drop is always an exact drop (missed cross-list
    // pairs only ever KEEP more, never drop a non-duplicate)
    assert(droppedSem.subsetOf(droppedExact),
      s"unsound drops: ${droppedSem -- droppedExact}")
    // recall floor vs the exact collapse, and on the planted set itself
    assert(droppedExact.nonEmpty)
    val recall = droppedSem.size.toDouble / droppedExact.size
    assert(recall >= 0.8, s"component recall $recall below floor")
    val plantedIds = planted.map(_._1).toSet
    val plantedDropped = plantedIds.count(droppedSem)
    assert(plantedDropped >= (plantedIds.size * 0.8).toInt,
      s"only $plantedDropped of ${plantedIds.size} planted paraphrases collapsed")
  }

  test("bruteForceTopK is exact on crafted geometry") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f)),   // closest to 0
      (2L, Array(0f, 1f, 0f)),       // orthogonal
      (3L, Array(-1f, 0f, 0f)),      // antipodal
      (4L, Array(0.7f, 0.7f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), k = 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 4L, 2L), s"neighbor order by cosine: ${out.toSeq}")
  }

  test("lshTopK (16 tables x 4 planes) recall@5 >= 0.5 vs brute force on embeddings") {
    val emb = graft.core.Tables.embeddings(spark, TestSpark.Sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, k = 5, dim = 64,
      numTables = 16, planesPerTable = 4)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    // near-random 64-dim vectors are LSH's worst case (neighbors at ~60-70°);
    // the floor catches regressions (e.g. bucket-sign bugs), not SOTA recall
    assert(recall >= 0.5, s"LSH recall@5 = $recall")
  }

  test("int8Buckets matches a pure-Scala LCG recomputation (packing + sign semantics pinned)") {
    import spark.implicits._
    val dim = 8; val tables = 4; val planes = 6
    val vecs = Seq(
      (0L, Array.tabulate(dim)(d => (d - 3).toFloat / 4f)),
      (1L, Array.tabulate(dim)(d => math.sin(d + 1).toFloat)),
      (2L, Array.fill(dim)(0f)))
    val qv = vecs.toDF("id", "emb")
      .select(col("id"), transform(col("emb"), x => floor(x * lit(127.0)).cast("long")).as("qv"))
    val got = Similarity.int8Buckets(qv, dim, tables, planes)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    def sign(t: Int, p: Int, d: Int): Long = {
      val m = (1103515245L * (d.toLong + p.toLong * dim + t.toLong * dim * planes) + 12345L) % 2147483648L
      if (((m >> 13) & 1L) == 0L) 1L else -1L
    }
    for ((id, emb) <- vecs; t <- 0 until tables) {
      val q = emb.map(x => math.floor(x * 127.0).toLong)
      val expect = (0 until planes).map { p =>
        val pdot = (0 until dim).map(d => q(d) * sign(t, p, d)).sum
        if (pdot >= 0) 1L << p else 0L
      }.sum
      assert(got((id, t)) == expect, s"bucket mismatch id=$id t=$t")
    }
  }

  test("int8Assign matches a pure-Scala argmin recomputation (codebook + tie-break pinned)") {
    import spark.implicits._
    val dim = 8; val c = 5
    val vecs = Seq(
      (0L, Array.tabulate(dim)(d => (d - 3).toFloat / 4f)),
      (1L, Array.tabulate(dim)(d => math.sin(d + 1).toFloat)),
      (2L, Array.fill(dim)(0f)), // all-zero: exercises the tie-break path
      (3L, Array.tabulate(dim)(d => math.cos(3 * d).toFloat)))
    val qv = vecs.toDF("id", "emb")
      .select(col("id"), transform(col("emb"), x => floor(x * lit(127.0)).cast("long")).as("qv"))
    val got = Similarity.int8Assign(qv, c, dim)
      .select("id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cent(ci: Int, d: Int): Long =
      java.lang.Math.floorMod(1103515245L * ci + 12345L * d + 54321L, 256L) - 128L
    for ((id, emb) <- vecs) {
      val q = emb.map(x => math.floor(x * 127.0).toLong)
      val expect = (0 until c).map { ci =>
        ((0 until dim).map(d => { val e = q(d) - cent(ci, d); e * e }).sum, ci.toLong)
      }.min._2 // (d2, ci) lexicographic — ties to the lowest index
      assert(got(id) == expect, s"assignment mismatch id=$id: got ${got(id)}, expect $expect")
    }
  }

  test("ivfTopKInt8 == probed-bucket int8 MIPS recomputed from first principles") {
    // the operator's whole candidate/rank semantics re-derived in plain
    // Scala over the same quantized corpus: same assignment, same nProbe
    // probe set, same integer dots, same (dot desc, id asc) tie-break
    val emb = graft.core.Tables.embeddings(spark, TestSpark.Sf0001)
    val dim = 64; val c = 16; val nProbe = 4; val k = 5
    val got = Similarity.ivfTopKInt8(emb, emb.filter(col("vec_id") < 8), k = k,
      dim = dim, c = c, nProbe = nProbe)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    val rows = emb.collect().map(r => (r.getLong(0),
      r.getAs[scala.collection.Seq[Float]](1).map(x => math.floor(x * 127.0).toLong).toArray))
    def cent(ci: Int, d: Int): Long =
      java.lang.Math.floorMod(1103515245L * ci + 12345L * d + 54321L, 256L) - 128L
    def d2(q: Array[Long], ci: Int): Long =
      (0 until dim).map(d => { val e = q(d) - cent(ci, d); e * e }).sum
    val assign = rows.map { case (id, q) =>
      id -> (0 until c).map(ci => (d2(q, ci), ci.toLong)).min._2
    }.toMap
    val byId = rows.toMap
    var checked = 0
    for ((qid, q) <- rows if qid < 8) {
      val probed = (0 until c).map(ci => (d2(q, ci), ci.toLong)).sorted.take(nProbe).map(_._2).toSet
      val expect = rows
        .filter { case (nid, _) => nid != qid && probed(assign(nid)) }
        .map { case (nid, nv) => (nid, (0 until dim).map(d => q(d) * nv(d)).sum) }
        .sortBy { case (nid, dot) => (-dot, nid) }
        .take(k).zipWithIndex
      for (((nid, dot), i) <- expect) {
        assert(got((qid, i + 1L)) == ((nid, dot, assign(nid))),
          s"rank ${i + 1} of q=$qid: got ${got((qid, i + 1L))}, expect ($nid, $dot, ${assign(nid)})")
        checked += 1
      }
    }
    assert(checked >= 8 * k, s"expected a full top-$k for all 8 queries, checked $checked")
  }

  test("lshTopKInt8 rejects vectors whose length != dim (silent recall loss forbidden)") {
    import spark.implicits._
    val corpus = Seq((0L, Seq(1f, 0f, 0f)), (1L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val q = Seq((9L, Seq(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.lshTopKInt8(corpus, q, k = 1, dim = 3, numTables = 2, planesPerTable = 2).collect()
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("embedding length != dim")), msgs(e).mkString(" | "))
  }

  test("native FloatVecDot == higher-order dot on embeddings (incl. self-dot)") {
    val emb = graft.core.Tables.embeddings(spark, TestSpark.Sf0001).limit(200)
    val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("b")).limit(20))
    val diffs = pairs.select(
      (VectorOps.dot(col("a"), col("b")) === VectorOps.dotHof(col("a"), col("b"))).as("eq"))
      .filter(!col("eq")).count()
    assert(diffs == 0, "native dot must be bit-identical to the HOF fold")
  }

  test("vector ops: cosine/norm/l2 on known values") {
    import spark.implicits._
    val df = Seq((Array(3f, 4f), Array(4f, 3f))).toDF("a", "b")
    val r = df.select(
      VectorOps.cosine(col("a"), col("b")).as("cos"),
      VectorOps.norm(col("a")).as("na"),
      VectorOps.l2Distance(col("a"), col("b")).as("d")).head()
    assert(math.abs(r.getDouble(0) - 24.0 / 25.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 5.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - math.sqrt(2.0)) < 1e-12)
  }

  test("null-id rows still rank: self-exclusion is null-safe") {
    import spark.implicits._
    // REGRESSION: a bare =!= is null for any pair involving a null id —
    // the join dropped those pairs, so a null-id corpus vector could
    // never surface in any ranking (and a null-id query returned nothing)
    val corpus = Seq(
      (Option(1L), Seq(0.5f, 0.5f)),
      (Option.empty[Long], Seq(1f, 0f)), // null id, exact match of q
      (Option(3L), Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val q = Seq((Option(100L), Seq(1f, 0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(corpus, q, k = 1)
      .select("n_id").head()
    assert(top.isNullAt(0),
      "the null-id vector is the nearest neighbor and must rank, not vanish")
    // lshTopK parameter guards
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(corpus, q, k = 1, dim = 2, planesPerTable = 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(corpus, q, k = 1, dim = 2, numTables = 0)
    }
  }
}
