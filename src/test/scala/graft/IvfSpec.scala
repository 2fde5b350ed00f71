package graft

import graft.operators.{Ivf, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF-flat ANN: recall floor vs brute force, determinism across runs, and
  * probe-scaling sanity.
  */
class IvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val emb = graft.core.Tables.embeddings(spark, TestSpark.Sf0001)
  private lazy val queries = emb.filter(col("vec_id") < 20)

  test("recall@5 improves with nProbe and reaches full scan at nProbe = C") {
    val model = Ivf.train(emb, c = 16, iters = 2)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nProbe: Int): Double = {
      val approx = Ivf.topK(emb, queries, model, k = 5, nProbe = nProbe)
        .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      approx.intersect(exact).size.toDouble / exact.size
    }
    val r2 = recall(2)
    val r8 = recall(8)
    val rAll = recall(16)
    assert(rAll == 1.0, s"probing every list must equal brute force, got $rAll")
    assert(r8 >= r2, s"recall must not decrease with more probes: $r2 -> $r8")
    assert(r8 >= 0.4, s"recall@5 with half the lists probed: $r8")
  }

  test("sampled training (maxTrainRows) yields a full-width model; nProbe=C still exact") {
    // ~12 rows/centroid sample: model must still have C centroids of the
    // right dim, search must stay deterministic, and probing every list is
    // still a full scan (sampling moves CENTROIDS, never corpus coverage)
    val model = Ivf.train(emb, c = 16, iters = 2, maxTrainRows = 200L)
    assert(model.c == 16)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = Ivf.topK(emb, queries, model, k = 5, nProbe = 16)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == exact, "nProbe = C must equal brute force regardless of training sample")
    // a sample cap >= corpus is a no-op: identical centroids to full training
    val capped = Ivf.train(emb, c = 16, iters = 2, maxTrainRows = 1000000L)
    val full = Ivf.train(emb, c = 16, iters = 2)
    assert(capped.centroids.map(_.toSeq).toSeq == full.centroids.map(_.toSeq).toSeq)
  }

  test("cluster count clamps to corpus size (no crash on tiny corpora)") {
    val tiny = emb.filter(col("vec_id") < 5)
    val model = Ivf.train(tiny, c = 32, iters = 2)
    assert(model.c == 5)
    val out = Ivf.topK(tiny, tiny.filter(col("vec_id") === 0), model, k = 3, nProbe = 5)
    assert(out.count() == 3)
    // nProbe beyond the clamped list count means probe-everything, not crash
    val over = Ivf.topK(tiny, tiny.filter(col("vec_id") === 0), model, k = 3, nProbe = 8)
    assert(over.collect().map(_.toSeq).toSeq == out.collect().map(_.toSeq).toSeq)
  }

  test("NaN embeddings degrade deterministically (no job-killing exception)") {
    import spark.implicits._
    val model = Ivf.train(emb.filter(col("vec_id") < 50), c = 4, iters = 1)
    val dirty = Seq((999L, Array.fill(64)(Float.NaN))).toDF("vec_id", "embedding")
    // assignment must produce a bucket (lowest-index fallback), twice the same
    val a = dirty.select(Ivf.nearestCentroid(col("embedding"), model)).head().getInt(0)
    val b = dirty.select(Ivf.nearestCentroid(col("embedding"), model)).head().getInt(0)
    assert(a == b && a >= 0 && a < model.c)
  }

  test("persisted index: topKIndexed == in-memory topK, and the scan is partition-pruned") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
    val model = Ivf.train(emb, c = 16, iters = 2)
    Ivf.writeIndex(emb, model, tmp)
    // round-trip of the model through the index
    val loaded = Ivf.readModel(spark, tmp)
    assert(loaded.centroids.flatten.toSeq == model.centroids.flatten.toSeq)

    val mem = Ivf.topK(emb, queries, model, k = 5, nProbe = 4).collect().map(_.toSeq).toSet
    val idx = Ivf.topKIndexed(spark, tmp, queries, k = 5, nProbe = 4)
    assert(idx.collect().map(_.toSeq).toSet == mem,
      "indexed search must equal the in-memory bucketed search")

    // the probed-bucket filter must reach the scan as PARTITION pruning:
    // only probed list directories are read, the nProbe/C scan property
    val plan = idx.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"bucket filter must be a partition filter, plan:\n${plan.take(2000)}")
  }

  test("append with stored model: search-after-append == full rewrite under the same model") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfapp_").toString
    val firstHalf = emb.filter(col("vec_id") % 2 === 0)
    val secondHalf = emb.filter(col("vec_id") % 2 =!= 0)
    // model trained on the first half only — appends must NOT retrain
    val model = Ivf.train(firstHalf, c = 8, iters = 2)
    Ivf.writeIndex(firstHalf, model, tmp)
    val appended = Ivf.appendToIndex(secondHalf, tmp)
    assert(appended == secondHalf.count(), s"append must add exactly the new vectors, got $appended")
    // reference: one-shot index over the full corpus with the SAME model
    val full = java.nio.file.Files.createTempDirectory("graft_ivffull_").toString
    Ivf.writeIndex(emb, model, full)
    val a = Ivf.topKIndexed(spark, tmp, queries, k = 5, nProbe = 4).collect().map(_.toSeq).toSet
    val b = Ivf.topKIndexed(spark, full, queries, k = 5, nProbe = 4).collect().map(_.toSeq).toSet
    assert(a == b, "append-then-search must equal rewrite-then-search under the same model")
    // growth doubled but stays model-stable; imbalance metrics are surfaced
    val stats = Ivf.indexStats(spark, tmp)
    assert(stats("graft.ivf.rows").toLong == emb.count())
    assert(stats("graft.ivf.growth").toDouble > 1.8 && stats("graft.ivf.growth").toDouble < 2.2)
  }

  test("needsRebuild trips on growth and on list imbalance, not on modest appends") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfreb_").toString
    val model = Ivf.train(emb, c = 8, iters = 2)
    Ivf.writeIndex(emb, model, tmp)
    assert(!Ivf.needsRebuild(spark, tmp), "fresh index must not need a rebuild")
    // a skew flood: many copies of ONE vector -> a single list balloons,
    // tripping both the growth and imbalance triggers
    val hot = emb.orderBy("vec_id").limit(1)
      .select(col("embedding")).head().getAs[scala.collection.Seq[Float]](0)
    val flood = spark.range(1000000, 1000000 + 3L * emb.count())
      .select(col("id").as("vec_id"), typedLit(hot).as("embedding"))
    Ivf.appendToIndex(flood, tmp)
    val stats = Ivf.indexStats(spark, tmp)
    assert(stats("graft.ivf.growth").toDouble > 2.0, s"flood must register as growth: $stats")
    assert(stats("graft.ivf.imbalance").toDouble > 4.0, s"hot list must register as imbalance: $stats")
    assert(Ivf.needsRebuild(spark, tmp), "staleness gate must fire after the flood")
    // the rebuild retrains over current contents and resets both triggers
    Ivf.rebuildIndex(spark, tmp, lists = 8, iters = 2)
    val after = Ivf.indexStats(spark, tmp)
    assert(after("graft.ivf.growth").toDouble == 1.0, s"rebuild resets growth: $after")
    assert(after("graft.ivf.rows").toLong == 4L * emb.count())
  }

  test("deletion: tombstoned ids vanish from search and stats; compaction reclaims and GCs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfdel_").toString
    val model = Ivf.train(emb, c = 8, iters = 2)
    Ivf.writeIndex(emb, model, tmp)
    val n = emb.count()
    val victims = emb.filter(col("vec_id") % 7 === 0).select("vec_id")
    val nVictims = victims.count()

    val deleted = Ivf.deleteFromIndex(victims, tmp)
    assert(deleted == nVictims, s"distinct ids tombstoned: $deleted vs $nVictims")
    assert(Ivf.deleteFromIndex(victims, tmp) == nVictims, "re-deleting is idempotent")

    // search never returns a tombstoned id, and equals a fresh index built
    // over the surviving corpus under the same model (k small enough that
    // survivors fill every result set)
    val survivors = emb.filter(col("vec_id") % 7 =!= 0)
    val ref = java.nio.file.Files.createTempDirectory("graft_ivfdelref_").toString
    Ivf.writeIndex(survivors, model, ref)
    val liveQueries = queries.filter(col("vec_id") % 7 =!= 0)
    val a = Ivf.topKIndexed(spark, tmp, liveQueries, k = 3, nProbe = 8)
    assert(a.filter(col("n_id") % 7 === 0).count() == 0, "no tombstoned id may surface")
    val b = Ivf.topKIndexed(spark, ref, liveQueries, k = 3, nProbe = 8)
    assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet,
      "search-after-delete must equal an index built over the surviving corpus")

    val stats = Ivf.indexStats(spark, tmp)
    assert(stats("graft.ivf.rows").toLong == n - nVictims, s"live rows exclude tombstoned: $stats")
    assert(stats("graft.ivf.tombstones").toLong == nVictims, s"pending tombstones surfaced: $stats")

    // compaction physically reclaims the rows and GCs the tombstones;
    // nothing observable changes
    Ivf.compactIndexSegments(spark, tmp)
    assert(!new java.io.File(s"$tmp/tombs").exists(), "tombstones folded away")
    val after = Ivf.indexStats(spark, tmp)
    assert(after("graft.ivf.rows").toLong == n - nVictims && after("graft.ivf.tombstones") == "0")
    assert(Ivf.topKIndexed(spark, tmp, liveQueries, k = 3, nProbe = 8)
      .collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet,
      "post-compaction search unchanged")
    // physical: the deleted ids are gone from the lists themselves
    assert(spark.read.parquet(s"$tmp/lists").filter(col("n_id") % 7 === 0).count() == 0)
  }

  test("hierarchical: trainHier builds the level tree; k >= leaves still exact; deterministic") {
    // branch=4 over leaves=16 -> depth 2, sizes (4, 16)
    val m1 = Ivf.trainHier(emb, leaves = 16, branch = 4, iters = 2)
    assert(m1.levels.nonEmpty, "trainHier must build internal levels")
    assert(m1.levels.head.length == 4 && m1.c == 16, s"sizes (4,16), got (${m1.levels.head.length},${m1.c})")
    val m2 = Ivf.trainHier(emb, leaves = 16, branch = 4, iters = 2)
    assert(m1.tree.flatten.flatten.toSeq == m2.tree.flatten.flatten.toSeq, "deterministic")
    // probing every leaf is a full scan: equals brute force exactly
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = Ivf.topK(emb, queries, m1, k = 5, nProbe = 16)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == exact, "nProbe = leaves must equal brute force for a hierarchical model")
    // self-match consistency (greedy containment): searching the corpus
    // against itself at nProbe=1... every query's assigned bucket is probed,
    // so with nProbe >= 1 a query vector present in the corpus always finds
    // itself unless outscored — check via recall at modest nProbe
    val r4 = Ivf.topK(emb, queries, m1, k = 5, nProbe = 4)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r4.intersect(exact).size.toDouble / exact.size >= 0.4, "recall floor at nProbe=4")
    // leaves <= branch falls back to the flat trainer
    val flat = Ivf.trainHier(emb, leaves = 8, branch = 16, iters = 2)
    assert(flat.levels.isEmpty && flat.centroids.flatten.toSeq ==
      Ivf.train(emb, c = 8, iters = 2).centroids.flatten.toSeq)
  }

  test("hierarchical: levels survive the writeIndex/readModel round-trip; indexed search consistent") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfhier_").toString
    val model = Ivf.trainHier(emb, leaves = 16, branch = 4, iters = 2)
    Ivf.writeIndex(emb, model, tmp)
    val loaded = Ivf.readModel(spark, tmp)
    assert(loaded.levels.length == model.levels.length, "internal levels must persist")
    assert(loaded.tree.flatten.flatten.toSeq == model.tree.flatten.flatten.toSeq,
      "the reloaded quantizer must be byte-identical to the trained one")
    // indexed search == in-memory search under the same model (same descend
    // on both the assignment and probe sides)
    val mem = Ivf.topK(emb, queries, model, k = 5, nProbe = 4).collect().map(_.toSeq).toSet
    val idx = Ivf.topKIndexed(spark, tmp, queries, k = 5, nProbe = 4).collect().map(_.toSeq).toSet
    assert(idx == mem, "hier indexed search must equal the in-memory bucketed search")
    // every corpus vector finds its own bucket when used as a query even at
    // nProbe = 1 (greedy containment): self-search always returns the row's
    // exact duplicate... plant one and check
    import spark.implicits._
    val probe = emb.filter(col("vec_id") < 40)
      .select(col("vec_id") + 100000L as "vec_id", col("embedding"))
    val self = Ivf.topKIndexed(spark, tmp, probe, k = 1, nProbe = 1)
    val found = self.filter(col("n_id") === col("q_id") - 100000L).count()
    assert(found == 40L, s"every cloned query must find its original at nProbe=1, got $found/40")
  }

  test("hierarchical: append with stored model == full rewrite (quantizer identity after reload)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfhierapp_").toString
    val firstHalf = emb.filter(col("vec_id") % 2 === 0)
    val secondHalf = emb.filter(col("vec_id") % 2 =!= 0)
    val model = Ivf.trainHier(firstHalf, leaves = 16, branch = 4, iters = 2)
    Ivf.writeIndex(firstHalf, model, tmp)
    // append assigns via readModel: ONLY correct if the reloaded quantizer
    // descends identically to the trained one (ADVICE r7 item 2)
    Ivf.appendToIndex(secondHalf, tmp)
    val full = java.nio.file.Files.createTempDirectory("graft_ivfhierfull_").toString
    Ivf.writeIndex(emb, model, full)
    val a = Ivf.topKIndexed(spark, tmp, queries, k = 5, nProbe = 4).collect().map(_.toSeq).toSet
    val b = Ivf.topKIndexed(spark, full, queries, k = 5, nProbe = 4).collect().map(_.toSeq).toSet
    assert(a == b, "hier append-then-search must equal rewrite-then-search")
  }

  test("trainAuto sizes from the corpus: flat below the cutoff, hierarchical above") {
    // 500-row corpus at targetListSize=2 -> 250 lists > 4*32 -> hierarchical
    val big = Ivf.trainAuto(emb, targetListSize = 2, iters = 1)
    val n = emb.count()
    val wantLists = ((n + 1) / 2).toInt
    assert(big.levels.nonEmpty, s"$wantLists lists must train hierarchically")
    assert(big.c >= wantLists, s"leaf count ${big.c} must cover requested $wantLists")
    assert(big.c % big.levels.last.length == 0, "leaf level divisible by parent level")
    // small corpus -> flat
    val small = Ivf.trainAuto(emb.filter(col("vec_id") < 200), targetListSize = 16, iters = 1)
    assert(small.levels.isEmpty && small.c <= 4 * 32)
  }

  test("rebuildIndex with branch > 0 retrains hierarchically over current contents") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfrebh_").toString
    Ivf.writeIndex(emb, Ivf.train(emb, c = 8, iters = 2), tmp)
    // the flat index outgrew its list count: rebuild as a tree
    Ivf.rebuildIndex(spark, tmp, lists = 16, iters = 2, branch = 4)
    val model = Ivf.readModel(spark, tmp)
    assert(model.levels.nonEmpty && model.c == 16,
      s"hier rebuild must persist the tree: levels=${model.levels.map(_.length)} c=${model.c}")
    // probing every leaf equals brute force — the rebuilt index is complete
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = Ivf.topKIndexed(spark, tmp, queries, k = 5, nProbe = 16)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == exact)
    assert(Ivf.indexStats(spark, tmp)("graft.ivf.growth").toDouble == 1.0, "rebuild resets growth")
  }

  test("training and search are deterministic run to run") {
    val m1 = Ivf.train(emb, c = 8, iters = 2)
    val m2 = Ivf.train(emb, c = 8, iters = 2)
    assert(m1.centroids.flatten.toSeq == m2.centroids.flatten.toSeq)
    val a = Ivf.topK(emb, queries, m1, k = 3, nProbe = 4).collect().map(_.toSeq).toSeq
    val b = Ivf.topK(emb, queries, m2, k = 3, nProbe = 4).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("IVF-PQ: codes round-trip, no vectors stored, planted twins found, deterministic") {
    import spark.implicits._
    // corpus + exact twin copies: a twin shares its original's codes AND
    // coarse bucket, so PQ search must surface it despite quantization
    val twins = emb.filter(col("vec_id") < 40)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(twins)
    val coarse = Ivf.train(corpus, c = 8, iters = 2)
    val pq = graft.operators.Pq.train(corpus, m = 8, k = 32, iters = 2)
    assert(pq.m == 8 && pq.k == 32 && pq.dsub == 8 && pq.dim == 64)

    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_").toString
    graft.operators.Pq.writeIndex(corpus, coarse, pq, tmp)
    // no vector column in the persisted lists — the compression IS the point
    val listCols = spark.read.parquet(s"$tmp/lists").columns.toSet
    assert(listCols == Set("n_id", "n_codes", "n_nsq", "bucket"), s"got $listCols")
    // codebooks round-trip exactly
    val rt = graft.operators.Pq.readModel(spark, tmp)
    assert(rt.codebooks.flatten.flatten.toSeq == pq.codebooks.flatten.flatten.toSeq)

    val queries = emb.filter(col("vec_id") < 40)
    val got = graft.operators.Pq.topKIndexed(spark, tmp, queries, k = 5, nProbe = 8)
    val byQ = got.collect().groupBy(_.getLong(0))
    val recall = (0L until 40L).count { q =>
      byQ.get(q).exists(_.exists(_.getLong(1) == q + 10000L))
    }.toDouble / 40.0
    assert(recall >= 0.9, s"planted-twin recall@5 under full probes: $recall")
    // identical-code twin scores the ADC maximum achievable for its codes:
    // its rank-1-to-5 presence must be stable run to run
    val again = graft.operators.Pq.topKIndexed(spark, tmp, queries, k = 5, nProbe = 8)
      .collect().map(_.toSeq).sortBy(_.mkString(","))
    assert(again.toSeq == got.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq,
      "PQ search is deterministic run to run")

    // training determinism: same corpus -> byte-identical codebooks
    val pq2 = graft.operators.Pq.train(corpus, m = 8, k = 32, iters = 2)
    assert(pq2.codebooks.flatten.flatten.toSeq == pq.codebooks.flatten.flatten.toSeq)

    // append with stored models == full rewrite under the same models
    val half = corpus.filter(col("vec_id") < 250 || col("vec_id") >= 10000L)
    val rest = corpus.filter(col("vec_id") >= 250 && col("vec_id") < 10000L)
    val grown = java.nio.file.Files.createTempDirectory("graft_pq_grow_").toString
    graft.operators.Pq.writeIndex(half, coarse, pq, grown)
    assert(graft.operators.Pq.appendToIndex(rest, grown) == rest.count())
    val viaAppend = graft.operators.Pq.topKIndexed(spark, grown, queries, k = 5, nProbe = 8)
      .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    val viaRewrite = graft.operators.Pq.topKIndexed(spark, tmp, queries, k = 5, nProbe = 8)
      .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    assert(viaAppend == viaRewrite, "append must equal the full rewrite")

    // exact re-rank: the two-stage search returns the TRUE cosine order
    // over the candidate pool — every returned score equals the brute
    // cosine, and twins land at rank 1 with score ~1.0
    val rr = graft.operators.Pq.topKIndexedReranked(
      spark, tmp, queries, corpus, k = 3, nProbe = 8)
    val top1 = rr.filter(col("rank") === 1L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    val twinsAt1 = top1.count { case (q, (n, s)) => n == q + 10000L && s >= 0.999999 }
    assert(twinsAt1 >= 36, s"exact re-rank must put twins at rank 1: $twinsAt1/40")
  }

  test("fused PQ training == m independent single-subspace fits (the unfused shape)") {
    // Pq.train fuses all m subspace Lloyd fits into one aggregation job
    // per iteration (r14 optimization). The fusion claim is that subspace
    // fits are independent: subspace j's codebook must be EXACTLY what a
    // lone m=1 fit over the sliced corpus produces (same init — the id
    // hash picks the same rows — same assignments, same decimal means).
    val m = 8
    val dsub = 8
    val fused = graft.operators.Pq.train(emb, m = m, k = 16, iters = 2)
    (0 until m).foreach { j =>
      val sliced = emb.select(
        col("vec_id"), slice(col("embedding"), j * dsub + 1, dsub).as("embedding"))
      val solo = graft.operators.Pq.train(sliced, m = 1, k = 16, iters = 2)
      assert(solo.codebooks.head.flatten.toSeq == fused.codebooks(j).flatten.toSeq,
        s"subspace $j diverged from its independent fit")
    }
  }

  test("Pq.train(m=1) == the Ivf.train Lloyd fit (the legacy unfused path)") {
    // the other half of the fused-training pin (r14 advisory): the fused
    // kernel at m=1 must reproduce the ORIGINAL single-codebook Lloyd fit
    // exactly — Ivf.train shares the init rule (k smallest id-hashes), the
    // flat-argmin assignment, and the decimal-mean accumulation, so any
    // drift in the fused rewrite shows up as a bit difference here.
    val viaPq = graft.operators.Pq.train(emb, m = 1, k = 16, iters = 2)
    val viaIvf = Ivf.train(emb, c = 16, iters = 2)
    assert(viaPq.codebooks.head.map(_.toSeq).toSeq == viaIvf.centroids.map(_.toSeq).toSeq,
      "m=1 fused training must be bit-identical to the direct Lloyd fit")
  }

  /** Every centroid element's bits: NaN-safe, and -0.0 differs from 0.0. */
  private def bits(m: Array[Array[Float]]): Seq[Int] =
    m.toSeq.flatMap(_.map(java.lang.Float.floatToRawIntBits))

  private def bitsOf(m: Ivf.Model): Seq[Int] = m.tree.flatMap(bits)

  /** `body`'s value and the number of Spark jobs it ran. */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.GraftTestBus.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  test("driver-path training is bit-identical to the distributed path") {
    import spark.implicits._
    val nanRow = Seq((999L, Array.fill(64)(Float.NaN)), (998L, Array.tabulate(64)(i => if (i % 3 == 0) Float.NaN else 0.5f)))
      .toDF("vec_id", "embedding")
    val nanCorpus = emb.filter(col("vec_id") < 50).select("vec_id", "embedding").unionByName(nanRow)
    // duplicate init vectors: 6 lists over 3 distinct vectors, so three
    // centroids tie with a lower index and keep their init
    val dup = (1L to 30L).map(i => (i, Array.fill(8)((i % 3).toFloat))).toDF("vec_id", "embedding")
    val fixtures = Seq(
      ("sf0.001, c = 16", emb, 16, 0L),
      ("c beyond the row count", emb.filter(col("vec_id") < 5), 32, 0L),
      ("empty clusters", dup, 6, 0L),
      ("NaN embeddings", nanCorpus, 4, 0L),
      ("maxTrainRows sample", emb, 16, 200L),
      ("int ids", emb.withColumn("vec_id", col("vec_id").cast("int")), 8, 0L))
    fixtures.foreach { case (name, corpus, c, cap) =>
      val (driver, driverJobs) = jobs(Ivf.train(corpus, c, iters = 3, maxTrainRows = cap))
      val (dist, distJobs) = jobs(Ivf.trainDistributed(corpus, c, iters = 3, maxTrainRows = cap))
      assert(driver.c == dist.c && bitsOf(driver) == bitsOf(dist), s"Ivf.train, $name")
      // the driver path ran: the gate and its collect, after the sample's
      // count (a map and a result job)
      assert(driverJobs <= (if (cap > 0) 4 else 2) && distJobs > driverJobs + 2,
        s"$name: jobs $driverJobs vs $distJobs")
      val pqDriver = graft.operators.Pq.train(corpus, m = 2, k = c, iters = 2, maxTrainRows = cap)
      val pqDist = graft.operators.Pq.trainDistributed(corpus, m = 2, k = c, iters = 2, maxTrainRows = cap)
      assert(pqDriver.codebooks.toSeq.flatMap(bits) == pqDist.codebooks.toSeq.flatMap(bits), s"Pq.train, $name")
    }
    val dupModel = Ivf.train(dup, 6, iters = 3)
    assert(dupModel.centroids.map(_.toSeq).distinct.length == 3, "the tied centroids stay empty")
    // a hierarchical tree: nested level samples (500 rows > 48 x 4) and
    // per-parent init, with and without a training sample
    for (cap <- Seq(0L, 300L)) {
      val driver = Ivf.trainHier(emb, leaves = 16, branch = 4, iters = 2, maxTrainRows = cap)
      val dist = Ivf.trainHierDistributed(emb, leaves = 16, branch = 4, iters = 2, maxTrainRows = cap)
      assert(driver.levels.length == 1 && bitsOf(driver) == bitsOf(dist), s"Ivf.trainHier, maxTrainRows = $cap")
    }
  }

  test("training that fails on the distributed path fails alike on small inputs") {
    import spark.implicits._
    // the NaN vector is the init with the smallest id hash: cluster 0 then
    // holds only NaN rows, whose decimal mean is null
    val ids = (1L to 6L).toDF("vec_id")
    val nanId = ids.select(col("vec_id"), xxhash64(col("vec_id")).as("h"))
      .orderBy("h", "vec_id").head().getLong(0)
    val corpus = (1L to 6L).map { i =>
      (i, if (i == nanId) Array.fill(4)(Float.NaN) else Array.fill(4)(i.toFloat))
    }.toDF("vec_id", "embedding")
    val driver = intercept[Exception](Ivf.train(corpus, c = 6, iters = 1))
    val dist = intercept[Exception](Ivf.trainDistributed(corpus, c = 6, iters = 1))
    assert(driver.getClass == dist.getClass && driver.getMessage == dist.getMessage, s"$driver vs $dist")
    // mixed vector lengths and null vectors keep their distributed outcome
    val mixed = Seq((1L, Array(1f, 2f)), (2L, Array(1f, 2f, 3f)), (3L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val mixedDriver = intercept[Exception](Ivf.train(mixed, c = 2, iters = 1))
    val mixedDist = intercept[Exception](Ivf.trainDistributed(mixed, c = 2, iters = 1))
    assert(mixedDriver.getClass == mixedDist.getClass, s"$mixedDriver vs $mixedDist")
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(intercept[IllegalArgumentException](Ivf.train(empty, c = 2)).getMessage.contains("empty corpus"))
  }

  test("balancedSample: exact hash-order keeps per bucket, cap respected, deterministic") {
    val model = Ivf.train(emb, c = 8, iters = 2)
    val perList = 5
    val kept = Ivf.balancedSample(emb, model, perList, seed = 3L)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // expected: per bucket, the perList ids smallest by (xxhash64(id, 3), id)
    val assigned = emb
      .select(col("vec_id"), Ivf.nearestCentroid(col("embedding"), model).as("b"),
        xxhash64(col("vec_id"), lit(3L)).as("h"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val expected = assigned.groupBy(_._2).toSeq.flatMap { case (b, rows) =>
      rows.sortBy(r => (r._3, r._1)).take(perList).map(r => (r._1, b))
    }.toSet
    assert(kept.toSet == expected, "keep set must be the per-bucket hash-order prefix")
    // every nonempty bucket contributes min(cap, size)
    val sizes = assigned.groupBy(_._2).map { case (b, rows) => b -> rows.length }
    val keptSizes = kept.groupBy(_._2).map { case (b, rows) => b -> rows.length }
    sizes.foreach { case (b, n) =>
      assert(keptSizes.getOrElse(b, 0) == math.min(n, perList), s"bucket $b: $n") }
    // deterministic run to run; different seed selects a different prefix
    val again = Ivf.balancedSample(emb, model, perList, seed = 3L)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(again == kept.toSet)
    // the lossless hash prefilter (engaged: sf0.001 buckets hold hundreds
    // of rows >> 4*perList) must change NOTHING vs the full window
    val noPf = Ivf.balancedSample(emb, model, perList, seed = 3L, prefilter = false)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(noPf == kept.toSet, "prefilter must be invisible in the output")
    // perList = 1 stresses the tightest threshold (expected survivors ~8
    // per bucket); the verification fallback keeps it exact regardless
    val one = Ivf.balancedSample(emb, model, 1, seed = 11L).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val oneFull = Ivf.balancedSample(emb, model, 1, seed = 11L, prefilter = false)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(one == oneFull, "perList = 1 prefilter path must stay exact")
    // the per-bucket window must not carry the embedding vectors
    val plan = Ivf.balancedSample(emb, model, perList, seed = 3L)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    exchanges.foreach(keys =>
      assert(!keys.contains("embedding"), s"no vectors on the sample shuffle: $keys"))
  }

  test("balancedSampleBy: the model-free group cap matches the model form's keep rule exactly") {
    import spark.implicits._
    val perGroup = 4
    val kept = Ivf.balancedSampleBy(emb, "label", perGroup, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // expected: per label, the perGroup ids smallest by (xxhash64(id, 7), id)
    val rows = emb
      .select(col("vec_id"), col("label"), xxhash64(col("vec_id"), lit(7L)).as("h"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (b, rs) =>
      rs.sortBy(r => (r._3, r._1)).take(perGroup).map(r => (r._1, b))
    }.toSet
    assert(kept.toSet == expected, "keep set must be the per-group hash-order prefix")
    // prefilter invisible here too (string/int group keys ride the same
    // generic threshold frame)
    val noPf = Ivf.balancedSampleBy(emb, "label", perGroup, seed = 7L, prefilter = false)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(noPf == kept.toSet, "prefilter must be invisible in the output")
    // a STRING group column exercises the generic bucket type end to end,
    // and null groups are excluded (a null key is no group)
    val tagged = emb.withColumn("dom",
      when(col("vec_id") % 5 === 0, lit(null: String))
        .otherwise(concat(lit("d"), (col("vec_id") % 3).cast("string"))))
    val byDom = Ivf.balancedSampleBy(tagged, "dom", 2, seed = 1L, idCol = "vec_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(byDom.groupBy(_._2).values.forall(_.length <= 2), "cap holds per string group")
    assert(byDom.forall(_._2 != null), "null groups are excluded")
    assert(byDom.map(_._2).toSet == Set("d0", "d1", "d2"))
  }

  test("balancedSample under a hierarchical model uses the same quantizer as assignment") {
    val model = Ivf.trainHier(emb, leaves = 16, branch = 4, iters = 1)
    val kept = Ivf.balancedSample(emb, model, perList = 3, seed = 0L)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val buckets = emb
      .select(col("vec_id"), Ivf.nearestCentroid(col("embedding"), model).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    kept.foreach { case (id, b) =>
      assert(buckets(id) == b, s"sample bucket must equal assignment bucket for $id") }
    assert(kept.groupBy(_._2).values.forall(_.length <= 3), "cap holds per leaf")
  }

  test("PQ codebook staleness: shifted appends trip needsRebuild; rebuildIndex retrains and resets") {
    import graft.operators.Pq
    val tmp = java.nio.file.Files.createTempDirectory("graft_pqdrift_").toString
    val coarse = Ivf.train(emb, c = 8, iters = 2)
    val pq = Pq.train(emb, m = 8, k = 32, iters = 2)
    Pq.writeIndex(emb, coarse, pq, tmp)
    assert(!Pq.needsRebuild(spark, tmp), "a fresh index has no appends to drift")

    // in-distribution append (the build corpus re-idd): quantizes exactly
    // as well as the build did — the gate must stay quiet
    val inDist = emb.filter(col("vec_id") % 2 === 0)
      .withColumn("vec_id", col("vec_id") + 100000L)
    Pq.appendToIndex(inDist, tmp)
    assert(!Pq.needsRebuild(spark, tmp), "in-distribution appends must not trip the gate")

    // drifted append (affine-shifted vectors): encodes badly under the
    // build-time codebooks — the silent-ADC-degradation case the gate exists
    // for. needsRebuild is the ONLY way to see it (the lists store codes)
    val drifted = emb.filter(col("vec_id") % 2 === 1)
      .withColumn("vec_id", col("vec_id") + 200000L)
      .withColumn("embedding",
        transform(col("embedding"), x => (x * lit(7.0f) + lit(3.0f)).cast("float")))
    Pq.appendToIndex(drifted, tmp)
    assert(Pq.needsRebuild(spark, tmp), "a shifted distribution must trip the gate")

    // rebuild over the uncompressed union: codebooks retrain (the drifted
    // region now has codewords), the baseline resets, and search still
    // answers over the full id space
    val full = emb.unionByName(inDist).unionByName(drifted)
    Pq.rebuildIndex(full, tmp, iters = 2)
    assert(!Pq.needsRebuild(spark, tmp), "rebuild must reset the staleness baseline")
    val got = Pq.topKIndexed(spark, tmp, queries, k = 5, nProbe = 8)
    assert(got.groupBy("q_id").count().head().getLong(1) == 5L)
    val ids = got.select("n_id").collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty)
  }

  test("compactIndexSegments rerun after a crash between swap and segs delete does not duplicate") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfcrash_").toString
    val half = emb.filter(col("vec_id") % 2 === 0)
    val model = Ivf.train(half, c = 8, iters = 2)
    Ivf.writeIndex(half, model, tmp)
    val seg = emb.filter(col("vec_id") % 2 =!= 0)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
        graft.functions.VectorOps.normSq(col("embedding")).as("n_nsq"),
        Ivf.nearestCentroid(col("embedding"), model).as("bucket"))
    Ivf.writeListSegment(seg, tmp, "seg_batch_000000")
    // crash simulation: run the compaction (lists now hold the folded
    // rows), then RESTORE the segment directory — exactly the state a
    // crash after swapInto but before the segs delete leaves behind
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segsDir = new org.apache.hadoop.fs.Path(s"$tmp/segs")
    val segsCopy = new org.apache.hadoop.fs.Path(s"$tmp/../${new java.io.File(tmp).getName}_segs_copy")
    org.apache.hadoop.fs.FileUtil.copy(fs, segsDir, fs, segsCopy, false,
      spark.sparkContext.hadoopConfiguration)
    Ivf.compactIndexSegments(spark, tmp)
    org.apache.hadoop.fs.FileUtil.copy(fs, segsCopy, fs, segsDir, true,
      spark.sparkContext.hadoopConfiguration)
    // the rerun must fold WITHOUT duplicating the already-folded rows
    Ivf.compactIndexSegments(spark, tmp)
    val lists = spark.read.parquet(s"$tmp/lists")
    assert(lists.count() == emb.count(), "rerun must not duplicate vectors")
    assert(lists.groupBy("n_id").count().filter(col("count") > 1).count() == 0,
      "no n_id may appear twice after a crash-rerun compaction")
  }

  test("rebuildIndex publishes a generation behind _LISTS: fold set retired atomically, gc sweeps after drain") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfgen_").toString
    val base = emb.filter(col("vec_id") < 400)
    Ivf.writeIndex(base, Ivf.train(base, c = 8, iters = 2), tmp)
    // the fold set: a streamed segment and a takedown land BEFORE the
    // rebuild (both must fold into the new generation); the segment is
    // assigned with the stored model, exactly like the streaming ingest
    val stored = Ivf.readModel(spark, tmp)
    val late = emb.filter(col("vec_id") >= 400 && col("vec_id") < 420)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
        graft.functions.VectorOps.normSq(col("embedding")).as("n_nsq"),
        Ivf.nearestCentroid(col("embedding"), stored).as("bucket"))
    Ivf.writeListSegment(late, tmp, "seg_batch_000000")
    Ivf.deleteFromIndex(Seq(1L, 3L).toDF("vec_id"), tmp)
    Ivf.rebuildIndex(spark, tmp, lists = 8, iters = 2)
    // the pointer names the new generation; the superseded legacy trees
    // and the absorbed segment dir OUTLIVE the flip until readers drain
    val ptr = new java.io.File(s"$tmp/_LISTS")
    assert(ptr.exists(), "rebuild must publish behind the pointer")
    val gen = new String(java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8").trim
    assert(gen == "gen_v1", s"first generation (saw $gen)")
    assert(new java.io.File(s"$tmp/lists").exists(),
      "the superseded root outlives the flip until readers drain")
    assert(new java.io.File(s"$tmp/segs/seg_batch_000000").exists(),
      "the absorbed segment dir outlives the flip until readers drain")
    val want = (0L until 400L).toSet -- Set(1L, 3L) ++ (400L until 420L).toSet
    val ids = spark.read.parquet(s"$tmp/$gen/lists").select("n_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == want, "snapshot vectors + streamed segment - takedowns, exactly")
    val stats = Ivf.indexStats(spark, tmp)
    assert(stats("graft.ivf.rows").toLong == want.size.toLong,
      s"the absorbed segment must not be served twice: $stats")
    assert(stats("graft.ivf.growth").toDouble == 1.0, s"rebuild resets growth: $stats")
    // search over the live view == brute force at nProbe = C
    val union = emb.filter(col("vec_id") < 420 && !col("vec_id").isin(1L, 3L))
    val exact = Similarity.bruteForceTopK(union, queries, k = 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def got() = Ivf.topKIndexed(spark, tmp, queries, k = 5, nProbe = 8)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got() == exact, "post-flip search must equal brute force over the live view")
    // drain-safe sweep: legacy trees + absorbed segment go; nothing
    // observable changes
    assert(Ivf.gcIndexSegments(spark, tmp) >= 2L)
    assert(!new java.io.File(s"$tmp/lists").exists(), "legacy lists swept")
    assert(!new java.io.File(s"$tmp/centroids").exists(), "legacy centroids swept")
    assert(!new java.io.File(s"$tmp/segs/seg_batch_000000").exists(), "absorbed segment swept")
    assert(got() == exact, "gc must not change any ranking")
    // a second rebuild re-publishes (gen_v2) with identical contents
    Ivf.rebuildIndex(spark, tmp, lists = 8, iters = 2)
    assert(new String(java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8").trim == "gen_v2")
    assert(got() == exact, "re-rebuild is invisible to search")
    assert(Ivf.indexStats(spark, tmp)("graft.ivf.rows").toLong == want.size.toLong)
  }

  test("a rebuild crash before the flip leaves the old generation serving; the rerun publishes cleanly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfcrash_").toString
    val base = emb.filter(col("vec_id") < 400)
    Ivf.writeIndex(base, Ivf.train(base, c = 8, iters = 2), tmp)
    def got() = Ivf.topKIndexed(spark, tmp, queries, k = 5, nProbe = 8)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = got()
    // the crash state rebuildIndex leaves when the JVM dies mid-publish:
    // a PARTIAL generation dir, no pointer — the serving trees were never
    // touched (the whole point of the generation discipline; the old
    // in-place rewrite destroyed lists/ here)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$tmp/gen_v1/lists"))
    assert(got() == before, "an unreferenced partial generation is invisible")
    assert(!new java.io.File(s"$tmp/_LISTS").exists())
    // the rerun publishes a FRESH generation and flips; the junk dir sweeps
    Ivf.rebuildIndex(spark, tmp, lists = 8, iters = 2)
    val gen = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$tmp/_LISTS").toPath), "UTF-8").trim
    assert(gen == "gen_v2", s"the rerun must not reuse the crashed dir (saw $gen)")
    assert(got() == before,
      "deterministic retrain over unchanged contents must not move any ranking")
    Ivf.gcIndexSegments(spark, tmp)
    assert(!new java.io.File(s"$tmp/gen_v1").exists(), "the crashed partial generation sweeps")
    assert(got() == before)
  }

  test("segments assigned by a superseded generation probe in their OWN bucket space until compaction") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfmixed_").toString
    val base = emb.filter(col("vec_id") < 400)
    Ivf.writeIndex(base, Ivf.train(base, c = 8, iters = 2), tmp)
    val oldModel = Ivf.readModel(spark, tmp)
    Ivf.rebuildIndex(spark, tmp, lists = 8, iters = 2) // -> gen_v1 serves
    // the drain window: a segment assigned under the OLD quantizer lands
    // beside the flip (its batch ran readModel before the pointer moved)
    val late = emb.filter(col("vec_id") >= 400 && col("vec_id") < 430)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
        graft.functions.VectorOps.normSq(col("embedding")).as("n_nsq"),
        Ivf.nearestCentroid(col("embedding"), oldModel).as("bucket"))
    // written through the REAL ingest path: the caller passes the
    // generation whose model assigned the buckets (the in-flight-batch
    // contract — a write-time pointer re-read would stamp gen_v1 onto
    // old-model buckets and every row here would be pruned in the wrong
    // bucket space forever, the exact leak the r14 semantic soak caught)
    Ivf.writeListSegment(late, tmp, "seg_batch_000001", assignedGen = Some(""))
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genStamp = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/segs/seg_batch_000001/_GEN")), "UTF-8").trim
    assert(genStamp == "", s"segment must carry its ASSIGNING generation, got '$genStamp'")
    // nProbe = 1 is the sharp test: each probe reads ONE bucket per
    // generation space. A copy-query of every old-gen vector must come
    // back as its own top hit at score 1.0 — pruning those rows with
    // CURRENT-generation bucket ids would miss every vector whose two
    // assignments differ (virtually certain across 30 vectors and 8x8
    // bucket spaces)
    val copies = emb.filter(col("vec_id") >= 400 && col("vec_id") < 430)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val hits = Ivf.topKIndexed(spark, tmp, copies, k = 1, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(hits.length == 30, s"every copy-query must hit (got ${hits.length})")
    hits.foreach { case (q, n, s) =>
      assert(n == q - 100000L && s == 1.0, s"own-space probe must find the twin: ($q, $n, $s)")
    }
    // the streaming micro-probe sees the old-generation rows the same way
    val batch = Seq((900000L, emb.filter(col("vec_id") === 405L)
      .select("embedding").head().getAs[scala.collection.Seq[Float]](0).toSeq))
      .toDF("vec_id", "embedding")
    val (assigned, pairs, _) = Ivf.semanticMicroPairs(batch, tmp, 0.999, "vec_id", "embedding")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.core.Stage.free(assigned); graft.core.Stage.free(pairs)
    assert(got.contains((405L, 900000L)),
      s"micro-probe must pair against the old-generation segment: $got")
    // gc must NOT sweep the quantizer a live segment still probes with
    Ivf.gcIndexSegments(spark, tmp)
    assert(new java.io.File(s"$tmp/centroids").exists(),
      "a referenced superseded quantizer survives gc")
    // stop-the-world compaction re-assigns everything into the current
    // generation and retires the superseded one; search is unchanged
    Ivf.compactIndexSegments(spark, tmp)
    assert(!new java.io.File(s"$tmp/segs").exists(), "segments folded away")
    assert(!new java.io.File(s"$tmp/centroids").exists(),
      "the superseded quantizer retires with its last segment")
    val hits2 = Ivf.topKIndexed(spark, tmp, copies, k = 1, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    hits2.foreach { case (q, n, s) =>
      assert(n == q - 100000L && s == 1.0, s"post-compaction twin lookup: ($q, $n, $s)")
    }
  }
}
