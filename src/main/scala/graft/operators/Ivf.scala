package graft.operators

import graft.core.{Parquet, SegmentLog, Stage}
import graft.functions.VectorOps
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-flat approximate nearest neighbors: a coarse k-means quantizer
  * partitions the corpus into C inverted lists; a query scans only the
  * `nProbe` lists whose centroids are nearest. The other classic ANN scale
  * path next to hyperplane LSH ([[Similarity.lshTopK]]): recall/cost tuned
  * by (C, nProbe) instead of (tables, planes).
  *
  * Training is a few Lloyd iterations, DETERMINISTIC: init = C vectors
  * chosen by id hash order; assignment via the centroid kernel;
  * per-dimension means accumulated in DECIMAL (exact, so independent of
  * partitioning/row order — float means would make centroids, and
  * therefore results, nondeterministic run to run). A training input that
  * fits [[graft.core.Stage.DriverBudget]] is fitted in driver memory,
  * bit-identical to the distributed fit ([[TrainSet]]); a larger one is
  * fitted by Spark jobs, and then only the C x dim centroid matrix (model
  * metadata, not data) reaches the driver.
  */
object Ivf {

  /** `centroids` is the FLAT leaf matrix (index = bucket id — what the
    * on-disk index partitions by). `levels` is non-empty for a HIERARCHICAL
    * quantizer: the internal tree matrices top-down (sizes multiplying down
    * to `centroids`), which make both assignment and probing a beam descend
    * (`O(b * log_b C * dim)` per row) instead of a flat `O(C * dim)` scan —
    * the property that keeps corpus-side assignment near-linear when the
    * list count grows with the corpus (constant target list size). */
  final case class Model(centroids: Array[Array[Float]], levels: Seq[Array[Array[Float]]] = Nil) {
    def c: Int = centroids.length
    private[graft] def tree: Seq[Array[Array[Float]]] = levels :+ centroids
  }

  private[operators] def hierProbesCol(vec: Column, tree: Seq[Array[Array[Float]]], k: Int): Column =
    call_function("graft_hier_probes", vec,
      typedLit(tree.flatten.toArray), typedLit(tree.map(_.length).toArray), lit(k))

  /** Squared-L2 argmin is equivalent to argmin of `-2 q.c + ||c||^2` (the
    * `||q||^2` term is constant per row). Lowers to the native fused
    * [[graft.plans.CentroidProbes]] expression: all C distances + top-k
    * selection in one loop over a flat primitive matrix (the composed
    * `transform`/`element_at`/`array_min` form evaluated the distance array
    * twice and re-compiled a centroid-matrix-inlined codegen per job).
    * A hierarchical model routes to [[graft.plans.HierCentroidProbes]]
    * (width-k beam descend) — assignment and query probing share ONE
    * quantizer, so a corpus row's bucket is always reachable by a query
    * probing the same vector (the consistency IVF search correctness
    * rests on). */
  private def probes(vec: Column, model: Model, k: Int): Column =
    // clamp to the list count: train() clamps c to the corpus size, so a
    // caller's nProbe may exceed model.c (probe-everything, not an error)
    if (model.levels.isEmpty)
      call_function("graft_centroid_probes", vec, typedLit(model.centroids),
        lit(math.min(k, model.c)))
    else hierProbesCol(vec, model.tree, math.min(k, model.c))

  /** Index of the nearest centroid (0-based; ties -> lowest index). */
  def nearestCentroid(vec: Column, model: Model): Column =
    element_at(probes(vec, model, 1), 1)

  /** Indices of the `nProbe` nearest centroids, 0-based, ascending by
    * (distance, index). */
  def probeCentroids(vec: Column, model: Model, nProbe: Int): Column =
    probes(vec, model, nProbe)

  /** CLUSTER-BALANCED sampling — the diversity-aware selection step of the
    * embedding-space curation recipes (SemDeDup and the density-pruning
    * family sample per k-means cluster so dense regions of embedding space
    * cannot dominate a training mix): assign each vector to its quantizer
    * bucket and keep at most `perList` per bucket, chosen in deterministic
    * `xxhash64(id, seed)` order — the same (corpus, model, seed) always
    * selects the same rows. Returns (id, bucket) keep rows.
    *
    * Scale design: assignment is the map-side centroid kernel (beam
    * descend for a hierarchical model); the embedding column is DROPPED
    * before the per-bucket rank window, so the one exchange carries
    * (id, bucket, hash) — never vectors. */
  def balancedSample(
      corpus: DataFrame,
      model: Model,
      perList: Int,
      seed: Long = 0L,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      prefilter: Boolean = true): DataFrame = {
    // un-assignable rows (null / wrong-dimension / null-element vectors
    // make the kernel return a NULL bucket) are EXCLUDED: they belong to
    // no cluster, and an unfiltered null bucket would NPE the driver's
    // prefilter count collect (get on null) and crash the job
    val assigned = corpus.select(
      col(idCol),
      nearestCentroid(col(vecCol), model).as("bucket"),
      xxhash64(col(idCol), lit(seed)).as("_h"))
      .filter(col("bucket").isNotNull)
    balancedKeep(assigned, perList, idCol, prefilter)
  }

  /** [[balancedSample]] generalized to an ARBITRARY grouping column — the
    * model-free diversity cap ("at most `perGroup` documents per domain /
    * language / source"): keep at most `perGroup` rows per distinct
    * `groupCol` value, chosen in deterministic `xxhash64(id, seed)` order.
    * Same lossless hash prefilter and exact-window semantics as the
    * quantizer-bucket form; null groups are excluded (a null key is no
    * group). Returns (id, bucket) keep rows. Being closed-form (no trained
    * model), this form is fully oracle-checkable end to end. */
  def balancedSampleBy(
      corpus: DataFrame,
      groupCol: String,
      perGroup: Int,
      seed: Long = 0L,
      idCol: String = "vec_id",
      prefilter: Boolean = true): DataFrame =
    balancedKeep(
      corpus.select(
        col(idCol),
        col(groupCol).as("bucket"),
        xxhash64(col(idCol), lit(seed)).as("_h"))
        .filter(col("bucket").isNotNull),
      perGroup, idCol, prefilter)

  /** The shared keep kernel over (id, bucket, _h) rows, generic in the
    * bucket type. */
  private def balancedKeep(
      assigned: DataFrame,
      perList: Int,
      idCol: String,
      prefilter: Boolean): DataFrame = {
    require(perList > 0, "perList must be positive")
    // LOSSLESS hash prefilter (the tokenBudget discipline: exactness over
    // the shortcut): the per-bucket rank window puts a whole bucket in ONE
    // task — fine for the slim (id, bucket, hash) rows at test scale, a
    // one-task sort of a billion-row hot list at 100 TB. Since keeps are
    // the perList SMALLEST uniform hashes, rows above a per-bucket
    // threshold at ~4x the expected k-th order statistic cannot win; the
    // verification pass falls any bucket whose survivor count dipped under
    // min(perList, size) back to its full row set, so the output is the
    // exact window answer regardless of how the tail probability lands.
    val spark = assigned.sparkSession
    def window(survivors: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("bucket")).orderBy(col("_h"), col(idCol))
      survivors
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= perList)
        .select(col(idCol), col("bucket"))
    }
    if (!prefilter) window(assigned) else Stage.scope { s =>
      // the prefilter makes multiple passes (counts, candidates, rare
      // fallback): materialize the slim (id, bucket, hash) rows once so
      // the assignment kernel runs over the corpus exactly once
      val a = s(assigned)
      val counts = a.groupBy("bucket").count().collect()
        .map(r => r.get(0) -> r.getLong(1)) // model-sized: one row per list
      val span = 1.8446744073709552e19 // 2^64 as double (exact power of two)
      val thrRows = counts.map { case (b, c) =>
        val thr =
          if (c <= 4L * perList) Long.MaxValue
          else {
            val frac = math.min(1.0, 4.0 * (perList + 1).toDouble / c.toDouble)
            val t = Long.MinValue.toDouble + frac * span
            if (t >= Long.MaxValue.toDouble) Long.MaxValue else t.toLong
          }
        org.apache.spark.sql.Row(b, thr)
      }
      val survivors = if (thrRows.forall(_.getLong(1) == Long.MaxValue)) a else {
        val thrDf = spark.createDataFrame(
          java.util.Arrays.asList(thrRows: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              "bucket", assigned.schema("bucket").dataType),
            org.apache.spark.sql.types.StructField(
              "_thr", org.apache.spark.sql.types.LongType))))
        // verified then windowed: scan the corpus once
        val cand = s(a.join(broadcast(thrDf), Seq("bucket"))
          .filter(col("_h") <= col("_thr")).drop("_thr"))
        val got = cand.groupBy("bucket").count().collect()
          .map(r => r.get(0) -> r.getLong(1)).toMap[Any, Long]
        val fallback = counts.collect {
          case (b, c) if got.getOrElse(b, 0L) < math.min(c, perList.toLong) => b
        }
        if (fallback.isEmpty) cand
        else cand.filter(!col("bucket").isin(fallback: _*))
          .unionByName(a.filter(col("bucket").isin(fallback: _*)))
      }
      // keep-list-sized (<= perList * lists): the corpus-length prefilter
      // passes are freed once it has materialized, so a loop of
      // balancedSample calls cannot accumulate corpus-sized checkpoints
      s(window(survivors))
    }
  }

  /** Train C centroids with `iters` Lloyd iterations. Cluster count is
    * clamped to the corpus size (requesting 32 lists over 20 vectors must
    * not crash); an empty corpus is a caller error.
    *
    * `maxTrainRows` > 0 trains on a deterministic hash-sample of at most
    * ~that many vectors (the standard coarse-quantizer practice — e.g.
    * FAISS samples ~tens of vectors per centroid): assignment cost per
    * Lloyd iteration is rows x C x dim, and a deployment that grows C with
    * the corpus to keep list sizes constant would otherwise pay a QUADRATIC
    * training bill (measured: 36x wall for 10x corpus at C = n/120,
    * SemanticProbe). ~40-50 rows per centroid loses nothing a coarse
    * quantizer cares about; 0 keeps the exact full-corpus training.
    *
    * The (sampled) input passes the [[graft.core.Stage.Scope.localOr]]
    * gate: within the driver budget the Lloyd rounds run in driver memory
    * (2 Spark jobs, whatever `iters`), beyond it as one aggregation job
    * per round over the checkpoint ([[TrainSet.Rows.lloyd]]). The
    * centroids are the same bits either way. */
  def train(
      corpus: DataFrame,
      c: Int,
      iters: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxTrainRows: Long = 0L): Model =
    TrainSet.fit(corpus, idCol, vecCol, maxTrainRows, driver = true)(flatFit(_, c, iters))

  /** [[train]] on the distributed path whatever the input size — the
    * reference the driver path is tested against. */
  private[graft] def trainDistributed(
      corpus: DataFrame,
      c: Int,
      iters: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxTrainRows: Long = 0L): Model =
    TrainSet.fit(corpus, idCol, vecCol, maxTrainRows, driver = false)(flatFit(_, c, iters))

  private def flatFit(t: TrainSet, c: Int, iters: Int): Model = {
    // deterministic init: the C vectors with smallest xxhash64(id)
    val init = t.first(c)
    require(init.nonEmpty, "Ivf.train: empty corpus")
    Model(t.lloyd(init, iters, TrainSet.Flat))
  }

  /** Train a HIERARCHICAL model: a `branch`-ary centroid tree whose leaf
    * level has `leaves` inverted lists (rounded up to a multiple of
    * `branch^(depth-1)` for the divisibility the beam kernel descends by),
    * `depth = ceil(log_branch leaves)`. Levels train top-down: level 0 is a
    * flat Lloyd fit of `branch` centroids; each deeper level initializes its
    * children from deterministic per-parent-bucket samples and refines with
    * Lloyd under GREEDY TREE ASSIGNMENT (grouped k-means — a row only moves
    * among its parent's children). Per-row assignment during training and
    * indexing costs `O(branch * depth * dim)` instead of the flat
    * `O(leaves * dim)`: with the training sample growing linearly in the
    * corpus (constant rows-per-centroid) total training cost is
    * `O(sampleRows * branch * depth^2 * dim)` — linear-with-log-factors in
    * corpus size, the scale fix for the flat trainer's quadratic default
    * when `leaves` tracks corpus size (measured 14x wall for 10x corpus at
    * C = n/120, SemanticProbe round 6). `leaves <= branch` falls back to
    * the flat trainer: a depth-1 tree IS the flat model. The input passes
    * the same driver gate as [[train]]'s. */
  def trainHier(
      corpus: DataFrame,
      leaves: Int,
      branch: Int = 32,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxTrainRows: Long = 0L): Model =
    hierOn(driver = true, corpus, leaves, branch, iters, idCol, vecCol, maxTrainRows)

  /** [[trainHier]] on the distributed path whatever the input size — the
    * reference the driver path is tested against. */
  private[graft] def trainHierDistributed(
      corpus: DataFrame,
      leaves: Int,
      branch: Int = 32,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxTrainRows: Long = 0L): Model =
    hierOn(driver = false, corpus, leaves, branch, iters, idCol, vecCol, maxTrainRows)

  private def hierOn(
      driver: Boolean,
      corpus: DataFrame,
      leaves: Int,
      branch: Int,
      iters: Int,
      idCol: String,
      vecCol: String,
      maxTrainRows: Long): Model = {
    require(branch >= 2, s"Ivf.trainHier: branch=$branch must be >= 2")
    TrainSet.fit(corpus, idCol, vecCol, maxTrainRows, driver) { t =>
      if (leaves <= branch) flatFit(t, leaves, iters) else hierFit(t, leaves, branch, iters)
    }
  }

  private def hierFit(t: TrainSet, leaves: Int, branch: Int, iters: Int): Model = {
    val nProj = t.n
    // INTERNAL levels refine on a NESTED hash-subsample sized to ~48 rows
    // per centroid of THAT level (the hash criterion of maxTrainRows'
    // sample, so a tighter threshold is a strict subset — no second
    // source scan). A coarse internal split needs far fewer rows than the
    // leaf fit; without this every added tree level re-pays the
    // full-sample Lloyd cost and the 100x->1000x training ratio measured
    // 18.7x instead of ~10x.
    def levelProj(size: Int): TrainSet = {
      val target = 48L * size
      // max(1, ...): a zero threshold would leave an internal level
      // training on an EMPTY sample (its centroids frozen at init) once
      // nProj exceeds buckets * target
      if (nProj <= target) t
      else t.hashSample(math.max(1L, TrainSet.Buckets * target / nProj))
    }
    val init0 = t.first(branch)
    require(init0.nonEmpty, "Ivf.trainHier: empty corpus")
    // corpus smaller than one branching factor: flat-fit what exists
    if (init0.length < branch) Model(t.lloyd(init0, iters, TrainSet.Flat))
    else {
      val depth = math.max(2, math.ceil(math.log(leaves) / math.log(branch)).toInt)
      val sizes = Array.tabulate(depth) { l =>
        if (l < depth - 1) math.pow(branch, l + 1).toInt
        else {
          val p = math.pow(branch, depth - 1).toLong
          (((leaves + p - 1) / p) * p).toInt
        }
      }
      var tree = Vector(levelProj(branch).lloyd(init0, iters, TrainSet.Flat))
      for (l <- 1 until depth) {
        val parents = tree.last
        val cpp = sizes(l) / sizes(l - 1) // children per parent
        // this level's sample: the full projection for the leaf fit, the
        // nested subsample for internal levels
        val lp = if (l == depth - 1) t else levelProj(sizes(l))
        // deterministic init WITHIN each parent's bucket: the cpp sample
        // vectors with smallest xxhash64(id) among the rows greedy-descend
        // assigns to that parent
        val picks = lp.firstPerBucket(tree, cpp)
        val init = Array.tabulate(sizes(l)) { i =>
          // a parent with fewer sampled rows than children pads the missing
          // slots with copies of its own centroid — harmless duplicates
          // (ties go to the lowest index; the copy's list stays empty)
          picks.getOrElse((i / cpp, i % cpp + 1), parents(i / cpp))
        }
        tree = tree :+ lp.lloyd(init, iters, TrainSet.Hier(tree))
      }
      Model(tree.last, tree.init)
    }
  }

  /** Count-driven trainer a deployment calls without sizing anything:
    * `lists = ceil(n / targetListSize)` from one cheap count (parquet footer
    * metadata — no data read), sampled at `rowsPerCentroid` rows per
    * centroid, and HIERARCHICAL ([[trainHier]]) once the list count
    * outgrows `4 * branch` — below that a flat scan of the centroid matrix
    * is already cheaper than a tree descend. This is the default that
    * survives 100x corpus growth unaided: both the list count and the
    * training sample scale linearly while per-row assignment cost stays
    * `O(branch * log leaves)`. */
  def trainAuto(
      corpus: DataFrame,
      targetListSize: Int = 128,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      branch: Int = 32,
      rowsPerCentroid: Int = 48): Model = {
    require(targetListSize >= 1, "targetListSize must be positive")
    val n = corpus.select(col(idCol)).count()
    require(n > 0, "Ivf.trainAuto: empty corpus")
    val lists = math.min(n, math.max(1L, (n + targetListSize - 1) / targetListSize)).toInt
    val sample = rowsPerCentroid.toLong * lists
    if (lists <= 4 * branch) train(corpus, lists, iters, idCol, vecCol, maxTrainRows = sample)
    else trainHier(corpus, lists, branch, iters, idCol, vecCol, maxTrainRows = sample)
  }

  /** Persist an IVF index: the corpus assigned to its inverted lists and
    * written `partitionBy(bucket)` (one directory per list, the on-disk
    * inverted-file layout), plus the centroid matrix as a tiny parquet.
    * Precomputed squared norms ride along so search never touches the
    * vectors twice. Train once, search many — and because `bucket` is a
    * PARTITION column, a search that probes `nProbe` of `c` lists reads
    * only `nProbe/c` of the data (partition pruning), the property that
    * makes IVF an index rather than a full scan at 100 TB. */
  def writeIndex(
      corpus: DataFrame,
      model: Model,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    corpus.select(
      col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      VectorOps.normSq(col(vecCol)).as("n_nsq"),
      nearestCentroid(col(vecCol), model).as("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$path/lists")
    writeQuantizer(spark, model, path)
    import spark.implicits._
    // training-time corpus size: the baseline `needsRebuild` measures
    // growth against (footer-metadata count, no data read)
    Seq(Tuple1(Parquet.read(spark, s"$path/lists").count()))
      .toDF("trained_rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    // a from-scratch build over an existing GENERATIONAL store retracts
    // the pointer last (the buildTextIndex discipline): the just-written
    // legacy trees become the base again and stale generations sweep at
    // the next gc. No-op when `path` is itself a generation dir (the
    // rebuildIndex publish) or a fresh store.
    SegmentLog.fs(spark, path).delete(new Path(path, ListGens.pointer), false)
  }

  /** Persist the quantizer tree, keyed by (level, bucket) with the leaf
    * matrix at level = levels.length — the [[readModel]] format, shared
    * with the PQ-compressed index writer: a hierarchical index reloaded by
    * readModel probes with the SAME beam descend its buckets were assigned
    * by (dropping the internal levels would silently degrade probing to
    * the flat quantizer AND break probe/assignment consistency). */
  private[operators] def writeQuantizer(
      spark: org.apache.spark.sql.SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    model.tree.zipWithIndex.flatMap { case (m, l) =>
      m.zipWithIndex.map { case (v, i) => (l, i, v) }
    }.toSeq
      .toDF("level", "bucket", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Append new vectors to a persisted index WITHOUT retraining: assign with
    * the stored centroid model and append to the existing list partitions —
    * the incremental-ingest path (the reference's L0-append shape: cheap
    * writes now, a rebuild later when [[needsRebuild]] trips). Search after
    * append is IDENTICAL to a full [[writeIndex]] rewrite under the same
    * model (IvfSpec proves it), because assignment depends only on the
    * stored centroids. Returns the number of vectors appended. */
  def appendToIndex(
      newVectors: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Long = {
    val spark = newVectors.sparkSession
    // the CURRENT generation's model and lists, read as one consistent
    // pair (pointer first, then that generation's immutable trees)
    val root = genRoot(SegmentLog.fs(spark, path), path)
    val model = readModelAt(spark, root)
    // count the BATCH, not (after - before) over the whole lists dir: the
    // difference form lists every existing file's footer twice per append
    // and mis-attributes rows under a concurrent appender
    Stage.scope { s =>
      val batch = s(newVectors.select(
        col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        VectorOps.normSq(col(vecCol)).as("n_nsq"),
        nearestCentroid(col(vecCol), model).as("bucket")))
      batch.write.partitionBy("bucket").mode("append").parquet(s"$root/lists")
      batch.count()
    }
  }

  // ---- base GENERATIONS behind the `_LISTS` pointer
  // ---- ([[graft.core.SegmentLog.Generations]]) -----------------------
  //
  // A generation is the atomic unit of QUANTIZER + ASSIGNMENT consistency:
  // `lists/`, `centroids/`, and `meta/` always live together under one
  // generation root (`gen_v<k>/` once a rebuild has published; the legacy
  // layout at the index root itself before any rebuild). [[rebuildIndex]]
  // retrains into a NEW generation invisibly and commits with one atomic
  // pointer write — readers planned against the old generation keep
  // serving through the whole retrain, and a crash at any point before
  // the flip leaves the old generation untouched and authoritative
  // (reference anchor: kv/db/version_set.cpp:920-1018 — LogAndApply
  // publishes new versions beside live readers). Streamed segments carry
  // a `_GEN` marker naming the generation whose quantizer ASSIGNED them;
  // every probe prunes each root in its own generation's bucket space
  // (the per-root `_BUCKETS` discipline of the band and postings stores),
  // so segments written beside a retrain stay exactly searchable across
  // the flip. Superseded generations outlive the flip until readers
  // drain ([[gcIndexSegments]]).

  private val ListGens =
    SegmentLog.Generations("_LISTS", "gen", "", Seq("lists", "centroids", "meta"))

  /** The current generation's NAME: the pointer content, or "" for the
    * legacy root layout. */
  private def genNameOf(fs: FileSystem, path: String): String = ListGens.current(fs, new Path(path))

  /** Directory of a generation by name ("" = the index root itself). */
  private def genDirOf(path: String, gen: String): String =
    if (gen.isEmpty) path else s"$path/$gen"

  /** The current generation's root (lists/centroids/meta live here). */
  private[graft] def genRoot(fs: FileSystem, path: String): String =
    genDirOf(path, genNameOf(fs, path))

  /** The generation that ASSIGNED a segment's rows — its `_GEN` marker;
    * absent (pre-generation segments) means whatever generation was
    * current at write time, which for a store that has never flipped is
    * the current one. */
  private def readSegGen(fs: FileSystem, segDir: Path, curGen: String): String =
    scala.util.Try(SegmentLog.readSmall(fs, new Path(segDir, "_GEN")).trim).getOrElse(curGen)

  /** Segment names a generation's lists ABSORBED at publish time — the
    * retire-list rides INSIDE the generation dir, so the pointer flip
    * atomically both publishes the new lists and retires the segments
    * they folded in (no window where a row is served twice). Carried
    * forward across rebuilds for any still-on-disk dir, so a crash-replay
    * rewrite of a long-retired segment stays excluded. */
  private def readAbsorbed(fs: FileSystem, genDir: String): Set[String] =
    scala.util.Try(SegmentLog.readSmall(fs, new Path(genDir, "_ABSORBED"))).getOrElse("")
      .split("\n").map(_.trim).filter(_.nonEmpty).toSet

  /** Live tombstoned ids (`n_id`), or None when none exist — data-file
    * gated: [[rebuildIndex]] deletes the tombstone files it folded in,
    * which can leave the dir holding only `_SUCCESS`. */
  private def tombsRows(
      spark: org.apache.spark.sql.SparkSession,
      fs: FileSystem, path: String): Option[DataFrame] = {
    val dir = new Path(s"$path/tombs")
    if (!SegmentLog.hasData(fs, dir)) None
    else Some(Parquet.read(spark, dir.toString).select("n_id"))
  }

  /** The index's LIVE rows grouped by ASSIGNING GENERATION:
    * (genName, that generation's quantizer, tombstone-filtered rows of
    * every root it assigned). Each group's `bucket` values are meaningful
    * ONLY in its own generation's space — probes must prune each group
    * with bucket ids computed against ITS model. Data-less roots (a
    * zero-kept micro-batch's segment, an empty-corpus generation) are
    * skipped; a generation with no data-holding roots is dropped. */
  private[graft] def liveGenGroups(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, Model, DataFrame)] = {
    val fs = SegmentLog.fs(spark, path)
    val curGen = genNameOf(fs, path)
    val segs = liveListSegs(spark, path).map(_.dir)
    val byGen: Map[String, Seq[String]] =
      (segs.map(d => readSegGen(fs, d, curGen) -> d.toString)
        :+ (curGen -> s"${genDirOf(path, curGen)}/lists"))
        .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2) }
    val tombs = tombsRows(spark, fs, path)
    byGen.toSeq.sortBy(_._1).flatMap { case (g, roots) =>
      val withData = roots.filter(r => SegmentLog.hasData(fs, new Path(r)))
      if (withData.isEmpty) None
      else {
        val m = readModelAt(spark, genDirOf(path, g))
        val raw = withData.map(Parquet.read(spark, _)).reduce(_ unionByName _)
        val rows = tombs.fold(raw)(t =>
          raw.join(broadcast(t), Seq("n_id"), "left_anti"))
        Some((g, m, rows))
      }
    }
  }

  /** The LIVE streaming segments of a vector index under `segs/`
    * ([[graft.core.SegmentLog.Docs]]). Segments the current generation's
    * lists absorbed at publish retire exactly like folded ones — their rows
    * already live in the base tree. */
  private def liveListSegs(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[SegmentLog.Segment] = {
    val fs = SegmentLog.fs(spark, path)
    SegmentLog.Docs.live(fs, new Path(path), readAbsorbed(fs, genRoot(fs, path))).segments
  }

  /** The index's LIVE inverted lists: the base `lists/` tree plus the live
    * named streaming segments under `segs/` (the replay-idempotent append
    * form of [[writeListSegment]], filtered through the fold-marker
    * protocol of [[liveListSegs]]), minus any tombstoned ids (the takedown
    * path, [[deleteFromIndex]]). Each root is its own bucket-partitioned
    * parquet tree, so a bucket filter prunes partitions in EVERY branch of
    * the union — probed-list reads stay partition-pruned across base and
    * streamed rows alike; the tombstone side is takedown-sized and
    * broadcasts AFTER the pruned scan, so with no tombstones the read is
    * the plain union. */
  private[graft] def readListsWithSegments(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val fs = SegmentLog.fs(spark, path)
    // NOTE: bucket values in this union may span GENERATIONS (a live
    // segment assigned by a superseded quantizer) — valid for row-level
    // reads (compaction re-assigns, stats count); bucket-pruned probes
    // must go through [[liveGenGroups]] instead.
    val roots = (s"${genRoot(fs, path)}/lists"
      +: liveListSegs(spark, path).map(_.dir.toString))
      .filter(r => SegmentLog.hasData(fs, new Path(r)))
    require(roots.nonEmpty, s"no vector data under $path")
    val raw = roots.map(Parquet.read(spark, _)).reduce(_ unionByName _)
    tombsRows(spark, fs, path).fold(raw)(t =>
      raw.join(broadcast(t), Seq("n_id"), "left_anti"))
  }

  /** Fold the LIVE streaming segments of a vector index into one — SAFE
    * BESIDE A RUNNING [[graft.streaming.Ingest.startSemanticIngest]]
    * under the [[graft.core.SegmentLog]] fold, one bucket-partitioned
    * compact segment per assigning generation. The base `lists/` tree and
    * tombstones are NOT touched (that full fold is
    * [[compactIndexSegments]], stop-the-world) — this bounds the
    * per-probe listing+read cost of a week-long semantic ingest at O(1)
    * segments instead of O(batches).
    *
    * `gc = true` immediately deletes the folded directories — safe only
    * when no concurrent reader planned its scan before the marker; pass
    * `gc = false` beside a live ingest and run [[gcIndexSegments]] after
    * the per-micro-batch readers drain (one trigger). */
  def foldIndexSegments(
      spark: org.apache.spark.sql.SparkSession, path: String, gc: Boolean = true): Unit = {
    val (fs, root) = (SegmentLog.fs(spark, path), new Path(path))
    val curGen = genNameOf(fs, path)
    // fold PER ASSIGNING GENERATION: bucket values from different
    // quantizers must never share one root (probes prune each root in its
    // own generation's bucket space). Normally one group; a mixed set
    // appears only in the drain window after a rebuild flip.
    val byGen = liveListSegs(spark, path).groupBy(d => readSegGen(fs, d.dir, curGen))
    byGen.foreach { case (g, segs) =>
      if (segs.size > 1) SegmentLog.Docs.fold(fs, root, segs) { dir =>
        // each segment is its own bucket-partitioned tree: read per root and
        // union (one multi-root read trips partition discovery). repartition
        // by bucket before the write: a narrow union would map each input
        // file to an output file, so the compacted segment would carry the
        // SAME O(batches) tiny files it exists to consolidate
        val withData = segs.map(_.dir).filter(d => SegmentLog.hasData(fs, d))
        if (withData.nonEmpty)
          withData.map(d => Parquet.read(spark, d.toString)).reduce(_ unionByName _)
            .repartition(col("bucket"))
            .write.partitionBy("bucket").mode("overwrite").parquet(dir.toString)
        else // all-empty group: an empty (but committed) compact segment
          fs.mkdirs(dir)
        SegmentLog.writeAtomic(fs, new Path(dir, "_GEN"), g)
      }
    }
    if (gc) { gcIndexSegments(spark, path); () }
  }

  /** [[graft.core.SegmentLog.gc]] of a vector index, with the segments the
    * current generation absorbed retired like folded ones, plus the
    * superseded generations — the [[graft.operators.Dedup.gcDocIndex]]
    * contract: run from the maintenance actor only, after readers that
    * planned before the last fold marker or pointer flip have drained.
    * Returns every directory removed: folded, retired and orphaned
    * segments, superseded generations and the legacy root trees. */
  def gcIndexSegments(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val (fs, root) = (SegmentLog.fs(spark, path), new Path(path))
    val curGen = genNameOf(fs, path)
    val removed = SegmentLog.Docs.gc(fs, root, readAbsorbed(fs, genDirOf(path, curGen)))()
    // superseded GENERATIONS: swept only when no live segment still probes
    // with their quantizer (a segment assigned under gen g needs g's
    // centroids until it folds or retires). Includes unreferenced gen dirs
    // from a rebuild that crashed before its flip, and the legacy root
    // trees once a generation serves.
    val liveGens = liveListSegs(spark, path).map(d => readSegGen(fs, d.dir, curGen)).toSet + curGen
    removed + ListGens.sweep(fs, root, liveGens)
  }

  /** Retract vectors from a persisted index by id — the takedown path for
    * the vector index (one row per vector, so id-level deletion is exact;
    * [[graft.operators.Dedup.deleteFromDocIndex]]'s pattern applied to the
    * inverted lists): append the ids as tombstones that every reader
    * ([[topKIndexed]], [[indexStats]], [[needsRebuild]], the
    * [[graft.streaming.Ingest.startSemanticIngest]] probe) anti-joins
    * away, so a deleted vector neither surfaces in search nor suppresses a
    * future near-duplicate arrival. Physically reclaimed (and the
    * tombstones GC'd) by [[compactIndexSegments]] or [[rebuildIndex]].
    * Ids must not be reused while a tombstone is live (no sequence
    * ordering — the doc-index contract). Idempotent; returns distinct ids
    * tombstoned. */
  def deleteFromIndex(
      removedIds: DataFrame,
      path: String,
      idCol: String = "vec_id"): Long = {
    Stage.scope { s =>
      val batch = s(removedIds.select(col(idCol).cast("long").as("n_id")).distinct())
      batch.write.mode("append").parquet(s"$path/tombs")
      batch.count()
    }
  }

  /** The SEMANTIC MICRO-PROBE shared by
    * [[graft.streaming.Ingest.startSemanticIngest]] and the pipeline
    * ingest's semantic stage — ONE definition so the two streams can
    * never diverge: assign the batch with the STORED model, prune the
    * index to the probed buckets (batch-bounded driver metadata), and
    * emit the >= `threshold` cosine near-dup pairs among
    * (corpus ∪ batch) ∪ in-batch, deduped to (doc_a < doc_b).
    *
    * NULL-vector rows are EXCLUDED from `assigned`: they can be neither
    * assigned nor compared, so they are never semantic duplicates —
    * callers pass them through to the sink (collapse keeps them: they
    * appear in no pair) and, because segment writes join against
    * `assigned`, they never enter the index. Without this filter ONE
    * null embedding would NPE the driver's bucket collect and, since the
    * failed batch replays on restart, permanently wedge the stream.
    *
    * Returns (assigned, pairs, assigningGen) — the two checkpoints, which
    * pass to the caller's batch scope, and the
    * NAME of the generation whose quantizer assigned `bucket`. The caller
    * MUST pass that name to [[writeListSegment]]: a rebuild can flip the
    * pointer between this assignment and the segment write (a 100 TB
    * retrain runs for hours beside a live ingest), and a segment stamped
    * with the POST-flip generation while its buckets were computed under
    * the pre-flip quantizer is pruned in the wrong bucket space — its
    * rows silently stop matching future near-duplicates (caught by the
    * r14 semantic soak: every key of the one in-flight batch leaked). */
  private[graft] def semanticMicroPairs(
      batch: DataFrame,
      indexPath: String,
      threshold: Double,
      idCol: String,
      vecCol: String): (DataFrame, DataFrame, String) = Stage.scope { s =>
    val ss = batch.sparkSession
    val fs = SegmentLog.fs(ss, indexPath)
    val curGen = genNameOf(fs, indexPath)
    val model = readModelAt(ss, genDirOf(indexPath, curGen))
    val assigned = s(batch
      .select(col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec"))
      .withColumn("n_nsq", graft.functions.VectorOps.normSq(col("n_vec")))
      .withColumn("bucket", nearestCentroid(col("n_vec"), model))
      // filter on the BUCKET, not the vector: the kernel returns a null
      // bucket for null AND wrong-dimension AND null-element vectors — an
      // isNotNull on the vector alone would still let the latter two NPE
      // the probed-bucket collect below
      .filter(col("bucket").isNotNull))
    // one candidate-pair frame PER GENERATION GROUP, each probed in its
    // own quantizer's bucket space (normally one group; old-generation
    // segments appear only in the drain window after a rebuild flip, and
    // re-assigning the small batch under their model is one cheap
    // projection off the checkpointed frame). The probed bucket set stays
    // batch-bounded driver metadata (the topKIndexed pattern) — a LITERAL
    // partition filter in every group.
    def pairsAgainst(aG: DataFrame, bSide: DataFrame): DataFrame = {
      val aSide = aG.select(col("bucket"), col("n_id").as("a_id"),
        col("n_vec").as("a_vec"), col("n_nsq").as("a_nsq"))
      broadcast(aSide)
        .join(bSide.select(col("bucket"), col("n_id").as("b_id"),
          col("n_vec").as("b_vec"), col("n_nsq").as("b_nsq")), Seq("bucket"))
        .filter(col("a_id") =!= col("b_id"))
        .withColumn("score", graft.functions.VectorOps.cosineWithNorms(
          col("a_vec"), col("b_vec"), col("a_nsq"), col("b_nsq")))
        .filter(col("score") >= threshold)
        .select(
          least(col("a_id"), col("b_id")).as("doc_a"),
          greatest(col("a_id"), col("b_id")).as("doc_b"))
    }
    val corpusPairs = liveGenGroups(ss, indexPath).map { case (g, m, rows) =>
      val aG =
        if (g == curGen) assigned
        else assigned.select(col("n_id"), col("n_vec"), col("n_nsq"))
          .withColumn("bucket", nearestCentroid(col("n_vec"), m))
          .filter(col("bucket").isNotNull)
      val probed = aG.select("bucket").distinct().collect().map(_.getInt(0)).toSeq
      pairsAgainst(aG, rows.filter(col("bucket").isin(probed: _*)))
    }
    // in-batch pairs are their own frame (current bucket space), so they
    // survive even when the index holds no rows yet (empty-seeded store)
    val pairs = s((corpusPairs :+ pairsAgainst(assigned, assigned))
      .reduce(_ unionByName _)
      .dropDuplicates("doc_a", "doc_b"))
    (assigned, pairs, curGen)
  }

  /** Write already-assigned rows ((n_id, n_vec, n_nsq, bucket) — the
    * [[appendToIndex]] projection) as a NAMED segment under
    * `segs/<segName>`, overwrite semantics — the replay-idempotent
    * streaming form of [[appendToIndex]]: a crash-replayed micro-batch
    * rewrites the same directory instead of appending its vectors twice.
    * Folded into one segment beside a live ingest by [[foldIndexSegments]],
    * or into the main lists by the stop-the-world [[compactIndexSegments]]
    * / [[rebuildIndex]]. Returns rows written. */
  def writeListSegment(
      assigned: DataFrame, path: String, segName: String,
      assignedGen: Option[String] = None): Long = Stage.scope { s =>
    val batch = s(assigned.select("n_id", "n_vec", "n_nsq", "bucket"))
    // cluster by bucket before the partitioned write: each bucket lands in
    // exactly one task => ONE file per touched bucket per segment, not one
    // per (task x bucket) — a week of micro-batches would otherwise strand
    // rows-count tiny files per trigger
    batch.repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$path/segs/$segName")
    // stamp the ASSIGNING generation: probes prune this root in ITS
    // quantizer's bucket space even after a rebuild flips the base (the
    // per-root `_BUCKETS` discipline). The name must come from the caller
    // whenever assignment happened earlier in the batch
    // ([[semanticMicroPairs]] returns it): a rebuild publishing BESIDE the
    // live ingest can flip the pointer between assignment and this write,
    // and a re-read here would stamp the new generation onto old-model
    // buckets — the segment's rows would then be pruned in the wrong
    // bucket space forever (the writePostingsSegment single-read
    // discipline, which reads P once for both rows and marker).
    val spark = assigned.sparkSession
    val fs = SegmentLog.fs(spark, path)
    SegmentLog.writeAtomic(fs, new Path(s"$path/segs/$segName/_GEN"),
      assignedGen.getOrElse(genNameOf(fs, path)))
    batch.count()
  }

  /** Fold accumulated streaming segments AND tombstones into the main
    * inverted lists — one flat bucket-partitioned tree again, deleted rows
    * physically reclaimed, tombstones and fold markers GC'd.
    * STOP-THE-WORLD for this index (rewrites `lists/` in place); to bound
    * segment count BESIDE a running
    * [[graft.streaming.Ingest.startSemanticIngest]], use
    * [[foldIndexSegments]] instead. */
  def compactIndexSegments(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val (fs, root) = (SegmentLog.fs(spark, path), new Path(path))
    val curRoot = genRoot(fs, path)
    val listsDir = new Path(s"$curRoot/lists")
    val staging = new Path(s"$curRoot/lists_staging")
    SegmentLog.healSwap(fs, staging, listsDir) // finish a crashed prior swap first
    val segsDir = new Path(s"$path/segs")
    val tombsDir = new Path(s"$path/tombs")
    if (!fs.exists(segsDir) && !fs.exists(tombsDir)) return
    // STAGE-THEN-SWAP, not overwrite-in-place: the merged view streams
    // from the live tree into a durable sibling (repartitioned so each
    // bucket lands as ONE file, not one per input segment file), then one
    // delete+rename flips it in. A crash at any point leaves a complete
    // tree on disk — the old one, or the staged one healSwap recovers —
    // where the previous localCheckpoint + overwrite lost BOTH if the
    // JVM died mid-write (checkpoint blocks are executor memory only).
    // dropDuplicates(n_id): a crash AFTER the swap but BEFORE the segs/tombs
    // deletes makes this rerun read lists/ (already holding the folded rows)
    // PLUS the same segments again — without the dedup the duplicated rows
    // would occupy two ranks in topKIndexed permanently. Rows per n_id are
    // byte-identical (same vector, same assignment), so id-level dedup
    // restores exact contents; compactTextIndex uses the same discipline.
    // RE-ASSIGN under the current generation's quantizer: live segments
    // may have been assigned by a superseded generation, and this fold
    // retires every segment into the current lists tree — mixed bucket
    // spaces in one root would mis-prune probes. For rows already in the
    // current space the recomputation is the identity (assignment is a
    // deterministic function of the stored centroids).
    val model = readModelAt(spark, curRoot)
    readListsWithSegments(spark, path)
      .dropDuplicates("n_id")
      .withColumn("bucket", nearestCentroid(col("n_vec"), model))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(staging.toString)
    SegmentLog.swapInto(fs, staging, listsDir)
    SegmentLog.Docs.retire(fs, root)
    // every root outside the current generation is retired here:
    // stop-the-world, so superseded generations sweep drain-free
    ListGens.sweep(fs, root)
  }

  /** Inverted-list health of a persisted index: LIVE row totals (base
    * lists + streaming segments, minus tombstoned ids), growth since
    * training, list-size imbalance, and pending-tombstone count. The
    * per-list counts scan the partition and id columns only (no vector
    * data is read). */
  def indexStats(spark: org.apache.spark.sql.SparkSession, path: String): Map[String, String] = {
    val sizes = readListsWithSegments(spark, path)
      .groupBy("bucket").count().collect().map(_.getLong(1))
    val total = sizes.sum
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trained = Parquet.read(spark, s"${genRoot(fs, path)}/meta").head().getLong(0)
    val avg = if (sizes.nonEmpty) total.toDouble / sizes.length else 0.0
    val tombs = tombsRows(spark, fs, path)
      .fold(0L)(_.distinct().count())
    Map(
      "graft.ivf.lists" -> sizes.length.toString,
      "graft.ivf.rows" -> total.toString,
      "graft.ivf.trained-rows" -> trained.toString,
      "graft.ivf.max-list" -> (if (sizes.isEmpty) "0" else sizes.max.toString),
      "graft.ivf.tombstones" -> tombs.toString,
      "graft.ivf.growth" -> f"${if (trained > 0) total.toDouble / trained else 1.0}%.4f",
      "graft.ivf.imbalance" -> f"${if (avg > 0) sizes.max / avg else 1.0}%.4f")
  }

  /** Staleness trigger for a persisted index — the compaction-scheduling
    * analogue ([[graft.core.Maintenance.needsCompaction]]'s shape): retrain
    * when the corpus has grown well past the training sample (centroids no
    * longer summarize the distribution) or one list dominates (probes of
    * that list degrade toward a full scan). Appends alone never retrain;
    * this gate decides when the cheap path has been stretched too far. */
  def needsRebuild(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxGrowth: Double = 2.0,
      maxImbalance: Double = 4.0): Boolean = {
    val stats = indexStats(spark, path)
    stats("graft.ivf.growth").toDouble > maxGrowth ||
      stats("graft.ivf.imbalance").toDouble > maxImbalance
  }
  /** Retrain over the index's CURRENT contents and publish the result as
    * a NEW GENERATION behind the `_LISTS` pointer — SAFE BESIDE LIVE
    * READERS AND A RUNNING [[graft.streaming.Ingest.startSemanticIngest]]
    * (the version-publish discipline of the band stores
    * (`Dedup._BANDS`) and the postings store (`Search._POSTINGS`);
    * reference anchor: kv/db/version_set.cpp:920-1018, LogAndApply
    * publishing new versions beside live readers). What a caller runs
    * when [[needsRebuild]] fires; at 100 TB retrains are routine, not
    * maintenance windows.
    *
    * The fold set is snapshotted at entry: the live segment list and the
    * tombstone files. The retrain reads EXACTLY those plus the current
    * generation's lists — all immutable once committed — so segments and
    * tombstones landing beside the retrain are simply not in the new
    * generation and STAY LIVE across the flip, probed in their own
    * quantizer's bucket space ([[liveGenGroups]]). The absorbed-segment
    * list rides INSIDE the generation dir, so the single atomic pointer
    * write both publishes the new lists and retires the segments they
    * folded in — no window where a row is served twice. A crash at ANY
    * point before the flip leaves the old generation untouched and
    * serving (the unreferenced partial generation sweeps at the next gc);
    * a rerun is idempotent. Superseded generations outlive the flip until
    * readers drain ([[gcIndexSegments]]).
    *
    * `branch > 0` retrains hierarchically ([[trainHier]] — the choice for
    * a rebuild whose lists have grown with the corpus); the default keeps
    * the exact flat retrain. `maxTrainRows > 0` caps the training sample
    * either way. */
  def rebuildIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      lists: Int,
      iters: Int = 3,
      branch: Int = 0,
      maxTrainRows: Long = 0L): Unit = {
    val (fs, root) = (SegmentLog.fs(spark, path), new Path(path))
    val curRoot = genRoot(fs, path)
    // ---- fold-set snapshot (names and files only; no data copied) ----
    val segs0 = liveListSegs(spark, path).map(_.dir)
    val tombsDir = new Path(s"$path/tombs")
    val tombFiles0: Seq[Path] =
      if (!fs.exists(tombsDir)) Seq.empty
      else SegmentLog.listFiles(fs, tombsDir)
        .filter(_.getName.endsWith(".parquet")).map(f =>
          new Path(tombsDir, f.getName))
    val srcRoots = (s"$curRoot/lists" +: segs0.map(_.toString))
      .filter(r => SegmentLog.hasData(fs, new Path(r)))
    require(srcRoots.nonEmpty, s"rebuildIndex: no vectors under $path")
    // dropDuplicates(vec_id): after a crash-rerun of a fold/compaction a
    // row can appear in both the base lists and a still-live segment
    val raw = srcRoots.map(Parquet.read(spark, _)).reduce(_ unionByName _)
      .select(col("n_id").as("vec_id"), col("n_vec").as("embedding"))
    val corpus = (
      if (tombFiles0.isEmpty) raw
      else raw.join(
        broadcast(Parquet.read(spark, tombFiles0.map(_.toString): _*)
          .select(col("n_id").as("vec_id")).distinct()),
        Seq("vec_id"), "left_anti"))
      .dropDuplicates("vec_id")
    val model =
      if (branch > 0) trainHier(corpus, lists, branch, iters, maxTrainRows = maxTrainRows)
      else train(corpus, lists, iters, maxTrainRows = maxTrainRows)
    // ---- publish invisibly, then one atomic commit (the pointer flip) ----
    ListGens.publish(fs, root) { genDir =>
      writeIndex(corpus, model, genDir.toString)
      // carry forward the previous absorbed names whose dirs still exist, so
      // a late crash-replay rewrite of a long-retired segment stays excluded
      val absorbed = segs0.map(_.getName) ++
        readAbsorbed(fs, curRoot).filter(n => fs.exists(new Path(s"$path/segs/$n")))
      if (absorbed.nonEmpty)
        SegmentLog.writeAtomic(fs, new Path(genDir, "_ABSORBED"), absorbed.distinct.mkString("\n"))
    }
    // ---- cleanup (all safe to crash out of: a rerun or gc finishes) ----
    // the snapshot tombstones were excluded from the retrain corpus;
    // tombstones that arrived DURING the retrain are not in tombFiles0 and
    // stay live (their rows are in the new lists until the next fold)
    tombFiles0.foreach(f => fs.delete(f, false))
    ()
  }

  /** Load the quantizer of a persisted index — the full level tree for a
    * hierarchical model (leaf matrix = highest level), so every reader
    * (probe, append, streaming ingest) descends with EXACTLY the quantizer
    * the index was assigned by. A pre-hierarchical layout (no `level`
    * column) loads as the flat model it was. */
  def readModel(spark: org.apache.spark.sql.SparkSession, path: String): Model =
    readModelAt(spark, genRoot(SegmentLog.fs(spark, path), path))

  /** [[readModel]] against an EXPLICIT generation root (no pointer
    * indirection) — the mixed-generation probe paths load each segment's
    * assigning quantizer by its own generation dir. */
  private def readModelAt(
      spark: org.apache.spark.sql.SparkSession, genDir: String): Model = {
    val df = Parquet.read(spark, s"$genDir/centroids")
    if (!df.columns.contains("level")) {
      val rows = df.orderBy("bucket").collect()
      Model(rows.map(_.getAs[scala.collection.Seq[Float]]("centroid").toArray))
    } else {
      val byLevel = df.collect()
        .groupBy(_.getAs[Int]("level")).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_.getAs[Int]("bucket"))
          .map(_.getAs[scala.collection.Seq[Float]]("centroid").toArray))
      Model(byLevel.last, byLevel.init)
    }
  }

  /** Top-k cosine search over a PERSISTED index: probed bucket ids are known
    * up front (C x dim centroid math on the tiny query batch), so the list
    * scan is filtered with a literal bucket set — static partition pruning;
    * only the probed list directories are read (PlanSpec asserts the
    * PartitionFilters). The query batch is collected to build the filter —
    * model-metadata-sized (|Q| x nProbe ints), never corpus data. */
  def topKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // base lists + streamed segments, bucket-pruned in every branch AND
    // in every GENERATION'S OWN bucket space — a segment assigned by a
    // superseded quantizer (the drain window after a beside-live rebuild
    // flip) is probed with bucket ids computed against ITS model, so
    // search stays exactly as recall-complete across the flip as before
    // it. Normally one group; the per-group probe job is query-batch
    // sized either way.
    val groups = liveGenGroups(spark, path)
    require(groups.nonEmpty, s"topKIndexed: no vector data under $path")
    val scored = groups.map { case (_, model, rows) =>
      // NOT checkpointed: the returned plan broadcast-joins this frame,
      // so a localCheckpoint here could never be freed — one leaked block
      // per call in a long-lived serving loop (the bm25Indexed leak shape
      // the r14 text soak caught). Query-batch-sized; the bucket-set
      // collect below recomputes the probe explode instead.
      val q = queries.select(
        col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        VectorOps.normSq(col(vecCol)).as("q_nsq"),
        explode(probeCentroids(col(vecCol), model, nProbe)).as("bucket"))
      val probed = q.select("bucket").distinct().collect().map(_.getInt(0)).toSeq
      scorePairs(rows.filter(col("bucket").isin(probed: _*)), q)
    }.reduce(_ unionByName _)
    rankTopK(scored, k)
  }

  /** Shared scoring tail of [[topK]] and [[topKIndexed]]: bucket equi-join
    * (query side broadcast), cosine from precomputed norms, per-query top-k
    * with the (score desc, n_id asc) tie-break. One definition so the
    * in-memory and indexed paths can never diverge. */
  private def scoreTopK(lists: DataFrame, q: DataFrame, k: Int): DataFrame =
    rankTopK(scorePairs(lists, q), k)

  /** The per-pair scoring half of [[scoreTopK]]: bucket equi-join (query
    * side broadcast), cosine from precomputed norms, projected to
    * (q_id, n_id, score) BEFORE any exchange — the rank window must never
    * carry the embedding vectors (a corpus vector lives in exactly one
    * bucket and queries probe distinct buckets, so a pair scores at most
    * once: no dedup needed either). Split out so the mixed-generation
    * probe can score each generation in its own bucket space and rank
    * over the union. */
  private def scorePairs(lists: DataFrame, q: DataFrame): DataFrame =
    lists
      .join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), VectorOps.cosineWithNorms(
        col("q_vec"), col("n_vec"), col("q_nsq"), col("n_nsq")).as("score"))

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), round(col("score"), 6).as("score"))
  }

  /** Top-k cosine neighbors per query, scanning only `nProbe` inverted
    * lists per query. Bucketed equi-join: corpus rows carry one bucket,
    * queries explode to nProbe probes. */
  def topK(
      corpus: DataFrame,
      queries: DataFrame,
      model: Model,
      k: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(
      col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      VectorOps.normSq(col(vecCol)).as("n_nsq"),
      nearestCentroid(col(vecCol), model).as("bucket"))
    val q = queries.select(
      col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      VectorOps.normSq(col(vecCol)).as("q_nsq"),
      explode(probeCentroids(col(vecCol), model, nProbe)).as("bucket"))
    scoreTopK(c, q, k)
  }
}
