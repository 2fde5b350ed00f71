package graft.operators

import graft.core.Parquet
import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid 2011 — public knowledge):
  * split each vector into `m` subspaces, k-means each subspace to `k`
  * codewords, store each vector as `m` small codes instead of `dim`
  * floats. Composed with the [[Ivf]] coarse quantizer this is IVF-PQ —
  * the layout behind the classic billion-scale ANN indexes: at 100 TB of
  * embeddings the raw vectors are the dominant storage and scan cost, and
  * the PQ index reads `m` bytes-scale codes per row (16-32x smaller)
  * while scoring queries against them with a per-query LOOKUP TABLE
  * (asymmetric distance computation: the query stays exact, only the
  * corpus side is quantized).
  *
  * Training reuses [[Ivf]]'s deterministic Lloyd machinery ([[TrainSet]])
  * per subspace — decimal-accumulated means, hash-ordered init — so PQ
  * models are exactly reproducible run to run, like every other trained
  * model in the engine.
  */
object Pq {

  /** `codebooks(j)(c)` = codeword `c` of subspace `j` (k × dsub each). */
  final case class Model(codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def dsub: Int = codebooks.head.head.length
    def dim: Int = m * dsub
  }

  /** Train a PQ codebook: deterministic Lloyd fits of all `m` subspaces.
    * The input passes the [[graft.core.Stage.Scope.localOr]] gate: within
    * the driver budget the fits run in driver memory, subspace by
    * subspace (2 Spark jobs, whatever `iters`); beyond it they are FUSED
    * into one aggregation job per iteration over the shared checkpointed
    * sample (the corpus is scanned once, then `iters` slim jobs refine),
    * with the same codebook bits.
    *
    * The subspace fits are independent (subspace `j`'s iteration depends
    * only on `j`'s own previous centroids), so running every subspace's
    * step `i` in a single job — per-row assignment codes for all `m`
    * slices, one posexplode of the full vector, one groupBy
    * (subspace, code, pos-in-subspace) with the same exact decimal-mean
    * accumulation as [[TrainSet.Rows.lloyd]] — produces BIT-IDENTICAL codebooks to
    * the previous per-subspace loop (each (j, b, pos) group aggregates
    * exactly the rows the unfused (b, pos) group did, and decimal sums
    * are order-independent; IvfSpec pins BOTH halves: subspace
    * independence — fused m=8 == eight single-subspace fits — and the
    * legacy path — train(m=1) == the [[Ivf.train]] Lloyd fit, same init,
    * same assignment kernel, same decimal means). The unfused
    * shape cost `m x iters` sequential jobs = `m x iters` passes over the
    * cached projection; this is `iters` passes, full stop — at 100 TB
    * (sampled projection in the tens of GB) an 8x reduction in scans and
    * scheduler round-trips for the same model.
    * `k` clamps to the sample size like [[Ivf.train]]. */
  def train(
      corpus: DataFrame,
      m: Int = 8,
      k: Int = 256,
      iters: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxTrainRows: Long = 0L): Model =
    trainOn(driver = true, corpus, m, k, iters, idCol, vecCol, maxTrainRows)

  /** [[train]] on the distributed path whatever the input size — the
    * reference the driver path is tested against. */
  private[graft] def trainDistributed(
      corpus: DataFrame,
      m: Int = 8,
      k: Int = 256,
      iters: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxTrainRows: Long = 0L): Model =
    trainOn(driver = false, corpus, m, k, iters, idCol, vecCol, maxTrainRows)

  private def trainOn(
      driver: Boolean,
      corpus: DataFrame,
      m: Int,
      k: Int,
      iters: Int,
      idCol: String,
      vecCol: String,
      maxTrainRows: Long): Model = {
    require(m >= 1, "m must be >= 1")
    require(k >= 2, "k must be >= 2")
    TrainSet.fit(corpus, idCol, vecCol, maxTrainRows, driver) { t =>
      val dim = t.dim
      require(dim % m == 0, s"Pq.train: m=$m must divide dim=$dim")
      val dsub = dim / m
      // shared deterministic init rows (the k smallest id-hashes), sliced
      // per subspace — one driver pull for all m fits
      val initRows = t.first(k)
      require(initRows.nonEmpty, "Pq.train: empty corpus")
      Model(t.lloydSub(Array.tabulate(m)(j => initRows.map(_.slice(j * dsub, (j + 1) * dsub))), iters))
    }
  }

  /** Per-row PQ codes: `array<int>` of length `m`, code `j` = the nearest
    * codeword of subspace `j` (the fused [[graft.plans.CentroidProbes]]
    * kernel per slice — map-side, codegen'd, ties to the lowest index). */
  def encode(vec: Column, model: Model): Column =
    array((0 until model.m).map { j =>
      element_at(call_function("graft_centroid_probes",
        slice(vec, j * model.dsub + 1, model.dsub),
        typedLit(model.codebooks(j)), lit(1)), 1)
    }: _*)

  /** The per-query ADC lookup table as a COLUMN on the query side:
    * `lut[j*k + c] = dot(q_j, codebook[j][c])` — m*k entries computed once
    * per query row (query-batch-sized work), then every candidate scores
    * with `m` array lookups instead of a `dim`-float dot product. */
  private def lutCol(qv: Column, model: Model): Column = {
    val flat = typedLit(model.codebooks.flatten) // (m*k) rows of dsub floats
    flatten(transform(sequence(lit(0), lit(model.m - 1)), j =>
      transform(sequence(lit(0), lit(model.k - 1)), c =>
        VectorOps.dot(
          slice(qv, j * lit(model.dsub) + lit(1), lit(model.dsub)),
          element_at(flat, j * lit(model.k) + c + lit(1))))))
  }

  /** The ADC approximate dot product: sum of `m` LUT lookups. */
  private def adcDot(codes: Column, lut: Column, k: Int): Column =
    aggregate(
      zip_with(codes, sequence(lit(0), size(codes) - 1),
        (c, j) => element_at(lut, j * lit(k) + c + lit(1))),
      lit(0.0), (acc, x) => acc + x)

  /** Persist an IVF-PQ index: rows carry (id, m codes, exact norm,
    * coarse bucket) — never the vectors — written `partitionBy(bucket)`
    * like [[Ivf.writeIndex]], plus the coarse quantizer in
    * [[Ivf.readModel]]'s format and the PQ codebooks under `pq/`. The
    * probed-list read is both partition-pruned AND code-sized: the two
    * multiplicative reductions that make vector search tractable when the
    * vectors themselves are the dominant bytes. */
  def writeIndex(
      corpus: DataFrame,
      coarse: Ivf.Model,
      pq: Model,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    // The build-time quantization error ([[needsRebuild]]'s baseline) is
    // OBSERVED inside the lists-write pass — avg over a column derived
    // from the codes the encoder just committed to — instead of a second
    // corpus pass that would re-run the k-codeword search per subspace.
    val obs = org.apache.spark.sql.Observation(s"pq_build_${java.util.UUID.randomUUID()}")
    corpus.select(
      col(idCol).as("n_id"),
      col(vecCol).as("n_vec"),
      encode(col(vecCol), pq).as("n_codes"),
      VectorOps.normSq(col(vecCol)).as("n_nsq"),
      Ivf.nearestCentroid(col(vecCol), coarse).as("bucket"))
      .withColumn("_err", errFromCodes(col("n_vec"), col("n_codes"), pq))
      .observe(obs, avg(col("_err")).as("mse"), count(lit(1)).as("n"))
      .drop("n_vec", "_err")
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$path/lists")
    Ivf.writeQuantizer(spark, coarse, path)
    import spark.implicits._
    pq.codebooks.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (v, c) => (j, c, v) }
    }.toSeq
      .toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pq")
    writeStatsMetrics(spark, path, "build", obs.get, overwrite = true)
  }

  /** Squared PQ reconstruction error from PRECOMPUTED codes: per row, the
    * summed squared distance of each subspace slice to the codeword its
    * code names — `m` codebook lookups, no re-search (the encode pass
    * already found the nearest codeword; identical value by construction).
    * The scalar the codebook-staleness gate tracks — drift raises it. */
  private def errFromCodes(vec: Column, codes: Column, model: Model): Column =
    (0 until model.m).map { j =>
      val sub = slice(vec, j * model.dsub + 1, model.dsub)
      val cw = element_at(typedLit(model.codebooks(j)),
        element_at(codes, j + 1) + lit(1))
      aggregate(zip_with(sub, cw, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
    }.reduce(_ + _)

  /** Persist one `(kind, mse, n)` row to the index's `pq_stats/` tree
    * from an Observation's collected metrics — both the build baseline and
    * every append row go through here, so the trail's schema can never
    * fork. `mse` is None for an empty batch (avg over zero rows). */
  private def writeStatsMetrics(
      spark: SparkSession, path: String, kind: String,
      metrics: Map[String, Any], overwrite: Boolean): Unit = {
    import spark.implicits._
    Seq((kind, Option(metrics("mse")).map(_.asInstanceOf[Double]),
        metrics("n").asInstanceOf[Long]))
      .toDF("kind", "mse", "n")
      .coalesce(1).write.mode(if (overwrite) "overwrite" else "append")
      .parquet(s"$path/pq_stats")
  }

  /** Append new vectors to a persisted IVF-PQ index WITHOUT retraining:
    * assign + encode with the STORED models and append to the existing
    * list partitions — search after append is IDENTICAL to a full
    * [[writeIndex]] rewrite under the same models ([[Ivf.appendToIndex]]'s
    * contract; spec-pinned). Each append also records the batch's
    * quantization error against the build-time codebooks in `pq_stats/` —
    * the ONLY moment the uncompressed vectors exist (the lists store codes,
    * never vectors), and therefore the only place codebook drift is
    * observable. [[needsRebuild]] reads the trail. Returns vectors
    * appended. */
  def appendToIndex(
      newVectors: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Long = {
    val spark = newVectors.sparkSession
    val coarse = Ivf.readModel(spark, path)
    val pq = readModel(spark, path)
    // Single-pass like [[writeIndex]]: the drift error AND the row count
    // are observed during the lists write itself — no localCheckpoint
    // pinning the batch's uncompressed vectors in block-manager memory
    // across the append, and no second aggregation job over them.
    val obs = org.apache.spark.sql.Observation(s"pq_append_${java.util.UUID.randomUUID()}")
    newVectors.select(
      col(idCol).as("n_id"),
      col(vecCol).as("n_vec"),
      encode(col(vecCol), pq).as("n_codes"),
      VectorOps.normSq(col(vecCol)).as("n_nsq"),
      Ivf.nearestCentroid(col(vecCol), coarse).as("bucket"))
      .withColumn("_err", errFromCodes(col("n_vec"), col("n_codes"), pq))
      .observe(obs, avg(col("_err")).as("mse"), count(lit(1)).as("n"))
      .drop("n_vec", "_err")
      .write.partitionBy("bucket").mode("append").parquet(s"$path/lists")
    val metrics = obs.get
    writeStatsMetrics(spark, path, "append", metrics, overwrite = false)
    metrics("n").asInstanceOf[Long]
  }

  /** Codebook-staleness gate — the PQ analogue of [[Ivf.needsRebuild]]:
    * true when the appended vectors' mean quantization error under the
    * BUILD-TIME codebooks exceeds `maxDrift` × the build-time error
    * (append rows weighted by size). Appends drawn from the build
    * distribution hold the ratio near 1; a drifted distribution encodes
    * badly (rising ADC error, sinking recall) and trips the gate — run
    * [[rebuildIndex]] with the uncompressed corpus to retrain. Indexes
    * written before the stats trail existed return false (no baseline). */
  def needsRebuild(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxDrift: Double = 2.0): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/pq_stats"))) return false
    val rows = Parquet.read(spark, s"$path/pq_stats").collect()
    val build = rows.filter(_.getAs[String]("kind") == "build")
    // empty-batch appends carry n = 0 and a null mse — exclude them up
    // front rather than relying on null unboxing to 0.0 in the weighted sum
    val appends = rows.filter(r =>
      r.getAs[String]("kind") == "append" && r.getAs[Long]("n") > 0L)
    if (build.isEmpty || appends.isEmpty) return false
    val buildMse = build.head.getAs[Double]("mse")
    val n = appends.map(_.getAs[Long]("n")).sum
    if (n == 0L) return false
    val appendMse = appends.map(r => r.getAs[Double]("mse") * r.getAs[Long]("n")).sum / n
    // a degenerate zero-error build (every vector IS a codeword) makes any
    // nonzero append error infinite drift — trip on a small absolute floor
    if (buildMse <= 1e-12) appendMse > 1e-9
    else appendMse / buildMse > maxDrift
  }

  /** Retrain the PQ codebooks over `corpus` (the caller's uncompressed
    * vectors — the re-rank source of truth; the index itself stores only
    * codes, so unlike [[Ivf.rebuildIndex]] a PQ rebuild cannot feed from
    * its own lists) and rewrite the index in place — what a caller runs
    * when [[needsRebuild]] fires. The coarse quantizer is KEPT by default
    * (bucket assignments survive; only the in-bucket codes re-encode);
    * `retrainCoarse` refits it too, for drift severe enough to skew the
    * coarse partitioning. `m`/`k` default to the stored model's shape. */
  def rebuildIndex(
      corpus: DataFrame,
      path: String,
      iters: Int = 3,
      retrainCoarse: Boolean = false,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxTrainRows: Long = 0L): Unit = {
    val spark = corpus.sparkSession
    val old = readModel(spark, path)
    val coarse =
      if (retrainCoarse)
        Ivf.train(corpus, Ivf.readModel(spark, path).centroids.length,
          iters = iters, idCol = idCol, vecCol = vecCol, maxTrainRows = maxTrainRows)
      else Ivf.readModel(spark, path)
    val pq = train(corpus, old.m, old.k, iters, idCol, vecCol, maxTrainRows)
    writeIndex(corpus, coarse, pq, path, idCol, vecCol)
  }

  /** Two-stage retrieval: ADC over the compressed index overfetches
    * `overfetch * k` candidates per query, then ONLY those rows pay an
    * exact cosine against the uncompressed `corpus` vectors — the standard
    * re-rank that recovers near-exact quality while the corpus-wide scan
    * still touched nothing but codes. The exact pass joins candidate ids
    * against the corpus (a candidate-sized semi-restriction; at |Q| * 4k
    * candidates this is the small side and broadcasts). */
  def topKIndexedReranked(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nProbe: Int,
      overfetch: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    val cand = topKIndexed(spark, path, queries, k * overfetch, nProbe, idCol, vecCol)
      .select(col("q_id"), col("n_id"))
    val q = queries.select(
      col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      VectorOps.normSq(col(vecCol)).as("q_nsq"))
    val exact = cand
      .join(broadcast(q), Seq("q_id"))
      .join(corpus.select(
        col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        VectorOps.normSq(col(vecCol)).as("n_nsq")), Seq("n_id"))
      .select(col("q_id"), col("n_id"), VectorOps.cosineWithNorms(
        col("q_vec"), col("n_vec"), col("q_nsq"), col("n_nsq")).as("score"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id").asc)
    exact
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), round(col("score"), 6).as("score"))
  }

  /** Load the PQ codebooks of a persisted IVF-PQ index. */
  def readModel(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val rows = Parquet.read(spark, s"$path/pq").collect()
    val books = rows.groupBy(_.getAs[Int]("sub")).toSeq.sortBy(_._1).map(_._2
      .sortBy(_.getAs[Int]("code"))
      .map(_.getAs[scala.collection.Seq[Float]]("centroid").toArray))
    Model(books.toArray)
  }

  /** Approximate top-k cosine search over a persisted IVF-PQ index:
    * coarse probes prune to `nProbe` list directories (static partition
    * pruning — [[Ivf.topKIndexed]]'s property), then candidates score by
    * ADC (LUT riding the broadcast query rows; per-candidate cost is `m`
    * lookups against `m`-code rows — no vector is ever read, because none
    * is stored). Cosine uses the approximate dot over the EXACT stored
    * norms; output shape and tie-breaks match the uncompressed search. */
  def topKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val coarse = Ivf.readModel(spark, path)
    val pq = readModel(spark, path)
    val q = queries.select(
      col(idCol).as("q_id"),
      VectorOps.normSq(col(vecCol)).as("q_nsq"),
      lutCol(col(vecCol), pq).as("q_lut"),
      explode(Ivf.probeCentroids(col(vecCol), coarse, nProbe)).as("bucket"))
    // not checkpointed: the returned plan broadcast-joins this frame — a
    // checkpoint block here would outlive every call in a serving loop
    // (the bm25Indexed leak shape). Query-batch-sized; the collect below
    // recomputes the LUT/probe projection instead.
    val probed = q.select("bucket").distinct().collect().map(_.getInt(0)).toSeq
    val lists = Parquet.read(spark, s"$path/lists")
      .filter(col("bucket").isin(probed: _*))
    val scored = lists
      .join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (adcDot(col("n_codes"), col("q_lut"), pq.k) /
          sqrt(col("q_nsq") * col("n_nsq"))).as("score"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), round(col("score"), 6).as("score"))
  }
}
