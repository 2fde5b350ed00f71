package graft.operators

import graft.core.Stage
import graft.functions.VectorOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over embedding columns.
  *
  * Baseline is brute-force cosine top-k: queries x corpus via broadcast join,
  * per-query top-k via window rank. Partition-parallel over the corpus, never
  * collects vectors to the driver. The scale path buckets the corpus with
  * random-hyperplane LSH so each query probes only its bucket (and its
  * Hamming-1 neighbors at higher recall settings).
  */
object Similarity {

  /** Brute-force top-k cosine neighbors for each query row.
    *
    * `queries` and `corpus` both need (`idCol`, `vecCol`). The query side is
    * broadcast (it is the small side by construction — a batch of query
    * vectors); the corpus streams through, so the cost is one corpus scan per
    * query batch regardless of corpus size. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      VectorOps.normSq(col(vecCol)).as("q_nsq"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      VectorOps.normSq(col(vecCol)).as("n_nsq"))
    // `excludeSelf` drops the id-equal pair — right when queries ARE corpus
    // rows (the neighbor-search form). Pass false when query ids live in a
    // DIFFERENT namespace than corpus ids (e.g. hybrid retrieval's query
    // batch): there an id collision is coincidental and the exclusion would
    // silently drop an unrelated document from that query's ranking.
    // project to (q_id, n_id, score) BEFORE the rank window: the WindowExec
    // exchange+sort would otherwise move both embedding vectors per scored
    // pair (~17x the bytes of ids+score at dim=64) as dead weight
    val scored = c
      .join(broadcast(q), if (excludeSelf) notSameId else lit(true))
      .select(col("q_id"), col("n_id"), VectorOps.cosineWithNorms(
        col("q_vec"), col("n_vec"), col("q_nsq"), col("n_nsq")).as("score"))
    rankTopK(scored, k)
  }

  /** NULL-SAFE id inequality for self-exclusion: a bare =!= is null when
    * either id is null, and the join would silently drop every pair
    * involving a null-id row — that vector could never surface in any
    * ranking and a null-id query would return nothing, with no error. */
  private def notSameId = !(col("q_id") <=> col("n_id"))

  /** The per-query top-k tail shared by the brute-force and LSH paths —
    * ONE definition of the ranking contract ((score desc, id asc)
    * tie-break, long rank, 6-decimal score), so the two stay comparable
    * (the recall tooling diffs them). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), round(col("score"), 6).as("score"))
  }

  /** Multi-table random-hyperplane LSH ANN — the 100 TB path where one full
    * corpus scan per query batch is too expensive.
    *
    * Standard L-tables scheme: `numTables` independent hash tables of
    * `planesPerTable` hyperplanes each. A corpus vector lands in one bucket
    * per table (corpus rows fan out ×L through the shuffle — the classic
    * space-for-recall trade); a query probes its bucket in every table and
    * candidates are the union. For neighbors at angle θ the per-table
    * collision probability is (1 - θ/π)^planesPerTable, so recall ≈
    * 1 - (1 - p)^L — tuned by (L, planes) rather than a single hash
    * (single-probe recall at 8 planes is ~1% on near-orthogonal data).
    * Hyperplanes are seed-derived, so results are deterministic. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int,
      numTables: Int = 16,
      planesPerTable: Int = 4,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // planesPerTable caps at 62: the bucket accumulator packs one bit per
    // plane into a Long. Zero planes would fold every vector to bucket 0
    // (the collision join degenerates to a cross product x numTables);
    // zero tables would silently return an empty frame.
    require(numTables > 0, s"numTables must be positive, got $numTables")
    require(planesPerTable > 0 && planesPerTable <= 62,
      s"planesPerTable must be in [1, 62], got $planesPerTable")
    val rnd = new scala.util.Random(seed)
    val tables = typedLit(Array.fill(numTables, planesPerTable, dim)(rnd.nextGaussian().toFloat))
    def bucketed(df: DataFrame, id: String, vec: String, nsq: String) =
      df.select(
        col(idCol).as(id),
        col(vecCol).as(vec),
        VectorOps.normSq(col(vecCol)).as(nsq),
        posexplode(transform(tables, t => VectorOps.hyperplaneBucket(col(vecCol), t))))
        .withColumnRenamed("pos", "tbl")
        .withColumnRenamed("col", "bucket")
    val c = bucketed(corpus, "n_id", "n_vec", "n_nsq")
    val q = bucketed(queries, "q_id", "q_vec", "q_nsq")
    // Score FIRST (map-side, inside the collision join's codegen stage), then
    // deduplicate multi-table collisions by aggregating on ids: the dedup
    // shuffle carries (q_id, n_id, score) — never the vectors, which at
    // dim=64 are ~17x the bytes. Duplicate collisions score identically, so
    // max() is a no-op merge; re-scoring a pair per colliding table is a few
    // codegen'd flops vs. an exchange full of float arrays.
    val scored = c
      .join(broadcast(q), Seq("tbl", "bucket"))
      .filter(notSameId)
      .select(col("q_id"), col("n_id"), VectorOps.cosineWithNorms(
        col("q_vec"), col("n_vec"), col("q_nsq"), col("n_nsq")).as("score"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(max(col("score")).as("score"))
    rankTopK(scored, k)
  }

  /** INT8-QUANTIZED hyperplane-LSH maximum-inner-product search — the
    * production retrieval trick of shipping embeddings as int8
    * (4x smaller rows, SIMD dots) made a first-class operator, with a
    * twist the float path cannot offer: EVERY arithmetic step is exact
    * integer math. Vectors quantize by `floor(x * 127)` (floor, not
    * round: floor is tie-free and bit-identical across engines); the ±1
    * hyperplane signs derive from a fixed LCG bit (`m = (1103515245 k +
    * 12345) mod 2^31`, sign = bit 13, k = d + dim·p + dim·planes·t) —
    * deterministic and re-derivable in plain SQL, which is what makes the
    * whole operator ORACLE-CHECKABLE end to end (q28b2) where the
    * float-cosine LSH (q28b) is rows-only. A vector lands in one
    * sign-pattern bucket per table; candidates are same-bucket unions;
    * ranking is the exact integer inner product (MIPS), ties by id.
    *
    * Scale design: candidates only ever come from bucket collisions
    * (never all-pairs); the plane table is a broadcast literal-sized
    * frame; the per-plane partial dots aggregate map-side; the final
    * scoring join moves only candidate-pair quantized rows. */
  def lshTopKInt8(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int = 64,
      numTables: Int = 8,
      planesPerTable: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = Stage.scope { s =>
    require(numTables > 0, s"numTables must be positive, got $numTables")
    require(planesPerTable > 0 && planesPerTable <= 62,
      s"planesPerTable must be in [1, 62], got $planesPerTable")
    val cq = s(quantizeInt8(corpus, dim, idCol, vecCol)) // feeds buckets AND scoring
    val qq = s(quantizeInt8(queries, dim, idCol, vecCol))
    // the query batch is the small side by construction — broadcast its
    // buckets so the corpus side never shuffles into the collision join
    val cand = broadcast(int8Buckets(qq, dim, numTables, planesPerTable)).as("a")
      .join(int8Buckets(cq, dim, numTables, planesPerTable).as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          !(col("a.id") <=> col("b.id")))
      .select(col("a.id").as("q_id"), col("b.id").as("n_id"))
      .distinct()
    val scored = cand
      .join(broadcast(qq.select(col("id").as("q_id"), col("qv").as("qa"))), Seq("q_id"))
      .join(cq.select(col("id").as("n_id"), col("qv").as("qb")), Seq("n_id"))
      .withColumn("dot",
        aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dot").desc, col("n_id").asc)
    // materialize BEFORE the checkpointed inputs are freed (the result is
    // candidate-topk-sized; callers re-read it without recompute)
    s(scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("dot")))
  }

  /** `floor(x * 127)` int8 quantization to (id, qv: Array[Long]) — floor,
    * not round: floor is tie-free and bit-identical across engines, which
    * is what lets the DuckDB twins replay every downstream integer step.
    * Vectors whose length differs from `dim` would bucket on a silently
    * truncated/padded pattern while exact scoring used the full arrays —
    * recall degrades with no error. Fail loudly per row instead (a
    * codegen'd size check, no extra pass over the data). */
  private def quantizeInt8(
      df: DataFrame, dim: Int, idCol: String, vecCol: String): DataFrame = df.select(
    col(idCol).as("id"),
    when(size(col(vecCol)) === dim,
      transform(col(vecCol), x => floor(x * lit(127.0)).cast("long")))
      .otherwise(raise_error(concat(
        lit(s"int8 quantize: embedding length != dim=$dim at $idCol="),
        col(idCol).cast("string"))))
      .as("qv"))

  /** MAP-ONLY bucket stage for [[lshTopKInt8]]: (id, t, bucket) rows, one
    * per hash table, from a quantized frame of (id, qv: Array[Long]).
    *
    * The ±1 LCG plane signs are a `typedLit` literal (broadcast by codegen,
    * exactly like the float sibling's hyperplane tables) — NOT a
    * range-cross frame: the previous shape posexploded every vector into
    * `dim` rows, joined them to a (t·p·d)-row plane frame, and ran TWO
    * aggregations, pushing ~16x the bytes of [[lshTopK]]'s bucket stage
    * through the exchange for the same role. Here each per-plane partial
    * dot folds inside one codegen'd expression (exact Long arithmetic, so
    * the q28b2 DuckDB twin — which re-derives the same LCG bit in SQL — is
    * unchanged), bits pack via a literal power table, and the ONLY Generate
    * is the numTables-ary posexplode that feeds the collision join.
    * PlanSpec pins the shape: no aggregate, no exchange, one Generate. */
  private[graft] def int8Buckets(
      quantized: DataFrame,
      dim: Int,
      numTables: Int,
      planesPerTable: Int): DataFrame = {
    // sign = bit 13 of m, m = (1103515245·(d + dim·p + dim·planes·t) + 12345) mod 2^31
    val signs = typedLit(Array.tabulate(numTables, planesPerTable, dim) { (t, p, d) =>
      val m = (1103515245L * (d.toLong + p.toLong * dim + t.toLong * dim * planesPerTable)
        + 12345L) % 2147483648L
      if (((m >> 13) & 1L) == 0L) 1L else -1L
    })
    val pows = typedLit(Array.tabulate(planesPerTable)(p => 1L << p))
    quantized.select(
      col("id"),
      posexplode(transform(signs, tbl =>
        aggregate(
          zip_with(
            transform(tbl, plane =>
              aggregate(zip_with(col("qv"), plane, (x, s) => x * s),
                lit(0L), (acc, v) => acc + v)),
            pows,
            (pdot, w) => when(pdot >= 0, w).otherwise(lit(0L))),
          lit(0L), (acc, bit) => acc + bit))))
      .withColumnRenamed("pos", "t")
      .withColumnRenamed("col", "bucket")
  }

  /** Closed-form integer codebook for [[ivfTopKInt8]]: `c` centroids of
    * `dim` int8 values from the same LCG constant family as
    * [[int8Buckets]]' plane signs — deterministic and re-derivable in
    * plain SQL (`((1103515245 ci + 12345 d + 54321) mod 256) - 128`),
    * which is what makes the IVF KERNEL oracle-checkable where the
    * trained float quantizer (q28d/f) is rows-only by nature. */
  private[graft] def int8Codebook(c: Int, dim: Int): Array[Array[Long]] =
    Array.tabulate(c, dim)((ci, d) =>
      java.lang.Math.floorMod(1103515245L * ci + 12345L * d + 54321L, 256L) - 128L)

  /** MAP-ONLY IVF assignment over a quantized frame of (id, qv):
    * `bucket` = argmin over centroids of the EXACT integer squared L2
    * distance, ties to the lowest centroid index (the struct-array min
    * compares (d2, ci) lexicographically — no float, no
    * nondeterminism). The codebook rides as one broadcast literal inside
    * a single codegen'd expression: zero Generate, zero Exchange, zero
    * aggregation before the collision join (PlanSpec-pinned) — at 100 TB
    * the assignment is one pass over the corpus, full stop. */
  private[graft] def int8Assign(quantized: DataFrame, c: Int, dim: Int): DataFrame = {
    val cb = typedLit(int8Codebook(c, dim))
    quantized.withColumn("bucket",
      array_min(transform(sequence(lit(0), lit(c - 1)), ci =>
        struct(
          aggregate(zip_with(col("qv"), element_at(cb, ci + 1), (x, v) => (x - v) * (x - v)),
            lit(0L), (acc, v) => acc + v).as("d2"),
          ci.cast("long").as("ci")))).getField("ci"))
  }

  /** INT8 IVF-flat maximum-inner-product search over the CLOSED-FORM
    * integer codebook ([[int8Codebook]]) — the q28b2 discipline applied
    * to the IVF family: quantize (`floor(x*127)`), assign every corpus
    * vector to its nearest centroid by exact integer squared-L2
    * ([[int8Assign]]), probe each query's `nProbe` nearest centroids,
    * and rank same-bucket candidates by the exact integer inner product,
    * ties by id. Every step after the quantize is integer arithmetic a
    * SQL twin re-derives verbatim (q28d2) — the first hash-checked row
    * in the otherwise trained-model IVF family (q28d/f/g/h/i).
    *
    * Scale shape mirrors the production [[graft.operators.Ivf.topK]]
    * plan: map-only assignment with a broadcast literal codebook, probe
    * set computed query-side only, candidates from the bucket equi-join
    * (query side broadcast — the corpus never shuffles), per-query top-k
    * window over candidate rows. Returns
    * (q_id, n_id, rank, dot, n_bucket). */
  def ivfTopKInt8(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int = 64,
      c: Int = 16,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = Stage.scope { s =>
    require(k > 0, s"k must be positive, got $k")
    require(c > 0, s"c must be positive, got $c")
    require(nProbe > 0 && nProbe <= c, s"nProbe must be in [1, $c], got $nProbe")
    val cb = typedLit(int8Codebook(c, dim))
    // feeds the collision join AND scoring
    val cq = s(int8Assign(quantizeInt8(corpus, dim, idCol, vecCol), c, dim))
    val qq = s(quantizeInt8(queries, dim, idCol, vecCol))
    // nProbe nearest centroids per query: sort the same (d2, ci) struct
    // array the assignment minimizes, take the prefix — query-batch-sized
    val probes = qq.select(
      col("id").as("q_id"),
      explode(transform(
        slice(array_sort(transform(sequence(lit(0), lit(c - 1)), ci =>
          struct(
            aggregate(zip_with(col("qv"), element_at(cb, ci + 1), (x, v) => (x - v) * (x - v)),
              lit(0L), (acc, v) => acc + v).as("d2"),
            ci.cast("long").as("ci")))), 1, nProbe),
        s => s.getField("ci"))).as("bucket"))
    val cand = broadcast(probes)
      .join(cq.select(col("id").as("n_id"), col("bucket")), Seq("bucket"))
      .filter(!(col("q_id") <=> col("n_id")))
    val scored = cand
      .join(broadcast(qq.select(col("id").as("q_id"), col("qv").as("qa"))), Seq("q_id"))
      .join(cq.select(col("id").as("n_id"), col("qv").as("qb")), Seq("n_id"))
      .withColumn("dot",
        aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dot").desc, col("n_id").asc)
    // materialize BEFORE the inputs are freed
    s(scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("dot"),
        col("bucket").as("n_bucket")))
  }

  /** All pairs with cosine >= threshold, blocked on an exact-match column
    * (e.g. label) to bound the pair count; the LSH bucket plays this role at
    * scale when no natural blocking key exists. */
  def nearDupPairs(
      corpus: DataFrame,
      threshold: Double,
      blockCol: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol), col(blockCol),
      VectorOps.normSq(col(vecCol)).as("_nsq"))
    c.as("a")
      .join(c.as("b"), col(s"a.$blockCol") === col(s"b.$blockCol") && col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("score", VectorOps.cosineWithNorms(
        col(s"a.$vecCol"), col(s"b.$vecCol"), col("a._nsq"), col("b._nsq")))
      .filter(col("score") >= threshold)
      .select(
        col(s"a.$idCol").as("id_a"),
        col(s"b.$idCol").as("id_b"),
        round(col("score"), 6).as("score"))
  }
}
