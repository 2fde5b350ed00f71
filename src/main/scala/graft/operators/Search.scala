package graft.operators

import graft.core.{Parquet, SegmentLog, Stage}
import graft.functions.TextOps
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword retrieval over a document corpus — the inspection/debugging
  * companion to the embedding search family ([[Similarity]], [[Ivf]]): a
  * curation engineer asks "which documents mention X" against 100 TB
  * without building an external search cluster. BM25 (Robertson-Spärck
  * Jones; the Lucene-style `ln(1 + (N - df + 0.5)/(df + 0.5))` idf
  * variant, which never goes negative) is public knowledge.
  */
object Search {

  /** Batch BM25 top-k: one (query_id, doc_id, rank, score) row per hit,
    * `rank` by (score desc, id asc) within each query, scores rounded to 4
    * decimals BEFORE ranking (the rounded value is the tie-break domain, so
    * ordering is robust to last-ulp float differences). Documents sharing
    * no term with a query are not hits (classic disjunctive retrieval); a
    * term absent from the corpus contributes nothing.
    *
    * Scale design: NO inverted index is built — the corpus is scanned once
    * per query BATCH, so cost amortizes over the batch (the ad-hoc
    * inspection pattern; a standing index is [[graft.core.Layout]]'s
    * bucketize territory). Document lengths are a map-only projection (one
    * slim single-row agg for N/avgdl); the exploded token stream is
    * filtered by the BROADCAST query-term set BEFORE any exchange, so the
    * only corpus-derived shuffle carries (doc, matched-term) partial
    * counts — web-corpus docs match a handful of terms, not their token
    * count. idf is a term-sized broadcast; per-term contributions
    * decimal-accumulate per (query, doc) and the final top-k is a window
    * over hit rows only. */
  def bm25(
      documents: DataFrame,
      queries: DataFrame,
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text",
      queryIdCol: String = "query_id",
      queryTextCol: String = "query_text"): DataFrame = {
    require(topK > 0, "topK must be positive")
    require(k1 > 0.0 && b >= 0.0 && b <= 1.0, s"bad BM25 params k1=$k1 b=$b")
    // distinct query terms (a repeated term in one query counts once — the
    // VALUES-set semantics the SQL twin mirrors)
    val terms = queries.select(
      col(queryIdCol).as("query_id"),
      explode(TextOps.tokens(coalesce(col(queryTextCol), lit("")))).as("tok"))
      // NOT checkpointed: the returned plan broadcast-joins this frame, so
      // a localCheckpoint here could never be freed — one leaked block per
      // call (the r14 text-soak catch). Query-batch-sized; recompute is
      // cheaper than a permanent storage block.
      .distinct()
    // ONE corpus pass: the former standalone N/Σdl aggregate was a second
    // full tokenize of the corpus spent on two numbers — at 100 TB an
    // entire scan + regex pass (guide §1.2 step 1). The stats are OBSERVED
    // on the tokenize projection feeding the tf pass (the buildTextIndex
    // discipline) and the hit-sized tf aggregate — (doc, matched term)
    // rows, never corpus-sized — is materialized eagerly so the observed
    // values are readable before scoring is planned. The checkpoint block
    // lives with the returned plan (it passes to the caller's scope; the
    // bench's per-rep unpersist sweep frees it); that is the price of the
    // removed corpus pass.
    val obs = org.apache.spark.sql.Observation(
      s"bm25_stats_${java.util.UUID.randomUUID()}")
    // per-(doc, matched term) frequencies; dl rides along (constant per
    // doc). tokenizedDocs: one tokenizer run per row — size + explode as
    // sibling trees each re-ran the regex (see tokenizedDocs)
    val tf = Stage.scope(_(tokenizedDocs(documents, idCol, textCol)
      .observe(obs, count(lit(1)).as("n_docs"),
        coalesce(sum(size(col("_toks")).cast("long")), lit(0L)).as("sum_dl"))
      .select(col("doc_id"), size(col("_toks")).cast("long").as("dl"),
        explode(col("_toks")).as("tok"))
      .join(broadcast(terms.select("tok").distinct()), Seq("tok"), "left_semi")
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"), max("dl").cast("double").as("dl"))))
    // empty-relation propagation can collapse the plan and prune the
    // CollectMetrics node (empty corpus, or a query batch with zero terms
    // — the semi-join's broadcast side folds to empty): fall back to the
    // direct aggregate, which only ever runs on those degenerate inputs.
    // getOrEmpty, not get: the checkpoint action above has already
    // finished, so the metrics either arrived or never will (pruned node)
    // — a bounded wait can fall back, a blocking get could hang forever on
    // a Spark-internal change (the ADVICE r14 caveat). The fallback
    // recomputes the same exact values, so a theoretical delivery race
    // costs one small job, never correctness.
    val metrics = org.apache.spark.sql.GraftObservationAccess.getOrEmpty(obs)
    val (n, sumDl) =
      if (metrics.contains("n_docs"))
        (metrics("n_docs").asInstanceOf[Long], metrics("sum_dl").asInstanceOf[Long])
      else {
        val r = tokenizedDocs(documents, idCol, textCol)
          .select(size(col("_toks")).cast("long").as("dl"))
          .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
    require(n > 0, "Search.bm25: empty corpus")
    val avgdl = sumDl.toDouble / n.toDouble
    scoreAndRank(tf, terms, n, avgdl, topK, k1, b)
  }

  /** The scoring tail shared by the scan and indexed paths — ONE definition
    * so the two can never diverge: df/idf from the matched (doc, term)
    * rows, decimal-accumulated per-(query, doc) scores, rounded BEFORE the
    * per-query rank window. `tf` = (doc_id, tok, tf, dl) doubles. */
  private def scoreAndRank(
      tf: DataFrame, terms: DataFrame, n: Long, avgdl: Double,
      topK: Int, k1: Double, b: Double): DataFrame = {
    val idf = tf.groupBy("tok")
      .agg(count(lit(1)).cast("double").as("df"))
      .select(col("tok"),
        log((lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
          .as("idf"))
    val contrib = col("idf") * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    val dec = org.apache.spark.sql.types.DecimalType(30, 10)
    val scored = tf
      .join(broadcast(terms), Seq("tok"))
      .join(broadcast(idf), Seq("tok"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(contrib.cast(dec)).cast("double"), 4).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("rank"), col("score"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke, Büttcher 2009 — public
    * knowledge) of N per-query rankings: every input frame contributes
    * `w_i / (k0 + rank)` for each (query, doc) it ranks, contributions sum
    * per (query, doc), and the fused top-k re-ranks by the summed score.
    * A doc missing from some rankings simply collects fewer contributions
    * — the standard hybrid-retrieval combiner, robust to incomparable
    * score scales because only RANKS cross the boundary.
    *
    * Determinism/scale: contributions accumulate in DECIMAL (summation
    * order cannot perturb the 6-decimal rounded score), the fused rank
    * tie-breaks by (score desc, doc_id asc), and the only data moved is
    * (query_id, doc_id, rank) triples — ranking frames are top-k-sized,
    * never corpus-sized, so the union + one aggregation is
    * query-batch-bounded no matter the corpus behind the rankings. */
  def fuseRankings(
      rankings: Seq[DataFrame],
      topK: Int = 10,
      k0: Int = 60,
      weights: Seq[Double] = Nil): DataFrame = {
    require(rankings.nonEmpty, "fuseRankings: no rankings")
    require(topK > 0, "topK must be positive")
    require(k0 >= 0, "k0 must be >= 0")
    require(weights.isEmpty || weights.length == rankings.length,
      s"${weights.length} weights for ${rankings.length} rankings")
    val dec = org.apache.spark.sql.types.DecimalType(30, 10)
    val contribs = rankings.zipWithIndex.map { case (r, i) =>
      val wi = if (weights.isEmpty) 1.0 else weights(i)
      r.select(col("query_id"), col("doc_id"),
        (lit(wi) / (lit(k0).cast("double") + col("rank").cast("double")))
          .cast(dec).as("c"))
    }
    val fused = contribs.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("c")).cast("double"), 6).as("rrf"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("doc_id"))
    fused
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("rank"), col("rrf"))
  }

  /** Hybrid keyword + dense retrieval: BM25 ranks and cosine-similarity
    * ranks fused by [[fuseRankings]] — the standard two-tower retrieval
    * combiner (a doc strong on either signal surfaces; one strong on both
    * outranks it). `queries` carries BOTH a text and a vector column;
    * `embeddings` ids must be document ids. This convenience uses the
    * exact brute-force dense ranking — at index scale compute the dense
    * side with [[Ivf.topKIndexed]] / [[Pq.topKIndexed]] and fuse via
    * [[fuseRankings]] directly (rankings are the interchange format,
    * precisely so the dense implementation can swap). */
  def hybridTopK(
      documents: DataFrame,
      embeddings: DataFrame,
      queries: DataFrame,
      topK: Int = 10,
      fetchK: Int = 50,
      k0: Int = 60,
      keywordWeight: Double = 1.0,
      denseWeight: Double = 1.0,
      idCol: String = "doc_id",
      textCol: String = "text",
      vecIdCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryTextCol: String = "query_text",
      queryVecCol: String = "query_vec"): DataFrame = {
    val kw = bm25(documents, queries, fetchK, idCol = idCol, textCol = textCol,
      queryIdCol = queryIdCol, queryTextCol = queryTextCol)
      .select(col("query_id"), col("doc_id"), col("rank"))
    // excludeSelf = false: query ids and document ids are DIFFERENT
    // namespaces here, so an id collision is coincidental — the default
    // self-exclusion would silently drop that document from the query's
    // dense ranking (e.g. the document whose embedding IS the query vector)
    val dn = Similarity.bruteForceTopK(
      embeddings.select(col(vecIdCol).as("_hy_id"), col(vecCol).as("_hy_vec")),
      queries.select(col(queryIdCol).as("_hy_id"), col(queryVecCol).as("_hy_vec")),
      fetchK, idCol = "_hy_id", vecCol = "_hy_vec", excludeSelf = false)
      .select(col("q_id").as("query_id"), col("n_id").as("doc_id"), col("rank"))
    fuseRankings(Seq(kw, dn), topK, k0, Seq(keywordWeight, denseWeight))
  }

  /** Persist an INVERTED INDEX for [[bm25Indexed]]: postings
    * (doc_id, tok, tf, dl) written `partitionBy(pb)` where
    * `pb = pmod(xxhash64(tok), buckets)` — the term-hash analogue of the
    * IVF inverted-file layout ([[Ivf.writeIndex]]) and the band-bucket
    * store: a query's terms map to a handful of `pb` values, so search
    * reads only those partition directories (path pruning) plus a
    * `tok IN` rowgroup filter inside them, instead of re-tokenizing the
    * corpus per batch. Corpus stats (N, Σdl, buckets) land in `meta`.
    * Tokenize once, search many — the standing-index path where [[bm25]]
    * is the ad-hoc scan. */
  def buildTextIndex(
      documents: DataFrame,
      path: String,
      buckets: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(buckets > 0, "buckets must be positive")
    val spark = documents.sparkSession
    // Corpus stats (N, Σdl) are OBSERVED inside the postings write itself
    // (the Pq.writeIndex discipline): the former standalone
    // count/sum-of-dl aggregation was a second full tokenize pass over
    // the corpus — at 100 TB one entire scan + regex tokenization spent
    // on two numbers the write pass already sees. Values are identical
    // (same count, same sum over the same per-doc token arrays; empty
    // corpus observes (0, 0) exactly as the old aggregate did).
    // Distributed-deployment caveat (ADVICE r14 #1): CollectMetrics
    // accumulators in a shuffle-map/write stage can double-count rows
    // re-executed by task/stage RETRIES, which would skew the idf/avgdl
    // persisted in this index's meta; a single-JVM local run has no such
    // retries. For a cluster one-shot index build, prefer the exact
    // standalone aggregate (the `m` fallback below computes it) over the
    // observed values.
    val obs = org.apache.spark.sql.Observation(
      s"text_build_${java.util.UUID.randomUUID()}")
    val observed = tokenizedDocs(documents, idCol, textCol)
      .observe(obs, count(lit(1)).as("n_docs"),
        coalesce(sum(size(col("_toks")).cast("long")), lit(0L)).as("sum_dl"))
    val fs = SegmentLog.fs(spark, path)
    // partitioned, one task per touched bucket => one file per bucket
    Postings.write(fs, new Path(s"$path/postings"), buckets,
      Some(postingsFromTokens(observed, buckets)))
    // getOrEmpty, not get: the write has already finished, so metrics
    // either arrived or never will — the blocking get relied on a
    // Spark-internal (ObservationManager posting Row.empty for a pruned
    // CollectMetrics node) to terminate; a bounded wait + fallback cannot
    // hang if that internal changes (ADVICE r14 #4).
    val metrics = org.apache.spark.sql.GraftObservationAccess.getOrEmpty(obs)
    // an EMPTY corpus can leave the metrics map empty: empty-relation
    // propagation collapses the write's input to a LocalRelation and the
    // CollectMetrics node never runs (SearchSpec's empty-seeded store hit
    // this). Fall back to the direct aggregate — zero-to-tiny input there,
    // so the second pass costs nothing.
    val m =
      if (metrics.contains("n_docs"))
        (metrics("n_docs").asInstanceOf[Long], metrics("sum_dl").asInstanceOf[Long])
      else {
        val r = tokenizedDocs(documents, idCol, textCol)
          .select(size(col("_toks")).cast("long").as("dl"))
          .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
    // a rebuild over an existing index retracts the generation pointer:
    // from here the legacy `postings/` (just written, marker inside) is
    // the base root again, and stale generations are swept by the next
    // compaction. The retraction and the meta write are the LAST two
    // steps, paired: through the whole postings rewrite, readers see the
    // old generation WITH the old meta (a consistent index) — writing
    // meta first would route scores off the new corpus's N/avgdl while
    // the pointer still serves the stale postings for the entire rewrite
    // if a crash lands in between. The residual window (pointer retracted,
    // meta not yet written) is two small writes wide, and a rebuild rerun
    // repairs it.
    fs.delete(new Path(path, PostingsGens.pointer), false)
    import spark.implicits._
    Seq((m._1, m._2, buckets)).toDF("n_docs", "sum_dl", "buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The postings roots' layout: [[graft.core.SegmentLog.Buckets]] over
    * `pb`. The per-bucket target (a term's probe reads ~this many rows per
    * root) is 65,536 postings; the system property is a spec-fixture hook. */
  private def Postings = SegmentLog.Buckets("pb",
    sys.props.get("graft.text.bucket.target.rows").map(_.toLong).getOrElse(65536L))

  /** The base postings generations behind the `_POSTINGS` pointer
    * (`postings_v<k>` once a re-bucket has published; the legacy
    * `postings/` on build-time stores). A re-bucket fires on the
    * maintenance slots ([[foldTextSegments]] beside a live ingest,
    * [[compactTextIndex]] stop-the-world), sized off the live postings
    * (base + streamed segments). */
  private val PostingsGens =
    SegmentLog.Generations("_POSTINGS", "postings", "postings", Seq("postings"))

  private def basePostingsRoot(fs: FileSystem, path: String): Path =
    new Path(path, PostingsGens.current(fs, new Path(path)))

  /** The build-time bucket count in `meta`: the P of pre-marker roots. */
  private def metaBuckets(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    Parquet.read(spark, s"$path/meta").head().getInt(2)

  /** The postings derivation — ONE definition shared by the batch build,
    * the batch append, and the streaming segment writer, so the three
    * write paths can never diverge on tokenizer, tf accounting, or the
    * bucket hash (the same single-definition discipline as
    * [[scoreAndRank]] on the read side): (doc_id, tok, tf, dl, pb) rows,
    * `pb = pmod(xxhash64(tok), buckets)`. */
  /** (doc_id, _toks) — the tokenize-ONCE projection every postings pass
    * builds on: `size(toks)` and `explode(toks)` as sibling expression
    * trees each ran the tokenizer regex (Generate and Project are separate
    * operators — no cross-operator subexpression reuse), so the postings
    * pass paid the corpus tokenization twice. Materializing the array as
    * its own projection makes both consumers read one bound attribute;
    * CollapseProject keeps non-cheap expressions un-inlined. */
  private def tokenizedDocs(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(coalesce(col(textCol), lit(""))).as("_toks"))

  private def postingsFromTokens(tokenized: DataFrame, buckets: Int): DataFrame =
    tokenized
      .select(col("doc_id"), size(col("_toks")).cast("long").as("dl"),
        explode(col("_toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"), max("dl").as("dl"))
      // int, not long: partition directories (`pb=3`) read back as int, so
      // a flat root's pb DATA column must be int too or root unions
      // type-clash
      .withColumn("pb", pmod(xxhash64(col("tok")), lit(buckets.toLong)).cast("int"))

  private def postingsRows(
      docs: DataFrame, buckets: Int, idCol: String, textCol: String): DataFrame =
    postingsFromTokens(tokenizedDocs(docs, idCol, textCol), buckets)

  /** Append new documents to a persisted text index WITHOUT rebuilding:
    * the batch's postings land in the existing bucket partitions and the
    * corpus stats in `meta` grow by the batch — search after append is
    * IDENTICAL to a full [[buildTextIndex]] rebuild over the union
    * (df/tf come from the postings themselves and N/avgdl from meta, so
    * there is no trained state to go stale — unlike [[Ivf.appendToIndex]]
    * this append needs no rebuild gate, ever). Ids must be fresh (not
    * present, not tombstoned). Returns documents appended. */
  def appendToTextIndex(
      newDocs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Long = {
    val spark = newDocs.sparkSession
    val meta = Parquet.read(spark, s"$path/meta").head()
    val (n0, sd0) = (meta.getLong(0), meta.getLong(1))
    // the CURRENT base root at ITS operative P (a re-bucket may have moved
    // it past the build-time meta value). Direct appends share the
    // maintenance contract with the band stores: they must not race the
    // fold/compaction slot (streaming deployments use segments instead).
    val fs = SegmentLog.fs(spark, path)
    val root = basePostingsRoot(fs, path)
    val buckets = Postings.operative(fs, root, meta.getInt(2))
    val bm = Stage.scope { s =>
      val batch = s(postingsRows(newDocs, buckets, idCol, textCol))
      Postings.append(fs, root, batch)
      batch.select("doc_id", "dl").groupBy("doc_id").agg(max("dl").as("dl"))
        .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
    }
    import spark.implicits._
    // meta keeps its ORIGINAL bucket value: it is the fallback P of
    // PRE-MARKER roots (old segments), so only a compaction — which
    // retires every root — may move it
    Seq((n0 + bm.getLong(0), sd0 + bm.getLong(1), meta.getInt(2)))
      .toDF("n_docs", "sum_dl", "buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    bm.getLong(0)
  }

  /** Retract documents from a persisted text index by id — the takedown
    * path ([[Ivf.deleteFromIndex]]'s contract): tombstones carry the
    * removed documents' LENGTH MASS (looked up from the postings once, at
    * delete time), so reads reconstruct exact post-deletion N/avgdl from
    * `meta` minus the tombstone aggregate without rewriting anything —
    * search after delete is IDENTICAL to a rebuild without those docs.
    * Idempotent (re-deletes dedupe at read); ids must not be reused while
    * tombstoned. Returns distinct ids tombstoned by this call. */
  def deleteFromTextIndex(
      removedIds: DataFrame,
      path: String,
      idCol: String = "doc_id"): Long = {
    val spark = removedIds.sparkSession
    // ids pass through UNCAST: every other text-index entry point is
    // id-type-generic, and a long cast would null out string ids — turning
    // the takedown into a silent no-op
    val ids = removedIds.select(col(idCol).as("doc_id")).distinct()
    val fs = SegmentLog.fs(spark, path)
    // data-less roots (empty-seeded base, zero-doc segments) can't be
    // schema-inferred — and hold nothing to tombstone anyway
    val roots = (basePostingsRoot(fs, path).toString
      +: liveSegments(spark, path).map(_ + "/postings"))
      .filter(r => SegmentLog.hasData(fs, new Path(r)))
    if (roots.isEmpty) return 0L
    Stage.scope { s =>
      val batch = s(roots
        .map(Parquet.read(spark, _)).reduce(_ unionByName _)
        .join(broadcast(ids), Seq("doc_id"), "left_semi")
        .groupBy("doc_id").agg(max("dl").as("dl")))
      batch.write.mode("append").parquet(s"$path/tombs")
      batch.count()
    }
  }

  /** The live STREAMED segments of a text index — the replay-idempotent
    * append form ([[writePostingsSegment]]) under the
    * [[graft.core.SegmentLog.Text]] rule: a segment is visible iff both its
    * postings tree and its `segmeta` committed (`segmeta` is written last,
    * so it is the commit point; a crash mid-write leaves the segment
    * invisible and the replay overwrites it whole). */
  private def liveSegments(spark: org.apache.spark.sql.SparkSession, path: String): Seq[String] =
    SegmentLog.Text.live(SegmentLog.fs(spark, path), new Path(path)).segments.map(_.dir.toString)

  /** Write a document batch's postings as a NAMED segment under
    * `segs/<segName>` with overwrite semantics plus its own stats row —
    * the streaming form of [[appendToTextIndex]]: a crash-replayed
    * micro-batch rewrites the same directory (postings AND per-segment
    * meta) instead of double-appending, and the base `meta` is never
    * mutated, so replay cannot double-count N/avgdl. Folded into the base
    * by [[compactTextIndex]]. Ids must be fresh. Returns docs written. */
  def writePostingsSegment(
      newDocs: DataFrame,
      path: String,
      segName: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Long = {
    val spark = newDocs.sparkSession
    val fs = SegmentLog.fs(spark, path)
    // the CURRENT operative P, recorded in the segment root's own
    // `_BUCKETS` marker — probes prune this root at the marker P, so a
    // later base re-bucket can never mis-filter these rows
    val buckets = Postings.operative(fs, basePostingsRoot(fs, path), metaBuckets(spark, path))
    val m = Stage.scope { s =>
      val batch = s(postingsRows(newDocs, buckets, idCol, textCol))
      Postings.write(fs, new Path(s"$path/segs/$segName/postings"), buckets, Some(batch),
        Some(batch.count()))
      batch.select("doc_id", "dl").groupBy("doc_id").agg(max("dl").as("dl"))
        .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
    }
    import spark.implicits._
    Seq((m.getLong(0), m.getLong(1))).toDF("n_docs", "sum_dl")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/segs/$segName/segmeta")
    m.getLong(0)
  }

  /** Fold live streamed segments into ONE compact segment and grow the
    * base root's bucket count when outgrown — SAFE BESIDE a running
    * [[graft.streaming.Ingest.startTextIndexIngest]] under the
    * [[graft.core.SegmentLog]] fold, the compact `segmeta` summing the
    * folded stats rows. The base root and tombstones are NOT touched (that
    * full fold is [[compactTextIndex]], stop-the-world) — this bounds the
    * per-query listing + segmeta cost of a week-long ingest at O(1)
    * segments.
    *
    * GROWTH rides the same slot, BEFORE the fold (so this fold's compact
    * segment lands at the new P): the grow rule of
    * [[graft.core.SegmentLog.Buckets]], sized off LIVE postings (base +
    * segments, parquet footer counts), publishes a new base generation
    * behind the `_POSTINGS` pointer. The superseded generation outlives
    * the flip until readers drain ([[gcTextIndex]]).
    *
    * `gc = true` immediately deletes folded directories and stale
    * generations — safe only when no concurrent reader planned before the
    * marker; pass `gc = false` beside a live ingest and run
    * [[gcTextIndex]] after the per-batch readers drain (one trigger). */
  def foldTextSegments(
      spark: org.apache.spark.sql.SparkSession, path: String,
      gc: Boolean = true): Unit = {
    val (fs, root) = (SegmentLog.fs(spark, path), new Path(path))
    val base = basePostingsRoot(fs, path)
    val live = SegmentLog.Text.live(fs, root).segments
    val segs = live.map(_.dir.toString)
    // ---- growth (before the fold; footer counts only) ----
    if (fs.exists(base)) {
      val eff = Postings.operative(fs, base, metaBuckets(spark, path))
      val roots = base +: segs.map(s => new Path(s"$s/postings"))
      val liveRows = roots.map(SegmentLog.rowCount(spark, fs, _)).sum
      val grown = Postings.grow(fs, liveRows, eff, roots.tail)
      if (grown != eff) {
        // an empty-seeded pure-streaming store has a DATA-LESS base root
        // (build over zero rows writes only _SUCCESS) — reading it for the
        // re-bucket would throw on schema inference and permanently crash
        // this fold slot. Publish an empty generation instead: the
        // operative P still grows, so this fold's compact segment (and
        // every segment after it) lands at the new P.
        val baseRows =
          if (SegmentLog.hasData(fs, base)) Some(Parquet.read(spark, base.toString))
          else None
        publishPostingsGen(fs, path, baseRows, grown)
      }
    }
    // ---- fold ([[graft.core.SegmentLog.fold]]) ----
    if (segs.size > 1) SegmentLog.Text.fold(fs, root, live) { dir =>
      val p = Postings.operative(fs, basePostingsRoot(fs, path), metaBuckets(spark, path))
      val foldRows = segs.map(s => SegmentLog.rowCount(spark, fs, new Path(s + "/postings"))).sum
      // recompute pb at the CURRENT operative P: folded segments may have
      // been written at different P's, and pb is a pure function of tok
      val folded = segs.map(s => Parquet.read(spark, s + "/postings"))
        .reduce(_ unionByName _)
        .withColumn("pb", pmod(xxhash64(col("tok")), lit(p.toLong)).cast("int"))
      Postings.write(fs, new Path(s"$dir/postings"), p, Some(folded), Some(foldRows))
      // compact segmeta = the exact sum of the folded stats rows
      val (n, sd) = segs.foldLeft((0L, 0L)) { case ((a, d), s) =>
        val r = Parquet.read(spark, s"$s/segmeta").head()
        (a + r.getLong(0), d + r.getLong(1))
      }
      import spark.implicits._
      Seq((n, sd)).toDF("n_docs", "sum_dl")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/segmeta")
    }
    if (gc) { gcTextIndex(spark, path); () }
  }

  /** Publish a COMPLETE base postings tree as a new generation
    * ([[PostingsGens]]), partitioned at `p`, the pointer flip as the commit
    * point. `None` publishes an EMPTY generation (marker only, no data
    * files): the empty-seeded pure-streaming store's growth path — the
    * operative P still moves, and every reader already tolerates data-less
    * roots. */
  private def publishPostingsGen(
      fs: FileSystem, path: String, rows: Option[DataFrame], p: Int): Unit =
    PostingsGens.publish(fs, new Path(path)) { dir =>
      Postings.write(fs, dir, p,
        rows.map(_.withColumn("pb", pmod(xxhash64(col("tok")), lit(p.toLong)).cast("int"))))
    }

  /** [[graft.core.SegmentLog.gc]] of a text index, plus the base
    * generations the `_POSTINGS` pointer no longer references. Run from
    * the maintenance actor only, after readers that planned before the
    * last fold marker or pointer flip have drained
    * ([[graft.operators.Dedup.gcDocIndex]]'s contract). Returns every
    * directory removed: folded and orphaned segments, superseded base
    * generations and the legacy postings tree. */
  def gcTextIndex(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val (fs, root) = (SegmentLog.fs(spark, path), new Path(path))
    SegmentLog.Text.gc(fs, root)() + PostingsGens.sweep(fs, root)
  }

  /** Fold streamed segments AND tombstones into the base postings: one
    * flat bucket-partitioned tree again, deleted rows physically
    * reclaimed, `meta` recounted FROM THE LIVE POSTINGS (recount, not
    * subtraction — and (doc, tok)-deduped, so the operation is IDEMPOTENT:
    * re-running after any mid-way crash restores consistency).
    * STOP-THE-WORLD for this index (rewrites `postings/` in place, the
    * [[Ivf.compactIndexSegments]] contract). */
  def compactTextIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val (fs, root) = (SegmentLog.fs(spark, path), new Path(path))
    // finish a crashed legacy stage-then-swap before anything else
    // (pre-generation indexes compacted in place; generation publishes
    // have no such window)
    SegmentLog.healSwap(fs,
      new Path(s"$path/postings_staging"),
      new Path(s"$path/postings"))
    val tombsDir = new Path(s"$path/tombs")
    val segs = liveSegments(spark, path)
    val base = basePostingsRoot(fs, path)
    // the grow rule rides the compaction: the folded tree lands at the
    // grown P; stop-the-world, so no marker gate — every root is retired
    val eff = Postings.operative(fs, base, metaBuckets(spark, path))
    val liveRows = (base.toString +: segs.map(_ + "/postings"))
      .map(r => SegmentLog.rowCount(spark, fs, new Path(r))).sum
    val newP = Postings.grow(fs, liveRows, eff, Nil)
    val grown = newP != eff
    if (!fs.exists(tombsDir) && segs.isEmpty && !grown) return
    // data-less roots (empty-seeded base, zero-doc segments) can't be
    // schema-inferred; fold only the roots that hold rows
    val dataRoots = (base.toString +: segs.map(_ + "/postings"))
      .filter(r => SegmentLog.hasData(fs, new Path(r)))
    val live = if (dataRoots.isEmpty) None else {
      val raw = dataRoots
        .map(Parquet.read(spark, _)).reduce(_ unionByName _)
        // (doc, tok) dedupe makes the fold IDEMPOTENT: a crash after the
        // base publish but before the segment delete leaves segment rows in
        // both trees, and the rerun must not double them
        .dropDuplicates("doc_id", "tok")
      Some(if (!fs.exists(tombsDir)) raw
      else raw.join(
        broadcast(Parquet.read(spark, tombsDir.toString).select("doc_id").distinct()),
        Seq("doc_id"), "left_anti"))
    }
    // generation publish (marker first, pointer flip as the commit
    // point): a crash at any point leaves a complete referenced tree on
    // disk — the old one before the flip, the new one after
    publishPostingsGen(fs, path, live, newP)
    // the recounted meta lands BEFORE the segment/tombstone deletes: a
    // crash in between leaves readers double-counting segment stats until
    // the rerun (which re-folds through the dedupe and re-deletes), but
    // never the unrecoverable inverse — deleting the segmeta/tombstone
    // stats first and dying before the meta write would strand a stale
    // meta that the nothing-to-do early return above could never repair.
    // meta's bucket value may move here and ONLY here: every pre-marker
    // root that used it as its fallback P is retired by this fold.
    // A fully-tombstoned (or empty-input) compaction published a DATA-LESS
    // generation — recount as zeros rather than schema-inferring it.
    val newRoot = basePostingsRoot(fs, path)
    val (nDocs, sumDl) =
      if (!SegmentLog.hasData(fs, newRoot)) (0L, 0L)
      else {
        val m = Parquet.read(spark, newRoot.toString)
          .select("doc_id", "dl").groupBy("doc_id").agg(max("dl").as("dl"))
          .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
        (m.getLong(0), m.getLong(1))
      }
    import spark.implicits._
    Seq((nDocs, sumDl, newP)).toDF("n_docs", "sum_dl", "buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    SegmentLog.Text.retire(fs, root)
    // stop-the-world: superseded generations sweep drain-free
    PostingsGens.sweep(fs, root)
  }

  /** GetProperty-style health of a persisted text index (the
    * [[graft.operators.Dedup.exactIndexStats]] /[[Ivf.indexStats]]
    * contract): live document count and average length (exactly what
    * scoring will use), posting-row and distinct-term counts, streamed
    * segments awaiting a fold, pending tombstones. The posting counts
    * scan the slim postings trees only — never document text. */
  def textIndexStats(
      spark: org.apache.spark.sql.SparkSession, path: String): Map[String, String] = {
    val meta = Parquet.read(spark, s"$path/meta").head()
    val (n0, sd0) = (meta.getLong(0), meta.getLong(1))
    val fs = SegmentLog.fs(spark, path)
    val buckets = Postings.operative(fs, basePostingsRoot(fs, path), meta.getInt(2))
    val segs = liveSegments(spark, path)
    val (nS, sdS) = segs.foldLeft((n0, sd0)) { case ((a, d), seg) =>
      val r = Parquet.read(spark, s"$seg/segmeta").head()
      (a + r.getLong(0), d + r.getLong(1))
    }
    val tombsDir = new Path(s"$path/tombs")
    val (tombN, tombDl) =
      if (!fs.exists(tombsDir)) (0L, 0L)
      else {
        val g = Parquet.read(spark, tombsDir.toString)
          .groupBy("doc_id").agg(max("dl").as("dl"))
          .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
        (g.getLong(0), g.getLong(1))
      }
    val (n, sd) = (nS - tombN, sdS - tombDl)
    // data-less roots (empty-seeded base, zero-doc segments) can't be
    // schema-inferred and hold zero postings by definition
    val dataRoots = (basePostingsRoot(fs, path).toString
      +: segs.map(_ + "/postings"))
      .filter(r => SegmentLog.hasData(fs, new Path(r)))
    val (nPostings, nTerms) =
      if (dataRoots.isEmpty) (0L, 0L)
      else {
        val p = dataRoots.map(Parquet.read(spark, _)).reduce(_ unionByName _)
          .agg(count(lit(1)), approx_count_distinct(col("tok"))).head()
        (p.getLong(0), p.getLong(1))
      }
    Map(
      "graft.text.docs" -> n.toString,
      "graft.text.sum-tokens" -> sd.toString,
      "graft.text.avgdl" -> f"${if (n > 0) sd.toDouble / n else 0.0}%.4f",
      "graft.text.postings" -> nPostings.toString,
      "graft.text.terms-approx" -> nTerms.toString,
      "graft.text.buckets" -> buckets.toString,
      "graft.text.segments" -> segs.size.toString,
      "graft.text.tombstones" -> tombN.toString)
  }

  /** BM25 over a [[buildTextIndex]] index: IDENTICAL results to [[bm25]]
    * on the indexed corpus (same scoring tail, stats from `meta` minus any
    * tombstoned documents), but the per-batch cost is a pruned postings
    * read — only the query terms' hash buckets are listed and scanned —
    * instead of a corpus scan. The term-bucket set is computed with one
    * query-batch-sized job; corpus data never reaches the driver. The
    * base and segment roots are read by [[graft.core.SegmentLog.Buckets]]'s
    * pruned read, each at its own P from the terms' raw xxhash64 values. */
  def bm25Indexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      queryIdCol: String = "query_id",
      queryTextCol: String = "query_text"): DataFrame = {
    require(topK > 0, "topK must be positive")
    val meta = Parquet.read(spark, s"$path/meta").head()
    val (n0, sd0, metaP) = (meta.getLong(0), meta.getLong(1), meta.getInt(2))
    // live streamed segments contribute their own stats rows — the base
    // meta never mutates on the streaming path, so a replayed batch
    // cannot double-count
    val segs = liveSegments(spark, path)
    val (nS, sdS) = segs.foldLeft((n0, sd0)) { case ((a, d), seg) =>
      val r = Parquet.read(spark, s"$seg/segmeta").head()
      (a + r.getLong(0), d + r.getLong(1))
    }
    // tombstoned docs leave N/avgdl exactly as a rebuild-without-them
    // would: their length mass rides the tombstones (takedown-sized)
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombsDir = new Path(s"$path/tombs")
    val tombs = if (fs.exists(tombsDir))
      // not checkpointed: the returned plan anti-joins this frame, so a
      // checkpoint block here would outlive the call (the r14 text-soak
      // leak). Takedown-sized; the stats agg below re-reads the parquet.
      Some(Parquet.read(spark, tombsDir.toString)
        .groupBy("doc_id").agg(max("dl").as("dl")))
    else None
    val (n, sumDl) = tombs.fold((nS, sdS)) { t =>
      val g = t.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
      (nS - g.getLong(0), sdS - g.getLong(1))
    }
    require(n > 0, "Search.bm25Indexed: empty index")
    val avgdl = sumDl.toDouble / n.toDouble
    val terms = queries.select(
      col(queryIdCol).as("query_id"),
      explode(TextOps.tokens(coalesce(col(queryTextCol), lit("")))).as("tok"))
      // not checkpointed — same leak shape as above: scoreAndRank
      // broadcast-joins this frame into the returned plan. The two collects
      // below re-tokenize the (small) query batch instead.
      .distinct()
    // the terms' RAW hashes (not buckets): per-root hit buckets are
    // derived from these at each root's own P — a query-batch-sized
    // collect
    val termHashes = terms.select(xxhash64(col("tok")))
      .distinct().collect().map(_.getLong(0))
    val termList = terms.select("tok").distinct().collect().map(_.getString(0)).toSeq
    // base + streamed segments, each root bucket-pruned independently at
    // its own marker P
    val roots = basePostingsRoot(fs, path).toString +: segs.map(_ + "/postings")
    val views = Postings.read(spark, fs, roots, termHashes.toSeq, metaP)
      .map(_.filter(col("tok").isin(termList: _*)).select("doc_id", "tok", "tf", "dl"))
    val raw =
      if (views.nonEmpty) views.reduce(_ unionByName _)
      // no hit bucket anywhere (every query term absent from the corpus):
      // a typed empty postings frame — folded to an empty relation at
      // plan time, no files read. Schema comes from any DATA-HOLDING root
      // (the base of an empty-seeded streaming store has no data files and
      // cannot be schema-inferred); a store with docs but zero posting
      // rows (all-empty texts) falls back to an explicitly-typed frame —
      // it is empty, so the long id type is moot.
      else roots.find(r => SegmentLog.hasData(fs, new Path(r))) match {
        case Some(r) => Parquet.read(spark, r)
          .filter(lit(false)).select("doc_id", "tok", "tf", "dl")
        case None =>
          import spark.implicits._
          Seq.empty[(Long, String, Long, Long)].toDF("doc_id", "tok", "tf", "dl")
      }
    val live = tombs.fold(raw)(t =>
      raw.join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti"))
    val tf = live.select(col("doc_id"), col("tok"),
      col("tf").cast("double").as("tf"), col("dl").cast("double").as("dl"))
    scoreAndRank(tf, terms, n, avgdl, topK, k1, b)
  }
}
