package graft.operators

import graft.core.Stage
import graft.functions.{TextOps, Tokenizer}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation for training-data assembly: budgeted selection of the
  * best documents per stratum (language, source, ...). The reference has no
  * analogue — this is part of the LLM-pipeline surface the engine adds on
  * top of the KV semantics (SURVEY.md §2.3).
  */
object Curation {

  /** Greedy per-stratum token-budget fill: within each stratum, order
    * documents best-first (`score` desc, id asc) and keep them while the
    * running token total — including the current document — stays within
    * `budgetTokens`. The standard "fill an N-token training mix with the
    * highest-quality documents per language" selection; output is one row
    * per kept document with its running total.
    *
    * Scale design: the greedy fill is BY DEFINITION a total order per
    * stratum, so a naive window would sort a whole stratum in one task —
    * at 100 TB a single language can be most of the corpus. The prefilter
    * (on by default) bounds that sort: per stratum it estimates the score
    * threshold that keeps ~2x the budget in tokens (a fixed approx-quantile
    * grid, one aggregation, driver data = strata x 21 doubles), keeps only
    * docs at-or-above the threshold, and VERIFIES losslessness — survivors
    * must still carry >= min(budget, total) tokens; any stratum failing the
    * check (pathological score/length correlation) falls back to its full
    * doc set. Survivors form a PREFIX of the stratum's sort order, and a
    * verified prefix holds at least the budget, so the fill over survivors
    * is provably identical to the fill over everything (CurationSpec
    * asserts equality) — the exact window then sorts ~2x-budget tokens per
    * stratum regardless of corpus size.
    *
    * Thresholding only engages for strata above `prefilterMinTokens`
    * (measured: a 45M-token hot stratum sorts in one task in ~3 s on
    * local[32], while the threshold machinery costs two extra aggregation
    * jobs — insurance that is worth paying only once a stratum no longer
    * fits a task, see BASELINE.md). Below the bar, strata pass through and
    * the prefilter costs one stats aggregation. */
  def tokenBudget(
      documents: DataFrame,
      budgetTokens: Long,
      score: Column,
      strataCol: String = "lang",
      idCol: String = "doc_id",
      textCol: String = "text",
      prefilter: Boolean = true,
      prefilterMinTokens: Long = 100000000L,
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val spark = documents.sparkSession
    // tokens + score computed ONCE; everything downstream moves only
    // (id, stratum, n_tokens, score) — the text never rides a shuffle.
    // NULL text coalesces to "" like every sibling operator: size(null)
    // would be -1 with ANSI off, and a -1 in the running window sum lets
    // cum_tokens dip back under budget and re-admit rows past the boundary
    val base = Stage.scope(_(documents
      .select(
        col(idCol), col(strataCol),
        tokenizer.count(coalesce(col(textCol), lit(""))).as("n_tokens"),
        score.as("_score"))))
    val survivors =
      if (!prefilter) base
      else {
        val grid = (0 to 20).map(_ / 20.0)
        // one aggregation: per-stratum token total + a coarse score CDF
        val stats = base.groupBy(col(strataCol))
          .agg(
            sum(col("n_tokens")).as("_total"),
            percentile_approx(col("_score"), typedLit(grid), lit(10000)).as("_q"))
          .collect()
        val thrRows = stats.map { r =>
          val total = r.getLong(1)
          val q = r.getSeq[Double](2)
          val thr =
            // engage only for strata both over budget AND big enough that
            // a one-task sort is the real risk; everything else keeps all.
            // q == null: percentile_approx over an all-null _score stratum
            // — no CDF to cut on, so keep the whole stratum (the lossless
            // fallback semantics; cutting at a made-up threshold, or the
            // NPE this guard replaces, would defeat the design)
            if (q == null || total <= budgetTokens || total < prefilterMinTokens)
              Double.NegativeInfinity
            else {
              // keep the top fraction of docs expected to carry ~2x the
              // budget in tokens (docs ~ tokens exchangeability heuristic;
              // the check below makes it safe when the heuristic is wrong)
              val keepFrac = math.min(1.0, 2.0 * budgetTokens / total)
              q(math.max(0, math.min(grid.size - 1, math.round((1.0 - keepFrac) * 20).toInt)))
            }
          org.apache.spark.sql.Row(r.get(0), thr)
        }
        if (thrRows.forall(_.getDouble(1).isNegInfinity)) base // nothing engaged
        else {
        // threshold relation keyed by the stratum's ORIGINAL type
        val thrDf = spark.createDataFrame(
          java.util.Arrays.asList(thrRows: _*),
          org.apache.spark.sql.types.StructType(Seq(
            base.schema(strataCol),
            org.apache.spark.sql.types.StructField(
              "_thr", org.apache.spark.sql.types.DoubleType))))
        val cand = base
          .join(broadcast(thrDf), strataCol)
          .filter(col("_score") >= col("_thr"))
          .drop("_thr")
        // losslessness check: survivors are a PREFIX of each stratum's sort
        // order; if the prefix still carries >= min(budget, total) tokens,
        // the greedy fill cannot reach past it. Strata failing the check —
        // including a null stratum, which the equi-join above always drops —
        // fall back to their full doc set (exactness over the shortcut).
        val kept = cand.groupBy(col(strataCol)).agg(sum(col("n_tokens")).as("_kept"))
          .collect().map(r => Option(r.get(0)) -> r.getLong(1)).toMap
        val fallback = stats.collect {
          case r if kept.getOrElse(Option(r.get(0)), 0L) <
            math.min(budgetTokens, r.getLong(1)) => Option(r.get(0))
        }.toSeq
        def inFallback(c: Column): Column = {
          val vals = fallback.flatten
          val nonNull = if (vals.nonEmpty) c.isin(vals: _*) else lit(false)
          if (fallback.contains(None)) nonNull || c.isNull else nonNull
        }
        if (fallback.isEmpty) cand
        else cand.filter(!inFallback(col(strataCol)))
          .unionByName(base.filter(inFallback(col(strataCol))))
        }
      }
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("_score").desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivors
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col(idCol), col(strataCol), col("n_tokens"), col("cum_tokens"))
  }

  // PII patterns kept to syntax with IDENTICAL semantics in Java regex
  // (Spark codegen) and RE2 (DuckDB oracle): character classes, bounded
  // repetition, word boundaries — no alternation, no backreferences, no
  // lookaround, so leftmost-greedy matching agrees engine-to-engine.
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private[graft] val PhoneRe = "\\+?[0-9][0-9()\\s.-]{6,}[0-9]"

  /** PII scrubbing for training corpora: redact emails, IPv4 addresses, and
    * phone-shaped digit runs, reporting per-document match counts. The
    * passes run SEQUENTIALLY (emails, then IPs over the email-redacted
    * text, then phones) so an IP is never double-counted as a phone number;
    * counts describe what each pass actually replaced. One codegen'd
    * projection — no shuffle, no UDF; at 100 TB this is a map-only scan. */
  def redact(
      documents: DataFrame,
      textCol: String = "text",
      token: String = "[PII]"): DataFrame = {
    val t0 = coalesce(col(textCol), lit(""))
    val t1 = regexp_replace(t0, EmailRe, token)
    val t2 = regexp_replace(t1, Ipv4Re, token)
    val t3 = regexp_replace(t2, PhoneRe, token)
    documents
      .withColumn("n_emails", regexp_count(t0, lit(EmailRe)))
      .withColumn("n_ips", regexp_count(t1, lit(Ipv4Re)))
      .withColumn("n_phones", regexp_count(t2, lit(PhoneRe)))
      .withColumn("redacted", t3)
  }

  /** Benchmark decontamination: per corpus document, count distinct word
    * `n`-grams that also appear anywhere in `benchmark`, and flag documents
    * at or above `minOverlap` shared n-grams — the standard "scrub eval-set
    * text out of the training mix" check (13-gram overlap in GPT-3's appendix;
    * `n` is a parameter here).
    *
    * Scale design: eval suites are tiny next to a training corpus, so the
    * benchmark side collapses to a distinct n-gram-HASH set and broadcasts —
    * the corpus is never shuffled at all. Corpus docs explode to
    * (id, ngram_hash) pairs (8-byte longs — the text never leaves the map
    * side; `ngramHashes` emits per-doc distinct hashes, so no dedup exchange
    * is needed either), probe the broadcast set map-side, and partial
    * aggregation reduces to one slim (id, counts) row per doc before the
    * only shuffle. Distinct-hash counting stands in for distinct-string
    * counting w.h.p. (64-bit collisions, ~|ngrams|²/2⁶⁵). */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      n: Int = 4,
      minOverlap: Long = 1L,
      idCol: String = "doc_id",
      textCol: String = "text",
      broadcastBenchmark: Boolean = true): DataFrame = {
    require(n >= 1, "n must be >= 1")
    // coalesce null text to "" like every sibling operator: correct today
    // even without it (the hash kernels are null-safe and explode_outer keeps
    // the null row), but the corpus-wide convention must not depend on that
    val ngrams = TextOps.ngramHashes(TextOps.tokenHashes(coalesce(col(textCol), lit(""))), n)
    val bm0 = benchmark
      .select(explode(ngrams).as("_ng"))
      .distinct()
      .withColumn("_hit", lit(1L))
    // eval suites are tiny next to a training corpus — broadcast by
    // default; `broadcastBenchmark = false` is the escape hatch when the
    // "benchmark" side is itself corpus-sized (falls back to a shuffled
    // join on the 8-byte hash keys)
    val bm = if (broadcastBenchmark) broadcast(bm0) else bm0
    corpus
      // explode_outer keeps n-gram-less (short) docs in the output with 0s
      .select(col(idCol), explode_outer(ngrams).as("_ng"))
      .join(bm, Seq("_ng"), "left")
      .groupBy(col(idCol))
      .agg(
        count(col("_ng")).as("n_ngrams"),
        count(col("_hit")).as("n_overlap"))
      .withColumn("contaminated", (col("n_overlap") >= minOverlap).cast("long"))
  }

  /** FUZZY benchmark decontamination — the near-duplicate complement of
    * [[decontaminate]]: an eval document that was paraphrased, truncated,
    * or lightly edited before leaking into the training corpus shares few
    * exact n-grams but high shingle-set Jaccard, so it slips the exact
    * check. This is the [[graft.operators.Dedup.minHashLsh]] machinery
    * pointed ACROSS the corpus/benchmark boundary instead of at corpus
    * self-pairs: shingle → MinHash(k) → LSH bands, candidates are
    * (corpus doc, benchmark doc) band collisions, estimated from the
    * signatures already computed (margin 0.2 below `threshold` — the
    * verified-conservative bound of `verifyCandidates`), survivors
    * verified by exact Jaccard over the hashed shingle sets.
    *
    * Returns ONE row per corpus document: (id, n_matches, max_jaccard,
    * contaminated) — `n_matches` = benchmark docs at or above `threshold`,
    * `max_jaccard` = the best exact Jaccard among estimate-surviving
    * candidates (0.0 when none), `contaminated` = 1 iff any match.
    *
    * Scale design: the benchmark side (shingles + signatures + band keys)
    * is eval-suite-sized and BROADCASTS — the corpus is tokenized and
    * signed in ONE materialized pass, band-probes the broadcast map-side,
    * and only band-colliding candidate pairs (needle-in-haystack by
    * construction) ever reach an exchange. The expensive exact-intersect
    * runs only on estimate survivors (a codegen'd conditional, skipped
    * per-row otherwise). The corpus never shuffles; the two exchanges are
    * candidate-pair-sized and per-doc-result-sized. */
  def decontaminateFuzzy(
      corpus: DataFrame,
      benchmark: DataFrame,
      threshold: Double = 0.7,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = Stage.scope { s =>
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val r = numHashes / bands
    def prep(df: DataFrame): DataFrame = df
      .select(
        col(idCol).as("doc"),
        TextOps.ngramHashes(TextOps.tokenHashes(coalesce(col(textCol), lit(""))), shingleN)
          .as("sh"))
      .withColumn("sig", TextOps.minHashFromHashes(col("sh"), numHashes))
    // corpus: tokenize + sign ONCE (the minHashLsh discipline); bench: tiny
    val c = s(prep(corpus))
    val b = s(prep(benchmark).select(
      col("doc").as("bench_doc"), col("sh").as("bench_sh"), col("sig").as("bench_sig")))
    val bBands = b.select(
      col("bench_doc"), col("bench_sh"), col("bench_sig"),
      explode(TextOps.lshBands(col("bench_sig"), bands, r)).as("band"))
    // corpus rows carry (sh, sig) THROUGH the map-side broadcast band join,
    // so candidates need no join back against the corpus (which Catalyst
    // would plan as a full corpus shuffle); the dedup exchange carries only
    // band-colliding pairs
    val cand = c
      .select(col("doc"), col("sh"), col("sig"),
        explode(TextOps.lshBands(col("sig"), bands, r)).as("band"))
      .join(broadcast(bBands.select("bench_doc", "band")), Seq("band"))
      .dropDuplicates("doc", "bench_doc")
      .join(broadcast(b), Seq("bench_doc"))
    val est = aggregate(
      zip_with(col("sig"), col("bench_sig"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, m) => acc + m).cast("double") / numHashes
    val scored = cand
      .withColumn("jacc",
        when(est < lit(threshold - 0.2), lit(null).cast("double"))
          .otherwise(TextOps.jaccardSortedHashes(col("sh"), col("bench_sh"))))
      .groupBy(col("doc"))
      .agg(
        sum(when(col("jacc") >= threshold, 1L).otherwise(0L)).as("n_matches"),
        max(coalesce(col("jacc"), lit(0.0))).as("max_j"))
    corpus
      .select(col(idCol))
      .join(scored.withColumnRenamed("doc", idCol), Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        round(coalesce(col("max_j"), lit(0.0)), 6).as("max_jaccard"),
        (coalesce(col("n_matches"), lit(0L)) > 0L).cast("long").as("contaminated"))
  }

  /** Intra-document repetition statistics (the Gopher-style repetition
    * filters): per document, the fraction of duplicate tokens / 2-grams /
    * 3-grams, plus a `repetitive` flag when the 2-gram duplicate fraction
    * crosses `maxDup2gramFrac`. Highly self-repetitive documents are a
    * known low-quality signature in web corpora.
    *
    * One codegen'd projection — map-only, no shuffle, no UDF; duplicate
    * fractions are computed over token/ngram HASHES (distinct hashes ≡
    * distinct strings w.h.p.), so no token strings are materialized past
    * the fused tokenizer. Fractions are rounded to 6 decimals so
    * cross-engine comparison is exact. */
  def repetitionStats(
      documents: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxDup2gramFrac: Double = 0.5): DataFrame = {
    // null text tokenizes as empty (size(null) would be -1 with ANSI off)
    val th = TextOps.tokenHashes(coalesce(col(textCol), lit("")))
    def dupFrac(distinctN: Column, total: Column): Column =
      when(total <= 0, lit(0.0))
        .otherwise(round(lit(1.0) - distinctN.cast("double") / total.cast("double"), 6))
    documents
      .withColumn("_th", th)
      .withColumn("n_tokens", size(col("_th")).cast("long"))
      .withColumn("dup_token_frac",
        dupFrac(size(array_distinct(col("_th"))), col("n_tokens")))
      .withColumn("dup_2gram_frac",
        dupFrac(size(TextOps.ngramHashes(col("_th"), 2)), col("n_tokens") - 1))
      .withColumn("dup_3gram_frac",
        dupFrac(size(TextOps.ngramHashes(col("_th"), 3)), col("n_tokens") - 2))
      .withColumn("repetitive", (col("dup_2gram_frac") > maxDup2gramFrac).cast("long"))
      .select(col(idCol), col("n_tokens"), col("dup_token_frac"),
        col("dup_2gram_frac"), col("dup_3gram_frac"), col("repetitive"))
  }

  /** Deterministic global shuffle into training shards: shard =
    * `xxhash64(id, seed) mod numShards`, position within shard = rank of
    * the hash. The "randomize example order before training" step, but as
    * a pure function of (id, seed, numShards):
    *   - DETERMINISTIC on any partitioning, executor count, or retry — a
    *     training run's data order is reproducible from the recipe;
    *   - a PERMUTATION: every input id appears exactly once (CurationSpec
    *     pins set-equality and bijectivity of (shard, pos));
    *   - ONE shuffle: the rank window is the only exchange, and it carries
    *     (id, hash) pairs only.
    * At scale, pick numShards ≥ cluster parallelism: each shard sorts
    * |corpus|/numShards slim rows in one task, and downstream training
    * readers consume shards independently. */
  def trainingOrder(
      documents: DataFrame,
      numShards: Int,
      seed: Long = 0L,
      idCol: String = "doc_id"): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col("_h"), col(idCol))
    documents
      .select(col(idCol), xxhash64(col(idCol), lit(seed)).as("_h"))
      .withColumn("shard", pmod(col("_h"), lit(numShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Split documents into fixed-size training sequences: sliding token
    * windows of `chunkTokens` with `overlapTokens` carried between
    * consecutive chunks (stride = chunk - overlap). Chunk `i` covers tokens
    * `[i*stride, i*stride + chunkTokens)`; a chunk is emitted only if it
    * contributes at least one NEW token, so the tail is never a subset of
    * its predecessor, and every token of every document appears in at
    * least one chunk. The "cut a corpus into model-context-sized windows"
    * step of pretraining data prep.
    *
    * Map-only: tokenize once, explode over the chunk count — no shuffle,
    * no UDF; at 100 TB the cost is the scan plus output volume
    * (~`chunk/stride` x corpus). */
  def chunk(
      documents: DataFrame,
      chunkTokens: Int,
      overlapTokens: Int = 0,
      textCol: String = "text",
      idCol: String = "doc_id",
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlapTokens
    documents
      .withColumn("_toks", tokenizer.tokens(coalesce(col(textCol), lit(""))))
      .withColumn("_n", size(col("_toks")))
      // last chunk index: the largest i whose first NEW token (i*stride +
      // overlap) still exists — floor((n - overlap - 1) / stride), min 0
      .withColumn("chunk_idx", explode(sequence(lit(0),
        floor(greatest(col("_n") - overlapTokens - 1, lit(0)).cast("double") / stride)
          .cast("int"))))
      .withColumn("n_chunk_tokens",
        least(lit(chunkTokens), col("_n") - col("chunk_idx") * stride))
      .withColumn("chunk_text",
        tokenizer.detokenize(slice(col("_toks"), col("chunk_idx") * stride + 1, lit(chunkTokens))))
      .select(col(idCol), col("chunk_idx"), col("n_chunk_tokens"), col("chunk_text"))
  }

  /** Corpus vocabulary: the `k` most frequent tokens with counts and
    * corpus share — the frequency table that seeds tokenizer training and
    * stopword/anomaly review. Ties break by token (deterministic).
    *
    * Scale design: explode + count is ONE aggregation with map-side
    * partial combine — the shuffle carries (token, partial-count) pairs,
    * collapsed per partition to the partition's VOCABULARY (≪ its token
    * stream); the top-k is a TakeOrdered over the aggregated counts, never
    * a full sort of the corpus. */
  def vocabulary(
      documents: DataFrame,
      k: Int = 100,
      textCol: String = "text",
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    require(k > 0, "k must be positive")
    // ONE tokenize pass: the total derives from the already-aggregated
    // counts (vocab-sized) via a broadcast 1-row cross join — the whole
    // plan stays lazy, and an empty corpus yields an empty result
    val counts = documents
      .select(explode(tokenizer.tokens(coalesce(col(textCol), lit("")))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"))
    val total = counts.agg(sum(col("n_occurrences")).cast("double").as("_total"))
    counts
      .crossJoin(broadcast(total))
      .withColumn("share", round(col("n_occurrences").cast("double") / col("_total"), 6))
      .drop("_total")
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)
  }

  /** Passage-level boilerplate detection — the ExactSubstr observation
    * (Lee et al. 2022, "Deduplicating Training Data Makes Better Language
    * Models", public literature): an n-gram recurring across many DISTINCT
    * documents is boilerplate (headers, footers, license blurbs, nav
    * chrome), and EXCISION needs each occurrence's OFFSET, not just its
    * presence — which is exactly what the positional n-gram kernel
    * ([[TextOps.positionalNgramHashes]]) emits and the distinct
    * ([[TextOps.ngramHashes]]) form cannot. Returns one row per occurrence
    * of a boilerplate n-gram: (id, offset, gram, n_docs) — `offset` is the
    * 0-based token offset where the passage starts, `gram` its combined
    * hash (same fold as the distinct form, so catalogs interop), `n_docs`
    * how many distinct documents contain it.
    *
    * Scale design: one map pass explodes (doc, offset, gram); the
    * distinct-document count is distinct-then-count (two partial-agg
    * exchanges on slim (gram, id) pairs — never a per-gram set); the
    * `>= minDocs` filter lands BEFORE the join back, so the second pass
    * joins against a boilerplate-sized side (rare grams never shuffle
    * twice). Offsets ride the map side only. */
  def boilerplateNgrams(
      documents: DataFrame,
      n: Int = 5,
      minDocs: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(n >= 1 && minDocs >= 2, "need n >= 1 and minDocs >= 2")
    val occ = spanOccurrences(documents, n, textCol, idCol)
    val hot = occ.select(col(idCol), col("gram")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    occ.join(hot, Seq("gram"))
      .select(col(idCol), col("offset").cast("long").as("offset"), col("gram"), col("n_docs"))
  }

  /** Boilerplate EXCISION — the consumer [[boilerplateNgrams]]'s scaladoc
    * promises (the ExactSubstr recipe removes the repeated passage and
    * keeps the document, where doc-level dedup would throw the whole page
    * away): every token position covered by at least one hot-n-gram
    * occurrence is cut, the remainder rejoins in order. Returns one row
    * per document: (id, n_tokens, n_removed, text_clean) — text_clean is
    * "" when everything was boilerplate, untouched docs pass through with
    * n_removed = 0.
    *
    * Scale design: the hit offsets fold to ONE slim (id, offsets[])-row
    * per affected document (boilerplate-doc-sized, broadcast by default —
    * `broadcastHits = false` falls back to a shuffled join when the corpus
    * is wall-to-wall boilerplate); the cut itself is a codegen'd
    * higher-order filter over the token array, so document TEXT never
    * rides any exchange. One extra corpus scan (detection) is inherent:
    * "hot" is a corpus-wide property. */
  def exciseBoilerplate(
      documents: DataFrame,
      n: Int = 5,
      minDocs: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id",
      broadcastHits: Boolean = true): DataFrame =
    exciseAt(
      documents, boilerplateNgrams(documents, n, minDocs, textCol, idCol),
      n, textCol, idCol, broadcastHits)

  /** The shared excision fold: every token position covered by a
    * `[offset, offset + n)` window of `hits` (rows carrying `idCol` +
    * `offset`) is cut, the remainder rejoins in order. Hit offsets fold
    * to ONE slim (id, offsets[]) row per affected document (broadcast by
    * default, shuffled-join fallback for wall-to-wall-hit corpora); the
    * cut is a codegen'd higher-order filter over the token array, so
    * document TEXT never rides any exchange. */
  private[operators] def exciseAt(
      documents: DataFrame,
      hits: DataFrame,
      n: Int,
      textCol: String,
      idCol: String,
      broadcastHits: Boolean): DataFrame = {
    val folded = hits
      .groupBy(col(idCol))
      .agg(collect_list(col("offset")).as("_offs"))
    val h = if (broadcastHits) broadcast(folded) else folded
    documents
      .join(h, Seq(idCol), "left")
      .select(col(idCol),
        TextOps.tokens(coalesce(col(textCol), lit(""))).as("_toks"),
        coalesce(col("_offs"), array().cast("array<long>")).as("_offs"))
      .withColumn("_kept", expr(
        s"""transform(
           |  filter(
           |    transform(_toks, (t, i) -> struct(t AS tk, CAST(i AS BIGINT) AS i)),
           |    s -> NOT exists(_offs, o -> s.i >= o AND s.i < o + $n)),
           |  s -> s.tk)""".stripMargin))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        (size(col("_toks")) - size(col("_kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("_kept")).as("text_clean"))
  }

  /** Sub-document DUPLICATE-SPAN detection — the first-occurrence-keeping
    * half of ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": token spans of length >= n that
    * already occurred EARLIER in the corpus are duplicates; earlier =
    * smaller (id, offset), so exactly one occurrence of every repeated
    * span survives). Distinct from [[boilerplateNgrams]] in both
    * threshold and retention: boilerplate flags EVERY occurrence of a
    * passage hot in >= minDocs documents (the cleanup posture — templates
    * should vanish everywhere), while this flags every occurrence EXCEPT
    * THE GLOBAL FIRST of any span seen >= 2 times, within-document repeats
    * included (the dedup posture — one copy of the content must survive).
    * Output: one row per non-first occurrence, (id, offset, gram) with
    * `gram` the positional n-gram hash covering tokens
    * `[offset, offset + n)`.
    *
    * Scale design: only (gram, id, offset) triples ride the exchange —
    * ~24 bytes per token position regardless of document size. The
    * first-occurrence reduction is a map-side-combinable `min` over a
    * (id, offset) struct, and the mark-back join shares its shuffle key
    * (`gram`) with that aggregate, so AQE plans one exchange feeding
    * both. Never all-pairs; corpus text never shuffles. */
  /** One row per n-token window occurrence: (idCol, offset, gram) — the
    * shared kernel of [[boilerplateNgrams]], [[duplicateSpans]], and the
    * persisted span catalog ([[graft.operators.Dedup.writeSpanCatalog]]):
    * one definition, so tokenization/hashing can never skew between the
    * detection families. */
  private[operators] def spanOccurrences(
      documents: DataFrame, n: Int, textCol: String, idCol: String): DataFrame = {
    require(n >= 1, "need n >= 1")
    documents.select(
      col(idCol),
      posexplode(TextOps.positionalNgramHashes(
        TextOps.tokenHashes(coalesce(col(textCol), lit(""))), n)).as(Seq("offset", "gram")))
  }

  def duplicateSpans(
      documents: DataFrame,
      n: Int = 6,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val occ = spanOccurrences(documents, n, textCol, idCol)
    val firsts = occ
      .groupBy("gram")
      .agg(min(struct(col(idCol), col("offset"))).as("_first"))
    occ.join(firsts, Seq("gram"))
      // any occurrence differing from the per-gram minimum is strictly
      // after it; equality test beats a struct comparison in codegen
      .filter(struct(col(idCol), col("offset")) =!= col("_first"))
      .select(col(idCol), col("offset").cast("long").as("offset"), col("gram"))
  }

  /** ExactSubstr dedup EXCISION — the consumer of [[duplicateSpans]]:
    * every token position covered by a non-first duplicated window is
    * cut, the remainder rejoins in order; the global first occurrence of
    * each repeated span is untouched, so repeated content survives
    * exactly once corpus-wide (within-document repeats collapse too).
    * Returns one row per document: (id, n_tokens, n_removed, text_clean),
    * untouched docs passing through with n_removed = 0. */
  def exciseDuplicateSpans(
      documents: DataFrame,
      n: Int = 6,
      textCol: String = "text",
      idCol: String = "doc_id",
      broadcastHits: Boolean = true): DataFrame =
    exciseAt(
      documents, duplicateSpans(documents, n, textCol, idCol),
      n, textCol, idCol, broadcastHits)

  /** INCREMENTAL ExactSubstr excision — the daily-ingest shape: only the
    * batch is tokenized; spans already present in the persisted catalog
    * ([[graft.operators.Dedup.writeSpanCatalog]]) or earlier in the batch
    * are cut, the remainder rejoins. Window length comes from the
    * catalog's frozen meta, so probe and build can never disagree on n.
    * Equals [[exciseDuplicateSpans]] over (corpus UNION batch) restricted
    * to batch rows when batch ids follow corpus ids (the arrival-order
    * convention every incremental dedup form here shares). */
  def exciseDuplicateSpansIncremental(
      newDocs: DataFrame,
      catalogPath: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      broadcastHits: Boolean = true): DataFrame =
    exciseAt(
      newDocs,
      Dedup.duplicateSpansIncremental(newDocs, catalogPath, textCol, idCol),
      Dedup.spanCatalogN(newDocs.sparkSession, catalogPath),
      textCol, idCol, broadcastHits)

  /** A pruned stupid-backoff bigram language model — the CCNet-style
    * corpus-quality scorer's model half (Wenzek et al. 2020 score web text
    * by LM perplexity; Brants et al. 2007's "stupid backoff" is the n-gram
    * scheme designed for distributed training at web scale, scores instead
    * of normalized probabilities). `unigrams` = (token, c1) for the
    * top-`maxVocab` tokens, `bigrams` = (prev, token, c2) for the
    * top-`maxBigrams` pairs within that vocabulary, counts as doubles;
    * `totalTokens` = ALL training tokens (pruned ones included — the OOV
    * floor divides by it). Both frames are pruned to broadcast size by
    * construction: the model ships to executors and scoring never
    * shuffles the corpus. The model CARRIES its tokenizer: scoring always
    * tokenizes with exactly the stream the counts were trained on — a
    * BPE-curated corpus must not be perplexity-scored under whitespace
    * tokens (the split-brain the pluggable-[[Tokenizer]] contract
    * forbids). */
  final case class NgramLm(
      unigrams: DataFrame,
      bigrams: DataFrame,
      totalTokens: Long,
      tokenizer: Tokenizer = Tokenizer.Whitespace)

  /** One row per token: (…keep, pos, token, prev) with `prev` null at
    * pos 0 — built by ONE `inline(transform(...))` map pass over the token
    * array (no lag window, no per-doc shuffle: the previous token is read
    * straight out of the array). Shared by LM training and scoring so the
    * two can never disagree on tokenization — including the tokenizer
    * itself, which the trained model carries. */
  private def tokenPrevRows(
      docs: DataFrame, textCol: String, keep: Seq[Column],
      tokenizer: Tokenizer): DataFrame =
    docs
      .withColumn("graft_toks", tokenizer.tokens(coalesce(col(textCol), lit(""))))
      .select(keep :+ expr(
        "inline(transform(graft_toks, (t, i) -> struct(i AS pos, t AS token, " +
          "IF(i = 0, CAST(NULL AS STRING), graft_toks[i - 1]) AS prev)))"): _*)

  /** Train an [[NgramLm]] over a reference corpus. Two corpus passes, both
    * map-side-combined count aggregations (the shuffle carries partial
    * counts per distinct gram, ≪ the token stream); the top-K prunes are
    * TakeOrdered over the aggregated counts, never a corpus sort. Ties
    * break by token (deterministic). The bigram table is restricted to
    * pairs whose BOTH tokens survive the vocabulary prune, so scoring's
    * `c2 / c1(prev)` denominator always exists. */
  def trainNgramLm(
      ref: DataFrame,
      maxVocab: Int = 100000,
      maxBigrams: Int = 1000000,
      textCol: String = "text",
      tokenizer: Tokenizer = Tokenizer.Whitespace): NgramLm = {
    require(maxVocab > 0 && maxBigrams > 0, "prune limits must be positive")
    val tok = tokenPrevRows(ref, textCol, Seq.empty, tokenizer)
    // distinct-token counts are vocabulary-sized: checkpoint once so the
    // total and the top-K don't each re-scan the corpus
    val (n, uni) = Stage.scope { s =>
      val uniAll = s(tok.groupBy("token").agg(count(lit(1)).cast("double").as("c1")))
      (uniAll.agg(coalesce(sum("c1"), lit(0.0))).head().getDouble(0).toLong,
        s(uniAll.orderBy(col("c1").desc, col("token")).limit(maxVocab)))
    }
    val big = Stage.scope(_(tok.filter(col("prev").isNotNull)
      .join(broadcast(uni.select("token")), Seq("token"), "left_semi")
      .join(broadcast(uni.select(col("token").as("prev"))), Seq("prev"), "left_semi")
      .groupBy("prev", "token").agg(count(lit(1)).cast("double").as("c2"))
      .orderBy(col("c2").desc, col("prev"), col("token")).limit(maxBigrams)))
    NgramLm(uni, big, n, tokenizer)
  }

  /** Per-document perplexity under a trained [[NgramLm]] — the CCNet
    * quality signal: low perplexity ≈ fluent reference-like text, high ≈
    * junk (or novelty; CCNet buckets rather than hard-cuts for exactly
    * that reason). Returns one row per document: (id, n_tokens, ppl)
    * with `ppl = exp(-mean log score)` rounded to 4 decimals.
    *
    * Scoring per token: first token and OOV fall to the unigram table
    * (`c1 / N`, floor `0.4 / N` for pruned/unseen tokens); a seen bigram
    * scores `c2 / c1(prev)`; an unseen bigram backs off to `0.4 ×` the
    * unigram score (the stupid-backoff rule).
    *
    * Scale design: three BROADCAST left joins against the pruned model
    * (map-only — the corpus never shuffles), then one count+avg per
    * document with map-side partial aggregation: the only exchange
    * carries (doc, partial sums), slim regardless of document length. */
  def perplexity(
      documents: DataFrame,
      lm: NgramLm,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // the model's OWN tokenizer — never a caller-supplied one: the token
    // stream scored must be the token stream the counts were trained on
    val rows = tokenPrevRows(documents, textCol, Seq(col(idCol)), lm.tokenizer)
    val uniPrev = lm.unigrams.select(col("token").as("prev"), col("c1").as("c1prev"))
    val nD = lit(lm.totalTokens.toDouble)
    val su = coalesce(col("c1"), lit(0.4)) / nD
    val sc = when(col("prev").isNull, su)
      .when(col("c2").isNotNull, col("c2") / col("c1prev"))
      .otherwise(lit(0.4) * su)
    rows
      .join(broadcast(lm.unigrams), Seq("token"), "left")
      .join(broadcast(uniPrev), Seq("prev"), "left")
      .join(broadcast(lm.bigrams), Seq("prev", "token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), round(exp(-avg(log(sc))), 4).as("ppl"))
  }

  /** A multinomial Naive Bayes document classifier — the "reference-like
    * quality classifier" of the large-pretraining pipelines (GPT-3 and
    * LLaMA both score CommonCrawl by a linear classifier trained to
    * separate curated reference text from raw crawl; multinomial NB with
    * Laplace smoothing is the classic closed-form member of that family,
    * trainable by pure counting — no SGD, fully deterministic, exactly
    * reproducible in SQL). `tokenLlr` = (token, llr) for the top-`maxVocab`
    * training tokens, where `llr = ln p(token|pos) - ln p(token|neg)` under
    * Laplace-`alpha` smoothing; a scored token outside the table (unseen OR
    * pruned) contributes `oovLlr` (the zero-count smoothed ratio — pruning
    * degrades gracefully toward "uninformative", it never crashes scoring).
    * `prior` = ln(nPosDocs / nNegDocs). The table is pruned to broadcast
    * size by construction, so scoring is map-only + one slim per-doc agg —
    * the corpus never shuffles, the property that lets one model score
    * 100 TB. The model CARRIES its tokenizer ([[NgramLm]]'s contract): the
    * stream scored is always the stream the counts came from. */
  final case class NbClassifier(
      tokenLlr: DataFrame,
      prior: Double,
      oovLlr: Double,
      tokenizer: Tokenizer = Tokenizer.Whitespace)

  /** Train an [[NbClassifier]] from a labeled split: `positive` =
    * reference-quality documents, `negative` = raw documents. ONE counting
    * pass over the union (map-side-combined: the shuffle carries partial
    * per-token count pairs, ≪ the token stream), one vocabulary-sized
    * aggregate for the totals, and a TakeOrdered prune — never a corpus
    * sort. Smoothing uses the FULL training vocabulary size `V` (computed
    * before the prune, so the probability model is the standard Laplace
    * estimate regardless of how hard the table is pruned). Deterministic:
    * counts are exact longs, ties in the prune break by token. */
  def trainQualityClassifier(
      positive: DataFrame,
      negative: DataFrame,
      maxVocab: Int = 100000,
      alpha: Double = 1.0,
      textCol: String = "text",
      tokenizer: Tokenizer = Tokenizer.Whitespace): NbClassifier = {
    require(maxVocab > 0, "maxVocab must be positive")
    require(alpha > 0.0, "alpha must be positive")
    def toks(df: DataFrame, isPos: Boolean): DataFrame = df.select(
      lit(isPos).as("_isPos"),
      explode(tokenizer.tokens(coalesce(col(textCol), lit("")))).as("token"))
    val (llr, dPos, dNeg) = Stage.scope { s =>
      // vocabulary-sized; totals + prune must not re-scan
      val counts = s(toks(positive, isPos = true).unionByName(toks(negative, isPos = false))
        .groupBy("token")
        .agg(
          sum(when(col("_isPos"), 1L).otherwise(0L)).cast("double").as("cpos"),
          sum(when(col("_isPos"), 0L).otherwise(1L)).cast("double").as("cneg")))
      val tot = counts.agg(
        coalesce(sum("cpos"), lit(0.0)), coalesce(sum("cneg"), lit(0.0)),
        count(lit(1)).cast("double")).head()
      val (nPos, nNeg, v) = (tot.getDouble(0), tot.getDouble(1), tot.getDouble(2))
      require(v > 0.0, "trainQualityClassifier: empty training corpus")
      // denominators as driver doubles: integer-valued well below 2^53, so
      // the sums and products are exact and the oracle's SQL derivation of
      // the same quantities lands on the identical double
      val dPos = nPos + alpha * v
      val dNeg = nNeg + alpha * v
      (s(counts
        .orderBy((col("cpos") + col("cneg")).desc, col("token"))
        .limit(maxVocab)
        .select(col("token"),
          (log((col("cpos") + lit(alpha)) / lit(dPos)) -
            log((col("cneg") + lit(alpha)) / lit(dNeg))).as("llr"))), dPos, dNeg)
    }
    val oov = math.log(alpha / dPos) - math.log(alpha / dNeg)
    val (nPosDocs, nNegDocs) = (positive.count(), negative.count())
    require(nPosDocs > 0 && nNegDocs > 0,
      s"trainQualityClassifier: both classes need documents (pos=$nPosDocs, neg=$nNegDocs)")
    val prior = math.log(nPosDocs.toDouble / nNegDocs.toDouble)
    NbClassifier(llr, prior, oov, tokenizer)
  }

  /** Score documents under a trained [[NbClassifier]]: one row per document
    * — (id, n_tokens, nb_logodds, is_quality) with `nb_logodds = prior +
    * Σ llr(token)` (rounded to 4 decimals) and `is_quality = 1` iff the log
    * odds are positive (p(pos|doc) > 0.5). The per-token contributions
    * accumulate in DECIMAL so the score is independent of partitioning and
    * row order (the [[graft.queries.QueryDef.decSum]] discipline — a float
    * sum would make the 4th decimal, and near zero the LABEL,
    * nondeterministic run to run).
    *
    * Scale design: ONE broadcast left join against the pruned model table,
    * then a per-document count+sum with map-side partial aggregation — the
    * only exchange carries (doc, partial sums), slim regardless of document
    * length. */
  def classifierScore(
      documents: DataFrame,
      nb: NbClassifier,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val rows = documents.select(
      col(idCol),
      explode(nb.tokenizer.tokens(coalesce(col(textCol), lit("")))).as("token"))
    val dec = org.apache.spark.sql.types.DecimalType(30, 10)
    val logOdds = round(
      sum(coalesce(col("llr"), lit(nb.oovLlr)).cast(dec)).cast("double") + lit(nb.prior), 4)
    rows
      .join(broadcast(nb.tokenLlr), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        logOdds.as("nb_logodds"),
        (logOdds > 0.0).cast("long").as("is_quality"))
  }

  /** The [[classifierScore]] DECISION as a single self-contained COLUMN —
    * a [[filterChain]] rule (violated = classified junk), which is what
    * lets a trained model gate documents INSIDE the existing
    * curation-on-ingest paths ([[graft.streaming.Ingest.startCuratedIngest]]
    * / `startPipelineIngest` take rule columns): the model-filter-at-ingest
    * pattern of the big pipelines, with no new streaming plumbing. The llr
    * table collects to a literal map riding the plan (vocabulary-sized —
    * the same broadcast-by-construction bound as the BPE vocab; keep
    * `maxVocab` moderate for ingest rules), and the per-token
    * contributions fold in DECIMAL over the token array — EXACTLY the
    * accumulation [[classifierScore]] performs, so the rule's verdict
    * equals the scoring operator's `is_quality` document for document
    * (spec-pinned). */
  def classifierRule(nb: NbClassifier, textCol: String = "text"): (String, Column) = {
    val dec = org.apache.spark.sql.types.DecimalType(30, 10)
    val llrMap = typedLit(
      nb.tokenLlr.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
    val toks = nb.tokenizer.tokens(coalesce(col(textCol), lit("")))
    val sumDec = aggregate(
      toks,
      lit(java.math.BigDecimal.ZERO).cast(dec),
      (acc, t) => (acc + coalesce(element_at(llrMap, t), lit(nb.oovLlr)).cast(dec)).cast(dec))
    val logOdds = round(sumDec.cast("double") + lit(nb.prior), 4)
    "nb_junk" -> (logOdds <= 0.0)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public knowledge): the
    * hashed-n-gram feature space with `buckets` buckets, a target and a raw
    * unigram-bag model over the buckets (Laplace-`alpha` smoothed), and
    * per-bucket log ratios `lr[b] = ln p_target(b) - ln p_raw(b)`. Unlike
    * the pruned [[NbClassifier]] vocabulary, the HASHING TRICK bounds the
    * model at exactly `buckets` rows no matter the corpus — no prune, no
    * OOV path in practice (`oovLr` covers buckets unseen in BOTH sides,
    * possible only when the scored corpus differs from the raw side).
    * Scoring and resampling are map-only against the broadcast table. */
  final case class DsirModel(
      bucketLr: DataFrame,
      buckets: Int,
      n: Int,
      oovLr: Double,
      tokenizer: Tokenizer = Tokenizer.Whitespace)

  /** (id?, bucket) feature rows: positional n-gram hashes (multiset — DSIR
    * counts occurrences, not distinct grams) folded into `buckets` by
    * pmod. `outer` keeps featureless (short) documents with a null bucket
    * for scoring's zero row. */
  private def dsirRows(
      df: DataFrame, keep: Seq[Column], n: Int, buckets: Int,
      textCol: String, tokenizer: Tokenizer, outer: Boolean): DataFrame = {
    val th = tokenizer match {
      case Tokenizer.Whitespace => TextOps.tokenHashes(coalesce(col(textCol), lit("")))
      case t => transform(t.tokens(coalesce(col(textCol), lit(""))), e => xxhash64(e))
    }
    val grams = TextOps.positionalNgramHashes(th, n)
    val g = if (outer) explode_outer(grams) else explode(grams)
    df.select(keep :+ g.as("_g"): _*)
      .withColumn("_b", pmod(col("_g"), lit(buckets.toLong)))
  }

  /** Train a [[DsirModel]]: `target` = the distribution to select FOR
    * (curated reference text), `raw` = the pool to select FROM. One
    * map-side-combined counting pass per side, a bucket-sized full-outer
    * join, driver totals — the corpus never shuffles anything wider than
    * (8-byte bucket, partial count). Deterministic end to end. */
  def trainDsir(
      target: DataFrame,
      raw: DataFrame,
      buckets: Int = 10007,
      n: Int = 2,
      alpha: Double = 1.0,
      textCol: String = "text",
      tokenizer: Tokenizer = Tokenizer.Whitespace): DsirModel = {
    require(buckets > 0, "buckets must be positive")
    require(n >= 1, "n must be >= 1")
    require(alpha > 0.0, "alpha must be positive")
    def counts(df: DataFrame): DataFrame =
      dsirRows(df, Seq.empty, n, buckets, textCol, tokenizer, outer = false)
        .groupBy("_b").agg(count(lit(1)).cast("double").as("c"))
    Stage.scope { s =>
      // at most `buckets` rows; totals + lr reuse it
      val joined = s(counts(target).select(col("_b"), col("c").as("ct"))
        .join(counts(raw).select(col("_b"), col("c").as("cr")), Seq("_b"), "full_outer"))
      val tot = joined.agg(
        coalesce(sum("ct"), lit(0.0)), coalesce(sum("cr"), lit(0.0))).head()
      val (nt, nr) = (tot.getDouble(0), tot.getDouble(1))
      require(nt > 0.0 && nr > 0.0,
        s"trainDsir: both sides need n-gram mass (target=$nt, raw=$nr)")
      val dT = nt + alpha * buckets
      val dR = nr + alpha * buckets
      val lr = s(joined.select(col("_b").as("bucket"),
        (log((coalesce(col("ct"), lit(0.0)) + lit(alpha)) / lit(dT)) -
          log((coalesce(col("cr"), lit(0.0)) + lit(alpha)) / lit(dR))).as("lr")))
      DsirModel(lr, buckets, n, math.log(alpha / dT) - math.log(alpha / dR), tokenizer)
    }
  }

  /** Per-document importance weights under a trained [[DsirModel]]:
    * (id, n_grams, log_weight) with `log_weight = Σ lr[bucket]` over the
    * document's hashed n-gram OCCURRENCES, decimal-accumulated
    * (order-independent) and rounded to 4 decimals. Featureless documents
    * weigh 0.0. One broadcast join + one slim per-doc agg; the corpus
    * never shuffles. */
  def dsirScore(
      corpus: DataFrame,
      m: DsirModel,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(30, 10)
    dsirRows(corpus, Seq(col(idCol)), m.n, m.buckets, textCol, m.tokenizer, outer = true)
      .join(broadcast(m.bucketLr.withColumnRenamed("bucket", "_b")), Seq("_b"), "left")
      .groupBy(col(idCol))
      .agg(
        count(col("_g")).as("n_grams"),
        round(sum(
          when(col("_g").isNotNull, coalesce(col("lr"), lit(m.oovLr)))
            .otherwise(lit(0.0)).cast(dec)).cast("double"), 4).as("log_weight"))
  }

  /** Importance RESAMPLING — the selection step of DSIR: draw `sampleSize`
    * documents without replacement, each with probability tilted by its
    * importance weight, via the Gumbel-top-k identity (adding standard
    * Gumbel noise to the log weights and taking the top k IS weighted
    * sampling without replacement — public knowledge). The noise is
    * DETERMINISTIC: uniform from `xxhash64(id, seed)` folded into (0, 1)
    * through the 2^53 grid (exact in a double), so the same (corpus, seed)
    * always selects the same documents — reproducible data mixes, and the
    * whole draw is re-derivable in SQL. Top-k lowers to
    * TakeOrderedAndProject: no global sort at any corpus size. */
  def dsirResample(
      corpus: DataFrame,
      m: DsirModel,
      sampleSize: Int,
      seed: Long = 0L,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(sampleSize > 0, "sampleSize must be positive")
    val m53 = 9007199254740992L // 2^53
    val u = (pmod(xxhash64(col(idCol), lit(seed)), lit(m53)).cast("double") + lit(0.5)) /
      lit(m53.toDouble)
    dsirScore(corpus, m, textCol, idCol)
      .withColumn("sel_key", col("log_weight") + -log(-log(u)))
      .orderBy(col("sel_key").desc, col(idCol))
      .limit(sampleSize)
      .select(col(idCol), col("n_grams"), col("log_weight"),
        round(col("sel_key"), 6).as("sel_key"))
  }

  /** The default document-quality rule set (too-short / too-repetitive /
    * word-length), shared by the q29k query, the curated-ingest probe, and
    * available to callers as a starting cascade. Thresholds are tuned to
    * the synthetic corpus distribution — production corpora should tune
    * their own. */
  def defaultQualityRules(textCol: String = "text"): Seq[(String, Column)] = {
    val th = TextOps.tokenHashes(coalesce(col(textCol), lit("")))
    val nTokens = size(th)
    val dup2 = when(nTokens - 1 <= 0, lit(0.0)).otherwise(
      round(lit(1.0) -
        size(TextOps.ngramHashes(th, 2)).cast("double") / (nTokens - 1).cast("double"), 6))
    val meanLen = length(coalesce(col(textCol), lit(""))).cast("double") / nTokens.cast("double")
    Seq(
      "too_short" -> (nTokens < 20),
      "too_repetitive" -> (dup2 > 0.05),
      "word_length" -> (meanLen < 5.2 || meanLen > 10.0))
  }

  /** [[packSequences]] over a document table: token counts + the
    * deterministic [[trainingOrder]], joined and packed — the composition
    * the facade and the q29m query both ship. */
  def packDocuments(
      documents: DataFrame,
      tokensPerExample: Long,
      numShards: Int,
      seed: Long = 0L,
      idCol: String = "doc_id",
      textCol: String = "text",
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    val withTokens = documents.select(
      col(idCol),
      tokenizer.count(coalesce(col(textCol), lit(""))).as("n_tokens"))
    val ordered = trainingOrder(documents, numShards, seed, idCol)
      .join(withTokens, idCol)
    packSequences(ordered, tokensPerExample, shardCol = "shard", orderCols = Seq("pos"), idCol = idCol)
  }

  /** Sequence packing: group consecutive rows (in a caller-defined order,
    * within a caller-defined shard) into training examples of at most
    * `tokensPerExample` tokens — first-fit-in-order, the standard
    * "pack short documents together to avoid padding waste" step after
    * chunking. A row larger than the budget occupies one example alone
    * (never split, never dropped). Output: one row per input row with its
    * (shard, example_idx, pos_in_example) assignment.
    *
    * Deterministic: assignment is a pure function of the (shardCol,
    * orderCols) order — with [[trainingOrder]]'s (shard, pos) that means a
    * pure function of (id, seed, numShards).
    *
    * Scale design: one exchange (repartition by shard), one per-partition
    * sort, then a single sequential pass per partition — packing is
    * inherently a running-sum scan, which is exactly the per-partition
    * imperative case `mapPartitions` exists for. Rows carry only (shard,
    * order-key, id, n_tokens); text never moves. */
  def packSequences(
      rows: DataFrame,
      tokensPerExample: Long,
      shardCol: String,
      orderCols: Seq[String],
      idCol: String = "doc_id",
      nTokensCol: String = "n_tokens"): DataFrame = {
    require(tokensPerExample > 0, "tokensPerExample must be positive")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    // fail fast on cast-to-null: with ANSI off, a non-numeric string id (or
    // shard) would cast to null and silently corrupt the packing output with
    // all-null _id rows — raise instead of packing garbage
    def checkedLong(c: Column, role: String, name: String): Column =
      when(c.cast("long").isNull,
        raise_error(lit(s"packSequences: $role column '$name' has a null or non-numeric value " +
          "(does not cast to long)")))
        .otherwise(c.cast("long"))
    val projected = rows
      .select(
        checkedLong(col(shardCol), "shard", shardCol).as("_shard"),
        struct(orderCols.map(col): _*).as("_ord"),
        checkedLong(col(idCol), "id", idCol).as("_id"),
        checkedLong(col(nTokensCol), "token-count", nTokensCol).as("_nt"))
      .repartition(col("_shard"))
      .sortWithinPartitions(col("_shard"), col("_ord"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_shard", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("example_idx", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pos_in_example", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_nt", org.apache.spark.sql.types.LongType)))
    val packed = projected.mapPartitions { it =>
      // a hash partition may hold several shards; reset per shard change
      var shard = Long.MinValue
      var acc = 0L
      var example = -1L
      var pos = 0L
      it.map { r =>
        val s = r.getLong(0); val id = r.getLong(2); val nt = r.getLong(3)
        if (s != shard) { shard = s; acc = 0L; example = -1L }
        if (example < 0 || acc + nt > tokensPerExample) {
          example += 1; acc = 0L; pos = 0L
        }
        acc += nt
        val out = org.apache.spark.sql.Row(id, s, example, pos, nt)
        pos += 1
        out
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    packed.select(
      col("_id").as(idCol), col("_shard").cast("int").as("shard"),
      col("example_idx"), col("pos_in_example"), col("_nt").as(nTokensCol))
  }

  /** Materialize [[trainingOrder]] as a sharded parquet sink: one
    * `shard=<s>` directory per shard, rows stored IN training order (file
    * row order = `pos` order), payload included. Training readers consume
    * shard directories independently and sequentially — no further sort or
    * shuffle at read time.
    *
    * One exchange total: documents repartition by shard (payload moves
    * once, which materialization requires) and sort within partitions;
    * every shard's rows land in exactly one task, so each shard directory
    * is one file whose order is the training order (CurationSpec verifies
    * file order == `trainingOrder` positions). */
  def writeTrainingShards(
      documents: DataFrame,
      dir: String,
      numShards: Int,
      seed: Long = 0L,
      idCol: String = "doc_id"): Unit = {
    require(numShards > 0, "numShards must be positive")
    documents
      .withColumn("_h", xxhash64(col(idCol), lit(seed)))
      .withColumn("shard", pmod(col("_h"), lit(numShards.toLong)).cast("int"))
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("_h"), col(idCol))
      .drop("_h")
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
  }

  /** Rule-based quality filtering with funnel accounting (the C4/Gopher
    * filter-pipeline shape): rules evaluate IN ORDER and each document is
    * labeled with the FIRST rule it violates (`fail_rule`, or "pass"), plus
    * a `keep` flag. Attributing every drop to exactly one named rule is
    * what makes a filter pipeline tunable — per-rule drop counts are one
    * `groupBy(fail_rule)` away (see [[filterReport]]).
    *
    * Each rule is (name, violation predicate). The cascade compiles to one
    * codegen'd `when` chain — map-only, no shuffle, no UDF. */
  def filterChain(
      documents: DataFrame,
      rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    require(rules.map(_._1).distinct.size == rules.size, "rule names must be unique")
    require(!rules.exists(_._1 == "pass"),
      "\"pass\" is the reserved no-violation label — a rule named \"pass\" would make its violators count as keepers")
    val cascade = rules.foldRight(lit("pass")) { case ((name, violated), rest) =>
      when(violated, lit(name)).otherwise(rest)
    }
    documents
      .withColumn("fail_rule", cascade)
      .withColumn("keep", (col("fail_rule") === "pass").cast("long"))
  }

  /** Per-rule drop counts for a [[filterChain]] output — the funnel report
    * (one slim aggregation; rows = rules + "pass"). */
  def filterReport(chained: DataFrame): DataFrame =
    chained.groupBy(col("fail_rule"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("fail_rule"))

  /** Deterministic stratified sampling for dataset mixing: keep a document
    * iff `xxhash64(id, seed) mod 2^20 < rate(stratum) * 2^20`. Unlike
    * `DataFrame.sample`, membership is a pure function of (id, seed, rate):
    *   - DETERMINISTIC: the same inputs give the same SET on any
    *     partitioning, ordering, executor count, or retry — a mix recipe is
    *     reproducible bit-for-bit;
    *   - NESTED: raising a stratum's rate only ADDS documents (the hash
    *     threshold grows), so rate-sweep experiments are strictly
    *     comparable and a 1% pilot is a subset of the 10% run;
    *   - MAP-SIDE ONLY: one codegen'd filter, no shuffle, no RNG state.
    * Strata missing from `rates` fall back to `defaultRate`; a null
    * stratum uses `defaultRate` too. CurationSpec pins all three
    * properties. */
  def stratifiedSample(
      documents: DataFrame,
      rates: Map[String, Double],
      defaultRate: Double = 0.0,
      seed: Long = 0L,
      strataCol: String = "lang",
      idCol: String = "doc_id"): DataFrame = {
    require((rates.values.toSeq :+ defaultRate).forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0, 1]")
    val buckets = 1L << 20
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col(strataCol) === lit(k), lit(v)).otherwise(acc)
    }
    documents.filter(
      pmod(xxhash64(col(idCol), lit(seed)), lit(buckets)) <
        (rate * lit(buckets.toDouble)).cast("long"))
  }

  /** The END-TO-END curation pipeline — the stages of a pretraining data
    * prep run composed in their canonical order, with per-stage funnel
    * accounting:
    *
    *   1. `filter`        — [[filterChain]] quality rules
    *   2. `redact`        — [[redact]] PII scrubbing of the survivors
    *      (BEFORE dedup, so documents differing only in redacted PII
    *      collapse as the duplicates they are)
    *   3. `exact`         — [[graft.operators.Dedup.exact]] first-occurrence
    *      exact dedup
    *   4. `neardup`       — [[graft.operators.Dedup.minHashLsh]] pairs
    *      closed into clusters by
    *      [[graft.operators.Dedup.collapseDuplicates]]
    *   5. `decontaminate` — [[decontaminate]] vs `benchmark` (skipped when
    *      None)
    *   6. `decontaminate_fuzzy` — [[decontaminateFuzzy]] vs the same
    *      benchmark at `fuzzyThreshold` (skipped when None): catches the
    *      paraphrased/truncated leaks the exact n-gram stage misses
    *   7. `budget`        — [[tokenBudget]] per-stratum token cap (skipped
    *      when None; `budgetScore` defaults to
    *      [[graft.functions.TextOps.qualityScore]] of the redacted text)
    *   8. `dsir_select`   — [[dsirResample]] toward `dsirTarget` (skipped
    *      unless both `dsirTarget` and `dsirSampleSize` are set): the
    *      importance-resampled final data mix
    *
    * A TRAINED-MODEL quality gate needs no stage of its own: pass
    * [[classifierRule]] among `rules` and the filter stage applies it
    * (the model-filter-at-ingest pattern).
    *
    * and optionally materializes the result as deterministic training
    * shards ([[writeTrainingShards]] under `shardsDir`). Returns
    * (curated corpus, funnel): the corpus keeps the input schema with
    * `textCol` replaced by its redacted form; the funnel is one
    * (stage, docs_in, docs_out) row per executed stage.
    *
    * Composition cost: each stage's output is checkpointed ONCE and feeds
    * both its funnel count and the next stage — nothing is recomputed from
    * the start, intermediate blocks are freed as soon as their successor
    * materializes, and every stage runs the exact plan its standalone
    * operator produces (CurationSpec pins funnel equality against the
    * manually-chained operators). The returned corpus is the final
    * checkpoint; it passes to the enclosing [[graft.core.Stage]] scope, or
    * outside one is freed with `graft.core.Stage.free` when done. */
  def curationPipeline(
      documents: DataFrame,
      rules: Seq[(String, Column)],
      benchmark: Option[DataFrame] = None,
      nearDupThreshold: Double = 0.7,
      fuzzyThreshold: Option[Double] = None,
      dsirTarget: Option[DataFrame] = None,
      dsirSampleSize: Option[Int] = None,
      budgetTokens: Option[Long] = None,
      budgetScore: Option[Column] = None,
      shardsDir: Option[String] = None,
      numShards: Int = 64,
      seed: Long = 0L,
      idCol: String = "doc_id",
      textCol: String = "text",
      strataCol: String = "lang",
      tokenizer: Tokenizer = Tokenizer.Whitespace): (DataFrame, DataFrame) = Stage.scope { s =>
    val spark = documents.sparkSession
    val funnel = Seq.newBuilder[(String, Long, Long)]
    // input count observed inside the input checkpoint — same one-pass
    // discipline as the stages below; `documents` is caller input and CAN
    // be a provably-empty LocalRelation (metrics pruned), hence the
    // fallback count.
    val obs0 = org.apache.spark.sql.Observation(
      s"funnel_in_${java.util.UUID.randomUUID()}")
    var cur = s(documents.observe(obs0, count(lit(1)).as("n")))
    val m0 = org.apache.spark.sql.GraftObservationAccess.getOrEmpty(obs0)
    var nCur = if (m0.contains("n")) m0("n").asInstanceOf[Long] else cur.count()

    def stage(name: String)(f: DataFrame => DataFrame): Unit = cur = Stage.scope { t =>
      // the stage's scope frees the superseded stage and every operator-
      // internal checkpoint of `f` (the components label table under
      // neardup, minHashLsh's shingle/signature blocks, decontaminateFuzzy's
      // side checkpoints, tokenBudget's base) once `next` has materialized,
      // whether or not the output's plan still reaches them
      t.adopt(cur)
      val raw = f(cur)
      // the funnel count is OBSERVED inside the stage's checkpoint
      // materialization (the connectedComponents discipline): the former
      // standalone next.count() re-read the entire just-checkpointed stage
      // output once more per stage — a full corpus-sized pass per stage at
      // any scale, spent on one number the checkpoint job already streams
      // past (guide §1.2 step 1 / §2.4: remove passes). Values identical.
      val obs = org.apache.spark.sql.Observation(
        s"funnel_${name}_${java.util.UUID.randomUUID()}")
      val next = t(raw.observe(obs, count(lit(1)).as("n")))
      // stage inputs are LogicalRDD checkpoints (never a provably-empty
      // LocalRelation), so the CollectMetrics node survives optimization —
      // but keep the direct count as a fallback: if the metrics are ever
      // pruned or delivery races the action, the recount is exact and the
      // degenerate inputs that could cause it are tiny. (Distributed
      // retries could double-count into these reporting-only funnel
      // numbers — see the ADVICE r14 #1 note in Search.buildTextIndex;
      // the curated DATA is checkpoint-exact either way.)
      val metrics = org.apache.spark.sql.GraftObservationAccess.getOrEmpty(obs)
      val nNext =
        if (metrics.contains("n")) metrics("n").asInstanceOf[Long] else next.count()
      funnel += ((name, nCur, nNext))
      nCur = nNext
      next
    }

    stage("filter")(d =>
      filterChain(d, rules).filter(col("keep") === 1L).drop("fail_rule", "keep"))
    stage("redact") { d =>
      redact(d, textCol)
        .withColumn(textCol, col("redacted"))
        .drop("redacted", "n_emails", "n_ips", "n_phones")
    }
    stage("exact") { d =>
      val keep = Dedup.exact(d, idCol, textCol)
        .filter(col("is_kept")).select(col(idCol))
      d.join(keep, Seq(idCol), "left_semi")
    }
    stage("neardup") { d =>
      // two nested scopes free the internal checkpoints as early as they
      // can go: minHashLsh's shingle/signature blocks once the pair list
      // has materialized, the pair list once the components labels have
      // (a small pair graph's labels come back as a local relation, a
      // large one's as a checkpoint the stage's scope frees)
      Stage.scope { _ =>
        val pairs = Stage.scope(_(Dedup.minHashLsh(
          d, threshold = nearDupThreshold, idCol = idCol, textCol = textCol)))
        Dedup.collapseDuplicates(d, pairs, idCol)
      }
    }
    benchmark.foreach { bm =>
      stage("decontaminate") { d =>
        val clean = decontaminate(d, bm, idCol = idCol, textCol = textCol)
          .filter(col("contaminated") === 0L).select(col(idCol))
        d.join(clean, Seq(idCol), "left_semi")
      }
    }
    for (bm <- benchmark; th <- fuzzyThreshold) {
      stage("decontaminate_fuzzy") { d =>
        val clean = decontaminateFuzzy(
          d, bm, threshold = th, idCol = idCol, textCol = textCol)
          .filter(col("contaminated") === 0L).select(col(idCol))
        d.join(clean, Seq(idCol), "left_semi")
      }
    }
    budgetTokens.foreach { b =>
      stage("budget") { d =>
        val kept = tokenBudget(
          d, b,
          score = budgetScore.getOrElse(TextOps.qualityScore(col(textCol))),
          strataCol = strataCol, idCol = idCol, textCol = textCol,
          tokenizer = tokenizer)
          .select(col(idCol))
        d.join(kept, Seq(idCol), "left_semi")
      }
    }
    for (target <- dsirTarget; size <- dsirSampleSize) {
      stage("dsir_select") { d =>
        val m = trainDsir(target, d, textCol = textCol, tokenizer = tokenizer)
        d.join(
          dsirResample(d, m, size, seed, textCol, idCol).select(col(idCol)),
          Seq(idCol), "left_semi")
      }
    }
    shardsDir.foreach(dir => writeTrainingShards(cur, dir, numShards, seed, idCol))

    import spark.implicits._
    (cur, funnel.result().toDF("stage", "docs_in", "docs_out"))
  }
}
