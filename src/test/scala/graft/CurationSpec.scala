package graft

import graft.operators.Curation
import graft.functions.{TextOps, Tokenizer}
import graft.core.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Token-budget fill semantics: greedy best-first selection per stratum,
  * budget boundary behavior, and the prefilter's exactness guarantee (the
  * scale path must change nothing).
  */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def toks(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")

  test("greedy fill keeps best-first within budget; ties break by id") {
    import spark.implicits._
    val docs = Seq(
      (1L, toks(10), "a", 0.9),
      (2L, toks(10), "a", 0.8), // ties with 3: lower id wins the slot
      (3L, toks(10), "a", 0.8),
      (4L, toks(5), "b", 0.1), // stratum under budget: kept regardless of score
      (5L, toks(30), "c", 0.9),
      (6L, toks(10), "c", 0.8)) // 30 + 10 > 25: excluded
      .toDF("doc_id", "text", "lang", "q")
    val out = Curation.tokenBudget(docs, budgetTokens = 25L, score = col("q"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // lang a: 0.9 then the 0.8 tie won by id 2 (cum 20); id 3 would hit 30.
    // lang b: under budget, all kept. lang c: best doc alone exceeds the
    // budget (cum 30 > 25) and blocks the prefix — nothing kept.
    assert(out == Set((1L, "a", 10L, 10L), (2L, "a", 10L, 20L), (4L, "b", 5L, 5L)),
      s"unexpected fill: $out")
  }

  test("NULL text never counts -1 tokens; the fill stays a prefix of the sort order") {
    import spark.implicits._
    // size(tokens(null)) is -1 with ANSI off — uncoalesced, a high-scoring
    // null doc would DECREASE cum_tokens and re-admit rows past the boundary.
    // Coalesced to "", it counts as 1 token (split("", " ") = [""] — the
    // same convention the sibling operators inherit).
    val docs = Seq(
      (1L, Option(toks(20)), "a", 0.9),
      (2L, Option.empty[String], "a", 0.8), // null text: 1 token, cum 21
      (3L, Option(toks(10)), "a", 0.7)) // cum 31 > 25: excluded
      .toDF("doc_id", "text", "lang", "q")
    val out = Curation.tokenBudget(docs, budgetTokens = 25L, score = col("q"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(out == Set((1L, 20L, 20L), (2L, 1L, 21L)), s"unexpected fill: $out")
  }

  test("a top-ranked document larger than the whole budget is excluded (cum > budget)") {
    import spark.implicits._
    val docs = Seq(
      (1L, toks(40), "a", 0.9), // alone exceeds the budget
      (2L, toks(10), "a", 0.8))
      .toDF("doc_id", "text", "lang", "q")
    val out = Curation.tokenBudget(docs, budgetTokens = 25L, score = col("q"))
      .collect().map(_.getLong(0)).toSet
    // greedy is a PREFIX fill: the oversized best doc blocks the stratum
    // (cum 40 > 25 for doc 1; doc 2 lands at cum 50) — nothing qualifies
    assert(out == Set.empty[Long], s"prefix-fill contract: $out")
  }

  test("prefilter path is exactly equal to the full window across budgets") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val score = TextOps.qualityScore(col("text"))
    for (budget <- Seq(50L, 500L, 5000L, 1000000L)) {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val slow = rows(Curation.tokenBudget(docs, budget, score, prefilter = false))
      // forced engagement (minTokens = 0): the threshold machinery itself
      val forced = rows(Curation.tokenBudget(docs, budget, score, prefilterMinTokens = 0L))
      assert(forced == slow, s"engaged prefilter must be lossless at budget=$budget")
      // default engagement bar: tiny strata pass through untouched
      val auto = rows(Curation.tokenBudget(docs, budget, score))
      assert(auto == slow, s"auto prefilter must be lossless at budget=$budget")
    }
  }

  test("prefilter: an all-null-score stratum falls back losslessly instead of NPEing") {
    import spark.implicits._
    // REGRESSION: percentile_approx over a stratum whose score is entirely
    // null returns a null CDF; the threshold derivation must treat that as
    // "keep the whole stratum" (the lossless fallback), not crash
    val docs = (1L to 50L)
      .map(i => (i, "nullscore", ("tok " * 20).trim))
      .toDF("doc_id", "lang", "text")
    val nullScore = lit(null).cast("double")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    // forced engagement (stratum over budget AND over minTokens = 0)
    val pre = rows(Curation.tokenBudget(docs, budgetTokens = 100L, score = nullScore,
      prefilterMinTokens = 0L))
    val slow = rows(Curation.tokenBudget(docs, budgetTokens = 100L, score = nullScore,
      prefilter = false))
    assert(pre == slow, "null-score stratum must degrade to the unfiltered path")
  }

  test("stratifiedSample: deterministic, nested across rates, rate-accurate") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSeq
    val lowRates = langs.map(_ -> 0.3).toMap
    val highRates = langs.map(_ -> 0.7).toMap

    def ids(rates: Map[String, Double], reshuffle: Boolean): Set[Long] = {
      val d = if (reshuffle) docs.repartition(13) else docs
      Curation.stratifiedSample(d, rates, seed = 42L)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val low = ids(lowRates, reshuffle = false)
    // deterministic: same set under a different partitioning
    assert(ids(lowRates, reshuffle = true) == low)
    // nested: the 30% sample is a strict subset of the 70% sample
    val high = ids(highRates, reshuffle = false)
    assert(low.subsetOf(high), "raising rates must only add documents")
    // rate-accurate within binomial noise (n = corpus size)
    val n = docs.count().toDouble
    assert(math.abs(low.size / n - 0.3) < 0.15, s"~30% expected, got ${low.size / n}")
    assert(math.abs(high.size / n - 0.7) < 0.15, s"~70% expected, got ${high.size / n}")
    // rate 0 / rate 1 extremes are exact
    assert(ids(langs.map(_ -> 0.0).toMap, reshuffle = false).isEmpty)
    assert(ids(langs.map(_ -> 1.0).toMap, reshuffle = false).size == n.toLong)
  }

  test("redact scrubs emails, IPs, and phones sequentially with exact counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "reach me at jo.doe+spam@mail-host.org or admin@x.io thanks"),
      (2L, "server 10.0.255.7 and 192.168.1.1 are up"),
      (3L, "call +1 (555) 123-4567 now"),
      (4L, "ip 10.0.0.1 then phone 555-123-9999"), // ip must not double-count as phone
      (5L, "nothing sensitive here"),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = graft.operators.Curation.redact(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4)), r.getString(5))).toMap
    assert(out(1L)._1 == ((2, 0, 0)), s"two emails: ${out(1L)}")
    assert(out(1L)._2 == "reach me at [PII] or [PII] thanks")
    assert(out(2L)._1 == ((0, 2, 0)), s"two ips: ${out(2L)}")
    assert(out(3L)._1 == ((0, 0, 1)), s"one phone: ${out(3L)}")
    assert(out(3L)._2 == "call [PII] now")
    assert(out(4L)._1 == ((0, 1, 1)), s"ip and phone counted once each: ${out(4L)}")
    assert(out(5L)._1 == ((0, 0, 0)) && out(5L)._2 == "nothing sensitive here")
    assert(out(6L)._1 == ((0, 0, 0)) && out(6L)._2 == "", "null text redacts to empty")
  }

  test("decontaminate counts distinct shared n-grams against the benchmark set") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma zeta"), // shares "alpha beta", "beta gamma"
      (2L, "x y z"), // nothing shared
      (3L, "alpha beta alpha beta"), // DISTINCT overlap is 1 ("alpha beta" once)
      (4L, "solo")) // too short for a 2-gram: 0 n-grams, still present
      .toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, bench, n = 2, minOverlap = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((3L, 2L, 1L)), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((2L, 0L, 0L)), s"doc 2: ${out(2L)}")
    assert(out(3L) == ((2L, 1L, 0L)), s"distinct overlap counts once: ${out(3L)}")
    assert(out(4L) == ((0L, 0L, 0L)), s"short doc kept with zeros: ${out(4L)}")
    assert(out.size == 4)
  }

  test("repetitionStats duplicate fractions match hand computation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a"), // d1=1/4; 2-grams 1/3 distinct; 3-grams 1/2
      (2L, "a b c"), // all distinct
      (3L, "a"), // no 2/3-grams: fractions 0 by convention
      (4L, "")) // tokenizes to one empty token
      .toDF("doc_id", "text")
    val out = Curation.repetitionStats(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(out(1L) == ((4L, 0.75, 0.666667, 0.5, 1L)), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((3L, 0.0, 0.0, 0.0, 0L)), s"doc 2: ${out(2L)}")
    assert(out(3L) == ((1L, 0.0, 0.0, 0.0, 0L)), s"doc 3: ${out(3L)}")
    assert(out(4L) == ((1L, 0.0, 0.0, 0.0, 0L)), s"doc 4: ${out(4L)}")
  }

  test("trainingOrder is a deterministic permutation with dense per-shard positions") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val n = docs.count()
    def rows(d: org.apache.spark.sql.DataFrame, shards: Int, seed: Long) =
      Curation.trainingOrder(d, shards, seed)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val base = rows(docs, 8, 42L)
    // permutation: every doc exactly once, (shard, pos) unique
    assert(base.length == n && base.map(_._1).distinct.length == n)
    assert(base.map(t => (t._2, t._3)).distinct.length == n.toInt)
    // dense positions 0..count-1 within each shard
    base.groupBy(_._2).foreach { case (s, g) =>
      assert(g.map(_._3).sorted.toSeq == (0L until g.length).toSeq, s"shard $s not dense")
    }
    // deterministic under a different partitioning
    assert(rows(docs.repartition(13), 8, 42L).toSet == base.toSet)
    // a different seed reorders (w.h.p.)
    assert(rows(docs, 8, 43L).toSet != base.toSet)
    // shards are hash-balanced: no shard more than 3x the mean (loose bound)
    val sizes = base.groupBy(_._2).values.map(_.length)
    assert(sizes.max <= 3 * n.toInt / 8 + 1, s"imbalanced shards: $sizes")
  }

  test("filterChain labels each doc with the FIRST violated rule; report counts drops") {
    import spark.implicits._
    val docs = Seq(
      (1L, 5, 0.9), // violates both rules: first one wins
      (2L, 50, 0.9), // only repetitive
      (3L, 50, 0.1), // clean
      (4L, 3, 0.0)) // only short
      .toDF("doc_id", "n_tokens", "dup2")
    val rules = Seq(
      "too_short" -> (col("n_tokens") < 20),
      "too_repetitive" -> (col("dup2") > 0.6))
    val out = Curation.filterChain(docs, rules).collect()
      .map(r => r.getLong(0) -> ((r.getString(3), r.getLong(4)))).toMap
    assert(out(1L) == (("too_short", 0L)), "rule order decides the label")
    assert(out(2L) == (("too_repetitive", 0L)))
    assert(out(3L) == (("pass", 1L)))
    assert(out(4L) == (("too_short", 0L)))
    val report = Curation.filterReport(Curation.filterChain(docs, rules))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report == Map("too_short" -> 2L, "too_repetitive" -> 1L, "pass" -> 1L))
    // duplicate rule names and the reserved "pass" label are caller errors
    intercept[IllegalArgumentException] {
      Curation.filterChain(docs, Seq("r" -> lit(true), "r" -> lit(false)))
    }
    intercept[IllegalArgumentException] {
      Curation.filterChain(docs, Seq("pass" -> lit(true)))
    }
  }

  test("chunk emits sliding token windows covering every token, tail never redundant") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"), // shorter than one chunk
      (3L, "")) // one empty token
      .toDF("doc_id", "text")
    val out = Curation.chunk(docs, chunkTokens = 5, overlapTokens = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getString(3)))).toMap
    // stride 3: [t1..t5], [t4..t8], [t7..t10]; a 4th chunk would add no new token
    assert(out(1L -> 0) == ((5, "t1 t2 t3 t4 t5")))
    assert(out(1L -> 1) == ((5, "t4 t5 t6 t7 t8")))
    assert(out(1L -> 2) == ((4, "t7 t8 t9 t10")))
    assert(!out.contains(1L -> 3), "no chunk without new tokens")
    assert(out(2L -> 0) == ((3, "a b c")) && !out.contains(2L -> 1))
    assert(out(3L -> 0) == ((1, "")), "empty text yields one empty chunk")
    // zero overlap partitions the token stream exactly
    val no = Curation.chunk(docs.filter(col("doc_id") === 1), 4, 0).collect()
      .map(r => r.getString(3))
    assert(no.toSeq == Seq("t1 t2 t3 t4", "t5 t6 t7 t8", "t9 t10"))
  }

  test("vocabulary counts token frequencies with deterministic tie-break") {
    import spark.implicits._
    val docs = Seq((1L, "b a a c b a"), (2L, "c b d")).toDF("doc_id", "text")
    val out = Curation.vocabulary(docs, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // counts: a=3, b=3, c=2, d=1; total 9; ties (a,b) break by token
    assert(out.toSeq == Seq(("a", 3L, 0.333333), ("b", 3L, 0.333333), ("c", 2L, 0.222222)),
      s"got: ${out.toSeq}")
  }

  test("packSequences: a null token count fails with a descriptive error, not an opaque NPE") {
    import spark.implicits._
    val rows = Seq((1L, 0L, 1L, Option(5L)), (2L, 0L, 2L, Option.empty[Long]))
      .toDF("doc_id", "shard", "pos", "n_tokens")
    val e = intercept[Exception] {
      Curation.packSequences(rows, 10L, "shard", Seq("pos")).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${msgs(t.getCause)}"
    assert(msgs(e).contains("token-count"),
      s"the guard must name the offending column: ${msgs(e).take(400)}")
  }

  test("packSequences first-fits in order; oversized rows get their own example") {
    import spark.implicits._
    // one shard, explicit order: token counts 5,7,3,10,25,2 with budget 12
    // -> [5,7], [3], wait: 3+10>12? 3+10=13>12 so [3],[10],[25],[2]? No:
    // first-fit IN ORDER: ex0=5+7=12; ex1=3 (3+10=13>12 closes at 10's
    // arrival); ex2=10 (10+25>12); ex3=25 alone (oversized); ex4=2.
    val rows = Seq(
      (1L, 0, 0L, 5L), (2L, 0, 1L, 7L), (3L, 0, 2L, 3L),
      (4L, 0, 3L, 10L), (5L, 0, 4L, 25L), (6L, 0, 5L, 2L),
      // a second shard packs independently
      (7L, 1, 0L, 6L), (8L, 1, 1L, 6L))
      .toDF("doc_id", "shard", "pos", "n_tokens")
    val out = Curation.packSequences(rows, 12L, "shard", Seq("pos")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((0, 0L, 0L)) && out(2L) == ((0, 0L, 1L)), s"ex0 = 5+7: $out")
    assert(out(3L) == ((0, 1L, 0L)), "3 opens ex1")
    assert(out(4L) == ((0, 2L, 0L)), "10 cannot join ex1 (13 > 12)")
    assert(out(5L) == ((0, 3L, 0L)), "oversized 25 packs alone")
    assert(out(6L) == ((0, 4L, 0L)), "after an oversized example a new one opens")
    assert(out(7L) == ((1, 0L, 0L)) && out(8L) == ((1, 0L, 1L)), "shard 1 independent")
    // every example respects the budget unless it is a single oversized row
    val byExample = Curation.packSequences(rows, 12L, "shard", Seq("pos")).collect()
      .groupBy(r => (r.getInt(1), r.getLong(2)))
    byExample.foreach { case (k, g) =>
      val tot = g.map(_.getLong(4)).sum
      assert(tot <= 12L || g.length == 1, s"example $k overflows with ${g.length} rows")
    }
    // deterministic under a different input partitioning
    val re = Curation.packSequences(rows.repartition(5), 12L, "shard", Seq("pos"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(re == out)
  }

  test("writeTrainingShards materializes the training order: file order = pos order") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("graft_tshard_").toString
    Curation.writeTrainingShards(docs, tmp, numShards = 4, seed = 7L)
    val expected = Curation.trainingOrder(docs, 4, 7L).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    var seen = 0L
    for (s <- 0 until 4) {
      // one file per shard, one split per file: collect order = stored order
      val ids = spark.read.parquet(s"$tmp/shard=$s")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(ids == expected(s), s"shard $s must be stored in training order")
      seen += ids.size
    }
    assert(seen == docs.count(), "every document lands in exactly one shard")
    graft.queries.QueryDef.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("curated ingest filters, redacts, and accounts every drop; replay is idempotent") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cing_").toString
    def writeSrc(name: String, rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/src_stage/$name")
      val dst = new java.io.File(s"$tmp/src"); dst.mkdirs()
      new java.io.File(s"$tmp/src_stage/$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(
          f.toPath, new java.io.File(dst, s"$name.parquet").toPath))
    }
    writeSrc("f1", Seq(
      (1L, "short"), // too_short
      (2L, "contact me at bob@example.com for details today"), // pass, email redacted
      (3L, "this sentence has number 12345 in it ok"))) // has_digit
    writeSrc("f2", Seq(
      (4L, "a perfectly fine long document with no issues"), // pass
      (5L, "tiny"))) // too_short
    val rules = Seq(
      "too_short" -> (length(col("text")) < 15),
      "has_digit" -> col("text").rlike("[0-9]"))
    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = graft.streaming.Ingest.startCuratedIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", rules,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    run()

    def sinkRows() = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    def funnel() = graft.streaming.Ingest
      .curationFunnel(spark, s"$tmp/sink", s"$tmp/ckpt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = sinkRows()
    assert(kept.keySet == Set(2L, 4L), s"only passing docs land: $kept")
    assert(kept(2L) == "contact me at [PII] for details today",
      "survivors are PII-redacted on the way in")
    assert(funnel() == Map("too_short" -> 2L, "has_digit" -> 1L, "pass" -> 2L),
      s"every drop attributed: ${funnel()}")

    // crash replay: drop the last streaming commit and re-run — sink and
    // funnel must be rewritten identically
    val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    last.delete(); if (crc.exists()) crc.delete()
    run()
    assert(sinkRows() == kept, "replay must not change the curated sink")
    assert(funnel() == Map("too_short" -> 2L, "has_digit" -> 1L, "pass" -> 2L),
      "replay must overwrite its funnel batch, not double-count")
    graft.queries.QueryDef.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("tokenizer plumbing: whitespace default is byte-identical to the explicit form") {
    // the default parameter must BE Tokenizer.Whitespace (the oracle-green
    // q29e/l/m/n queries run the default path, pinning absolute behavior;
    // this pins that the new parameter didn't fork it)
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val defChunk = Curation.chunk(docs, 40, 10).orderBy("doc_id", "chunk_idx").collect()
    val wsChunk = Curation.chunk(docs, 40, 10, tokenizer = Tokenizer.Whitespace)
      .orderBy("doc_id", "chunk_idx").collect()
    assert(defChunk.sameElements(wsChunk))
    val defVocab = Curation.vocabulary(docs, k = 20).collect()
    val wsVocab = Curation.vocabulary(docs, k = 20, tokenizer = Tokenizer.Whitespace).collect()
    assert(defVocab.sameElements(wsVocab))
  }

  test("packDocuments under BPE: counts are subword counts; first-fit packing is exact") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val bpe = Tokenizer.Bpe(Tokenizer.FixtureVocab)
    val out = Curation.packDocuments(docs, tokensPerExample = 300L, numShards = 4, seed = 7L,
        tokenizer = bpe)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")), r.getAs[Int]("shard"),
        r.getLong(r.fieldIndex("example_idx")), r.getLong(r.fieldIndex("pos_in_example")),
        r.getLong(r.fieldIndex("n_tokens"))))
    // reference: BPE counts via the column function, order via trainingOrder,
    // and a driver-side sequential first-fit — the honest re-implementation
    val counts = docs
      .select(col("doc_id"), bpe.count(coalesce(col("text"), lit(""))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // BPE subword counts must differ from whitespace counts somewhere (the
    // whole point of the pluggable tokenizer)
    val wsCounts = docs
      .select(col("doc_id"),
        Tokenizer.Whitespace.count(coalesce(col("text"), lit(""))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts != wsCounts, "fixture-vocab BPE should split some words")
    val order = Curation.trainingOrder(docs, numShards = 4, seed = 7L)
      .orderBy("shard", "pos").collect()
      .map(r => (r.getAs[Int]("shard"), r.getLong(r.fieldIndex("doc_id"))))
    val expected = scala.collection.mutable.Map.empty[Long, (Int, Long, Long, Long)]
    order.groupBy(_._1).foreach { case (shard, rows) =>
      var acc = 0L; var example = -1L; var pos = 0L
      rows.foreach { case (_, id) =>
        val nt = counts(id)
        if (example < 0 || acc + nt > 300L) { example += 1; acc = 0L; pos = 0L }
        acc += nt
        expected(id) = (shard, example, pos, nt)
        pos += 1
      }
    }
    assert(out.length == expected.size)
    out.foreach { case (id, shard, ex, pos, nt) =>
      assert(expected(id) == ((shard, ex, pos, nt)), s"doc $id mismatch")
    }
  }

  test("curationPipeline: funnel and corpus match the manually-chained standalone operators") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val bench = docs.orderBy("doc_id").limit(10)
    val tmp = java.nio.file.Files.createTempDirectory("graft_pipe_").toString
    val (corpus, funnel) = Curation.curationPipeline(
      docs, Curation.defaultQualityRules(), benchmark = Some(bench),
      budgetTokens = Some(2000L), shardsDir = Some(s"$tmp/shards"),
      numShards = 4, seed = 7L)
    val f = funnel.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    // the same stages, chained by hand from the standalone operators
    var d = Curation.filterChain(docs, Curation.defaultQualityRules())
      .filter(col("keep") === 1L).drop("fail_rule", "keep")
    val nFilter = d.count()
    d = Curation.redact(d).withColumn("text", col("redacted"))
      .drop("redacted", "n_emails", "n_ips", "n_phones")
    d = d.join(Dedup.exact(d).filter(col("is_kept")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val nExact = d.count()
    d = Dedup.collapseDuplicates(d, Dedup.minHashLsh(d, threshold = 0.7))
    val nNear = d.count()
    d = d.join(Curation.decontaminate(d, bench)
      .filter(col("contaminated") === 0L).select("doc_id"), Seq("doc_id"), "left_semi")
    val nDecon = d.count()
    d = d.join(Curation.tokenBudget(d, 2000L,
        score = TextOps.qualityScore(col("text"))).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val nBudget = d.count()

    val n0 = docs.count()
    assert(f == Seq(
      ("filter", n0, nFilter), ("redact", nFilter, nFilter),
      ("exact", nFilter, nExact), ("neardup", nExact, nNear),
      ("decontaminate", nNear, nDecon), ("budget", nDecon, nBudget)),
      s"funnel: $f")
    assert(nBudget < nDecon && nDecon <= nNear && nNear <= nExact && nExact <= nFilter,
      "the fixture must exercise every stage")
    // the corpus is the final stage's survivors, input schema preserved
    assert(corpus.count() == nBudget)
    assert(corpus.columns.toSeq == docs.columns.toSeq)
    // shards landed and cover the corpus exactly
    assert(spark.read.parquet(s"$tmp/shards").count() == nBudget)
    graft.core.Stage.free(corpus)
    graft.queries.QueryDef.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("curationPipeline frees every internal checkpoint (only the returned corpus stays)") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (corpus, _) = Curation.curationPipeline(docs, Curation.defaultQualityRules())
    corpus.count()
    // minHashLsh's shingle/signature checkpoints and the materialized pair
    // list are truncated OUT of the stage output's plan (by the pair
    // checkpoint and the components label table respectively), so the
    // stage-end output-plan sweep cannot see them — the 1000-batch soak's
    // horizon check caught them leaking one pair per invocation. After
    // freeing the returned corpus, a long-lived driver must hold ZERO new
    // blocks.
    graft.core.Stage.free(corpus)
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty, s"curationPipeline leaked RDD blocks: $after")
  }

  test("Tokenizer.learn: merges match the hand-computed BPE; learned vocab drives Bpe end-to-end") {
    import spark.implicits._
    // histogram: "abab" x3, "abc" x2. Pair counts round 1: (a,b)=8 (two
    // occurrences per "abab", one per "abc"), (b,a)=3, (b,c)=2 => merge
    // "ab"; round 2: (ab,ab)=3, (ab,c)=2 => "abab"; round 3: (ab,c)=2 =>
    // "abc"; then no adjacent pair remains => stop before the merge budget.
    val docs = Seq((1L, "abab abc abab"), (2L, "abab abc")).toDF("doc_id", "text")
    val learned = Tokenizer.learn(docs, numMerges = 10)
    assert(learned == Seq("ab", "abab", "abc"), s"merge sequence: $learned")
    assert(Tokenizer.learn(docs, numMerges = 10) == learned, "learning is deterministic")
    // numMerges truncates the same sequence, not a different greedy path
    assert(Tokenizer.learn(docs, numMerges = 2) == Seq("ab", "abab"))
    // the learned pieces drive the greedy longest-match tokenizer: every
    // fixture word is now a single (word-initial-marked) token
    val toks = docs.orderBy("doc_id")
      .select(Tokenizer.Bpe(learned).tokens(col("text")))
      .collect().map(_.getSeq[String](0))
    assert(toks(0) == Seq(" abab", " abc", " abab") && toks(1) == Seq(" abab", " abc"))
    // an out-of-vocab word degrades to matched pieces + single-char fallback
    val oov = Seq((1L, "abz qq")).toDF("doc_id", "text")
      .select(Tokenizer.Bpe(learned).tokens(col("text")))
      .head().getSeq[String](0)
    assert(oov == Seq(" ab", "z", " q", "q"))
    // the histogram cap keeps determinism: capping to the single most
    // frequent word still learns from it alone
    assert(Tokenizer.learn(docs, numMerges = 10, maxWords = 1) == Seq("ab", "abab"))
  }

  test("perplexity: scores match the hand-computed stupid-backoff model; pruning exercises OOV and backoff") {
    import spark.implicits._
    // corpus: "a b a b" + "a b c". N = 7; c1: a=3, b=3, c=1;
    // c2: (a,b)=3, (b,a)=1, (b,c)=1
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val lm = Curation.trainNgramLm(docs, maxVocab = 10, maxBigrams = 10)
    assert(lm.totalTokens == 7L)
    assert(lm.unigrams.collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      == Set(("a", 3.0), ("b", 3.0), ("c", 1.0)))
    assert(lm.bigrams.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      == Set(("a", "b", 3.0), ("b", "a", 1.0), ("b", "c", 1.0)))
    val ppl = Curation.perplexity(docs, lm)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // doc 1 "a b a b": scores [3/7, 3/3, 1/3, 3/3] -> ppl = (7/1... ) =
    // exp(-(ln(3/7)+ln(1/3))/4) = (7/3 * 3)^(1/4) = 7^(1/4)
    val ppl1 = BigDecimal(math.pow(7.0, 0.25)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 2 "a b c": scores [3/7, 3/3, 1/3] -> 7^(1/3)
    val ppl2 = BigDecimal(math.pow(7.0, 1.0 / 3)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ppl(1L) == ((4L, ppl1)), s"doc 1: ${ppl(1L)} vs $ppl1")
    assert(ppl(2L) == ((3L, ppl2)), s"doc 2: ${ppl(2L)} vs $ppl2")

    // prune c out of the vocabulary (maxVocab = 2 keeps a, b): 'c' takes
    // the OOV floor 0.4*0.4/7 after backoff; (b,a) pruned out of the
    // bigram table (maxBigrams = 1 keeps only (a,b)) -> backoff 0.4*3/7
    val pruned = Curation.trainNgramLm(docs, maxVocab = 2, maxBigrams = 1)
    assert(pruned.unigrams.collect().map(_.getString(0)).toSet == Set("a", "b"))
    assert(pruned.bigrams.collect().map(r => (r.getString(0), r.getString(1))).toSet
      == Set(("a", "b")))
    val p2 = Curation.perplexity(docs, pruned)
      .filter(col("doc_id") === 2L).head().getDouble(2)
    // doc 2 under the pruned model: [3/7, 3/3, 0.4*(0.4/7)]
    val exp2 = BigDecimal(math.exp(
      -(math.log(3.0 / 7) + math.log(1.0) + math.log(0.4 * 0.4 / 7)) / 3))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(p2 == exp2, s"pruned-model doc 2: $p2 vs $exp2")

    // determinism + the quality-signal property on the real corpus: a
    // reference-like document scores below a shuffled-junk document
    val real = Tables.documents(spark, TestSpark.Sf0001)
    val rlm = Curation.trainNgramLm(real, maxVocab = 25, maxBigrams = 400)
    val a = Curation.perplexity(real, rlm).collect().map(_.toSeq).sortBy(_.head.toString)
    val b = Curation.perplexity(real, rlm).collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a.toSeq == b.toSeq, "scoring is deterministic run to run")
  }

  test("null strata survive the prefilter via fallback") {
    import spark.implicits._
    val docs = Seq(
      (1L, toks(10), "a", 0.9),
      (2L, toks(10), null.asInstanceOf[String], 0.5),
      (3L, toks(10), null.asInstanceOf[String], 0.9))
      .toDF("doc_id", "text", "lang", "q")
    // minTokens = 0 forces the threshold machinery, whose equi-join always
    // drops the null stratum — the fallback must restore it
    val out = Curation.tokenBudget(docs, budgetTokens = 15L, score = col("q"),
        prefilterMinTokens = 0L)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(out == Set((1L, Some("a")), (3L, None)),
      s"null stratum fills independently: $out")
  }

  test("boilerplateNgrams finds every planted footer occurrence at its exact offset, nothing else") {
    import spark.implicits._
    // a 5-token footer shared by docs 1..3 at DIFFERENT offsets; doc 4
    // shares a 5-gram with doc 5 only (below minDocs=3); bodies unique
    val footer = "please subscribe to our channel"
    val docs = Seq(
      (1L, s"alpha beta gamma delta $footer"),               // offset 4
      (2L, s"$footer epsilon zeta eta theta iota"),          // offset 0
      (3L, s"kappa $footer lambda mu nu xi omicron"),        // offset 1
      (4L, "one two three four five six seven"),
      (5L, "zero one two three four five sixb")).toDF("doc_id", "text")
    val out = Curation.boilerplateNgrams(docs, n = 5, minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the footer's gram hash — derived via the DISTINCT kernel on the bare
    // footer text (catalog interop: the positional fold matches it)
    val footerGram = Seq(Tuple1(footer)).toDF("text")
      .select(TextOps.ngramHashes(TextOps.tokenHashes(col("text")), 5))
      .head().getSeq[Long](0).head
    assert(out == Set(
      (1L, 4L, footerGram, 3L),
      (2L, 0L, footerGram, 3L),
      (3L, 1L, footerGram, 3L)),
      s"exactly the three planted occurrences, offsets exact: $out")
    // dropping minDocs to 2 surfaces doc 4/5's shared "one two three four
    // five" 5-gram (offsets 0 and 1) alongside the footer
    val loose = Curation.boilerplateNgrams(docs, n = 5, minDocs = 2)
      .filter(col("doc_id").isin(4L, 5L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(loose == Set((4L, 0L, 2L), (5L, 1L, 2L)), s"got $loose")
  }

  test("exciseBoilerplate cuts exactly the covered positions; clean docs untouched; converges") {
    import spark.implicits._
    val footer = "please subscribe to our channel"
    val docs = Seq(
      (1L, s"alpha beta gamma delta $footer"),      // footer at tail
      (2L, s"$footer epsilon zeta eta theta iota"), // footer at head
      (3L, s"kappa $footer lambda mu nu xi"),       // footer mid-doc
      (4L, "one two three four five six seven"),    // clean
      (5L, footer))                                 // pure boilerplate
      .toDF("doc_id", "text")
    val out = Curation.exciseBoilerplate(docs, n = 5, minDocs = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((9L, 5L, "alpha beta gamma delta")), s"${out(1L)}")
    assert(out(2L) == ((10L, 5L, "epsilon zeta eta theta iota")), s"${out(2L)}")
    assert(out(3L) == ((10L, 5L, "kappa lambda mu nu xi")), s"${out(3L)}")
    assert(out(4L) == ((7L, 0L, "one two three four five six seven")), "clean doc must pass through")
    assert(out(5L) == ((5L, 5L, "")), s"pure boilerplate excises to empty: ${out(5L)}")

    // convergence: a second pass over the cleaned corpus finds nothing
    // hot (the footer is gone everywhere), so it removes zero tokens
    val cleaned = Curation.exciseBoilerplate(docs, n = 5, minDocs = 3)
      .select(col("doc_id"), col("text_clean").as("text"))
    val second = Curation.exciseBoilerplate(cleaned, n = 5, minDocs = 3)
      .agg(sum("n_removed")).head().getLong(0)
    assert(second == 0L, s"second pass must be a no-op, removed $second")

    // OVERLAPPING occurrences excise as the union of covers: the shared
    // run "a b c d e f" in three docs holds two hot 5-grams (offsets 0
    // and 1) whose covers overlap on positions 1..4 — all six tokens go
    val over = Seq(
      (1L, "a b c d e f x"), (2L, "y a b c d e f"), (3L, "z z a b c d e f"))
      .toDF("doc_id", "text")
    val o = Curation.exciseBoilerplate(over, n = 5, minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(o == Map(1L -> "x", 2L -> "y", 3L -> "z z"), s"union-of-covers: $o")
  }

  test("duplicateSpans keeps the global first occurrence, flags every later one (within-doc included)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),   // the original
      (2L, "x alpha beta gamma delta epsilon zeta"),     // cross-doc copy at offset 1
      (3L, "p q r s t u v p q r s t u"))                 // within-doc repeat at offset 7
      .toDF("doc_id", "text")
    val out = Curation.duplicateSpans(docs, n = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((2L, 1L), (3L, 7L)),
      s"exactly the two non-first occurrences, keepers absent: $out")
    // contrast with the boilerplate posture: minDocs=2 boilerplate flags the
    // ORIGINAL too (cleanup removes every copy; dedup must keep one)
    val boiler = Curation.boilerplateNgrams(docs, n = 6, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(boiler.contains((1L, 0L)) && boiler.contains((2L, 1L)),
      s"boilerplate flags both occurrences: $boiler")
    // catalog interop: the flagged gram is the kernel's combined hash of
    // the copied 6-token span
    val gram = Seq(Tuple1("alpha beta gamma delta epsilon zeta")).toDF("text")
      .select(TextOps.ngramHashes(TextOps.tokenHashes(col("text")), 6))
      .head().getSeq[Long](0).head
    val withGram = Curation.duplicateSpans(docs, n = 6)
      .filter(col("doc_id") === 2L).head()
    assert(withGram.getLong(2) == gram, "gram hash interops with the n-gram catalog")
  }

  test("exciseDuplicateSpans cuts later copies only; overlapping covers union; short docs pass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"), // original: untouched
      (2L, "x alpha beta gamma delta epsilon zeta"),   // copy excised, "x" survives
      (3L, "p q r s t u v p q r s t u"),               // second in-doc occurrence cut
      (4L, "c1 c2 c3 c4 c5 c6 c7 c8"),                 // original 8-token run
      (5L, "zz c1 c2 c3 c4 c5 c6 c7 c8 yy"),           // 3 overlapping windows -> 8 cut
      (6L, "c1 c2 c3"))                                // < n tokens: no windows
      .toDF("doc_id", "text")
    val out = Curation.exciseDuplicateSpans(docs, n = 6)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((7L, 0L, "alpha beta gamma delta epsilon zeta eta")), s"${out(1L)}")
    assert(out(2L) == ((7L, 6L, "x")), s"${out(2L)}")
    assert(out(3L) == ((13L, 6L, "p q r s t u v")), s"${out(3L)}")
    assert(out(4L) == ((8L, 0L, "c1 c2 c3 c4 c5 c6 c7 c8")), s"${out(4L)}")
    assert(out(5L) == ((10L, 8L, "zz yy")), s"union of overlapping covers: ${out(5L)}")
    assert(out(6L) == ((3L, 0L, "c1 c2 c3")), s"short doc passes through: ${out(6L)}")
    // this fixture's cleaned corpus holds no repeated 6-gram: second pass no-op
    val cleaned = Curation.exciseDuplicateSpans(docs, n = 6)
      .select(col("doc_id"), col("text_clean").as("text"))
    val second = Curation.exciseDuplicateSpans(cleaned, n = 6)
      .agg(sum("n_removed")).head().getLong(0)
    assert(second == 0L, s"second pass removed $second")
    // the shuffled-join fallback is the same operator
    val shuffled = Curation.exciseDuplicateSpans(docs, n = 6, broadcastHits = false)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(shuffled == out, "broadcastHits=false must change nothing")
  }

  test("exciseDuplicateSpans equals the brute-force first-occurrence model on a random corpus") {
    import spark.implicits._
    val n = 4
    val vocab = Array("a", "b", "c", "d", "e")
    val rnd = new scala.util.Random(20260816L)
    val corpus: Seq[(Long, String)] = (0 until 40).map { i =>
      val len = 1 + rnd.nextInt(18)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    } :+ (40L -> "")
    // model: string n-grams, global (id, pos)-first keeps, cover union, rebuild
    val toks: Map[Long, Seq[String]] =
      corpus.map { case (id, t) =>
        id -> (if (t.trim.isEmpty) Seq("") else t.trim.split("\\s+").toSeq)
      }.toMap
    val occ = for {
      (id, ts) <- toks.toSeq
      p <- 0 to ts.length - n
    } yield (ts.slice(p, p + n).mkString(" "), id, p)
    val firsts = occ.groupBy(_._1).map { case (g, os) => g -> os.map(o => (o._2, o._3)).min }
    val markedByDoc = occ.filter(o => (o._2, o._3) != firsts(o._1))
      .groupBy(_._2).map { case (id, os) => id -> os.map(_._3).toSet }
    val expected = toks.map { case (id, ts) =>
      val cover = markedByDoc.getOrElse(id, Set.empty[Int])
        .flatMap(p => p until p + n)
      val kept = ts.zipWithIndex.collect { case (t, i) if !cover(i) => t }
      id -> ((ts.length.toLong, cover.size.toLong, kept.mkString(" ")))
    }
    val got = Curation.exciseDuplicateSpans(corpus.toDF("doc_id", "text"), n = n)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got == expected,
      s"operator and model disagree on ${got.keySet.filter(k => got(k) != expected(k))}")
  }

  test("decontaminateFuzzy flags paraphrased and truncated leaks the exact check misses") {
    import spark.implicits._
    // 40 distinct tokens; the "edited leak" changes one token per 13-token
    // window (positions 8/21/34) — NO 13-gram (GPT-3's decontamination
    // width) survives intact (longest unchanged run is 12), yet only 9 of
    // 38 trigram shingles die: J = 29/47 ~ 0.617 >= 0.5. The exact check
    // and the fuzzy check are provably non-redundant on this input.
    // bands = 32 (r = 2): a J ~ 0.6 pair misses all 32 bands with
    // probability (1 - J^2)^32 ~ 2e-7 — the fixture collides.
    val w = (0 until 40).map(i => s"w$i")
    val benchText = w.mkString(" ")
    val edited = w.zipWithIndex
      .map { case (t, i) => if (i % 13 == 8) s"x$i" else t }.mkString(" ")
    val corpus = Seq(
      (1L, edited),
      (2L, w.take(25).mkString(" ")), // truncated leak: J = 23/38 ~ 0.605
      (3L, "a completely different document about training data curation pipelines"),
      (4L, w.reverse.mkString(" "))) // same vocabulary, reversed: zero shared shingles
      .toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val out = Curation.decontaminateFuzzy(corpus, bench, threshold = 0.5, bands = 32)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(out(1L)._3 == 1L && out(1L)._2 > 0.5, s"edited leak must flag: ${out(1L)}")
    assert(out(2L)._3 == 1L && out(2L)._2 > 0.5, s"truncated leak must flag: ${out(2L)}")
    assert(out(3L)._3 == 0L, s"clean doc flagged: ${out(3L)}")
    assert(out(4L)._3 == 0L, s"reversed-words doc flagged: ${out(4L)}")
    // the exact 13-gram check misses the edited leak entirely (no shared
    // 13-gram): the fuzzy pass is not redundant with q29h's operator
    val exact = Curation.decontaminate(corpus, bench, n = 13, minOverlap = 1L)
      .filter(col("doc_id") === 1L).head().getLong(3)
    assert(exact == 0L, "planted edit should evade the exact n-gram check")

    // verbatim leak: jaccard 1.0, and every corpus doc appears exactly once
    val verbatim = Curation.decontaminateFuzzy(
      corpus.unionByName(Seq((5L, benchText)).toDF("doc_id", "text")), bench, threshold = 0.5)
    assert(verbatim.count() == 5L)
    val v5 = verbatim.filter(col("doc_id") === 5L).head()
    assert(v5.getDouble(2) == 1.0 && v5.getLong(3) == 1L, s"verbatim leak: $v5")
  }

  test("extended pipeline: fuzzy-decontaminate and dsir-select stages equal the hand chain") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val bench = docs.orderBy("doc_id").limit(10)
    val target = docs.filter(col("source").isin("src0", "src1"))
    val (corpus, funnel) = Curation.curationPipeline(
      docs, Curation.defaultQualityRules(), benchmark = Some(bench),
      fuzzyThreshold = Some(0.5),
      dsirTarget = Some(target), dsirSampleSize = Some(50), seed = 7L)
    val f = funnel.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(f.map(_._1) ==
      Seq("filter", "redact", "exact", "neardup", "decontaminate",
        "decontaminate_fuzzy", "dsir_select"),
      s"stage order: ${f.map(_._1)}")

    // hand chain the two new stages from the decontaminate survivors
    var cur = docs.localCheckpoint()
    cur = Curation.filterChain(cur, Curation.defaultQualityRules())
      .filter(col("keep") === 1L).drop("fail_rule", "keep")
    cur = Curation.redact(cur).withColumn("text", col("redacted"))
      .drop("redacted", "n_emails", "n_ips", "n_phones")
    cur = cur.join(graft.operators.Dedup.exact(cur).filter(col("is_kept"))
      .select("doc_id"), Seq("doc_id"), "left_semi")
    cur = graft.operators.Dedup.collapseDuplicates(
      cur, graft.operators.Dedup.minHashLsh(cur, threshold = 0.7), "doc_id")
    cur = cur.join(Curation.decontaminate(cur, bench)
      .filter(col("contaminated") === 0L).select("doc_id"), Seq("doc_id"), "left_semi")
    cur = cur.join(Curation.decontaminateFuzzy(cur, bench, threshold = 0.5)
      .filter(col("contaminated") === 0L).select("doc_id"), Seq("doc_id"), "left_semi")
    val m = Curation.trainDsir(target, cur)
    val hand = cur.join(Curation.dsirResample(cur, m, 50, seed = 7L)
      .select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == hand, "pipeline output must equal the hand-chained stages")
    assert(f.last == (("dsir_select", f(5)._3, got.size.toLong)), s"funnel tail: ${f.last}")
    graft.core.Stage.free(corpus)
  }

  test("classifierRule verdict equals classifierScore.is_quality doc for doc; chains as a rule") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val isRef = col("source").isin("src0", "src1", "src2", "src3")
    val nb = Curation.trainQualityClassifier(
      docs.filter(isRef), docs.filter(!isRef), maxVocab = 25)
    // the Column form must reproduce the join-based operator EXACTLY
    // (same decimal accumulation, same rounding, same threshold)
    val scored = Curation.classifierScore(docs, nb)
      .select(col("doc_id"), col("is_quality")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (name, violated) = Curation.classifierRule(nb)
    assert(name == "nb_junk")
    val ruled = docs.select(col("doc_id"), violated.cast("long").as("v")).collect()
      .map(r => r.getLong(0) -> (1L - r.getLong(1))).toMap
    assert(ruled == scored, "rule verdict must equal the scoring operator doc for doc")
    // and it chains: filterChain keeps exactly the quality class
    val kept = Curation.filterChain(docs, Seq(Curation.classifierRule(nb)))
      .filter(col("keep") === 1L).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == scored.filter(_._2 == 1L).keySet, "filterChain keeps the quality class")
  }

  test("DSIR: target==raw weighs every doc exactly 0; weights order target-like above raw-like") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta"),
      (3L, "iota")) // 1 token, n=2: featureless
      .toDF("doc_id", "text")
    // target == raw: ct == cr and Nt == Nr bucket-for-bucket, so every
    // lr is EXACTLY ln(x) - ln(x) = 0 and every decimal sum is 0.0
    val self = Curation.trainDsir(docs, docs, buckets = 101)
    val zero = Curation.dsirScore(docs, self)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(zero == Set((1L, 3L, 0.0), (2L, 3L, 0.0), (3L, 0L, 0.0)), s"got $zero")

    // target matches doc 1's grams only: doc 1 must outweigh doc 2, and
    // the featureless doc sits at exactly 0
    val m = Curation.trainDsir(
      Seq((10L, "alpha beta gamma delta")).toDF("doc_id", "text"), docs, buckets = 101)
    val w = Curation.dsirScore(docs, m)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(2L), s"target-like doc must outweigh raw-like: $w")
    assert(w(3L) == 0.0, s"featureless doc must weigh 0: $w")
  }

  test("DSIR resampling: deterministic Gumbel-top-k, complete at full size, tilted by weight") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, if (i <= 4) "alpha beta gamma delta epsilon" else s"junk$i word$i noise$i filler$i end$i"))
      .toDF("doc_id", "text")
    // the target must carry enough mass to beat the Laplace floor (one
    // occurrence against alpha*buckets smoothing is ~zero signal): 50
    // copies give the target grams lr ~ +2.2 and junk grams lr ~ -0.8 —
    // a ~12-nat weight gap Gumbel noise crosses with probability ~e^-12
    val m = Curation.trainDsir(
      (1L to 50L).map(i => (i, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      docs, buckets = 101)
    // sampleSize >= corpus: everything selected, in doc order after sort
    assert(Curation.dsirResample(docs, m, sampleSize = 100).count() == 40L)
    // the four target-identical docs carry far more weight than the 36
    // singleton-gram docs — a 6-doc draw must include all four, at any seed
    for (seed <- Seq(0L, 1L, 2L)) {
      val picked = Curation.dsirResample(docs, m, sampleSize = 6, seed = seed)
        .collect().map(_.getLong(0)).toSet
      assert(Set(1L, 2L, 3L, 4L).subsetOf(picked), s"seed $seed picked $picked")
    }
    // same seed -> identical draw; different seeds -> different fillers
    val a = Curation.dsirResample(docs, m, 6, seed = 1L).collect().map(_.toSeq)
    val b = Curation.dsirResample(docs, m, 6, seed = 1L).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq, "resampling must be deterministic per seed")
  }

  test("NB classifier: log odds match the hand-computed Laplace model; pruned tokens score as OOV") {
    import spark.implicits._
    // pos corpus: "x x y" (3 tokens), neg corpus: "z z y" (3 tokens).
    // vocab V = 3 {x,y,z}; dPos = dNeg = 3 + 1*3 = 6.
    // llr(x) = ln(3/6) - ln(1/6) = ln 3; llr(y) = 0; llr(z) = -ln 3;
    // oov = ln(1/6) - ln(1/6) = 0; prior = ln(1/1) = 0.
    val pos = Seq((1L, "x x y")).toDF("doc_id", "text")
    val neg = Seq((2L, "z z y")).toDF("doc_id", "text")
    val nb = Curation.trainQualityClassifier(pos, neg, maxVocab = 10)
    assert(nb.prior == 0.0 && nb.oovLlr == 0.0)
    val llr = nb.tokenLlr.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(llr.keySet == Set("x", "y", "z"))
    assert(llr("x") == math.log(3.0 / 6) - math.log(1.0 / 6))
    assert(llr("y") == 0.0)
    assert(llr("z") == math.log(1.0 / 6) - math.log(3.0 / 6))

    // "x x q z": 2*ln3 + oov(q)=0 + (-ln3) = ln3 > 0 -> quality;
    // "z z" scores -2*ln3 < 0 -> junk
    def pin(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val scored = Curation.classifierScore(
      Seq((10L, "x x q z"), (11L, "z z")).toDF("doc_id", "text"), nb)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(scored(10L) == ((4L, pin(math.log(3.0)), 1L)), s"got ${scored(10L)}")
    assert(scored(11L) == ((2L, pin(-2.0 * math.log(3.0)), 0L)), s"got ${scored(11L)}")

    // prune to maxVocab = 1: only x (count 2, ties z broken by token)
    // survives; y and z now take the OOV contribution 0 — but V and the
    // totals are PRE-prune, so llr(x) is unchanged
    val hard = Curation.trainQualityClassifier(pos, neg, maxVocab = 1)
    val kept = hard.tokenLlr.collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(kept.toSeq == Seq(("x", math.log(3.0 / 6) - math.log(1.0 / 6))), s"got ${kept.toSeq}")
    val zScore = Curation.classifierScore(Seq((12L, "z z")).toDF("doc_id", "text"), hard)
      .head().getDouble(2)
    assert(zScore == 0.0, s"pruned z must score as OOV: $zScore")
  }

  test("NB classifier: carries its tokenizer; separates the labeled sources on the real corpus") {
    import spark.implicits._
    // BPE-trained model scores under the SAME subword stream: n_tokens is
    // the BPE count, not the whitespace count
    val pos = Seq((1L, "the data the data")).toDF("doc_id", "text")
    val neg = Seq((2L, "zq zq")).toDF("doc_id", "text")
    val bpe = Tokenizer.Bpe(Tokenizer.FixtureVocab)
    val nb = Curation.trainQualityClassifier(pos, neg, tokenizer = bpe)
    // "the data the data zq": 4 positive-class subwords outweigh zq's two
    // fallback characters (" z","q" carry negative llr — with "the data zq"
    // the two sides would cancel to exactly 0)
    val doc = Seq((3L, "the data the data zq")).toDF("doc_id", "text")
    val row = Curation.classifierScore(doc, nb).head()
    val bpeCount = doc.select(bpe.count(col("text"))).head().getLong(0)
    assert(row.getLong(1) == bpeCount, s"n_tokens ${row.getLong(1)} != BPE count $bpeCount")
    assert(row.getLong(3) == 1L, "reference-like doc must classify positive")

    // real corpus: training on the labeled source split must separate the
    // classes it was trained on better than chance — mean logodds of the
    // positive class strictly above the negative class, deterministically
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val isRef = col("source").isin("src0", "src1", "src2", "src3")
    val model = Curation.trainQualityClassifier(
      docs.filter(isRef), docs.filter(!isRef), maxVocab = 25)
    val scored = Curation.classifierScore(docs, model)
      .join(docs.select(col("doc_id"), isRef.as("is_ref")), "doc_id")
    val means = scored.groupBy("is_ref").agg(avg("nb_logodds")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false),
      s"classifier fails to separate its own training split: $means")
    val a = Curation.classifierScore(docs, model).collect().map(_.toSeq).sortBy(_.head.toString)
    val b = Curation.classifierScore(docs, model).collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a.toSeq == b.toSeq, "scoring is deterministic run to run")
  }
}
