package graft

import graft.queries.Registry
import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards for the 100 TB design promises: filters
  * and projections reach the parquet scan, dimension joins broadcast, the
  * interval join never degenerates to a nested-loop/cartesian product,
  * top-k lowers to TakeOrderedAndProject, and the LWW collapse stays an
  * aggregate (map-side combinable), not a window sort.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  private def plan(name: String): String =
    Registry.byName(name).fn(spark, dir).queryExecution.executedPlan.toString

  /** Higher-order functions inside a lambda's body that read none of that
    * lambda's variables: per-row work that Catalyst inlined into
    * per-element code, so it runs once per element instead of once per row. */
  private def inlinedInvariants(plan: LogicalPlan): Seq[String] =
    plan.flatMap(_.expressions).flatMap(_.collect { case l: LambdaFunction => l }).flatMap { l =>
      val vars = l.arguments.map(_.exprId).toSet
      l.function.collect {
        case f: HigherOrderFunction if f.find {
          case v: NamedLambdaVariable => vars(v.exprId)
          case _ => false
        }.isEmpty => f.sql
      }
    }

  test("imageEmbeddings: no per-row invariant is inlined into a lambda") {
    import org.apache.spark.sql.functions._
    // the walker: a nested aggregate over the lambda's own element is
    // per-element work; a row's mean centered in the next projection is
    // what CollapseProject inlines into the centering lambda
    val planes = spark.range(4).select(
      array(array(col("id").cast("double"), lit(1.0)), array(lit(2.0))).as("planes"))
    val perPlane = planes.select(
      transform(col("planes"), plane => aggregate(plane, lit(0.0d), (a, x) => a + x)))
    assert(inlinedInvariants(perPlane.queryExecution.optimizedPlan).isEmpty)
    val rows = spark.range(4).select(array(col("id").cast("float"), lit(2f)).as("pixels"))
    val centered = rows
      .withColumn("_mean", aggregate(col("pixels"), lit(0.0d), (a, x) => a + x) / 2.0)
      .select(transform(col("pixels"), p => (p - col("_mean")).cast("float")))
    assert(inlinedInvariants(centered.queryExecution.optimizedPlan).nonEmpty)

    val emb = graft.operators.Multimodal.imageEmbeddings(
      graft.operators.Multimodal.withImagePayload(spark.range(8).select(col("id").as("doc_id"))))
    val found = inlinedInvariants(emb.queryExecution.optimizedPlan)
    assert(found.isEmpty, found.mkString("per-row work inlined into a lambda: ", "; ", ""))
  }

  test("checkpoint stats reset drops the size estimate and keeps the constraints") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(1000).toDF().filter(col("id") > 5).localCheckpoint()
    try {
      val before = df.queryExecution.analyzed
      val after = org.apache.spark.sql.GraftCheckpointStats.resetInheritedStats(df).queryExecution.analyzed
      val default = org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes
      assert(before.constraints.nonEmpty && after.constraints == before.constraints)
      assert(before.stats.sizeInBytes < default)
      assert(after.stats.sizeInBytes == default && after.stats.rowCount.isEmpty)
    } finally graft.core.Stage.free(df)
  }

  test("q01: column pruning reaches the scan (ReadSchema excludes unused columns)") {
    val p = plan("q01_scan_project")
    assert(p.contains("l_orderkey"), p.take(500))
    assert(!p.contains("l_shipdate"), "unused column must not be read")
  }

  test("q03: predicate pushdown reaches the parquet scan") {
    val p = plan("q03_range_scan")
    assert(p.contains("PushedFilters"), p.take(800))
    assert(p.contains("EqualTo(user_id,7)"), "user_id filter must be pushed to the scan")
  }

  test("q08: all three dimension joins are broadcast (fact side never shuffles to join)") {
    val p = plan("q08_join_broadcast")
    val n = "BroadcastHashJoin".r.findAllIn(p).size
    assert(n >= 3, s"expected >=3 BroadcastHashJoin, got $n")
    assert(!p.contains("SortMergeJoin"), "no sort-merge join for broadcast dims")
  }

  test("q10: interval join is a bucketed equi-join, not a nested-loop scan") {
    val p = plan("q10_join_range")
    assert(!p.contains("BroadcastNestedLoopJoin"), "interval join must not BNLJ")
    assert(!p.contains("CartesianProduct"), "interval join must not cartesian")
  }

  test("q11b: bounded as-of join is a bucketed equi-join on the horizon buckets") {
    val p = plan("q11b_join_asof_bounded")
    assert(!p.contains("BroadcastNestedLoopJoin"), "bounded as-of must not BNLJ")
    assert(!p.contains("CartesianProduct"), "bounded as-of must not cartesian")
    // the time-bucket columns are part of the join's EQUI keys (the horizon
    // turned the inequality into a partitioned hash/merge key)
    assert(p.contains("_asof_probe") && p.contains("_asof_bucket"),
      "horizon buckets must appear as join keys: " + p.take(800))
  }

  test("duplicateSpans: one exchange (the gram agg), firsts broadcast back, text never shuffles") {
    // the unordered operator (the registered q27j adds an output orderBy,
    // whose range exchange is presentation, not the algorithm)
    val p = graft.operators.Curation
      .duplicateSpans(graft.core.Tables.documents(spark, dir), n = 6)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"firsts must broadcast back:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), "occurrences must not shuffle into the mark-back join")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly the per-gram min exchange:\n${p.take(800)}")
    assert("partial_min".r.findAllIn(p).nonEmpty,
      "the first-occurrence min must combine map-side")
  }

  test("q05: LWW collapse is an aggregate (partial combine), not a window sort") {
    val p = plan("q05_lww_collapse")
    assert(p.contains("max_by") || p.contains("ObjectHashAggregate"), p.take(800))
    assert(!p.contains("Window"), "collapse must not use a window sort")
  }

  test("q17: global top-k lowers to TakeOrderedAndProject (no full sort)") {
    val p = plan("q17_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("bucketized co-keyed join runs with ZERO exchanges (Layout.bucketize)") {
    import graft.core.{Layout, Tables}
    Layout.bucketize(Tables.lineitem(spark, dir), "b_lineitem", Seq("l_orderkey"), 8)
    Layout.bucketize(Tables.orders(spark, dir), "b_orders", Seq("o_orderkey"), 8)
    // force a merge join (tiny test tables would otherwise broadcast) —
    // the claim under test is that co-bucketing removes the SHUFFLE
    val joined = Layout.table(spark, "b_lineitem").hint("merge")
      .join(Layout.table(spark, "b_orders"),
        org.apache.spark.sql.functions.col("l_orderkey") === org.apache.spark.sql.functions.col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_totalprice")
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("Exchange hashpartitioning"),
      "co-bucketed join must not shuffle:\n" + p.take(1200))
    // sanity: the same merge join over plain parquet DOES shuffle
    val plain = Tables.lineitem(spark, dir).hint("merge")
      .join(Tables.orders(spark, dir),
        org.apache.spark.sql.functions.col("l_orderkey") === org.apache.spark.sql.functions.col("o_orderkey"))
    plain.collect()
    assert(plain.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
  }

  test("q28b2: int8 bucket stage is map-only (no aggregate/exchange, one Generate)") {
    // the r13 verdict's one weak mark: buckets used to posexplode each
    // vector into dim rows, join a (t·p·d)-row plane frame, and run two
    // groupBys — ~16x lshTopK's exchange bytes. The rewrite folds the
    // plane dots inside one codegen'd expression over a literal sign
    // matrix; the only Generate left is the numTables-ary posexplode that
    // feeds the collision join (same shape as the float sibling).
    import org.apache.spark.sql.functions.{col, floor, lit, transform}
    import graft.core.Tables
    val qv = Tables.embeddings(spark, dir).select(
      col("vec_id").as("id"),
      transform(col("embedding"), x => floor(x * lit(127.0)).cast("long")).as("qv"))
    val b = graft.operators.Similarity.int8Buckets(qv, dim = 64, numTables = 8, planesPerTable = 8)
    val p = b.queryExecution.executedPlan.toString
    assert(!p.contains("Aggregate"), "bucket stage must not aggregate:\n" + p.take(1200))
    assert(!p.contains("Exchange"), "bucket stage must not shuffle:\n" + p.take(1200))
    assert("Generate".r.findAllIn(p).size == 1,
      "exactly the numTables posexplode:\n" + p.take(1200))
  }

  test("q28d2: int8 IVF assignment is map-only (no aggregate/exchange/generate)") {
    // the codebook is one broadcast literal folded into a single codegen'd
    // expression — the assignment must be one pass over the corpus with
    // nothing before the collision join (the q28b2 bucket-stage shape)
    import org.apache.spark.sql.functions.{col, floor, lit, transform}
    import graft.core.Tables
    val qv = Tables.embeddings(spark, dir).select(
      col("vec_id").as("id"),
      transform(col("embedding"), x => floor(x * lit(127.0)).cast("long")).as("qv"))
    val a = graft.operators.Similarity.int8Assign(qv, c = 16, dim = 64)
    val p = a.queryExecution.executedPlan.toString
    assert(!p.contains("Aggregate"), "assignment must not aggregate:\n" + p.take(1200))
    assert(!p.contains("Exchange"), "assignment must not shuffle:\n" + p.take(1200))
    assert(!p.contains("Generate"), "assignment must not explode:\n" + p.take(1200))
  }

  test("native TokenHashes/SimHash64 run inside WholeStageCodegen (no interpreted fallback)") {
    // the dedup operators localCheckpoint their projections (lineage
    // truncates to LogicalRDD), so assert on the projection itself: the
    // fused tokenize-hash-sign pipeline must sit inside a codegen stage
    import graft.core.Tables
    import graft.functions.TextOps
    import org.apache.spark.sql.functions.col
    val df = Tables.documents(spark, dir)
      .select(TextOps.simHashFromHashes(TextOps.tokenHashes(col("text"))).as("sh"))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("graft_simhash64(graft_token_hashes"), formatted.take(1200))
    assert(formatted.contains("codegen id"), "fused pipeline must be codegen'd:\n" + formatted.take(1200))
    assert(!formatted.contains("regexp_replace"), "no regex tokenization in the hot path")
  }

  test("q28d: centroid assignment is the fused native expression (no per-centroid element_at chain)") {
    val p = Registry.byName("q28d_sim_ivf").fn(spark, dir).queryExecution.analyzed.toString
    assert(p.contains("graft_centroid_probes"), p.take(600))
  }

  test("q27: exact-dedup shuffle keys are 8-byte longs, never document text") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.types.{LongType, StringType}
    val lp = Registry.byName("q27_dedup_exact").fn(spark, dir).queryExecution.optimizedPlan
    val aggs = lp.collect { case a: Aggregate if a.groupingExpressions.nonEmpty => a }
    assert(aggs.nonEmpty, "dedup must group")
    aggs.foreach(_.groupingExpressions.foreach(g =>
      assert(g.dataType == LongType, s"dedup grouping key must be a long, got ${g.dataType}")))
    val joins = lp.collect { case j: Join => j }
    assert(joins.nonEmpty, "dedup must join groups back")
    joins.foreach(_.condition.foreach(_.references.foreach(r =>
      assert(r.dataType != StringType, s"join-back key must not be text (${r.name})"))))
  }

  test("q28 family: no embedding arrays ride the rank/dedup shuffles") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.types.ArrayType
    for (name <- Seq("q28_sim_topk", "q28b_sim_lsh", "q28d_sim_ivf")) {
      val lp = Registry.byName(name).fn(spark, dir).queryExecution.optimizedPlan
      val wins = lp.collect { case w: LWindow => w }
      assert(wins.nonEmpty, s"$name must rank via a window")
      wins.foreach(_.child.output.foreach(a =>
        assert(!a.dataType.isInstanceOf[ArrayType],
          s"$name: rank-window input must not carry array column '${a.name}'")))
      if (name == "q28b_sim_lsh") {
        val dedups = lp.collect { case a: Aggregate if a.groupingExpressions.size == 2 => a }
        assert(dedups.nonEmpty, "lsh candidate dedup must be an ids-only aggregate")
        dedups.foreach(_.child.output.foreach(a =>
          assert(!a.dataType.isInstanceOf[ArrayType],
            s"lsh dedup input must not carry array column '${a.name}'")))
      }
    }
  }

  test("q27e/q27g: incremental dedup shuffles slim keys, never text") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.types.StringType
    for (name <- Seq("q27e_dedup_incremental", "q27g_dedup_simhash_incremental")) {
      val lp = Registry.byName(name).fn(spark, dir).queryExecution.optimizedPlan
      val joins = lp.collect { case j: Join => j }
      assert(joins.nonEmpty, s"$name must join against the index")
      joins.foreach(_.condition.foreach(_.references.foreach(r =>
        assert(r.dataType != StringType,
          s"$name: index join keys must not be text (${r.name})"))))
      val aggs = lp.collect { case a: Aggregate if a.groupingExpressions.nonEmpty => a }
      aggs.foreach(_.groupingExpressions.foreach(g =>
        assert(g.dataType != StringType,
          s"$name: grouping keys must not be text (${g.dataType})")))
    }
  }

  test("q27f: the index band join prunes the shingle column from its scan") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft_planmhx_").toString
    graft.operators.Dedup.writeMinHashIndex(docs, tmp, shingleN = 3, numHashes = 64, bands = 16)
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    val p = graft.operators.Dedup.minHashIncremental(batch, tmp, threshold = 0.5)
      .queryExecution.executedPlan.toString
    // the stored index is scanned by both the band join (needs doc+sig) and
    // the exact verify (needs doc+sh); the band-side scan must NOT drag the
    // heavy shingle arrays through — at corpus scale that column dwarfs the
    // signatures
    assert(p.contains("ReadSchema: struct<doc:bigint,sig:array<bigint>>"),
      "band-side index scan must read exactly (doc, sig):\n" +
        p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }

  test("q29h: decontamination broadcasts the benchmark set; the corpus never sort-merges") {
    val df = Registry.byName("q29h_decontaminate").fn(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "benchmark n-gram set must broadcast: " + p.take(800))
    assert(!p.contains("SortMergeJoin"), "the corpus must not shuffle into a sort-merge join")
    // the probe side carries (doc_id, 8-byte hash) only — never document text
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    exchanges.foreach(keys =>
      assert(!keys.contains("text"), s"no text on a shuffle: $keys"))
  }

  test("q29q: perplexity scoring broadcasts the model; one slim per-doc exchange, no text on it") {
    val df = Registry.byName("q29q_perplexity").fn(spark, dir)
    df.collect()
    // an executed AQE plan prints Final + Initial sections — the same
    // Exchange twice; count within the final plan only
    val full = df.queryExecution.executedPlan.toString
    val cut = full.indexOf("== Initial Plan ==")
    val p = if (cut < 0) full else full.substring(0, cut)
    // all three model joins (unigram, prev-unigram, bigram) broadcast —
    // the token stream never shuffles to meet the model
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "the pruned LM must broadcast into all three joins: " + p.take(1000))
    assert(!p.contains("SortMergeJoin"), "the corpus must not sort-merge against the model")
    // the only hash exchange is the per-doc aggregation, carrying partial
    // sums keyed by doc_id — never tokens or text
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(exchanges.size == 1, s"one per-doc agg exchange expected: $exchanges")
    exchanges.foreach(keys =>
      assert(keys.contains("doc_id") && !keys.contains("text") && !keys.contains("token"),
        s"slim doc-keyed shuffle only: $keys"))
    assert(p.contains("partial_"), "per-doc agg must partial-combine map-side")
  }

  test("q29s: NB scoring broadcasts the model; one slim per-doc exchange, no text on it") {
    val df = Registry.byName("q29s_quality_classifier").fn(spark, dir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val cut = full.indexOf("== Initial Plan ==")
    val p = if (cut < 0) full else full.substring(0, cut)
    assert(p.contains("BroadcastHashJoin"), "the llr table must broadcast: " + p.take(800))
    assert(!p.contains("SortMergeJoin"), "the corpus must not sort-merge against the model")
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(exchanges.size == 1, s"one per-doc agg exchange expected: $exchanges")
    exchanges.foreach(keys =>
      assert(keys.contains("doc_id") && !keys.contains("text") && !keys.contains("token"),
        s"slim doc-keyed shuffle only: $keys"))
    assert(p.contains("partial_"), "per-doc agg must partial-combine map-side")
  }

  test("q29h2: fuzzy decontamination broadcasts the benchmark; the corpus never sort-merges") {
    val df = Registry.byName("q29h2_decontaminate_fuzzy").fn(spark, dir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val cut = full.indexOf("== Initial Plan ==")
    val p = if (cut < 0) full else full.substring(0, cut)
    // band probe + signature/shingle fetch + the keep-all-docs left join
    // all broadcast the eval-suite side; the corpus flows map-side into
    // the candidate dedup and the per-doc agg
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "benchmark bands and shingle/signature rows must broadcast: " + p.take(1000))
    assert(!p.contains("SortMergeJoin"), "the corpus must not shuffle into a sort-merge join")
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    exchanges.foreach(keys =>
      assert(!keys.contains("text"), s"no text on a shuffle: $keys"))
  }

  test("q29t: DSIR scoring broadcasts the bucket table; q29t2 top-k is TakeOrdered, no global sort") {
    val df = Registry.byName("q29t_dsir").fn(spark, dir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val cut = full.indexOf("== Initial Plan ==")
    val p = if (cut < 0) full else full.substring(0, cut)
    assert(p.contains("BroadcastHashJoin"), "the bucket-lr table must broadcast: " + p.take(800))
    assert(!p.contains("SortMergeJoin"), "the corpus must not sort-merge against the model")
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    exchanges.foreach(keys =>
      assert(!keys.contains("text"), s"no text on a shuffle: $keys"))

    val sampled = Registry.byName("q29t2_dsir_sample").fn(spark, dir)
    sampled.collect()
    val sp = sampled.queryExecution.executedPlan.toString
    assert(sp.contains("TakeOrderedAndProject"),
      "the Gumbel-top-k cut must lower to TakeOrderedAndProject: " + sp.take(800))
  }

  test("q29i: repetition stats is a map-only projection (zero exchanges)") {
    val p = plan("q29i_text_repetition")
    // the query's orderBy adds one range exchange for presentation; the
    // stats themselves must add none
    val n = "Exchange".r.findAllIn(p).size
    assert(n <= 1, s"map-only operator: expected <=1 (presentation sort) exchange, got $n\n${p.take(1200)}")
  }

  test("q29j: training order shuffles only (id, hash) — one exchange") {
    val p = plan("q29j_training_order")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"one rank exchange expected, got $n")
    assert(!p.contains("text"), "no document text may ride the shard exchange")
  }

  test("q29l: chunking is a map-only explode (no exchange beyond presentation sort)") {
    val p = plan("q29l_chunk")
    val n = "Exchange".r.findAllIn(p).size
    assert(n <= 1, s"map-only operator: expected <=1 (presentation sort) exchange, got $n")
    assert(p.contains("Generate explode"), "chunking must be an explode, not a join")
  }

  test("q29m: packing shuffles by shard with slim keys (text stays map-side)") {
    val p = plan("q29m_pack_sequences")
    val hashEx = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    hashEx.foreach(keys => assert(!keys.contains("text"), s"no text on exchanges: $keys"))
    assert(hashEx.exists(_.contains("_shard")), "pack repartitions by shard")
    // the pack scan itself consumes only (shard, order, id, n_tokens)
    assert(p.contains("MapPartitions"), "packing is the per-partition sequential scan")
    assert("DeserializeToObject[^\\n]*".r.findFirstIn(p).forall(!_.contains("text")),
      "the mapPartitions input must be the slim projection")
  }

  test("q29r: boilerplate detection — partial-agg distinct-then-count, no nested-loop join") {
    val df = Registry.byName("q29r_boilerplate").fn(spark, dir)
    df.collect() // AQE final plan
    val p = df.queryExecution.executedPlan.toString
    // the distinct-document count must combine map-side (two-stage agg on
    // slim (gram, id) pairs, never a per-gram set)
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"distinct-doc count must partial-aggregate:\n${p.take(1200)}")
    // the join back to occurrences is an equi-join on gram — a nested-loop
    // or cartesian here would be quadratic in the corpus
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"boilerplate join must stay an equi-join:\n${p.take(1200)}")
  }

  test("q12: map-side partial aggregation + shipdate pushdown; codegen in final plan") {
    val df = Registry.byName("q12_agg_hash").fn(spark, dir)
    df.collect() // AQE final plan exists only post-execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"), "aggregation must combine map-side")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), "filter must reach the scan")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("codegen id"), formatted.take(1200))
  }
}
