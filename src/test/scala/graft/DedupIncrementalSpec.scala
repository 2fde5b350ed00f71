package graft

import graft.operators.Dedup
import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental-dedup index contract: classifying a new batch against a
  * persisted corpus index must equal running [[Dedup.exact]] over the whole
  * union — without the incremental path ever reading the corpus text. Also
  * covers the index lifecycle: append segments, merged read view, compaction
  * idempotence, and wide-key inference.
  */
class DedupIncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** documents split by the id midpoint: corpus ids all sort before batch
    * ids — the appending-pipeline contract the operator documents. */
  private def split(): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val cut = docs.agg(expr("max(doc_id) div 2")).head().getLong(0)
    (docs.filter(col("doc_id") <= cut), docs.filter(col("doc_id") > cut))
  }

  private def rows(df: DataFrame): Set[(Long, Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet

  /** Stage one parquet source file (named, so arrival order is the staging
    * order) for the streaming-ingest tests. */
  private def stageSrcFile(tmp: String, name: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/src_stage/$name")
    val dst = new java.io.File(s"$tmp/src"); dst.mkdirs()
    new java.io.File(s"$tmp/src_stage/$name").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.move(
        f.toPath, new java.io.File(dst, s"$name.parquet").toPath))
  }

  test("exactIncremental == exact over the union, restricted to batch rows") {
    val (corpus, batch) = split()
    val tmp = java.nio.file.Files.createTempDirectory("graft_dix_").toString
    Dedup.writeExactIndex(corpus, tmp)

    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = rows(Dedup.exact(corpus.unionByName(batch)))
      .filter(r => batchIds.contains(r._1))
    val inc = rows(Dedup.exactIncremental(batch, tmp))
    assert(inc == full, "incremental classification must equal the full recompute")
    assert(inc.nonEmpty)
  }

  test("append + merged read view == index rebuilt over the union") {
    val (corpus, batch) = split()
    val tmp = java.nio.file.Files.createTempDirectory("graft_dixapp_").toString
    val fullTmp = java.nio.file.Files.createTempDirectory("graft_dixfull_").toString
    Dedup.writeExactIndex(corpus, tmp)
    val appended = Dedup.appendToExactIndex(batch, tmp)
    assert(appended > 0L)
    Dedup.writeExactIndex(corpus.unionByName(batch), fullTmp)

    def view(p: String) = Dedup.readExactIndex(spark, p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(view(tmp) == view(fullTmp),
      "segment-merge view must equal a from-scratch rebuild")
  }

  test("classification is stable across successive appends") {
    // three generations: index gen0, append gen1, classify gen2 — equal to
    // the full recompute over all three (the steady-state pipeline loop)
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val gen0 = docs.filter(col("doc_id") <= c1)
    val gen1 = docs.filter(col("doc_id") > c1 && col("doc_id") <= c2)
    val gen2 = docs.filter(col("doc_id") > c2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_dixgen_").toString
    Dedup.writeExactIndex(gen0, tmp)
    Dedup.appendToExactIndex(gen1, tmp)

    val gen2Ids = gen2.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = rows(Dedup.exact(docs)).filter(r => gen2Ids.contains(r._1))
    assert(rows(Dedup.exactIncremental(gen2, tmp)) == full)
  }

  test("compaction folds segments without changing the merged view") {
    val (corpus, batch) = split()
    val tmp = java.nio.file.Files.createTempDirectory("graft_dixcmp_").toString
    Dedup.writeExactIndex(corpus, tmp)
    Dedup.appendToExactIndex(batch, tmp)
    val before = Dedup.readExactIndex(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val segsBefore = Dedup.exactIndexStats(spark, tmp)("graft.dedup.segments").toLong

    Dedup.compactExactIndex(spark, tmp)
    val after = Dedup.readExactIndex(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val stats = Dedup.exactIndexStats(spark, tmp)
    assert(after == before, "compaction must not change the merged view")
    assert(stats("graft.dedup.segments").toLong <= segsBefore)
    assert(stats("graft.dedup.docs").toLong ==
      Tables.documents(spark, TestSpark.Sf0001).count())
  }

  test("span catalog: incremental ExactSubstr excision == full recompute over the union, batch rows") {
    import graft.operators.Curation
    val (corpus, batch) = split()
    val tmp = java.nio.file.Files.createTempDirectory("graft_spancat_").toString
    Dedup.writeSpanCatalog(corpus, tmp, n = 6)

    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    def excised(df: DataFrame): Set[(Long, Long, Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val full = excised(
      Curation.exciseDuplicateSpans(corpus.unionByName(batch), n = 6))
      .filter(r => batchIds.contains(r._1))
    val inc = excised(Curation.exciseDuplicateSpansIncremental(batch, tmp))
    assert(inc == full, "incremental excision must equal the full recompute")
    assert(inc.exists(_._3 > 0L), "the split corpus plants cross-half duplicated spans")
    // span detection agrees too (the excision consumed exactly these hits)
    val spans = Curation.duplicateSpans(corpus.unionByName(batch), n = 6)
      .filter(col("doc_id").isin(batchIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val incSpans = Dedup.duplicateSpansIncremental(batch, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incSpans == spans)
  }

  test("span catalog: append + merged view == rebuild; compaction preserves it; n frozen in meta") {
    import graft.operators.Curation
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val gen0 = docs.filter(col("doc_id") <= c1)
    val gen1 = docs.filter(col("doc_id") > c1 && col("doc_id") <= c2)
    val gen2 = docs.filter(col("doc_id") > c2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_spcgen_").toString
    val fullTmp = java.nio.file.Files.createTempDirectory("graft_spcfull_").toString
    // n = 4 here: meta must carry it so probes can never sign with the default
    Dedup.writeSpanCatalog(gen0, tmp, n = 4)
    assert(Dedup.appendToSpanCatalog(gen1, tmp) > 0L)
    Dedup.writeSpanCatalog(gen0.unionByName(gen1), fullTmp, n = 4)
    def view(p: String) = Dedup.readSpanCatalog(spark, p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(view(tmp) == view(fullTmp),
      "appended catalog's merged view must equal a from-scratch rebuild")

    val gen2Ids = gen2.select("doc_id").collect().map(_.getLong(0)).toSet
    def excised(df: DataFrame): Set[(Long, Long, Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val full = excised(Curation.exciseDuplicateSpans(docs, n = 4))
      .filter(r => gen2Ids.contains(r._1))
    assert(excised(Curation.exciseDuplicateSpansIncremental(gen2, tmp)) == full,
      "probe after append must equal the full n=4 recompute (meta n, not the default)")

    Dedup.compactSpanCatalog(spark, tmp)
    assert(view(tmp) == view(fullTmp), "compaction must not change the merged view")
    assert(excised(Curation.exciseDuplicateSpansIncremental(gen2, tmp)) == full,
      "probe after compaction unchanged")

    val stats = Dedup.spanCatalogStats(spark, tmp)
    assert(stats("graft.spans.segments").toLong == 1L, s"compacted to one segment: $stats")
    assert(stats("graft.spans.n").toInt == 4)
    assert(stats("graft.spans.grams").toLong == view(tmp).size.toLong)
  }

  test("span catalog takedown: deleted passages re-enter fresh; re-append is newest-wins") {
    import graft.operators.Curation
    import spark.implicits._
    val run6 = "alpha bravo charlie delta echo foxtrot"
    val corpus = Seq(
      (1L, s"intro $run6 outro"),
      (2L, "completely unrelated filler words occupy this document end"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_spandel_").toString
    Dedup.writeSpanCatalog(corpus, tmp, n = 6)

    def probe(id: Long, text: String): (Long, String) = {
      val r = Curation.exciseDuplicateSpansIncremental(
        Seq((id, text)).toDF("doc_id", "text"), tmp).head()
      (r.getLong(2), r.getString(3))
    }
    assert(probe(100L, s"aa $run6 bb") == ((6L, "aa bb")), "cataloged passage excises")

    // content-level takedown of doc 1: its window grams tombstone, so the
    // SAME passage arriving later is fresh (kept whole)
    assert(Dedup.deleteFromSpanCatalog(corpus.filter(col("doc_id") === 1L), tmp) > 0L)
    assert(probe(100L, s"aa $run6 bb") == ((0L, s"aa $run6 bb")),
      "deleted passage re-enters fresh")
    // untouched content (doc 2's grams) still excises
    val t2 = corpus.filter(col("doc_id") === 2L).select("text").head().getString(0)
    assert(probe(101L, t2)._1 > 0L, "unrelated catalog entries survive the takedown")

    // newest-wins: append a batch carrying the passage AFTER the deletion —
    // it re-enters the catalog and later arrivals excise against it
    Dedup.appendToSpanCatalog(Seq((100L, s"aa $run6 bb")).toDF("doc_id", "text"), tmp)
    assert(probe(200L, s"cc $run6 dd") == ((6L, "cc dd")),
      "re-appended passage outranks its tombstone")

    // compaction folds the tombstones away without changing any probe
    Dedup.compactSpanCatalog(spark, tmp)
    assert(probe(200L, s"cc $run6 dd") == ((6L, "cc dd")))
    assert(probe(300L, s"intro filler never seen anywhere at all") ==
      ((0L, "intro filler never seen anywhere at all")))
  }

  test("streaming span ingest: cross-batch/in-batch span excision; catalog == sink catalog; replay") {
    import org.apache.spark.sql.functions.lit
    import graft.operators.Curation
    val tmp = java.nio.file.Files.createTempDirectory("graft_sping_").toString
    // seed catalog: one corpus doc whose 6-token run is the planted span
    val run6 = "alpha bravo charlie delta echo foxtrot"
    import spark.implicits._
    val corpus = Seq((1L, s"intro $run6 outro")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    Dedup.writeSpanCatalog(corpus, s"$tmp/idx", n = 6)

    def writeSrc(name: String, rows: Seq[(Long, String)]): Unit =
      stageSrcFile(tmp, name, rows)
    val run6b = "golf hotel india juliet kilo lima"
    writeSrc("f1", Seq(
      (1000L, s"fresh words only here nothing repeated at all"),
      (1001L, s"prefix $run6 suffix")))          // corpus span dup: run6 cut
    writeSrc("f2", Seq(
      (1002L, s"aa $run6b bb"),                  // first occurrence of run6b: kept whole
      (1003L, s"cc $run6b dd"),                  // in-batch span dup: run6b cut
      (1004L, s"ee $run6 ff")))                  // cross-batch/corpus span dup

    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = graft.streaming.Ingest.startSpanIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx",
      maxFilesPerTrigger = Some(1)).awaitTermination()
    run()

    def sinkRows() = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val got = sinkRows()
    assert(got(1000L) == "fresh words only here nothing repeated at all")
    assert(got(1001L) == "prefix suffix", s"corpus span cut: ${got(1001L)}")
    assert(got(1002L) == s"aa $run6b bb", s"first occurrence kept whole: ${got(1002L)}")
    assert(got(1003L) == "cc dd", s"in-batch span cut: ${got(1003L)}")
    assert(got(1004L) == "ee ff", s"cross-batch span cut: ${got(1004L)}")

    // the invariant the ingest documents: catalog == span catalog OF THE
    // SINK corpus (plus the pre-stream corpus)
    def catView() = Dedup.readSpanCatalog(spark, s"$tmp/idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sinkDocs = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt").select("doc_id", "text")
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_sping_rb_").toString
    Dedup.writeSpanCatalog(
      corpus.select("doc_id", "text").unionByName(sinkDocs), rebuilt, n = 6)
    assert(catView() == Dedup.readSpanCatalog(spark, rebuilt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      "catalog must equal a rebuild over corpus + sink")

    // crash replay: drop the last commit marker, rerun — sink and catalog
    // views unchanged (named segment + per-path overwrite)
    val before = catView()
    val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    last.delete(); if (crc.exists()) crc.delete()
    run()
    assert(sinkRows() == got, "replayed batch must not change the sink")
    assert(catView() == before, "replay must overwrite its segment, not append")

    // compaction beside the (stopped) ingest: views unchanged
    Dedup.compactSpanCatalog(spark, s"$tmp/idx")
    assert(catView() == before, "compaction must not change the catalog view")
  }

  test("streaming span ingest: distinct-text null-id rows pass through untouched") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_spnull_").toString
    val run6 = "alpha bravo charlie delta echo foxtrot"
    Dedup.writeSpanCatalog(
      Seq((1L, s"intro $run6 outro")).toDF("doc_id", "text"), s"$tmp/idx", n = 6)
    // a batch with TWO distinct-text null-id rows: a fold keyed on the id
    // would collapse them to one min text and fan it back to both
    Seq(
      (Option(1000L), s"prefix $run6 suffix"),
      (None: Option[Long], "first null id document text"),
      (None: Option[Long], "second null id document body"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    graft.streaming.Ingest.startSpanIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx")
      .awaitTermination()
    val got = graft.streaming.Ingest.readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id", "text").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1)))
    assert(got.length == 3, s"all three rows land: ${got.toSeq}")
    assert(got.filter(_._1.isEmpty).map(_._2).toSet ==
      Set("first null id document text", "second null id document body"),
      s"distinct null-id texts must pass through untouched: ${got.toSeq}")
    assert(got.find(_._1.contains(1000L)).get._2 == "prefix suffix",
      "non-null rows still excise against the catalog")
  }

  test("null-id rows never shadow a real doc's first occurrence in the catalog") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_spshadow_").toString
    val run6 = "alpha bravo charlie delta echo foxtrot"
    // a null-id row and a real doc SHARE the gram: min(struct(id, offset))
    // sorts the null id first, so without the catalog-side null filter the
    // gram's first_id would be null — and every downstream probe treats a
    // null first_id as "no entry", silently disabling excision forever
    Dedup.writeSpanCatalog(
      Seq(
        (None: Option[Long], s"shadow $run6 tail"),
        (Option(7L), s"real $run6 body")).toDF("doc_id", "text"),
      s"$tmp/idx", n = 6)
    val probe = Seq((99L, s"probe $run6 end")).toDF("doc_id", "text")
    val cleaned = graft.operators.Curation
      .exciseDuplicateSpansIncremental(probe, s"$tmp/idx", "text", "doc_id")
      .select("text_clean").head().getString(0)
    assert(cleaned == "probe end",
      s"the gram's first occurrence belongs to doc 7, not the null-id row; " +
        s"excision must fire: got '$cleaned'")
  }

  test("span catalog rejects a non-integral id column at write time") {
    import spark.implicits._
    val docs = Seq(("a", "one two three four five six seven")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_spstr_").toString
    val e = intercept[IllegalArgumentException](Dedup.writeSpanCatalog(docs, tmp, n = 6))
    assert(e.getMessage.contains("integral id column"),
      s"misuse must fail fast, not cast ids to null: ${e.getMessage}")
  }

  test("spanCatalogN refreshes after an out-of-band meta rebuild") {
    import spark.implicits._
    val docs = Seq((1L, "alpha bravo charlie delta echo foxtrot golf")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_spn_").toString
    Dedup.writeSpanCatalog(docs, tmp, n = 6)
    assert(Dedup.spanCatalogStats(spark, tmp)("graft.spans.n") == "6") // warms the memo
    // simulate ANOTHER process rebuilding the catalog at the same path:
    // replace meta directly, bypassing this JVM's write-side invalidation.
    // No sleep: the stamp is the meta FILE LISTING (rewrite-unique part
    // names), so even a rebuild within the same mtime second must be seen
    Seq(4).toDF("n").coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
    assert(Dedup.spanCatalogStats(spark, tmp)("graft.spans.n") == "4",
      "a long-lived driver must not keep probing with a stale window length")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("minHashIncremental == minHashLsh over the union, pairs touching the batch") {
    // batch = shifted-id copies of a corpus slice, so cross-index pairs are
    // GUARANTEED to exist (jaccard 1.0) and the equality test has teeth
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val batch = corpus.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    val tmp = java.nio.file.Files.createTempDirectory("graft_mhx_").toString
    Dedup.writeMinHashIndex(corpus, tmp, shingleN = 3, numHashes = 64, bands = 16)

    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = pairSet(
      Dedup.minHashLsh(corpus.unionByName(batch),
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))
    val inc = pairSet(Dedup.minHashIncremental(batch, tmp, threshold = 0.5))
    assert(inc == full, "incremental pair search must equal the full recompute")
    assert(inc.nonEmpty, "the shifted copies must surface as cross-index pairs")
    // every planted copy is found against its original
    val planted = batchIds.map(b => (b - 10000, b))
    assert(planted.forall(p => inc.exists(x => (x._1, x._2) == p)))
  }

  test("minHash index append keeps incremental search equal to full recompute") {
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val gen1 = corpus.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 20000)
    val gen2 = corpus.filter(col("doc_id") % 3 === 0)
      .withColumn("doc_id", col("doc_id") + 40000)
    val tmp = java.nio.file.Files.createTempDirectory("graft_mhxapp_").toString
    Dedup.writeMinHashIndex(corpus, tmp, shingleN = 3, numHashes = 64, bands = 16)
    assert(Dedup.appendToMinHashIndex(gen1, tmp) == gen1.count())

    val gen2Ids = gen2.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = pairSet(
      Dedup.minHashLsh(corpus.unionByName(gen1).unionByName(gen2),
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5))
      .filter(p => gen2Ids.contains(p._1) || gen2Ids.contains(p._2))
    assert(pairSet(Dedup.minHashIncremental(gen2, tmp, threshold = 0.5)) == full)
  }

  test("minHashIncremental after a replayed append emits each pair exactly once") {
    // crash-replay shape: appendToMinHashIndex(batch) committed, the job
    // died, and the retry re-classifies the same batch — each batch doc now
    // has signature rows in BOTH the index and the in-flight batch, which
    // must not multiply the verified pairs
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val batch = corpus.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    val tmp = java.nio.file.Files.createTempDirectory("graft_mhxrp_").toString
    Dedup.writeMinHashIndex(corpus, tmp, shingleN = 3, numHashes = 64, bands = 16)
    val before = pairSet(Dedup.minHashIncremental(batch, tmp, threshold = 0.5))
    Dedup.appendToMinHashIndex(batch, tmp)
    val replayed = Dedup.minHashIncremental(batch, tmp, threshold = 0.5)
    assert(replayed.groupBy("doc_a", "doc_b").count().filter(col("count") > 1).count() == 0,
      "duplicated signature rows must not duplicate pair rows")
    assert(pairSet(replayed) == before,
      "replayed classification must equal the pre-append result")
  }

  test("simHashIncremental == simHashPairs over the union, pairs touching the batch") {
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val batch = corpus.filter(col("doc_id") % 4 === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    val tmp = java.nio.file.Files.createTempDirectory("graft_shx_").toString
    Dedup.writeSimHashIndex(corpus, tmp)
    Dedup.appendToSimHashIndex(
      corpus.filter(col("doc_id") % 4 === 1).withColumn("doc_id", col("doc_id") + 20000), tmp)

    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val allDocs = corpus
      .unionByName(corpus.filter(col("doc_id") % 4 === 1).withColumn("doc_id", col("doc_id") + 20000))
      .unionByName(batch)
    val full = Dedup.simHashPairs(allDocs, maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2)).toSet
    val inc = Dedup.simHashIncremental(batch, tmp, maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(inc == full, "incremental simhash must equal the full recompute")
    // every planted identical copy is found at hamming 0
    val planted = batchIds.map(b => (b - 10000, b, 0))
    assert(planted.subsetOf(inc))
  }

  test("signature micro probe == merge-form probe; the store side never shuffles or sorts") {
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val batch = corpus.filter(col("doc_id") % 4 === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    val tmp = java.nio.file.Files.createTempDirectory("graft_shmicro_").toString
    Dedup.writeSimHashIndex(corpus, tmp)

    // sign the batch once (the streaming loop's shape) and probe both forms
    val sigs = corpus.sparkSession.read.parquet(s"$tmp/docs").limit(0) // schema only
    val batchSigs = batch.select(col("doc_id"),
      graft.functions.TextOps.simHashFromHashes(
        graft.functions.TextOps.tokenHashes(col("text"))).as("sh"))
      .localCheckpoint()
    assert(sigs.columns.toSeq == batchSigs.columns.toSeq)
    def tri(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val micro = tri(Dedup.signatureMicroIncremental(batchSigs, tmp, maxHamming = 6))
    val merge = tri(Dedup.signatureIncremental(batchSigs, tmp, maxHamming = 6))
    assert(micro == merge, "micro (broadcast-batch) probe must equal the merge-form probe")
    assert(micro.nonEmpty, "the planted copies must surface")

    // plan shape: the block join broadcasts the BATCH side; the stored
    // signatures are scanned map-side — the only shuffle in the plan is the
    // candidate-pair dedup, and nothing sorts or merge-joins the store
    val p = Dedup.signatureMicroIncremental(batchSigs, tmp, maxHamming = 6)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"block join must be a BHJ:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no store merge join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly the candidate-dedup shuffle:\n$p")
    graft.core.Stage.free(batchSigs)
  }

  test("in-flight takedown (tombs dir exists, no files yet) never fails a live probe") {
    // the pre-commit window of deleteFromDocIndex beside a live ingest:
    // the tombstone dir is created before any parquet file lands, and a
    // schema-INFERRING read of a file-less dir fails the probing job
    // (measured in the 1000-batch video soak). Probes and stats must read
    // tombstones with an explicit schema — empty dir == no tombstones yet.
    import spark.implicits._
    val sigs = (0L until 200L).map(i => (i, i * 2654435761L)).toDF("doc_id", "sh")
    val tmp = java.nio.file.Files.createTempDirectory("graft_tombrace_").toString
    Dedup.writeSignatureIndex(sigs, tmp, maxHamming = 6, comboSize = 2, sigBuckets = 64)
    assert(new java.io.File(s"$tmp/tombs").mkdirs()) // the in-flight window
    val batch = Seq((9001L, 2L * 2654435761L)).toDF("doc_id", "sh") // twin of doc 2
    assert(Dedup.signatureMicroIncremental(batch, tmp, maxHamming = 6).count() >= 1L,
      "probe must run (and match) across the file-less tombstone dir")
    assert(Dedup.docIndexStats(spark, tmp)("graft.docindex.tombstones") == "0")
  }

  test("streaming dedup ingest keeps only first occurrences; crash replay is idempotent") {
    import org.apache.spark.sql.functions.lit
    val tmp = java.nio.file.Files.createTempDirectory("graft_dding_").toString
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    graft.operators.Dedup.writeExactIndex(corpus, s"$tmp/idx")
    val corpusText3 = corpus.filter(col("doc_id") === 3).select("text").head().getString(0)
    val corpusText7 = corpus.filter(col("doc_id") === 7).select("text").head().getString(0)

    import spark.implicits._
    // two source files; each becomes one micro-batch (maxFilesPerTrigger=1).
    // Only texts that never appeared (corpus, other batches, same batch)
    // may survive; batch processing order does not change the kept TEXT set.
    def writeSrc(name: String, rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/src_stage/$name")
      val dst = new java.io.File(s"$tmp/src"); dst.mkdirs()
      new java.io.File(s"$tmp/src_stage/$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(
          f.toPath, new java.io.File(dst, s"$name.parquet").toPath))
    }
    writeSrc("f1", Seq((1000L, corpusText3), (1001L, "a genuinely fresh document")))
    writeSrc("f2", Seq(
      (1002L, "a genuinely fresh document"), // cross-batch dup of 1001
      (1003L, "another fresh document"),
      (1004L, "another fresh document"),     // in-batch dup of 1003
      (1005L, corpusText7)))                 // corpus dup

    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = graft.streaming.Ingest.startDedupIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx",
      maxFilesPerTrigger = Some(1)).awaitTermination()
    run()

    def sinkRows() = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val kept = sinkRows()
    assert(kept.map(_._2) == Set("a genuinely fresh document", "another fresh document"),
      s"only never-seen texts survive: $kept")
    assert(kept.size == 2, s"one representative per fresh text: $kept")
    val stats = Dedup.exactIndexStats(spark, s"$tmp/idx")
    assert(stats("graft.dedup.docs").toLong == corpus.count() + 6,
      "index counts corpus + every streamed doc exactly once")

    // crash replay: drop the last streaming commit marker and restart —
    // the replayed batch must rewrite sink and index segment IDENTICALLY
    val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    last.delete(); if (crc.exists()) crc.delete()
    run()
    assert(sinkRows() == kept, "replayed batch must not change the kept set")
    assert(Dedup.exactIndexStats(spark, s"$tmp/idx")("graft.dedup.docs").toLong ==
      corpus.count() + 6, "replay must overwrite its segment, not append a duplicate")

    // a later file of ONLY duplicates: its batch keeps zero rows but still
    // commits (empty batch directory readable through readCommitted)
    writeSrc("f3", Seq((1006L, "a genuinely fresh document"), (1007L, corpusText3)))
    run()
    assert(sinkRows() == kept, "an all-duplicate batch adds nothing")
    assert(Dedup.exactIndexStats(spark, s"$tmp/idx")("graft.dedup.docs").toLong ==
      corpus.count() + 8, "the all-duplicate batch still folds into the index")
  }

  test("streaming near-dup ingest drops corpus/cross-batch/in-batch dups; replay and compaction are safe") {
    import org.apache.spark.sql.functions.lit
    val tmp = java.nio.file.Files.createTempDirectory("graft_nding_").toString
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    Dedup.writeMinHashIndex(corpus, s"$tmp/idx", shingleN = 3, numHashes = 64, bands = 16)
    val corpusText3 = corpus.filter(col("doc_id") === 3).select("text").head().getString(0)
    val freshA = "the quick auburn fox vaulted the idle hound while meteor showers streaked over the silent harbor town at dusk"
    val freshB = "seven engineers debated the merits of columnar storage formats late into the evening over increasingly cold coffee"
    val freshC = "a completely unrelated treatise on the migratory patterns of arctic terns crossing two polar summers every year"

    import spark.implicits._
    def writeSrc(name: String, rows: Seq[(Long, String)]): Unit =
      stageSrcFile(tmp, name, rows)
    // exact copies guarantee jaccard 1.0, so the policy (not recall) is
    // what's under test: corpus dup, cross-batch dup, in-batch dup
    writeSrc("f1", Seq((2000L, corpusText3), (2001L, freshA)))
    writeSrc("f2", Seq(
      (2002L, freshA),   // cross-batch dup of kept 2001
      (2003L, freshB),   // kept (cluster min)
      (2004L, freshB),   // in-batch dup of 2003
      (2005L, corpusText3)))

    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = graft.streaming.Ingest.startNearDupIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx",
      threshold = 0.5, maxFilesPerTrigger = Some(1)).awaitTermination()
    run()

    def sinkRows() = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val kept = sinkRows()
    assert(kept == Set((2001L, freshA), (2003L, freshB)),
      s"greedy keep-first over corpus + batches: $kept")
    // only KEPT docs enter the index (the index is the sink's signatures)
    def idxDocs() = {
      val base = spark.read.parquet(s"$tmp/idx/docs")
      val segsDir = new java.io.File(s"$tmp/idx/segs")
      val segs = Option(segsDir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_.isDirectory).map(d => spark.read.parquet(d.toString))
      segs.foldLeft(base)(_ unionByName _).select("doc").collect()
        .map(_.getLong(0)).toSet
    }
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(idxDocs() == corpusIds ++ Set(2001L, 2003L),
      "index holds corpus + kept streamed docs, nothing else")

    // crash replay: drop the last commit marker and restart — kept set and
    // index contents must be byte-stable (named segment overwrite)
    val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    last.delete(); if (crc.exists()) crc.delete()
    run()
    assert(sinkRows() == kept, "replayed batch must not change the kept set")
    assert(idxDocs() == corpusIds ++ Set(2001L, 2003L),
      "replay must overwrite its segment, not append duplicates")

    // an all-fresh batch exercises the empty-pair-graph path
    writeSrc("f3", Seq((2006L, freshC)))
    run()
    assert(sinkRows() == kept + ((2006L, freshC)))

    // compaction folds segments into flat docs/ without changing probe results
    val probe = Seq((9000L, freshA)).toDF("doc_id", "text")
    val before = pairSet(Dedup.minHashIncremental(probe, s"$tmp/idx", threshold = 0.5))
    Dedup.compactDocIndex(spark, s"$tmp/idx")
    assert(!new java.io.File(s"$tmp/idx/segs").exists(), "segments folded away")
    assert(pairSet(Dedup.minHashIncremental(probe, s"$tmp/idx", threshold = 0.5)) == before,
      "compaction must not change incremental pair search")
    assert(before.exists(p => (p._1, p._2) == (2001L, 9000L)),
      "the kept representative is findable through the compacted index")
  }

  test("foldDocSegments beside near-dup ingest: fold, gc, and crash replay leave the view unchanged") {
    import org.apache.spark.sql.functions.lit
    val tmp = java.nio.file.Files.createTempDirectory("graft_folddoc_").toString
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    Dedup.writeMinHashIndex(corpus, s"$tmp/idx", shingleN = 3, numHashes = 64, bands = 16)
    val freshA = "glacial moraines retreated across the fjord leaving striated bedrock and scattered erratic boulders in their wake"
    val freshB = "the committee adjourned without resolving the disputed clause leaving both delegations to draft rival amendments overnight"
    val freshC = "hand thrown stoneware cools slowly inside the kiln while the glaze crystallizes into unrepeatable winter blooms"

    import spark.implicits._
    def writeSrc(name: String, rows: Seq[(Long, String)]): Unit =
      stageSrcFile(tmp, name, rows)
    writeSrc("f1", Seq((3000L, freshA)))
    writeSrc("f2", Seq((3001L, freshB), (3002L, freshA))) // 3002 drops vs kept 3000

    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = graft.streaming.Ingest.startNearDupIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx",
      threshold = 0.5, maxFilesPerTrigger = Some(1)).awaitTermination()
    run()

    def segNames() = Option(new java.io.File(s"$tmp/idx/segs").listFiles())
      .map(_.toSeq).getOrElse(Seq.empty).filter(_.isDirectory).map(_.getName).toSet
    def probePairs() = pairSet(Dedup.minHashIncremental(
      Seq((9000L, freshA), (9001L, freshB)).toDF("doc_id", "text"),
      s"$tmp/idx", threshold = 0.5))
    def sinkRows() = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id").collect().map(_.getLong(0)).toSet

    assert(segNames() == Set("seg_batch_000000", "seg_batch_000001"))
    val pairsBefore = probePairs()
    assert(pairsBefore.exists(p => (p._1, p._2) == (3000L, 9000L)) &&
      pairsBefore.exists(p => (p._1, p._2) == (3001L, 9001L)),
      s"streamed docs visible through segments: $pairsBefore")

    // fold WITHOUT gc: compact segment + marker appear, originals still on
    // disk but excluded — the probe view must not change (no double pairs)
    Dedup.foldDocSegments(spark, s"$tmp/idx", gc = false)
    val afterFold = segNames()
    assert(afterFold.size == 3 && afterFold.exists(_.startsWith("compact_")),
      s"folded beside the originals: $afterFold")
    assert(probePairs() == pairsBefore, "fold must not change the probe view")

    // gc after drain: originals deleted, compact + its marker survive
    assert(Dedup.gcDocIndex(spark, s"$tmp/idx") == 2L)
    assert(segNames().forall(_.startsWith("compact_")))
    assert(probePairs() == pairsBefore, "gc must not change the probe view")

    // crash replay AFTER fold+gc: the replayed batch rewrites its (deleted)
    // segment directory, but the fold marker still excludes it — its rows
    // already live in the compacted segment, so no duplicates appear
    val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    last.delete(); if (crc.exists()) crc.delete()
    run()
    assert(sinkRows() == Set(3000L, 3001L), "replay must not change the kept set")
    assert(probePairs() == pairsBefore,
      "replayed segment rewrite stays excluded by its fold marker")

    // a second generation: new batch, fold again (compact-of-compact), gc
    // drops the superseded compact AND its now-referent-less marker
    writeSrc("f3", Seq((3003L, freshC)))
    run()
    val withC = probePairs()
    Dedup.foldDocSegments(spark, s"$tmp/idx", gc = false)
    assert(Dedup.gcDocIndex(spark, s"$tmp/idx") >= 2L)
    assert(segNames().size == 1 && segNames().head.startsWith("compact_"))
    assert(new java.io.File(s"$tmp/idx/_folded").listFiles()
      .count(!_.getName.startsWith(".")) == 1,
      "the superseded compact's marker is dropped once its referent is gone")
    assert(probePairs() == withC, "second-generation fold+gc preserves the view")

    // the stop-the-world compaction still folds everything flat
    Dedup.compactDocIndex(spark, s"$tmp/idx")
    assert(!new java.io.File(s"$tmp/idx/segs").exists())
    assert(!new java.io.File(s"$tmp/idx/_folded").exists())
    assert(probePairs() == withC, "flat rewrite preserves the view")
  }

  test("micro probe == merge-form probe; the corpus side never shuffles or sorts") {
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val batch = corpus.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    val tmp = java.nio.file.Files.createTempDirectory("graft_micro_").toString
    Dedup.writeMinHashIndex(corpus, tmp, shingleN = 3, numHashes = 64, bands = 16)

    val sigs = Dedup.minHashBatchSigs(batch, tmp).localCheckpoint()
    val cands = Dedup.minHashMicroCandidates(sigs, tmp).localCheckpoint()
    val micro = pairSet(Dedup.minHashMicroVerify(cands, sigs, tmp, threshold = 0.5))
    val merge = pairSet(Dedup.minHashIncremental(batch, tmp, threshold = 0.5))
    assert(micro == merge, "micro (broadcast-batch) probe must equal the merge-form probe")
    assert(micro.nonEmpty, "the planted copies must surface")

    // plan shape: the band join broadcasts the BATCH side; the corpus band
    // scan is map-side — the only shuffle in the candidate plan is the
    // candidate-pair dedup, and nothing sorts or merge-joins the corpus
    val p = Dedup.minHashMicroCandidates(sigs, tmp)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"band join must be a BHJ:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus merge join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly the candidate-dedup shuffle:\n$p")
    // verify stage: corpus rows are restricted via a broadcast semi-join
    // before any wide join — no corpus-wide hash exchange of (sig, sh)
    val vp = Dedup.minHashMicroVerify(cands, sigs, tmp, threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(vp.contains("LeftSemi, BuildRight") || vp.contains("LeftSemi"),
      s"candidate-id restriction must be a broadcast semi join:\n$vp")
    graft.core.Stage.free(cands)
    graft.core.Stage.free(sigs)
  }

  test("exact micro probe pushes literal batch keys to parquet; row groups without them are skipped") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_inprobe_").toString
    // 60k distinct-text docs, small row groups so skipping is measurable
    val corpus = spark.range(60000)
      .select(col("id").as("doc_id"),
        concat(lit("unique document body number "), col("id"),
          lit(" with enough words to look like text")).as("text"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val oldBlock = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", (64 * 1024).toString)
    try Dedup.writeExactIndex(corpus, s"$tmp/idx")
    finally if (oldBlock == null) hconf.unset("parquet.block.size")
    else hconf.set("parquet.block.size", oldBlock)

    // a two-doc batch: one duplicate of corpus doc 7, one fresh
    val dupText = corpus.filter(col("doc_id") === 7).select("text").head().getString(0)
    val batch = Seq((90001L, dupText), (90002L, "a body no corpus doc has ever used"))
      .toDF("doc_id", "text")
    val res = Dedup.exactIncremental(batch, s"$tmp/idx")
    res.collect()
    val rows = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSet
    assert(rows == Set((90001L, 7L, false), (90002L, 90002L, true)),
      s"probe classification: $rows")
    // the batch's keys ride into the scan as a pushed literal In
    val ps = res.queryExecution.executedPlan.toString
    assert(ps.contains("PushedFilters: [In(_k"),
      s"key-log scan must push the batch keys as a literal In:\n$ps")

    // quantitative: the same pushed shape on a direct read materializes a
    // small fraction of the 60k keys (stats + bloom skip the rest)
    val keys = batch
      .select(xxhash64(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("_k"))
      .collect().map(_.getLong(0)).toIndexedSeq
    val probe = spark.read.parquet(s"$tmp/idx/keys/base").filter(col("_k").isin(keys: _*))
    probe.collect()
    val scanned = probe.queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }.sum
    assert(scanned > 0 && scanned < 15000,
      s"pushed In must skip most of the 60k-key log, materialized $scanned rows")
  }

  test("exact micro probe over-cap batch falls back to semi-join (no deep pushed In)") {
    // REGRESSION (round-8 q27e at sf0.1): Spark pushes a literal In to
    // parquet as a LEFT-DEEP or-chain — one node per value — and
    // parquet-mr evaluates it recursively, so a ~2,500-value probe
    // overflows a default 1 MiB task stack. Batches over MaxInProbe must
    // therefore take the broadcast-semi-join path, and the cap itself must
    // stay within the measured-safe depth.
    import spark.implicits._
    assert(graft.operators.Dedup.MaxInProbe <= 1024,
      "MaxInProbe must stay within the parquet or-chain stack bound")
    val tmp = java.nio.file.Files.createTempDirectory("graft_incap_").toString
    val corpus = spark.range(4000)
      .select(col("id").as("doc_id"),
        concat(lit("corpus body "), col("id")).as("text"))
    Dedup.writeExactIndex(corpus, s"$tmp/idx")
    // a batch with > MaxInProbe distinct keys, half duplicates of the corpus
    val batch = spark.range(2000)
      .select((col("id") + 10000).as("doc_id"),
        when(col("id") % 2 === 0, concat(lit("corpus body "), col("id")))
          .otherwise(concat(lit("fresh body "), col("id"))).as("text"))
    val res = Dedup.exactIncremental(batch, s"$tmp/idx")
    val rows = res.collect()
    assert(rows.length == 2000)
    assert(rows.count(!_.getBoolean(3)) == 1000, "the 1000 planted dups must resolve")
    val ps = res.queryExecution.executedPlan.toString
    assert(!ps.contains("PushedFilters: [In(_k"),
      s"over-cap batch must not push a deep literal In:\n${ps.take(1200)}")
    assert(ps.contains("LeftSemi"),
      s"over-cap batch must restrict the key log via a broadcast semi join:\n${ps.take(1200)}")
  }

  test("band-bucketed index: probe == flat probe; the band read is pruned to the batch's buckets") {
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("graft_bband_").toString
    Dedup.writeMinHashIndex(corpus, s"$tmp/flat", shingleN = 3, numHashes = 64, bands = 16,
      bandBuckets = 0) // explicit flat baseline
    Dedup.writeMinHashIndex(corpus, s"$tmp/bkt", shingleN = 3, numHashes = 64, bands = 16,
      bandBuckets = 512)

    // identical pair results through both layouts (the bucketing changes
    // WHERE band rows live, never which pairs exist) — a SMALL batch rides
    // the pruned path (minority of buckets hit), a LARGE one the flat
    // fallback; both must agree with the flat-layout probe
    def probe(idx: String, sigs: DataFrame) = {
      val cands = Dedup.minHashMicroCandidates(sigs, idx).localCheckpoint()
      val pairs = pairSet(Dedup.minHashMicroVerify(cands, sigs, idx, threshold = 0.5))
      graft.core.Stage.free(cands)
      pairs
    }
    for (mod <- Seq(5, 50)) { // ~100-doc batch (fallback) and ~10-doc (pruned)
      val batch = corpus.filter(col("doc_id") % mod === 0)
        .withColumn("doc_id", col("doc_id") + 10000)
      val sigs = Dedup.minHashBatchSigs(batch, s"$tmp/bkt").localCheckpoint()
      val bucketed = probe(s"$tmp/bkt", sigs)
      assert(bucketed == probe(s"$tmp/flat", sigs),
        s"bucketed probe must equal the flat-layout probe (mod=$mod)")
      assert(bucketed.nonEmpty, s"the planted copies must surface (mod=$mod)")
      graft.core.Stage.free(sigs)
    }

    // pruning mechanics: a one-doc batch hits <= 16 of the 512 buckets, and
    // the candidate plan's band read lists exactly the hit bucket
    // directories (path construction — no O(bandBuckets) listing anywhere)
    val one = Dedup.minHashBatchSigs(
      corpus.filter(col("doc_id") === 0).withColumn("doc_id", col("doc_id") + 20000),
      s"$tmp/bkt").localCheckpoint()
    val cdf = Dedup.minHashMicroCandidates(one, s"$tmp/bkt")
    cdf.collect()
    val ps = cdf.queryExecution.executedPlan.toString
    val pathCounts = "InMemoryFileIndex\\((\\d+) paths\\)".r
      .findAllMatchIn(ps).map(_.group(1).toInt).toSeq
    assert(pathCounts.nonEmpty, s"expected a band-store scan in the plan:\n$ps")
    assert(pathCounts.max <= 16,
      s"one doc's band read must list at most its 16 bucket dirs, saw $pathCounts")
    graft.core.Stage.free(one)
  }

  test("band-bucketed index lifecycle: segments, fold+gc, takedown, and compaction keep the probe exact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bblife_").toString
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    Dedup.writeMinHashIndex(corpus, s"$tmp/idx", shingleN = 3, numHashes = 64, bands = 16,
      bandBuckets = 64)
    val corpusText = corpus.filter(col("doc_id") === 7).select("text").head().getString(0)
    val freshA = "glassblowers in the harbor district timed each gather of molten glass to the rhythm of the evening tide bells"
    val freshB = "the council's cartographers argued for a decade over where the inland sea ended and the salt marsh began"

    def probePairs(rows: Seq[(Long, String)]): Set[(Long, Long, Double)] = {
      val sigs = Dedup.minHashBatchSigs(rows.toDF("doc_id", "text"), s"$tmp/idx")
        .localCheckpoint()
      val cands = Dedup.minHashMicroCandidates(sigs, s"$tmp/idx").localCheckpoint()
      val out = pairSet(Dedup.minHashMicroVerify(cands, sigs, s"$tmp/idx", threshold = 0.5))
      graft.core.Stage.free(cands); graft.core.Stage.free(sigs)
      out
    }

    // segment writes carry their band rows: a stored-vs-batch pair via the
    // base store, then a cross-SEGMENT pair via bandsegs
    val seg1 = Dedup.minHashBatchSigs(
      Seq((3000L, freshA)).toDF("doc_id", "text"), s"$tmp/idx").localCheckpoint()
    Dedup.writeMinHashSegment(seg1, s"$tmp/idx", "seg_a")
    graft.core.Stage.free(seg1)
    assert(new java.io.File(s"$tmp/idx/bandsegs/seg_a").exists(),
      "a bucketed index's segment must write its band rows")
    assert(probePairs(Seq((4000L, corpusText))).map(p => (p._1, p._2)) == Set((7L, 4000L)),
      "base-store pair via the pruned band path")
    assert(probePairs(Seq((4001L, freshA))).map(p => (p._1, p._2)) == Set((3000L, 4001L)),
      "segment pair via the bandsegs path")

    // a second segment, then fold beside + gc: view unchanged, band twins folded
    val seg2 = Dedup.minHashBatchSigs(
      Seq((3001L, freshB)).toDF("doc_id", "text"), s"$tmp/idx").localCheckpoint()
    Dedup.writeMinHashSegment(seg2, s"$tmp/idx", "seg_b")
    graft.core.Stage.free(seg2)
    val before = probePairs(Seq((4002L, freshA), (4003L, freshB)))
    Dedup.foldDocSegments(spark, s"$tmp/idx", gc = false)
    assert(Dedup.gcDocIndex(spark, s"$tmp/idx") == 4L,
      "gc counts both folded segments and both their band twins")
    val liveSegs = new java.io.File(s"$tmp/idx/segs").listFiles().filter(_.isDirectory)
    assert(liveSegs.length == 1 && liveSegs.head.getName.startsWith("compact_"))
    val liveBands = new java.io.File(s"$tmp/idx/bandsegs").listFiles().filter(_.isDirectory)
    assert(liveBands.map(_.getName).toSeq == liveSegs.map(_.getName).toSeq,
      "band segments must fold and gc in lockstep with their doc twins")
    assert(probePairs(Seq((4002L, freshA), (4003L, freshB))) == before,
      "fold + gc preserve the probe view")

    // takedown: tombstoned doc stops pairing (its stale band rows only ever
    // produce candidates the verify stage drops)
    Dedup.deleteFromDocIndex(Seq(7L).toDF("doc_id"), s"$tmp/idx")
    assert(probePairs(Seq((4004L, corpusText))).isEmpty,
      "tombstoned corpus doc must not pair")

    // stop-the-world compaction rebuilds the band store minus tombstones
    Dedup.compactDocIndex(spark, s"$tmp/idx")
    assert(!new java.io.File(s"$tmp/idx/segs").exists())
    assert(!new java.io.File(s"$tmp/idx/bandsegs").exists())
    assert(probePairs(Seq((4005L, corpusText))).isEmpty, "compaction folds the tombstone")
    assert(probePairs(Seq((4006L, freshA))).map(p => (p._1, p._2)) == Set((3000L, 4006L)),
      "segment rows survive compaction into the base band store")
    // the rebuilt band store has no rows for the deleted doc
    assert(spark.read.parquet(bandRootPath(s"$tmp/idx")).filter(col("doc") === 7L).count() == 0L)
  }

  test("streaming near-dup ingest over a band-bucketed index: drops, replay, and fold are safe") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bbing_").toString
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    Dedup.writeMinHashIndex(corpus, s"$tmp/idx", shingleN = 3, numHashes = 64, bands = 16,
      bandBuckets = 64)
    val corpusText3 = corpus.filter(col("doc_id") === 3).select("text").head().getString(0)
    val freshA = "the lighthouse keeper logged every passing freighter in a ledger bound with sailcloth and tar"
    stageSrcFile(tmp, "f1", Seq((2000L, corpusText3), (2001L, freshA)))
    stageSrcFile(tmp, "f2", Seq((2002L, freshA), (2003L, corpusText3)))

    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = graft.streaming.Ingest.startNearDupIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx",
      threshold = 0.5, maxFilesPerTrigger = Some(1)).awaitTermination()
    run()
    def sinkIds() = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sinkIds() == Set(2001L), s"corpus + cross-batch dups drop: ${sinkIds()}")

    // crash replay of the last batch recomputes identically (segment + band
    // twin overwritten, not duplicated)
    val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    last.delete(); if (crc.exists()) crc.delete()
    run()
    assert(sinkIds() == Set(2001L), "replay must not change the kept set")
    Dedup.foldDocSegments(spark, s"$tmp/idx")
    assert(sinkIds() == Set(2001L))
    // a fresh probe of the streamed text still pairs after the fold
    import spark.implicits._
    val sigs = Dedup.minHashBatchSigs(
      Seq((5000L, freshA)).toDF("doc_id", "text"), s"$tmp/idx").localCheckpoint()
    val cands = Dedup.minHashMicroCandidates(sigs, s"$tmp/idx").localCheckpoint()
    val pairs = pairSet(Dedup.minHashMicroVerify(cands, sigs, s"$tmp/idx", threshold = 0.5))
    assert(pairs.map(p => (p._1, p._2)) == Set((2001L, 5000L)))
    graft.core.Stage.free(cands); graft.core.Stage.free(sigs)
  }

  test("near-dup ingest: arrival wins over id order — a lower-id duplicate of a kept corpus doc drops") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ndarr_").toString
    // corpus with HIGH ids only, so a streamed duplicate can carry a LOWER
    // id than its already-kept partner without colliding
    val corpus = Tables.documents(spark, TestSpark.Sf0001).filter(col("doc_id") >= 250)
    Dedup.writeMinHashIndex(corpus, s"$tmp/idx", shingleN = 3, numHashes = 64, bands = 16)
    val corpusText = corpus.filter(col("doc_id") === 300).select("text").head().getString(0)
    val fresh = "an entirely novel sentence about tidal resonance in narrow estuaries amplifying the spring flood twice a month"
    // 100 < 300: under a global min-id policy the duplicate would be "kept"
    // and the corpus copy stranded; arrival semantics must drop it
    stageSrcFile(tmp, "f1", Seq((100L, corpusText), (101L, fresh)))
    // and an in-batch-only cluster still breaks ties by lowest id
    val freshB = "clockmakers once regulated entire railway networks from a single brass chronometer kept under glass in the station hall"
    stageSrcFile(tmp, "f2", Seq((51L, freshB), (50L, freshB)))

    val schema = spark.read.parquet(s"$tmp/src").schema
    graft.streaming.Ingest.startNearDupIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx",
      threshold = 0.5, maxFilesPerTrigger = Some(1)).awaitTermination()
    val kept = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(101L, 50L),
      s"arrival wins vs corpus (100 drops), min id wins in-batch (50 keeps): $kept")
  }

  test("semantic ingest: embedding near-dups drop on write; search sees streamed vectors; replay + compaction safe") {
    import graft.operators.Ivf
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_seming_").toString
    def vec(x: Float, y: Float, z: Float, w: Float): Seq[Float] = Seq(x, y, z, w)
    // two well-separated blobs; within a blob everything is mutually ~1.0
    // cosine, across blobs ~0 — bucket assignment and the 0.95 gate are
    // both unambiguous
    val corpus = (0L until 20L).map(i =>
      (i, if (i % 2 == 0) vec(1f, 0.01f * i, 0f, 0f) else vec(0f, 0f, 1f, 0.01f * i)))
      .toDF("vec_id", "embedding")
    val model = Ivf.train(corpus, c = 4, iters = 3)
    Ivf.writeIndex(corpus, model, s"$tmp/idx")

    def writeVecSrc(name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
      rows.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/src_stage/$name")
      val dst = new java.io.File(s"$tmp/src"); dst.mkdirs()
      new java.io.File(s"$tmp/src_stage/$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(
          f.toPath, new java.io.File(dst, s"$name.parquet").toPath))
    }
    val novelA = vec(0f, 1f, 0f, 0f)
    val novelB = vec(0f, 0f, 0f, 1f)
    writeVecSrc("f1", Seq(
      (1000L, vec(1f, 0.06f, 0f, 0f)), // ~exact copy of corpus blob A: drops
      (1001L, novelA)))                // novel direction: keeps
    writeVecSrc("f2", Seq(
      (1002L, novelA),                 // cross-batch dup of kept 1001: drops
      (1003L, novelB),                 // keeps
      (1004L, novelB)))                // in-batch dup of 1003: drops

    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = graft.streaming.Ingest.startSemanticIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx",
      threshold = 0.95, maxFilesPerTrigger = Some(1)).awaitTermination()
    run()

    def sinkIds() = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def idxRows() = Ivf.indexStats(spark, s"$tmp/idx")("graft.ivf.rows").toLong
    assert(sinkIds() == Set(1001L, 1003L), s"kept: ${sinkIds()}")
    assert(idxRows() == 22L, "index = 20 corpus + 2 kept streamed vectors")

    // search through the index finds the STREAMED vector immediately
    def topHit() = {
      val h = Ivf.topKIndexed(spark, s"$tmp/idx",
        Seq((9000L, novelA)).toDF("vec_id", "embedding"), k = 1, nProbe = 4).head()
      (h.getAs[Long]("n_id"), h.getAs[Double]("score"))
    }
    assert(topHit() == ((1001L, 1.0)), s"streamed vector must be searchable: ${topHit()}")

    // crash replay: kept set and index row count must be byte-stable (the
    // named segment is overwritten, and self-pairs are excluded by id)
    def dropLastCommit(): Unit = {
      val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      val last = commits.last
      val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
      last.delete(); if (crc.exists()) crc.delete()
    }
    dropLastCommit()
    run()
    assert(sinkIds() == Set(1001L, 1003L), "replay must not change the kept set")
    assert(idxRows() == 22L, "replay must overwrite its segment, not append")

    // concurrent-safe fold: the two batch segments collapse into one
    // compact_* segment behind an atomic marker; nothing observable
    // changes through fold, GC, or a crash replay AFTER the fold (the
    // marker keeps the replayed segment rewrite excluded)
    def liveSegs(): Seq[String] = {
      val markerFiles = Option(new java.io.File(s"$tmp/idx/_folded").listFiles())
        .getOrElse(Array.empty).filter(f => f.isFile && !f.getName.startsWith("."))
      val markers = markerFiles.map(_.getName).toSet
      val folded = markerFiles
        .flatMap(f => scala.io.Source.fromFile(f).getLines().map(_.trim).filter(_.nonEmpty))
        .toSet
      Option(new java.io.File(s"$tmp/idx/segs").listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && !d.getName.startsWith("."))
        .map(_.getName).toSeq
        .filter(n => !folded(n) && (!n.startsWith("compact_") || markers(n)))
    }
    Ivf.foldIndexSegments(spark, s"$tmp/idx", gc = false)
    assert(liveSegs().size == 1 && liveSegs().head.startsWith("compact_"),
      s"two batch segments folded to one live compact segment: ${liveSegs()}")
    assert(idxRows() == 22L && topHit() == ((1001L, 1.0)), "fold changes nothing observable")
    dropLastCommit()
    run() // replay rewrites seg_batch_000001 — the fold marker keeps it excluded
    assert(idxRows() == 22L && sinkIds() == Set(1001L, 1003L),
      "replay after fold must not double-count the folded segment")
    val gcRemoved = Ivf.gcIndexSegments(spark, s"$tmp/idx")
    assert(gcRemoved >= 2L, s"folded batch segments reclaimed: $gcRemoved")
    assert(idxRows() == 22L && topHit() == ((1001L, 1.0)), "GC changes nothing observable")

    // folding segments into the base lists changes nothing observable
    Ivf.compactIndexSegments(spark, s"$tmp/idx")
    assert(!new java.io.File(s"$tmp/idx/segs").exists(), "segments folded away")
    assert(idxRows() == 22L && topHit() == ((1001L, 1.0)),
      "post-compaction search and stats are unchanged")

    // takedown re-admission: after 1001 is tombstoned, a new copy of its
    // content must be KEPT (a deleted vector no longer suppresses
    // near-duplicate arrivals) — the corpus-minus-deletions semantics of
    // the exact index, through the streaming probe
    Ivf.deleteFromIndex(Seq(Tuple1(1001L)).toDF("vec_id"), s"$tmp/idx")
    writeVecSrc("f3", Seq((2000L, novelA)))
    run()
    assert(sinkIds().contains(2000L), s"re-admitted after takedown: ${sinkIds()}")
    assert(idxRows() == 22L, "21 live + 1 re-admitted")
    assert(topHit() == ((2000L, 1.0)), "search now surfaces the re-admitted copy")

    // REBUILD BETWEEN TRIGGERS: the beside-live generation publish fires
    // from the maintenance slot while the ingest is parked between runs —
    // the retrain folds the streamed segments and the tombstone into
    // gen_v1 behind the `_LISTS` pointer, and the NEXT batches assign
    // with the new quantizer; dedup-on-write and search hold across the
    // flip with nothing re-seeded
    Ivf.rebuildIndex(spark, s"$tmp/idx", lists = 4, iters = 3)
    assert(new java.io.File(s"$tmp/idx/_LISTS").exists(), "rebuild publishes behind the pointer")
    assert(idxRows() == 22L, "the flip itself changes no live row")
    assert(topHit() == ((2000L, 1.0)), "search serves through the flip")
    val novelC = vec(0.5f, 0.5f, 0.5f, 0.5f)
    writeVecSrc("f4", Seq(
      (3000L, novelB),   // cross-REBUILD dup of kept 1003: still drops
      (3001L, novelC)))  // novel direction: keeps, assigned by gen_v1
    run()
    assert(sinkIds() == Set(1001L, 1003L, 2000L, 3001L),
      s"dedup-on-write must hold across the rebuild: ${sinkIds()}")
    assert(idxRows() == 23L, "22 live + 1 kept post-rebuild vector")
    val h = Ivf.topKIndexed(spark, s"$tmp/idx",
      Seq((9001L, novelC)).toDF("vec_id", "embedding"), k = 1, nProbe = 4).head()
    assert((h.getAs[Long]("n_id"), h.getAs[Double]("score")) == ((3001L, 1.0)),
      "a vector streamed after the flip is immediately searchable")
  }

  test("semantic ingest: a null-embedding row is kept, never indexed, never wedges the stream") {
    import graft.operators.Ivf
    import spark.implicits._
    // REGRESSION: the batch's probed-bucket collect did Row.getInt on the
    // null bucket a null embedding produces — a driver NPE that failed the
    // query, and since the same batch replays on restart, permanently
    // wedged the ingest on one bad row
    val tmp = java.nio.file.Files.createTempDirectory("graft_semnull_").toString
    val corpus = (0L until 8L).map(i => (i, Seq(1f, 0.01f * i, 0f, 0f)))
      .toDF("vec_id", "embedding")
    Ivf.writeIndex(corpus, Ivf.train(corpus, c = 2, iters = 2), s"$tmp/idx")
    val rows: Seq[(Long, Option[Seq[Float]])] = Seq(
      (100L, Some(Seq(0f, 1f, 0f, 0f))),    // novel direction: keeps + indexes
      (101L, None),                         // null embedding: keeps, NOT indexed
      (102L, Some(Seq(1f, 0.02f, 0f, 0f)))) // corpus near-dup: drops
    rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    graft.streaming.Ingest.startSemanticIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx",
      threshold = 0.95).awaitTermination()
    val kept = graft.streaming.Ingest.readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(100L, 101L),
      s"the null-vec doc passes through (it is never a semantic duplicate): $kept")
    assert(Ivf.indexStats(spark, s"$tmp/idx")("graft.ivf.rows").toLong == 9L,
      "index = 8 corpus + 1 kept embedded vector; the null-vec doc is not indexed")
  }

  test("deletion: incremental-after-delete == full recompute over the corpus minus deletions") {
    import graft.functions.TextOps
    val (corpus, batch) = split()
    val tmp = java.nio.file.Files.createTempDirectory("graft_dixdel_").toString
    Dedup.writeExactIndex(corpus, tmp)
    // take down every corpus doc with doc_id % 10 == 0 — content-level, so
    // any corpus doc SHARING one of those normalized texts is gone too
    val removed = corpus.filter(col("doc_id") % 10 === 0)
    val nDel = Dedup.deleteFromExactIndex(removed, tmp)
    assert(nDel > 0)
    val norm = TextOps.normalized(coalesce(col("text"), lit("")))
    val remaining = corpus.join(
      removed.select(norm.as("_n")).distinct(), norm === col("_n"), "left_anti")
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = rows(Dedup.exact(remaining.unionByName(batch)))
      .filter(r => batchIds.contains(r._1))
    val inc = rows(Dedup.exactIncremental(batch, tmp))
    assert(inc == full,
      "incremental after deletion must equal the recompute over corpus minus deletions")
    // at least one batch doc's text existed only via now-deleted corpus docs
    // and must now be kept as fresh content (the takedown regression case)
    assert(inc.exists { case (id, keep, _, kept) => kept && keep == id })
  }

  test("deletion is newest-wins: re-appended content re-enters the index") {
    import spark.implicits._
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val textX = corpus.filter(col("doc_id") === 3).select("text").head().getString(0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_dixnw_").toString
    Dedup.writeExactIndex(corpus, tmp)
    def probe(id: Long): (Long, Boolean) = {
      val r = Dedup.exactIncremental(
        Seq((id, textX)).toDF("doc_id", "text"), tmp).head()
      (r.getLong(1), r.getBoolean(3))
    }
    assert(probe(5000L) == (3L, false), "before deletion the corpus copy wins")
    Dedup.deleteFromExactIndex(Seq((3L, textX)).toDF("doc_id", "text"), tmp)
    assert(probe(5000L) == (5000L, true),
      "after deletion the content is fresh — the probe doc is its own representative")
    Dedup.appendToExactIndex(Seq((6000L, textX)).toDF("doc_id", "text"), tmp)
    assert(probe(7000L) == (6000L, false),
      "an append AFTER the tombstone outranks it (newest wins)")
  }

  test("compaction folds tombstones away without changing the view") {
    import spark.implicits._
    val (corpus, batch) = split()
    val tmp = java.nio.file.Files.createTempDirectory("graft_dixtf_").toString
    Dedup.writeExactIndex(corpus, tmp)
    Dedup.appendToExactIndex(batch, tmp)
    Dedup.deleteFromExactIndex(corpus.filter(col("doc_id") % 7 === 0), tmp)
    def view() = Dedup.readExactIndex(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = view()
    Dedup.compactExactIndex(spark, tmp) // gc = true: the single-actor form
    assert(view() == before, "compaction + GC must not change the merged view")
    val stats = Dedup.exactIndexStats(spark, tmp)
    assert(stats("graft.dedup.segments") == "1")
    assert(stats("graft.dedup.tombstone-segments") == "0")
    assert(stats("graft.dedup.folded-awaiting-gc") == "0")
    // deleted content stays deleted after the tombstones are folded away
    val probe = Dedup.exactIncremental(
      Seq((9000L, corpus.filter(col("doc_id") === 7).select("text").head().getString(0)))
        .toDF("doc_id", "text"), tmp).head()
    assert(probe.getBoolean(3), "content deleted before compaction remains fresh after it")
  }

  test("crash states of the compaction protocol never corrupt the read view") {
    val (corpus, batch) = split()
    val tmp = java.nio.file.Files.createTempDirectory("graft_dixcr_").toString
    Dedup.writeExactIndex(corpus, tmp)
    Dedup.appendToExactIndex(batch, tmp)
    def view() = Dedup.readExactIndex(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val v = view()

    // a half-written segment (data, no _SEQ sidecar) is invisible
    spark.range(1).selectExpr("id as _k", "id as keep_id", "id as group_size", "id as _seq")
      .write.parquet(s"$tmp/keys/seg_halfwritten")
    assert(view() == v, "a segment without its _SEQ commit mark must not be read")

    // crash AFTER the compacted segment committed but BEFORE the fold
    // marker: simulated by compacting and then deleting the marker — the
    // exact on-disk state such a crash leaves
    Dedup.compactExactIndex(spark, tmp, gc = false)
    assert(view() == v, "a committed compaction preserves the view")
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/_folded"))
      .filter(_.isFile).map(_.getPath)
    assert(markers.length == 1)
    fs.delete(markers.head, false)
    assert(view() == v, "without its marker the compacted segment is invisible; the folded set is live again")

    // recovery is simply compacting again; GC then removes the folded
    // originals AND the orphaned uncommitted compact directory
    Dedup.compactExactIndex(spark, tmp, gc = true)
    assert(view() == v)
    val stats = Dedup.exactIndexStats(spark, tmp)
    assert(stats("graft.dedup.segments") == "1")
    assert(stats("graft.dedup.folded-awaiting-gc") == "0")
    val leftover = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/keys"))
      .filter(_.isDirectory).map(_.getPath.getName)
    assert(leftover.count(_.startsWith("compact_")) == 1,
      s"the orphaned compact dir must be GC'd: ${leftover.toSeq}")
  }

  test("compaction beside the dedup ingest: kept-set and view stable under crash replay") {
    import org.apache.spark.sql.functions.lit
    val tmp = java.nio.file.Files.createTempDirectory("graft_ddcmp_").toString
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    Dedup.writeExactIndex(corpus, s"$tmp/idx")
    val corpusText3 = corpus.filter(col("doc_id") === 3).select("text").head().getString(0)

    import spark.implicits._
    def writeSrc(name: String, rows: Seq[(Long, String)]): Unit =
      stageSrcFile(tmp, name, rows)
    writeSrc("f1", Seq((1000L, "fresh doc alpha"), (1001L, corpusText3)))
    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = graft.streaming.Ingest.startDedupIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx",
      maxFilesPerTrigger = Some(1)).awaitTermination()
    run()
    // compact the index between triggers — the maintenance-beside-ingest
    // interleaving; folded segments stay on disk (gc deferred)
    Dedup.compactExactIndex(spark, s"$tmp/idx", gc = false)
    writeSrc("f2", Seq((1002L, "fresh doc beta"), (1003L, "fresh doc alpha")))
    run()
    def sinkRows() = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val kept = sinkRows()
    assert(kept == Set((1000L, "fresh doc alpha"), (1002L, "fresh doc beta")),
      s"dedup across the compaction boundary: $kept")
    val docsBefore = Dedup.exactIndexStats(spark, s"$tmp/idx")("graft.dedup.docs").toLong
    assert(docsBefore == corpus.count() + 4)

    // crash replay ACROSS a compaction: batch 1's index segment was written,
    // then the streaming commit is lost, then compaction folds the segment —
    // the replay rewrites a segment that is already folded, which must not
    // resurrect it (no duplicate mass) and must keep the kept-set identical
    val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    last.delete(); if (crc.exists()) crc.delete()
    Dedup.compactExactIndex(spark, s"$tmp/idx", gc = false)
    run()
    assert(sinkRows() == kept, "replay across a compaction must not change the kept set")
    assert(Dedup.exactIndexStats(spark, s"$tmp/idx")("graft.dedup.docs").toLong == docsBefore,
      "the replayed (already-folded) segment must stay invisible — no duplicate mass")

    // deferred GC after the ingest drained: view and kept-set unchanged
    val viewBefore = Dedup.readExactIndex(spark, s"$tmp/idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Dedup.gcExactIndex(spark, s"$tmp/idx")
    val viewAfter = Dedup.readExactIndex(spark, s"$tmp/idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viewAfter == viewBefore, "GC reclaims only invisible directories")
    assert(Dedup.exactIndexStats(spark, s"$tmp/idx")("graft.dedup.folded-awaiting-gc") == "0")
  }

  test("doc-index deletion: minhash/simhash probes == recompute over corpus minus deleted") {
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val batch = corpus.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    val deleted = corpus.filter(col("doc_id") % 10 === 0).select("doc_id")
    val deletedIds = deleted.collect().map(_.getLong(0)).toSet
    val remaining = corpus.filter(!(col("doc_id") % 10 === 0))

    val mh = java.nio.file.Files.createTempDirectory("graft_mhdel_").toString
    Dedup.writeMinHashIndex(corpus, mh, shingleN = 3, numHashes = 64, bands = 16)
    assert(Dedup.deleteFromDocIndex(deleted, mh) == deletedIds.size)
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val fullMh = pairSet(
      Dedup.minHashLsh(remaining.unionByName(batch),
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))
    val incMh = pairSet(Dedup.minHashIncremental(batch, mh, threshold = 0.5))
    assert(incMh == fullMh, "minhash probe after deletion must equal the recompute")
    assert(!incMh.exists(p => deletedIds.contains(p._1) || deletedIds.contains(p._2)))
    Dedup.compactDocIndex(spark, mh) // fold tombstones into a rewrite
    assert(pairSet(Dedup.minHashIncremental(batch, mh, threshold = 0.5)) == fullMh)
    assert(!new java.io.File(s"$mh/tombs").exists())

    val sh = java.nio.file.Files.createTempDirectory("graft_shdel_").toString
    Dedup.writeSimHashIndex(corpus, sh)
    Dedup.deleteFromDocIndex(deleted, sh)
    def shPairs(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fullSh = shPairs(Dedup.simHashPairs(remaining.unionByName(batch), maxHamming = 6))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))
    assert(shPairs(Dedup.simHashIncremental(batch, sh, maxHamming = 6)) == fullSh)
    Dedup.compactDocIndex(spark, sh)
    assert(shPairs(Dedup.simHashIncremental(batch, sh, maxHamming = 6)) == fullSh)
  }

  test("pipeline ingest: single batch over empty indexes == batch curationPipeline, stage for stage") {
    import spark.implicits._
    import graft.operators.Curation
    val tmp = java.nio.file.Files.createTempDirectory("graft_pipeing_").toString
    val docs = Seq(
      (10L, "tiny doc"),                                                        // too_short
      (11L, "contact me at bob@example.com for all the details again today"),   // kept, redacted
      (12L, "the quick auburn fox vaulted the idle hound at dusk yesterday"),   // kept
      (13L, "the quick auburn fox vaulted the idle hound at dusk yesterday"),   // exact dup of 12
      (14L, "the quick auburn fox vaulted the idle hound at dusk yesterday evening"), // near-dup of 12
      (15L, "seven engineers debated columnar storage formats over cold coffee last night")
    ).toDF("doc_id", "text")
    val rules = Seq("too_short" ->
      (size(graft.functions.TextOps.tokens(coalesce(col("text"), lit("")))) < 4))
    // empty indexes: the single-batch stream then equals the batch pipeline
    val empty = docs.limit(0)
    Dedup.writeExactIndex(empty, s"$tmp/xidx")
    Dedup.writeMinHashIndex(empty, s"$tmp/midx", shingleN = 3, numHashes = 64, bands = 16)
    docs.coalesce(1).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    graft.streaming.Ingest.startPipelineIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", rules,
      s"$tmp/xidx", s"$tmp/midx", nearDupThreshold = 0.5,
      maxFilesPerTrigger = None).awaitTermination()

    val (batchCorpus, batchFunnel) = Curation.curationPipeline(
      docs, rules, nearDupThreshold = 0.5)
    val streamIds = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchIds = batchCorpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamIds == batchIds && streamIds == Set(11L, 12L, 15L),
      s"stream $streamIds vs batch $batchIds")
    // the redacted TEXT must match too (redaction happened before dedup in both)
    val streamText11 = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .filter(col("doc_id") === 11L).select("text").head().getString(0)
    val batchText11 = batchCorpus.filter(col("doc_id") === 11L)
      .select("text").head().getString(0)
    assert(streamText11 == batchText11 && !streamText11.contains("bob@example.com"))
    // cross-stage funnel equality, in order
    val streamFunnel = graft.streaming.Ingest
      .pipelineFunnel(spark, s"$tmp/sink", s"$tmp/ckpt")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val twin = batchFunnel.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamFunnel == twin,
      s"stream funnel $streamFunnel must equal batch twin $twin")
    assert(streamFunnel == Seq(
      ("filter", 6L, 5L), ("redact", 5L, 5L), ("exact", 5L, 4L), ("neardup", 4L, 3L)))
  }

  test("pipeline ingest: cross-batch suppression in every stage, semantic stage, crash replay") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pipeing2_").toString
    // seed vectors far (cosine 0.5) from every batch vector: the IVF model
    // must exist before ingest, but seeds must not near-dup the stream
    val seeds = Seq(
      (1L, Array(1f, 1f, 1f, 1f)), (2L, Array(1f, -1f, 1f, -1f)),
      (3L, Array(-1f, 1f, 1f, -1f)), (4L, Array(1f, 1f, -1f, -1f))
    ).toDF("vec_id", "embedding")
    val model = graft.operators.Ivf.train(seeds, c = 2, iters = 2)
    graft.operators.Ivf.writeIndex(seeds, model, s"$tmp/vidx")
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    Dedup.writeExactIndex(emptyDocs, s"$tmp/xidx")
    Dedup.writeMinHashIndex(emptyDocs, s"$tmp/midx", shingleN = 3, numHashes = 64, bands = 16)

    val freshA = "the quick auburn fox vaulted the idle hound while meteors streaked over the harbor"
    val freshB = "seven engineers debated the merits of columnar storage formats late into the evening"
    val freshC = "a separate treatise on migratory patterns of arctic terns crossing polar summers"
    val freshD = "entirely different prose concerning the maintenance of tidal clocks in estuaries"
    def writeSrc(name: String, rows: Seq[(Long, String, Array[Float])]): Unit = {
      rows.toDF("doc_id", "text", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/src_stage/$name")
      val dst = new java.io.File(s"$tmp/src"); dst.mkdirs()
      new java.io.File(s"$tmp/src_stage/$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(
          f.toPath, new java.io.File(dst, s"$name.parquet").toPath))
    }
    writeSrc("f1", Seq(
      (100L, freshA, Array(1f, 0f, 0f, 0f)),
      (101L, freshB, Array(0f, 1f, 0f, 0f))))
    writeSrc("f2", Seq(
      (102L, freshC, Array(1.001f, 0.001f, 0f, 0f)), // semantic near-dup of 100 (cosine ~1)
      (103L, freshD, Array(0f, 0f, 1f, 0f)),         // kept
      (104L, freshB, Array(0f, 0f, 0f, 1f))))        // cross-batch EXACT dup of 101
    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = graft.streaming.Ingest.startPipelineIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt",
      rules = Seq("never" -> lit(false)), // no quality drops: dedup is under test
      exactIndexPath = s"$tmp/xidx", nearDupIndexPath = s"$tmp/midx",
      semanticIndexPath = Some(s"$tmp/vidx"), nearDupThreshold = 0.5,
      semanticThreshold = 0.95, maxFilesPerTrigger = Some(1)).awaitTermination()
    run()

    def sinkIds() = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def funnel() = graft.streaming.Ingest
      .pipelineFunnel(spark, s"$tmp/sink", s"$tmp/ckpt")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sinkIds() == Set(100L, 101L, 103L),
      s"104 drops at exact (cross-batch), 102 at semantic (cross-batch): ${sinkIds()}")
    val f1 = funnel()
    assert(f1 == Seq(
      ("filter", 5L, 5L), ("redact", 5L, 5L), ("exact", 5L, 4L),
      ("neardup", 4L, 4L), ("semantic", 4L, 3L)), s"got $f1")
    // the semantic index saw only semantic-stage survivors
    def streamedVecs(): Set[Long] = {
      val segsDir = new java.io.File(s"$tmp/vidx/segs")
      Option(segsDir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_.isDirectory).map(d => spark.read.parquet(d.toString))
        .reduce(_ unionByName _).select("n_id").collect().map(_.getLong(0)).toSet
    }
    assert(streamedVecs() == Set(100L, 101L, 103L),
      s"index folds kept vectors only: ${streamedVecs()}")

    // crash replay: drop the last streaming commit, re-run — sink, funnel,
    // and every index segment must be rewritten identically
    val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    last.delete(); if (crc.exists()) crc.delete()
    run()
    assert(sinkIds() == Set(100L, 101L, 103L), "replay must not change the kept set")
    assert(funnel() == f1, "replay must not change the funnel")
    assert(streamedVecs() == Set(100L, 101L, 103L),
      "replayed vector segment overwrites, never duplicates")
  }

  test("wide-key index is inferred by the incremental path and agrees with narrow") {
    val (corpus, batch) = split()
    val narrowTmp = java.nio.file.Files.createTempDirectory("graft_dixn_").toString
    val wideTmp = java.nio.file.Files.createTempDirectory("graft_dixw_").toString
    Dedup.writeExactIndex(corpus, narrowTmp)
    Dedup.writeExactIndex(corpus, wideTmp, wideKey = true)
    assert(Dedup.exactIndexStats(spark, wideTmp)("graft.dedup.wide-key") == "true")
    // collision-free corpus: both key widths classify the batch identically
    assert(rows(Dedup.exactIncremental(batch, wideTmp)) ==
      rows(Dedup.exactIncremental(batch, narrowTmp)))
  }

  test("micro verify pushes the candidate-id In filter into the doc-row scan") {
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("graft_vprune_").toString
    Dedup.writeMinHashIndex(corpus, tmp, shingleN = 3, numHashes = 64, bands = 16,
      bandBuckets = 128)
    val twin = Dedup.minHashBatchSigs(
      corpus.filter(col("doc_id") === 7).withColumn("doc_id", col("doc_id") + 9000),
      tmp).localCheckpoint()
    val cands = Dedup.minHashMicroCandidates(twin, tmp).localCheckpoint()
    val verified = Dedup.minHashMicroVerify(cands, twin, tmp, threshold = 0.5)
    // the heavyweight (sig, sh) corpus read carries the candidates' ids as
    // a PUSHED In: evaluated against each row group's min/max + the doc
    // bloom filter the sorted doc-row layout writes, so per-trigger verify
    // IO tracks the candidates, not the store
    val ps = verified.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[.*In\\(doc,".r.findFirstIn(ps).isDefined,
      s"the verify's corpus scan must push the candidate-id In filter:\n$ps")
    assert(verified.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((7L, 9007L)), "the pruned verify still confirms the planted twin")
    graft.core.Stage.free(cands); graft.core.Stage.free(twin)
  }

  /** Sign documents with the SimHash family — the micro-batch signer shape
    * the bucketed-signature tests share. */
  private def simSign(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      graft.functions.TextOps.simHashFromHashes(
        graft.functions.TextOps.tokenHashes(col("text"))).as("sh"))

  test("band-bucketed signature store: micro probe == flat probe; whole probe pruned to hit buckets") {
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sgband_").toString
    Dedup.writeSimHashIndex(corpus, s"$tmp/flat", sigBuckets = 0) // explicit flat baseline
    Dedup.writeSimHashIndex(corpus, s"$tmp/bkt", maxHamming = 6, comboSize = 2,
      sigBuckets = 2048)

    def tri(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // identical pair results through both layouts — a SMALL batch rides the
    // pruned path (minority of buckets hit), a LARGE one the flat fallback
    for (mod <- Seq(4, 50)) {
      val sigs = simSign(corpus.filter(col("doc_id") % mod === 0)
        .withColumn("doc_id", col("doc_id") + 10000)).localCheckpoint()
      val bucketed = tri(Dedup.signatureMicroIncremental(sigs, s"$tmp/bkt", maxHamming = 6))
      assert(bucketed == tri(Dedup.signatureMicroIncremental(sigs, s"$tmp/flat", maxHamming = 6)),
        s"bucketed probe must equal the flat-layout probe (mod=$mod)")
      assert(bucketed.nonEmpty, s"the planted copies must surface (mod=$mod)")
      graft.core.Stage.free(sigs)
    }
    // a probe at DIFFERENT banding parameters than the frozen layout must
    // fall back to the (correct-at-any-parameters) flat scan
    val alt = simSign(corpus.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 10000)).localCheckpoint()
    assert(tri(Dedup.signatureMicroIncremental(alt, s"$tmp/bkt", maxHamming = 4)) ==
      tri(Dedup.signatureMicroIncremental(alt, s"$tmp/flat", maxHamming = 4)),
      "parameter-mismatched probe falls back to the flat scan")
    graft.core.Stage.free(alt)

    // pruning mechanics: one doc has 28 block-combination keys (C(8,2) at
    // maxHamming=6, comboSize=2), so its probe lists at most 28 of the 2048
    // bucket directories — and because the signature rides the band rows,
    // there is NO docs-store scan anywhere in the plan
    val one = simSign(corpus.filter(col("doc_id") === 0)
      .withColumn("doc_id", col("doc_id") + 20000)).localCheckpoint()
    Dedup.signatureMicroIncremental(one, s"$tmp/bkt", maxHamming = 6).collect()
    // fresh un-executed probe for the plan asserts: an executed AQE plan's
    // toString prints Final AND Initial sections, double-counting exchanges
    val ps = Dedup.signatureMicroIncremental(one, s"$tmp/bkt", maxHamming = 6)
      .queryExecution.executedPlan.toString
    val pathCounts = "InMemoryFileIndex\\((\\d+) paths\\)".r
      .findAllMatchIn(ps).map(_.group(1).toInt).toSeq
    assert(pathCounts.nonEmpty, s"expected a band-store scan in the plan:\n$ps")
    assert(pathCounts.max <= 28,
      s"one doc's probe must read at most its 28 bucket dirs, saw $pathCounts")
    assert(!ps.contains(s"$tmp/bkt/docs"), s"no stored-docs scan in the pruned probe:\n$ps")
    assert(ps.contains("BroadcastHashJoin"), s"batch side must broadcast:\n$ps")
    assert("Exchange hashpartitioning".r.findAllIn(ps).size == 1,
      s"exactly the pair-dedup shuffle:\n$ps")
    graft.core.Stage.free(one)
  }

  test("band-bucketed signature store lifecycle: segments, fold+gc, takedown, compaction keep the probe exact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sglife_").toString
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    Dedup.writeSimHashIndex(corpus, s"$tmp/idx", maxHamming = 6, comboSize = 2,
      sigBuckets = 256)
    val corpusText = corpus.filter(col("doc_id") === 7).select("text").head().getString(0)
    val freshA = "glassblowers in the harbor district timed each gather of molten glass to the rhythm of the evening tide bells"
    val freshB = "the council's cartographers argued for a decade over where the inland sea ended and the salt marsh began"

    def probePairs(rows: Seq[(Long, String)]): Set[(Long, Long)] = {
      val sigs = simSign(rows.toDF("doc_id", "text")).localCheckpoint()
      val out = Dedup.signatureMicroIncremental(sigs, s"$tmp/idx", maxHamming = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.core.Stage.free(sigs)
      out
    }

    // segment writes carry their band rows (with signatures): stored-vs-
    // batch pair via the base store, then a cross-SEGMENT pair via bandsegs
    val seg1 = simSign(Seq((3000L, freshA)).toDF("doc_id", "text")).localCheckpoint()
    Dedup.writeSignatureSegment(seg1, s"$tmp/idx", "seg_a")
    graft.core.Stage.free(seg1)
    assert(new java.io.File(s"$tmp/idx/bandsegs/seg_a").exists(),
      "a bucketed signature store's segment must write its band rows")
    assert(probePairs(Seq((4000L, corpusText))) == Set((7L, 4000L)),
      "base-store pair via the pruned band path")
    assert(probePairs(Seq((4001L, freshA))) == Set((3000L, 4001L)),
      "segment pair via the bandsegs path")

    // a second segment, then fold beside + gc: view unchanged, twins folded
    val seg2 = simSign(Seq((3001L, freshB)).toDF("doc_id", "text")).localCheckpoint()
    Dedup.writeSignatureSegment(seg2, s"$tmp/idx", "seg_b")
    graft.core.Stage.free(seg2)
    val before = probePairs(Seq((4002L, freshA), (4003L, freshB)))
    Dedup.foldDocSegments(spark, s"$tmp/idx", gc = false)
    assert(Dedup.gcDocIndex(spark, s"$tmp/idx") == 4L,
      "gc counts both folded segments and both their band twins")
    val liveSegs = new java.io.File(s"$tmp/idx/segs").listFiles().filter(_.isDirectory)
    assert(liveSegs.length == 1 && liveSegs.head.getName.startsWith("compact_"))
    val liveBands = new java.io.File(s"$tmp/idx/bandsegs").listFiles().filter(_.isDirectory)
    assert(liveBands.map(_.getName).toSeq == liveSegs.map(_.getName).toSeq,
      "band segments must fold and gc in lockstep with their doc twins")
    assert(probePairs(Seq((4002L, freshA), (4003L, freshB))) == before,
      "fold + gc preserve the probe view")
    // the folded band segment kept its signatures (schema-preserving fold)
    assert(spark.read.parquet(s"$tmp/idx/bandsegs/${liveSegs.head.getName}")
      .columns.contains("sh"), "folded band rows must keep their signature column")

    // takedown: with no doc-row verify stage in the pruned probe, the
    // tombstone anti-join inside the probe itself must drop the pair
    Dedup.deleteFromDocIndex(Seq(7L).toDF("doc_id"), s"$tmp/idx")
    assert(probePairs(Seq((4004L, corpusText))).isEmpty,
      "tombstoned corpus doc must not pair")

    // stop-the-world compaction rebuilds the band store minus tombstones
    Dedup.compactDocIndex(spark, s"$tmp/idx")
    assert(!new java.io.File(s"$tmp/idx/segs").exists())
    assert(!new java.io.File(s"$tmp/idx/bandsegs").exists())
    assert(probePairs(Seq((4005L, corpusText))).isEmpty, "compaction folds the tombstone")
    assert(probePairs(Seq((4006L, freshA))) == Set((3000L, 4006L)),
      "segment rows survive compaction into the base band store")
    assert(spark.read.parquet(bandRootPath(s"$tmp/idx")).filter(col("doc") === 7L).count() == 0L,
      "the rebuilt band store has no rows for the deleted doc")
  }

  test("streaming signature ingest over a band-bucketed store: drops, replay, and fold are safe") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sging_").toString
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    Dedup.writeSimHashIndex(corpus, s"$tmp/idx", maxHamming = 6, comboSize = 2,
      sigBuckets = 256)
    val corpusText3 = corpus.filter(col("doc_id") === 3).select("text").head().getString(0)
    val freshA = "the lighthouse keeper logged every passing freighter in a ledger bound with sailcloth and tar"
    stageSrcFile(tmp, "f1", Seq((2000L, corpusText3), (2001L, freshA)))
    stageSrcFile(tmp, "f2", Seq((2002L, freshA), (2003L, corpusText3)))

    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = graft.streaming.Ingest.startSignatureIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx",
      simSign(_), maxHamming = 6, maxFilesPerTrigger = Some(1)).awaitTermination()
    run()
    def sinkIds() = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sinkIds() == Set(2001L), s"corpus + cross-batch dups drop: ${sinkIds()}")

    // crash replay of the last batch recomputes identically (segment + band
    // twin overwritten, not duplicated)
    val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    last.delete(); if (crc.exists()) crc.delete()
    run()
    assert(sinkIds() == Set(2001L), "replay must not change the kept set")
    Dedup.foldDocSegments(spark, s"$tmp/idx")
    assert(sinkIds() == Set(2001L))
    // a fresh probe of the streamed text still pairs after the fold
    import spark.implicits._
    val sigs = simSign(Seq((5000L, freshA)).toDF("doc_id", "text")).localCheckpoint()
    val pairs = Dedup.signatureMicroIncremental(sigs, s"$tmp/idx", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2001L, 5000L)))
    graft.core.Stage.free(sigs)
  }

  test("compactDocIndex rerun after a crash between docs swap and segs delete does not duplicate") {
    val corpus = Tables.documents(spark, TestSpark.Sf0001).limit(400)
    val tmp = java.nio.file.Files.createTempDirectory("graft_dcrash_").toString
    Dedup.writeMinHashIndex(corpus.filter(col("doc_id") < 200), tmp,
      shingleN = 3, numHashes = 64, bands = 16)
    val segDocs = corpus.filter(col("doc_id") >= 200)
    Dedup.writeMinHashSegment(
      segDocs.select(col("doc_id").as("doc"),
        graft.functions.TextOps.ngramHashes(
          graft.functions.TextOps.tokenHashes(col("text")), 3).as("sh"))
        .withColumn("sig", graft.functions.TextOps.minHashFromHashes(col("sh"), 64)),
      tmp, "seg_batch_000000")
    val expected = spark.read.parquet(s"$tmp/docs").count() + segDocs.count()
    // crash simulation: compact (docs/ now holds the folded rows), then
    // restore segs/ — the exact state a crash between the docs swap and
    // the segs delete leaves behind — and rerun
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segsDir = new org.apache.hadoop.fs.Path(s"$tmp/segs")
    val segsCopy = new org.apache.hadoop.fs.Path(
      s"$tmp/../${new java.io.File(tmp).getName}_segs_copy")
    org.apache.hadoop.fs.FileUtil.copy(fs, segsDir, fs, segsCopy, false,
      spark.sparkContext.hadoopConfiguration)
    Dedup.compactDocIndex(spark, tmp)
    org.apache.hadoop.fs.FileUtil.copy(fs, segsCopy, fs, segsDir, true,
      spark.sparkContext.hadoopConfiguration)
    Dedup.compactDocIndex(spark, tmp)
    val docs = spark.read.parquet(s"$tmp/docs")
    assert(docs.count() == expected, "rerun must not duplicate doc rows")
    assert(docs.groupBy("doc").count().filter(col("count") > 1).count() == 0,
      "no doc id may appear twice after a crash-rerun compaction")
  }

  test("flat rebuild over a bucketed signature store retracts the stale band layout") {
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sgrebuild_").toString
    val oldCorpus = corpus.filter(col("doc_id") < 100)
    val newCorpus = corpus.filter(col("doc_id") >= 100 && col("doc_id") < 200)
    Dedup.writeSimHashIndex(oldCorpus, s"$tmp/idx", maxHamming = 6, comboSize = 2,
      sigBuckets = 256)
    // rebuild the SAME path flat (defaults) over a disjoint corpus — pre-fix
    // the old meta+bands survived the overwrite, so every frozen-banding
    // probe ran against the OLD corpus's band rows: pairing with deleted
    // docs and finding nothing against the new ones
    Dedup.writeSimHashIndex(newCorpus, s"$tmp/idx", sigBuckets = 0) // FLAT rebuild over the bucketed store
    val fs = graft.core.SegmentLog.fs(spark, tmp)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/idx/meta")),
      "a flat rebuild must retract the stale bucketed meta")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/idx/bands")),
      "a flat rebuild must retract the stale band tree")
    def probe(rows: Seq[(Long, String)]): Set[(Long, Long)] = {
      import spark.implicits._
      val sigs = simSign(rows.toDF("doc_id", "text")).localCheckpoint()
      val out = Dedup.signatureMicroIncremental(sigs, s"$tmp/idx", maxHamming = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.core.Stage.free(sigs)
      out
    }
    val oldText = oldCorpus.filter(col("doc_id") === 7).select("text").head().getString(0)
    val newText = newCorpus.filter(col("doc_id") === 150).select("text").head().getString(0)
    val viaOld = probe(Seq((90007L, oldText)))
    assert(!viaOld.exists(p => p._1 == 7L || p._2 == 7L),
      s"a twin of a REPLACED doc must not pair with the retired corpus: $viaOld")
    assert(probe(Seq((90150L, newText))).contains((150L, 90150L)),
      "a twin of a current doc must pair through the rebuilt store")
  }

  test("bucketed probe falls back to flat when bands/ is missing, and heals a staged band swap") {
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sgheal_").toString
    Dedup.writeSimHashIndex(corpus, s"$tmp/flat", sigBuckets = 0) // explicit flat baseline
    // 2048 buckets: the mod-25 batch's ~560 block keys hit a MINORITY of
    // buckets, so the probe takes the bucketed path (the path under test)
    Dedup.writeSimHashIndex(corpus, s"$tmp/bkt", maxHamming = 6, comboSize = 2,
      sigBuckets = 2048)
    val fs = graft.core.SegmentLog.fs(spark, tmp)
    val bands = new org.apache.hadoop.fs.Path(s"$tmp/bkt/bands")
    val staging = new org.apache.hadoop.fs.Path(s"$tmp/bkt/bands_staging")
    def tri(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def batch() = simSign(corpus.filter(col("doc_id") % 25 === 0)
      .withColumn("doc_id", col("doc_id") + 30000)).localCheckpoint()
    // compactDocIndex's swap crash window: bands/ deleted, the complete
    // staged tree not yet renamed — the probe must HEAL it and stay bucketed
    assert(fs.rename(bands, staging), "simulated crash state")
    val b1 = batch()
    val healed = tri(Dedup.signatureMicroIncremental(b1, s"$tmp/bkt", maxHamming = 6))
    assert(fs.exists(bands), "the probe heals the crashed band swap")
    assert(healed == tri(Dedup.signatureMicroIncremental(b1, s"$tmp/flat", maxHamming = 6)) &&
      healed.nonEmpty, "healed probe equals the flat-layout probe")
    graft.core.Stage.free(b1)
    // bands/ gone entirely (no staged tree to heal): meta still advertises a
    // bucketed store, but the probe must take the flat scan — pre-fix it
    // silently read segment band rows only and missed every base-store pair
    fs.delete(bands, true)
    val b2 = batch()
    assert(tri(Dedup.signatureMicroIncremental(b2, s"$tmp/bkt", maxHamming = 6)) ==
      tri(Dedup.signatureMicroIncremental(b2, s"$tmp/flat", maxHamming = 6)),
      "a band-less bucketed store probes through the flat scan, losing nothing")
    graft.core.Stage.free(b2)
  }

  test("compaction heals band rows lost by a crashed direct append") {
    import spark.implicits._
    val corpus = Tables.documents(spark, TestSpark.Sf0001).filter(col("doc_id") < 50)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sgorphan_").toString
    Dedup.writeSimHashIndex(corpus, s"$tmp/idx", maxHamming = 6, comboSize = 2,
      sigBuckets = 256)
    val fresh =
      "the lighthouse keeper catalogued every storm by the pitch of the wind through the lantern-room shutters"
    // the crash window appendToSignatureIndex's docs-first ordering leaves:
    // the doc row committed, its band rows never written. The probe fails
    // OPEN (admits the twin — a space cost), never closed (pre-swap, the
    // bands-first ordering left PHANTOM band rows that dropped genuinely
    // new documents as duplicates of a doc existing nowhere)
    val orphan = simSign(Seq((5000L, fresh)).toDF("doc_id", "text")).localCheckpoint()
    orphan.write.mode("append").parquet(s"$tmp/idx/docs")
    graft.core.Stage.free(orphan)
    def probeTwin(): Set[(Long, Long)] = {
      val sigs = simSign(Seq((6000L, fresh)).toDF("doc_id", "text")).localCheckpoint()
      val out = Dedup.signatureMicroIncremental(sigs, s"$tmp/idx", maxHamming = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.core.Stage.free(sigs)
      out
    }
    assert(!probeTwin().contains((5000L, 6000L)),
      "the orphaned doc is invisible to the bucketed probe until compaction")
    // compactDocIndex rebuilds the band tree from docs/ even with no
    // tombstones or segments pending — the documented heal for this window
    Dedup.compactDocIndex(spark, s"$tmp/idx")
    assert(probeTwin().contains((5000L, 6000L)),
      "compaction restores the orphaned doc's band rows")
  }

  test("direct append across a crashed band swap heals first and never masks the base corpus") {
    import spark.implicits._
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sgappendheal_").toString
    Dedup.writeSimHashIndex(corpus, s"$tmp/idx", maxHamming = 6, comboSize = 2,
      sigBuckets = 2048)
    val fs = graft.core.SegmentLog.fs(spark, tmp)
    val bands = new org.apache.hadoop.fs.Path(s"$tmp/idx/bands")
    val staging = new org.apache.hadoop.fs.Path(s"$tmp/idx/bands_staging")
    val baseText = corpus.filter(col("doc_id") === 7).select("text").head().getString(0)
    def probeTwin(id: Long): Set[(Long, Long)] = {
      val sigs = simSign(Seq((id, baseText)).toDF("doc_id", "text")).localCheckpoint()
      val out = Dedup.signatureMicroIncremental(sigs, s"$tmp/idx", maxHamming = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.core.Stage.free(sigs)
      out
    }
    // crash window: bands/ renamed away, the complete staged tree waiting.
    // Pre-fix the append re-created bands/ holding ONLY its own batch —
    // the staged heal was masked forever (exists-check green) and every
    // bucketed probe silently missed the whole base corpus.
    assert(fs.rename(bands, staging), "simulated crash state")
    Dedup.appendToSimHashIndex(
      corpus.filter(col("doc_id") === 7).withColumn("doc_id", lit(40007L)), s"$tmp/idx")
    assert(fs.exists(bands) && !fs.exists(staging), "the append heals the crashed swap")
    val healed = probeTwin(50007L)
    assert(healed.contains((7L, 50007L)), "base-corpus band rows survive the append")
    assert(healed.contains((40007L, 50007L)), "the appended twin's band rows are live")
    // bands/ destroyed outright (nothing to heal): the append must NOT
    // rebuild the tree from one batch — probes fall back flat (complete
    // over docs/) until compaction rebuilds the full band store
    fs.delete(bands, true)
    Dedup.appendToSimHashIndex(
      corpus.filter(col("doc_id") === 7).withColumn("doc_id", lit(40008L)), s"$tmp/idx")
    assert(!fs.exists(bands), "a single batch must not masquerade as the band store")
    val flat = probeTwin(50008L)
    assert(flat.contains((7L, 50008L)) && flat.contains((40008L, 50008L)),
      "the flat fallback still sees base corpus and appended docs")
    Dedup.compactDocIndex(spark, s"$tmp/idx")
    assert(new java.io.File(bandRootPath(s"$tmp/idx")).exists(),
      "compaction rebuilds the band store (as a published generation)")
    val rebuilt = probeTwin(50009L)
    assert(rebuilt.contains((7L, 50009L)) && rebuilt.contains((40007L, 50009L)) &&
      rebuilt.contains((40008L, 50009L)),
      "the rebuilt bucketed store covers base and both appended batches")
  }

  test("rebuild over a store with live segments and tombstones retracts the whole lifecycle") {
    import spark.implicits._
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sgretract_").toString
    val idx = s"$tmp/idx"
    val oldCorpus = corpus.filter(col("doc_id") < 100)
    val newCorpus = corpus.filter(col("doc_id") >= 100 && col("doc_id") < 200)
    Dedup.writeSimHashIndex(oldCorpus, idx)
    // a live streaming segment of extra old-corpus docs + a tombstone on an
    // id the NEW corpus will reuse (id-monotonicity holds per corpus; a
    // rebuild starts a new id world, which is exactly why stale tombstones
    // must not survive it)
    val segSigs = simSign(corpus.filter(col("doc_id") >= 300 && col("doc_id") < 310))
      .localCheckpoint()
    Dedup.writeSignatureSegment(segSigs, idx, "batch_00000")
    graft.core.Stage.free(segSigs)
    Dedup.deleteFromDocIndex(Seq(150L).toDF("doc_id"), idx)
    Dedup.writeSimHashIndex(newCorpus, idx)
    val fs = graft.core.SegmentLog.fs(spark, tmp)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/segs")),
      "rebuild retracts the old corpus's live segments")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/tombs")),
      "rebuild retracts the old corpus's tombstones")
    def probe(rows: Seq[(Long, String)]): Set[(Long, Long)] = {
      val sigs = simSign(rows.toDF("doc_id", "text")).localCheckpoint()
      val out = Dedup.signatureMicroIncremental(sigs, idx, maxHamming = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.core.Stage.free(sigs)
      out
    }
    // pre-fix: the stale tombstone on 150 anti-joined the NEW doc 150 out
    // of every probe, silently admitting its duplicates
    val t150 = newCorpus.filter(col("doc_id") === 150).select("text").head().getString(0)
    assert(probe(Seq((90150L, t150))).contains((150L, 90150L)),
      "a doc reusing a retired tombstoned id must be probe-visible after rebuild")
    // pre-fix: the old segment's docs stayed in the probe union, pairing
    // new batches with documents the rebuild deleted
    val t305 = corpus.filter(col("doc_id") === 305).select("text").head().getString(0)
    assert(!probe(Seq((90305L, t305))).exists(p => p._1 == 305L || p._2 == 305L),
      "a twin of a retired segment doc must find nothing")
  }

  test("compactDocIndex with nothing to fold reconciles counts, sweeps stale markers, leaves docs untouched") {
    val corpus = Tables.documents(spark, TestSpark.Sf0001).filter(col("doc_id") < 200)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sgnoop_").toString
    val idx = s"$tmp/idx"
    Dedup.writeSimHashIndex(corpus, idx, maxHamming = 6, comboSize = 2, sigBuckets = 256)
    val fs = graft.core.SegmentLog.fs(spark, tmp)
    // a stale fold marker with segs/ gone is a hazard (it would HIDE a
    // future segment reusing the name) — the no-op path must sweep it
    graft.core.SegmentLog.writeAtomic(fs,
      new org.apache.hadoop.fs.Path(s"$idx/_folded/stale_marker"), "batch_00000\n")
    def tree(dir: String): Set[(String, Long, Long)] =
      graft.core.SegmentLog.listFiles(fs, new org.apache.hadoop.fs.Path(s"$idx/$dir"))
        .map { p =>
          val s = fs.getFileStatus(p); (p.getName, s.getLen, s.getModificationTime)
        }.toSet
    val docsBefore = tree("docs")
    Dedup.compactDocIndex(spark, idx)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_folded")),
      "the no-op path sweeps stale fold markers")
    assert(tree("docs") == docsBefore,
      "a healthy store's docs tree is NOT rewritten when there is nothing to fold")
  }

  /** The CURRENT base band root of an index: the `_BANDS` pointer's target
    * when present (a re-bucket published a generation dir and flipped the
    * pointer), else the legacy `bands/`. */
  private def bandRootPath(idx: String): String = {
    val ptr = new java.io.File(s"$idx/_BANDS")
    val rel =
      if (!ptr.exists()) "bands"
      else new String(java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8").trim
    s"$idx/$rel"
  }

  /** The `_BUCKETS` marker riding inside the current base band root (the
    * tree's operative partition count, published atomically with its
    * rows). */
  private def treeBuckets(idx: String): Option[Int] = {
    val f = new java.io.File(s"${bandRootPath(idx)}/_BUCKETS")
    if (!f.exists()) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toInt)
  }

  test("auto layout: flat below the crossover, bucketed above; explicit values honored; probes agree") {
    import spark.implicits._
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("graft_autobkt_").toString

    // default SimHash build over a tiny corpus: AUTO-FLAT — below the
    // measured ~5M-band-row crossover the flat scan wins, so auto builds
    // no band tree and records the auto intent (meta = AutoBuckets) for
    // compaction-time promotion
    Dedup.writeSimHashIndex(corpus, s"$tmp/sauto")
    val sMeta = spark.read.parquet(s"$tmp/sauto/meta").head()
    assert(sMeta.getAs[Int]("sig_buckets") == Dedup.AutoBuckets,
      "a tiny corpus resolves auto to FLAT, recorded as the AutoBuckets marker")
    assert(!new java.io.File(s"$tmp/sauto/bands").exists(),
      "no band tree below the crossover")
    // default MinHash build: same posture, meta column band_buckets
    Dedup.writeMinHashIndex(corpus, s"$tmp/mauto", shingleN = 3, numHashes = 64, bands = 16)
    assert(spark.read.parquet(s"$tmp/mauto/meta").head()
      .getAs[Int]("band_buckets") == Dedup.AutoBuckets)
    assert(!new java.io.File(s"$tmp/mauto/bands").exists())
    // explicit flat: no band tree AND no promotion marker
    Dedup.writeSimHashIndex(corpus, s"$tmp/sflat", sigBuckets = 0)
    assert(!new java.io.File(s"$tmp/sflat/bands").exists(), "sigBuckets = 0 keeps the flat layout")
    // explicit positive count: honored verbatim even below the crossover
    // (128: a one-doc probe hits <= 28 buckets, 28*3 <= 128, so the
    // equality check below exercises the PRUNED path too)
    Dedup.writeSimHashIndex(corpus, s"$tmp/sbkt", sigBuckets = 128)
    assert(treeBuckets(s"$tmp/sbkt").contains(128),
      "an explicit bucket count is honored verbatim")

    // a corpus whose band rows land ABOVE the crossover buckets directly
    // at build time (200k sigs x 28 combos = 5.6M band rows; the fixture
    // pins the crossover at 5M via the tuning property so the suite does
    // not pay a >1M-signature build)
    sys.props("graft.crossover.sig") = "5000000"
    try {
      val bigSigs = spark.range(0, 200000)
        .select(col("id").as("doc_id"), (col("id") * 2654435761L).as("sh"))
      Dedup.writeSignatureIndex(bigSigs, s"$tmp/big", maxHamming = 6, comboSize = 2)
      val bigMeta = spark.read.parquet(s"$tmp/big/meta").head()
      assert(bigMeta.getAs[Int]("sig_buckets") == 200000 * 28 / 4096,
        s"above the crossover auto buckets at the constant-per-bucket P (saw $bigMeta)")
      assert(treeBuckets(s"$tmp/big") == Some(200000 * 28 / 4096))
    } finally sys.props.remove("graft.crossover.sig")

    // auto-flat, explicit-flat and explicit-bucketed stores all probe
    // identically (a ONE-DOC batch, so the bucketed store rides its
    // pruned path)
    def tri(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val one = simSign(corpus.filter(col("doc_id") === 7)
      .withColumn("doc_id", col("doc_id") + 30000)).localCheckpoint()
    val auto = tri(Dedup.signatureMicroIncremental(one, s"$tmp/sauto", maxHamming = 6))
    assert(auto == tri(Dedup.signatureMicroIncremental(one, s"$tmp/sflat", maxHamming = 6)),
      "auto-flat probe must equal the explicit-flat probe")
    assert(auto == tri(Dedup.signatureMicroIncremental(one, s"$tmp/sbkt", maxHamming = 6)),
      "bucketed probe must equal the flat probe")
    assert(auto.exists(p => p._1 == 7L), "the planted twin must surface")
    graft.core.Stage.free(one)
  }

  test("compactDocIndex PROMOTES an auto-flat store that grew past the crossover; probes stay exact") {
    import spark.implicits._
    sys.props("graft.crossover.sig") = "5000000" // fixture-sized crossover
    try {
    val tmp = java.nio.file.Files.createTempDirectory("graft_promote_").toString
    val idx = s"$tmp/idx"
    // 150k sigs x 28 combos = 4.2M band rows: below the crossover -> auto-flat
    def synth(from: Long, until: Long) = spark.range(from, until)
      .select(col("id").as("doc_id"), (col("id") * 2654435761L).as("sh"))
    Dedup.writeSignatureIndex(synth(0, 150000), idx, maxHamming = 6, comboSize = 2)
    assert(spark.read.parquet(s"$idx/meta").head().getAs[Int]("sig_buckets")
      == Dedup.AutoBuckets)
    assert(!new java.io.File(s"$idx/bands").exists())

    val twin = Seq((900042L, 42L * 2654435761L)).toDF("doc_id", "sh").localCheckpoint()
    def probe() = Dedup.signatureMicroIncremental(twin, idx, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    assert(before.contains((42L, 900042L)), "the planted twin pairs while flat")

    // growth: direct appends carry the store past the crossover (flat
    // stores append docs only — no band rows exist to maintain)
    Dedup.appendToSignatureIndex(synth(150000, 200000), idx)
    assert(!new java.io.File(s"$idx/bands").exists(),
      "appends to an auto-flat store never create a band tree")
    // 200k x 28 = 5.6M band rows >= the crossover: compaction promotes
    Dedup.compactDocIndex(spark, idx)
    val p = 200000 * 28 / 4096
    assert(treeBuckets(idx) == Some(p),
      s"compaction promotes the outgrown auto-flat store to P=$p (saw ${treeBuckets(idx)})")
    assert(spark.read.parquet(s"$idx/meta").head().getAs[Int]("sig_buckets") == p,
      "meta records the promoted P")
    assert(probe() == before, "the probe is exact across the promotion")
    // appends now land band rows at the promoted P
    Dedup.appendToSignatureIndex(Seq((950000L, 777L)).toDF("doc_id", "sh"), idx)
    val appended = spark.read.parquet(bandRootPath(idx))
      .filter(col("doc") === 950000L).select("band", "bucket").collect()
    assert(appended.nonEmpty &&
      appended.forall(r => ((r.getLong(0) % p) + p) % p == r.getInt(1)),
      "post-promotion appends bucket at the promoted P")
    // idempotence: a second compaction with nothing outgrown is a no-op
    Dedup.compactDocIndex(spark, idx)
    assert(treeBuckets(idx) == Some(p))
    graft.core.Stage.free(twin)
    } finally sys.props.remove("graft.crossover.sig")
  }

  test("fold-cycle ONLINE promotion (signature): twin-less flat-era segments stay probe-visible; crash re-promotes") {
    import spark.implicits._
    sys.props("graft.crossover.sig") = "5000000" // fixture-sized crossover
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft_promo_online_").toString
      val idx = s"$tmp/idx"
      def synth(from: Long, until: Long) = spark.range(from, until)
        .select(col("id").as("doc_id"), (col("id") * 2654435761L).as("sh"))
      // seed AUTO-FLAT: 100k sigs x 28 combos = 2.8M band rows < 5M
      Dedup.writeSignatureIndex(synth(0, 100000), idx, maxHamming = 6, comboSize = 2)
      assert(spark.read.parquet(s"$idx/meta").head().getAs[Int]("sig_buckets")
        == Dedup.AutoBuckets)
      assert(treeBuckets(idx).isEmpty, "no band tree below the crossover")

      // ONE flat-era streaming segment carries the store past the line
      // (100,001 more rows -> 200,001 x 28 = 5.6M >= 5M), with a planted
      // twin of doc 42 RESIDENT IN THE SEGMENT — the doc a bucketed probe
      // would silently lose if twin-less segments were skipped
      val segSh = 424242L * 2654435761L
      Dedup.writeSignatureSegment(
        synth(100000, 200000).unionByName(Seq((500000L, segSh)).toDF("doc_id", "sh")),
        idx, "batch_1")
      assert(!new java.io.File(s"$idx/bandsegs/batch_1").exists(),
        "a flat-era segment has no band twin")
      def pairs(id: Long, sh: Long) = Dedup.signatureMicroIncremental(
          Seq((id, sh)).toDF("doc_id", "sh"), idx, maxHamming = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs(910000L, segSh).contains((500000L, 910000L)),
        "the flat probe sees the segment twin before promotion")

      // the fold cycle PROMOTES ONLINE: live.size == 1 so nothing folds —
      // this pins the exact mid-promotion state (bucketed view + a live
      // twin-less flat-era segment) every probe must survive
      Dedup.foldDocSegments(spark, idx, gc = false)
      val p = (200001L * 28 / 4096).toInt
      assert(treeBuckets(idx).contains(p),
        s"promotion sizes P off docs + LIVE segment rows (saw ${treeBuckets(idx)})")
      assert(spark.read.parquet(s"$idx/meta").head().getAs[Int]("sig_buckets")
        == Dedup.AutoBuckets, "ONLINE promotion never rewrites meta")
      assert(!new java.io.File(s"$idx/bandsegs/batch_1").exists(),
        "the flat-era segment stays twin-less until a fold retires it")
      assert(pairs(920000L, 42L * 2654435761L).contains((42L, 920000L)),
        "base docs pair via the pruned tree")
      assert(pairs(910000L, segSh).contains((500000L, 910000L)),
        "the twin-less flat-era segment is flat-scanned, never dropped")

      // idempotence: another cycle publishes no second generation
      Dedup.foldDocSegments(spark, idx, gc = false)
      val gens = new java.io.File(idx).listFiles()
        .map(_.getName).filter(_.startsWith("bands_v")).toSeq
      assert(gens == Seq("bands_v1"), s"promotion must fire once: $gens")

      // post-promotion segments carry twins at the marker P, and the next
      // fold (live.size == 2) retires the flat-era segment into a BANDED
      // compact twin derived from its doc rows
      Dedup.writeSignatureSegment(synth(300000, 300001), idx, "batch_2")
      assert(new java.io.File(s"$idx/bandsegs/batch_2/_BUCKETS").exists())
      Dedup.foldDocSegments(spark, idx, gc = false)
      val compacts = new java.io.File(s"$idx/segs").listFiles()
        .map(_.getName).filter(_.startsWith("compact_")).toSeq
      assert(compacts.length == 1)
      assert(new java.io.File(s"$idx/bandsegs/${compacts.head}/_BUCKETS").exists(),
        "the compact twin is banded at the operative P")
      assert(pairs(910000L, segSh).contains((500000L, 910000L)),
        "exact across the retiring fold")
      Dedup.gcDocIndex(spark, idx)
      assert(pairs(910000L, segSh).contains((500000L, 910000L)), "exact after gc")

      // crash before the pointer flip: with no `_BANDS` pointer the store
      // probes FLAT over docs + segments (exact), and the next fold cycle
      // re-promotes idempotently into a fresh generation
      assert(new java.io.File(s"$idx/_BANDS").delete())
      assert(pairs(910000L, segSh).contains((500000L, 910000L)),
        "a pointer-less store falls back flat, exact")
      Dedup.foldDocSegments(spark, idx, gc = false)
      assert(new java.io.File(s"$idx/_BANDS").exists(), "the next cycle re-promotes")
      assert(treeBuckets(idx).contains(p))
      assert(pairs(910000L, segSh).contains((500000L, 910000L)),
        "exact after the re-promotion")
    } finally sys.props.remove("graft.crossover.sig")
  }

  test("fold-cycle ONLINE promotion (MinHash): marker over AutoBuckets meta; twin-less segment flat-scanned; compaction persists meta") {
    import spark.implicits._
    sys.props("graft.crossover.minhash") = "15000" // fixture-sized crossover
    try {
      val corpus = Tables.documents(spark, TestSpark.Sf0001)
      val tmp = java.nio.file.Files.createTempDirectory("graft_promo_mh_").toString
      val idx = s"$tmp/idx"
      // seed AUTO-FLAT below the pinned crossover (docs x 16 bands < 15000)
      Dedup.writeMinHashIndex(corpus, idx, shingleN = 3, numHashes = 64, bands = 16)
      assert(spark.read.parquet(s"$idx/meta").head()
        .getAs[Int]("band_buckets") == Dedup.AutoBuckets)
      assert(treeBuckets(idx).isEmpty)

      // one flat-era segment (the corpus re-keyed) doubles the store past
      // the crossover; doc 10007 is a segment-resident twin of base doc 7
      val seg = Dedup.minHashBatchSigs(
        corpus.withColumn("doc_id", col("doc_id") + 10000), idx).localCheckpoint()
      Dedup.writeMinHashSegment(seg, idx, "batch_1")
      graft.core.Stage.free(seg)
      assert(!new java.io.File(s"$idx/bandsegs/batch_1").exists(),
        "a flat-era MinHash segment has no band twin")

      def probe7(newId: Long): Set[(Long, Long)] = {
        val sigs = Dedup.minHashBatchSigs(
          corpus.filter(col("doc_id") === 7).withColumn("doc_id", lit(newId)),
          idx).localCheckpoint()
        val cands = Dedup.minHashMicroCandidates(sigs, idx).localCheckpoint()
        val out = Dedup.minHashMicroVerify(cands, sigs, idx, threshold = 0.5)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        graft.core.Stage.free(cands); graft.core.Stage.free(sigs)
        out
      }
      assert(probe7(90001L) == Set((7L, 90001L), (10007L, 90001L)),
        "flat probe pairs the base doc and the segment doc")

      // fold cycle: ONLINE promotion (live.size == 1, nothing folds) —
      // the marker over the untouched AutoBuckets meta is what
      // effectiveBandBuckets must now honor
      Dedup.foldDocSegments(spark, idx, gc = false)
      assert(treeBuckets(idx).contains(64),
        s"promoted at the auto floor P=64 (saw ${treeBuckets(idx)})")
      assert(spark.read.parquet(s"$idx/meta").head()
        .getAs[Int]("band_buckets") == Dedup.AutoBuckets,
        "online promotion never rewrites meta")
      assert(probe7(90002L) == Set((7L, 90002L), (10007L, 90002L)),
        "bucketed probe: base doc via the tree, segment doc via the " +
          "twin-less flat scan — neither may vanish")

      // stop-the-world compaction persists the online promotion into meta
      Dedup.compactDocIndex(spark, idx)
      assert(spark.read.parquet(s"$idx/meta").head()
        .getAs[Int]("band_buckets") > 0, "compaction persists the operative P")
      assert(probe7(90003L) == Set((7L, 90003L), (10007L, 90003L)),
        "exact after compaction")
    } finally sys.props.remove("graft.crossover.minhash")
  }

  test("beside-live heal GROWS an outgrown P: mixed-P live segments keep exact recall") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_healp_").toString
    val idx = s"$tmp/idx"
    // 100k sigs at explicit P=256 — OUTGROWN (auto size 683 >= 2*256). The
    // beside-live reconcile now RE-BUCKETS (a new generation behind the
    // `_BANDS` pointer) because live segments prune at their OWN marker P;
    // P=256 keeps a one-doc probe on the PRUNED path (28 hit buckets * 3
    // <= 256), the path a mis-filtered segment root would silently break.
    def synth(from: Long, until: Long) = spark.range(from, until)
      .select(col("id").as("doc_id"), (col("id") * 2654435761L).as("sh"))
    Dedup.writeSignatureIndex(synth(0, 100000), idx, maxHamming = 6, comboSize = 2,
      sigBuckets = 256)
    // a LIVE streaming segment: its band rows are computed at P=256,
    // recorded in its own `_BUCKETS` marker
    val segSh = 424242L * 2654435761L
    Dedup.writeSignatureSegment(
      Seq((500000L, segSh)).toDF("doc_id", "sh"), idx, "batch_00007")
    assert(new java.io.File(s"$idx/bandsegs/batch_00007/_BUCKETS").exists(),
      "a committed segment's band twin carries its write-time P")
    // orphan: appendToSignatureIndex's crash window (docs landed, bands not)
    Seq((600000L, 999999L * 7919L)).toDF("doc_id", "sh")
      .write.mode("append").parquet(s"$idx/docs")
    assert(Dedup.docIndexStats(spark, idx)("graft.docindex.orphan-docs") == "1")

    assert(Dedup.reconcileBandOrphans(spark, idx, heal = true) == 1L)
    assert(treeBuckets(idx).contains(683),
      "the beside-live heal grows the outgrown store: 100002 docs x 28 / " +
        s"4096 = 683 (saw ${treeBuckets(idx)})")
    assert(bandRootPath(idx).endsWith("bands_v1"),
      "growth publishes a generation behind the pointer, never an in-place swap")
    assert(new java.io.File(s"$idx/bands").exists(),
      "the superseded root outlives the flip until readers drain")
    def pairs(id: Long, sh: Long) = Dedup.signatureMicroIncremental(
        Seq((id, sh)).toDF("doc_id", "sh"), idx, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the live segment's twin still pairs through the MIXED-P store: the
    // base root prunes at 683, the segment root at its marker's 256 —
    // the exact recall a single-P hit-bucket filter would silently lose
    assert(pairs(910000L, segSh).contains((500000L, 910000L)),
      "the live segment's doc must stay probe-visible across the grow")
    // and the healed orphan pairs too (via the new generation)
    assert(pairs(920000L, 999999L * 7919L).contains((600000L, 920000L)),
      "the healed orphan's band rows are restored")
    // GC is the drain-safe slot: the superseded root sweeps there
    Dedup.gcDocIndex(spark, idx)
    assert(!new java.io.File(s"$idx/bands").exists(),
      "gc sweeps the superseded band root after readers drain")
    assert(pairs(910000L, segSh).contains((500000L, 910000L)) &&
      pairs(930000L, 42L * 2654435761L).contains((42L, 930000L)),
      "probes stay exact after the sweep")
    // idempotence: compaction over the already-grown store keeps P
    Dedup.compactDocIndex(spark, idx)
    assert(treeBuckets(idx).contains(683),
      s"nothing left to grow at compaction (saw ${treeBuckets(idx)})")
  }

  test("growth is HELD BACK while a live segment lacks a P marker (pre-marker stores)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_heallegacy_").toString
    val idx = s"$tmp/idx"
    def synth(from: Long, until: Long) = spark.range(from, until)
      .select(col("id").as("doc_id"), (col("id") * 2654435761L).as("sh"))
    Dedup.writeSignatureIndex(synth(0, 100000), idx, maxHamming = 6, comboSize = 2,
      sigBuckets = 256)
    val segSh = 424242L * 2654435761L
    Dedup.writeSignatureSegment(
      Seq((500000L, segSh)).toDF("doc_id", "sh"), idx, "batch_00007")
    // simulate a segment written by pre-marker code: its band rows were
    // bucketed at SOME past P nothing recorded — a moved P would silently
    // mis-prune them, so growth must wait until a fold retires the segment
    assert(new java.io.File(s"$idx/bandsegs/batch_00007/_BUCKETS").delete())
    Dedup.reconcileBandOrphans(spark, idx, heal = true)
    assert(treeBuckets(idx).contains(256),
      s"growth is pinned while a marker-less live segment exists (saw ${treeBuckets(idx)})")
    def pairs(id: Long, sh: Long) = Dedup.signatureMicroIncremental(
        Seq((id, sh)).toDF("doc_id", "sh"), idx, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(910000L, segSh).contains((500000L, 910000L)),
      "the legacy segment reads at the (unchanged) base P")
    // the fold retires the legacy segment into a MARKED compact twin, so
    // the SAME reconcile that rides it can now grow
    Dedup.writeSignatureSegment(
      Seq((500001L, 31337L * 2654435761L)).toDF("doc_id", "sh"), idx, "batch_00008")
    Dedup.foldDocSegments(spark, idx) // fold -> marked compact twin -> reconcile grows
    assert(treeBuckets(idx).contains(683),
      s"once all live twins carry markers the fold cycle grows P (saw ${treeBuckets(idx)})")
    assert(pairs(910000L, segSh).contains((500000L, 910000L)) &&
      pairs(911000L, 31337L * 2654435761L).contains((500001L, 911000L)),
      "folded segment docs keep pairing across the growth")
  }

  test("compactDocIndex re-buckets a store that outgrew its P; meta stays frozen, probes stay exact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_rebkt_").toString
    val idx = s"$tmp/idx"
    // 20k synthetic signatures at P=64: auto size is 20_000 * 28 / 4096 =
    // 136 >= 2 * 64, so the store has OUTGROWN its layout
    val sigs = spark.range(0, 20000)
      .select(col("id").as("doc_id"), (col("id") * 2654435761L).as("sh"))
    Dedup.writeSignatureIndex(sigs, idx, maxHamming = 6, comboSize = 2, sigBuckets = 64)
    assert(treeBuckets(idx).contains(64))
    // plant a twin of doc 42 and pin the pre-re-bucket probe result
    val twin = Seq((90042L, 42L * 2654435761L)).toDF("doc_id", "sh").localCheckpoint()
    def probe() = Dedup.signatureMicroIncremental(twin, idx, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    assert(before.contains((42L, 90042L)), "the planted twin pairs before re-bucketing")

    Dedup.compactDocIndex(spark, idx) // nothing to fold — pure layout catch-up
    assert(treeBuckets(idx).contains(136),
      s"compaction re-buckets the outgrown store (saw ${treeBuckets(idx)})")
    assert(spark.read.parquet(s"$idx/meta").head().getAs[Int]("sig_buckets") == 64,
      "meta keeps the build-time value — the tree marker is the operative one")
    assert(probe() == before, "the probe is exact across the re-bucket")
    // appends and segments land at the NEW P (heal-then-read): their bucket
    // column must agree with the re-bucketed tree's partitioning
    Dedup.appendToSignatureIndex(
      Seq((95000L, 777L)).toDF("doc_id", "sh"), idx)
    val appended = spark.read.parquet(bandRootPath(idx))
      .filter(col("doc") === 95000L).select("band", "bucket").collect()
    assert(appended.nonEmpty &&
      appended.forall(r => ((r.getLong(0) % 136) + 136) % 136 == r.getInt(1)),
      "direct appends bucket at the re-bucketed P")
    // idempotence: a second compaction with nothing outgrown is a no-op
    Dedup.compactDocIndex(spark, idx)
    assert(treeBuckets(idx).contains(136))
  }

  test("a direct append into a thin base band root keeps every base row probe-visible") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_thin_").toString
    val idx = s"$tmp/idx"
    // 100 signatures at P = 8, 3 band rows each: compaction grows the base
    // root to the auto P (64 >= 2 x 8) at 300 / 64 band rows per bucket,
    // under the thin-root floor — one file sorted by bucket
    val sigs = spark.range(0, 100)
      .select(col("id").as("doc_id"), (col("id") * 2654435761L).as("sh"))
    Dedup.writeSignatureIndex(sigs, idx, maxHamming = 2, comboSize = 1, sigBuckets = 8)
    Dedup.compactDocIndex(spark, idx)
    assert(treeBuckets(idx).contains(64))
    def bucketDirs = new java.io.File(bandRootPath(idx)).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(bucketDirs == 0, "the grown base root is thin")
    Dedup.appendToSignatureIndex(Seq((95000L, 777L)).toDF("doc_id", "sh"), idx)
    assert(bucketDirs == 0, "the append keeps the root's layout")
    // twins of a base doc and of the appended doc: 6 band rows hit at most
    // 6 of the 64 buckets, so the probe reads the root pruned
    val twins = Seq((90042L, 42L * 2654435761L), (95001L, 777L)).toDF("doc_id", "sh").localCheckpoint()
    val pairs = Dedup.signatureMicroIncremental(twins, idx, maxHamming = 2, comboSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((42L, 90042L)) && pairs.contains((95000L, 95001L)), s"pairs: $pairs")
    graft.core.Stage.free(twins)
  }

  test("empty-corpus bucketed store: fold-cycle reconcile, compaction, and stats all no-op cleanly") {
    // the streaming-ingest STARTING STATE: an index built over limit(0) —
    // its bands/ tree has no part files (a partitionBy write of zero rows
    // leaves just _SUCCESS), which the footer-count reconcile must treat
    // as zero rows, not an unreadable tree (the soak-probe regression)
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("graft_emptybkt_").toString
    val idx = s"$tmp/idx"
    Dedup.writeMinHashIndex(corpus.limit(0), idx, shingleN = 3, numHashes = 64, bands = 16,
      bandBuckets = 16384)
    assert(Dedup.reconcileBandOrphans(spark, idx) == 0L)
    Dedup.foldDocSegments(spark, idx) // the fold cycle runs the reconcile
    Dedup.compactDocIndex(spark, idx)
    val stats = Dedup.docIndexStats(spark, idx)
    assert(stats("graft.docindex.docs") == "0" && stats("graft.docindex.orphan-docs") == "0",
      s"empty store stats: $stats")
    // and the store still works: a segment lands, the probe finds twins
    val seg = Dedup.minHashBatchSigs(corpus.filter(col("doc_id") === 7), idx).localCheckpoint()
    Dedup.writeMinHashSegment(seg, idx, "batch_00000")
    graft.core.Stage.free(seg)
    val twin = Dedup.minHashBatchSigs(
      corpus.filter(col("doc_id") === 7).withColumn("doc_id", col("doc_id") + 5000),
      idx).localCheckpoint()
    val cands = Dedup.minHashMicroCandidates(twin, idx).localCheckpoint()
    val pairs = Dedup.minHashMicroVerify(cands, twin, idx, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((7L, 5007L)), s"segment twin must pair on the empty-base store: $pairs")
    graft.core.Stage.free(cands); graft.core.Stage.free(twin)
  }

  test("orphaned docs from a crashed append are reported, and the fold cycle heals them") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_orph_").toString
    val idx = s"$tmp/idx"
    val corpus = Tables.documents(spark, TestSpark.Sf0001).filter(col("doc_id") < 200)
    // explicit buckets: the fail-open window under test is a BUCKETED-store
    // phenomenon (auto resolves a corpus this small to flat)
    Dedup.writeSimHashIndex(corpus, idx, sigBuckets = 256)
    assert(Dedup.docIndexStats(spark, idx)("graft.docindex.orphan-docs") == "0")

    // simulate appendToSignatureIndex dying between the docs append and the
    // band append: doc rows land, band rows never do (the fail-open window)
    val t7 = corpus.filter(col("doc_id") === 7).select("text").head().getString(0)
    val orphanSigs = simSign(Seq((60007L, t7)).toDF("doc_id", "text")).localCheckpoint()
    orphanSigs.write.mode("append").parquet(s"$idx/docs")

    val stats = Dedup.docIndexStats(spark, idx)
    assert(stats("graft.docindex.orphan-docs") == "1",
      s"the footer-count reconcile must surface the orphan: $stats")
    // the window FAILS OPEN: a twin of the orphan is admitted (no pair)
    // by the bucketed probe — exactly what the reconcile exists to bound
    val twin = simSign(Seq((70007L, t7)).toDF("doc_id", "text")).localCheckpoint()
    def pairs() = Dedup.signatureMicroIncremental(twin, idx, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs().contains((60007L, 70007L)),
      "before the heal, the orphan's band rows are missing (fail-open)")

    // the fold cycle heals it — no stop-the-world compaction needed
    Dedup.foldDocSegments(spark, idx)
    assert(Dedup.docIndexStats(spark, idx)("graft.docindex.orphan-docs") == "0",
      "the fold cycle's reconcile rebuilds the band tree")
    assert(pairs().contains((60007L, 70007L)),
      "after the heal, the orphan doc pairs like any stored doc")
    assert(pairs().contains((7L, 70007L)), "the base corpus still pairs")
    graft.core.Stage.free(twin); graft.core.Stage.free(orphanSigs)
  }
}
