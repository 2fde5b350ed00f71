package graft.queries

import graft.functions.{Aggregators, TextOps}
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.core.{Parquet, Stage, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The LLM-data-pipeline + UDF surface (SURVEY.md §2.2 Q26–Q29, plus the
  * multimodal plumbing): dedup (exact / n-gram Jaccard / MinHash-LSH /
  * SimHash), embedding similarity search, text analysis, custom
  * UDF/UDAF/UDTF, binary-column feature extraction.
  *
  * Oracle policy: everything deterministic and SQL-expressible gets a DuckDB
  * oracle; sketch/LSH operators (recall < 1 by design) are verified in
  * ScalaTest against their exact counterparts instead (recall assertions),
  * and appear here as rows-only entries.
  */
object PipelineQueries {
  import QueryDef._

  /** DuckDB fragment mirroring [[graft.functions.Tokenizer.FixtureVocab]]
    * verbatim — the BPE oracle's vocab table. No margin chars: these
    * fragments interpolate into stripMargin'd oracle strings, whose
    * stripMargin leaves margin-less lines untouched. */
  private val BpeVocabSql: String =
    "vocab(piece) AS (\n" +
    "  SELECT * FROM (VALUES ('the'),('th'),('ing'),('ion'),('tion'),('ent'),('ed'),('er'),('re'),('an'),\n" +
    "                        ('or'),('at'),('en'),('es'),('st'),('ar'),('te'),('nd'),('on'),('data')) v(piece))"

  /** The DSIR oracle's weight-model CTE chain (hashed-bigram buckets ->
    * per-doc (n_grams, log_weight) in `agg`; expects `png` from
    * `XxSql.posNgramCtes(2)` upstream) — ONE definition shared by q29t and
    * q29t2 so a model-formula fix can never update one twin and miss the
    * other. Margin-less like [[BpeVocabSql]]. */
  private val DsirWeightCtes: String =
    "bkt AS MATERIALIZED (\n" +
    "  SELECT did, ((gram % 10007) + 10007) % 10007 AS b FROM png),\n" +
    "tcnt AS (\n" +
    "  SELECT b, CAST(count(*) AS DOUBLE) AS ct FROM bkt\n" +
    "  WHERE did IN (SELECT doc_id FROM documents\n" +
    "                WHERE source IN ('src0','src1','src2','src3'))\n" +
    "  GROUP BY b),\n" +
    "rcnt AS (SELECT b, CAST(count(*) AS DOUBLE) AS cr FROM bkt GROUP BY b),\n" +
    "tot AS (\n" +
    "  SELECT (SELECT coalesce(sum(ct), 0) FROM tcnt) + 10007.0 AS dt,\n" +
    "         (SELECT coalesce(sum(cr), 0) FROM rcnt) + 10007.0 AS dr),\n" +
    "lr AS (\n" +
    "  SELECT r.b,\n" +
    "         ln((coalesce(t.ct, 0) + 1.0) / (SELECT dt FROM tot)) -\n" +
    "         ln((r.cr + 1.0) / (SELECT dr FROM tot)) AS lr\n" +
    "  FROM rcnt r LEFT JOIN tcnt t ON t.b = r.b),\n" +
    "sc AS (\n" +
    "  SELECT bkt.did,\n" +
    "         coalesce(l.lr, ln(1.0 / (SELECT dt FROM tot)) -\n" +
    "                        ln(1.0 / (SELECT dr FROM tot))) AS sc\n" +
    "  FROM bkt LEFT JOIN lr l ON l.b = bkt.b),\n" +
    "agg AS (\n" +
    "  SELECT did, CAST(count(*) AS BIGINT) AS n_grams,\n" +
    "         round(CAST(sum(CAST(sc AS DECIMAL(30,10))) AS DOUBLE), 4) AS log_weight\n" +
    "  FROM sc GROUP BY did)"

  /** q32b's built-index cache, keyed by (sf dir, corpus fingerprint): bench
    * reps probe ONE warm index instead of re-paying construction per rep
    * (construction has its own tracked row, q32b2). The fingerprint (file
    * names + lengths + mtimes of the documents table — driver-side FS
    * metadata, no data read) invalidates the cache if a harness
    * regenerates a dir's documents table within one JVM — without it q32b
    * would silently probe the stale index while the oracle reads the
    * fresh table. */
  private val builtTextIdx = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The documents table's FS-metadata fingerprint (file names + lengths +
    * mtimes — driver-side listing, no data read), the cache-invalidation
    * key shared by the q32b index cache and the media-fixture cache: if a
    * harness regenerates a dir's documents table within one JVM, the key
    * moves and the stale cache entry is never read. The FULL metadata
    * string rides the key (a 32-bit hashCode could collide and silently
    * serve stale fixtures). */
  private def docsFingerprint(s: SparkSession, dir: String): String = {
    val docsPath = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = docsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(docsPath)) "absent"
    else {
      val st = fs.getFileStatus(docsPath)
      if (st.isDirectory)
        fs.listStatus(docsPath).map(f =>
          s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}").sorted.mkString(",")
      else s"${st.getLen}:${st.getModificationTime}"
    }
  }

  /** Media-fixture corpus cache, keyed by (sf dir, fixture kind, documents
    * fingerprint): the q30 family's inputs are deterministic synthesized
    * container bytes whose ENCODE cost (per-frame JPEG encode for the
    * video corpora) dominates the tracked rows — so the corpus
    * materializes to parquet ONCE per JVM and every rep/query re-READS it,
    * which is also the honest deployment shape (media bytes come from
    * storage, not a generator riding the query plan). Results are
    * unchanged: synthesis is deterministic in (doc_id, seed), so the
    * materialized corpus is byte-identical to the inline one
    * (MultimodalSpec pins the generators; q30f's oracle rides this cache). */
  private val builtMediaFixture = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** q27l's span catalog, same once-per-(JVM, sf dir) discipline. */
  private val builtSpanCatalog = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachedPayloads(s: SparkSession, dir: String, kind: String)
      (build: => DataFrame): DataFrame = {
    val path = builtMediaFixture.computeIfAbsent(
      s"$dir#$kind#${docsFingerprint(s, dir)}", _ => {
        val p = QueryDef.tempDirForResult(s"graft_media_${kind}_").toString
        build.write.mode("overwrite").parquet(p)
        p
      })
    Parquet.read(s, path)
  }

  /** The BM25 oracle's CTE chain (query terms -> per-(query, doc) rounded
    * scores in `agg`) — ONE definition shared by q32, q32b, and q32c so a
    * formula fix can never update one twin and miss another (the same
    * single-definition discipline as the engine-side `scoreAndRank`).
    * Margin-less like [[BpeVocabSql]]. */
  private val Bm25AggCtes: String =
    "q(query_id, term) AS (VALUES\n" +
    "  (CAST(1 AS BIGINT), 'dup'), (1, 'scan'),\n" +
    "  (2, 'spark'), (2, 'query'), (2, 'merge'),\n" +
    "  (3, 'zebra')),\n" +
    "t AS (\n" +
    "  SELECT doc_id,\n" +
    "         string_split(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')), ' ') AS toks\n" +
    "  FROM documents),\n" +
    "stats AS (\n" +
    "  SELECT CAST(count(*) AS DOUBLE) AS n,\n" +
    "         CAST(sum(len(toks)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl\n" +
    "  FROM t),\n" +
    "tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM t),\n" +
    "tf AS (\n" +
    "  SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf,\n" +
    "         CAST(max(dl) AS DOUBLE) AS dl\n" +
    "  FROM tok WHERE tok IN (SELECT term FROM q) GROUP BY doc_id, tok),\n" +
    "idf AS (\n" +
    "  SELECT tok,\n" +
    "         ln(((SELECT n FROM stats) - df + 0.5) / (df + 0.5) + 1.0) AS idf\n" +
    "  FROM (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok)),\n" +
    "sc AS (\n" +
    "  SELECT q.query_id, tf.doc_id,\n" +
    "         idf.idf * (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0)) /\n" +
    "         (tf.tf + CAST(1.2 AS DOUBLE) *\n" +
    "          ((1.0 - 0.75) + 0.75 * tf.dl / (SELECT avgdl FROM stats))) AS c\n" +
    "  FROM tf JOIN q ON q.term = tf.tok JOIN idf ON idf.tok = tf.tok),\n" +
    "agg AS (\n" +
    "  SELECT query_id, doc_id,\n" +
    "         round(CAST(sum(CAST(c AS DECIMAL(30,10))) AS DOUBLE), 4) AS score\n" +
    "  FROM sc GROUP BY query_id, doc_id)"

  /** DuckDB fragment: the greedy longest-match cursor walk as a recursive
    * CTE — per word, advance by the longest vocab piece matching at the
    * cursor (else one char), counting steps. Terminal rows (pos past the
    * word) carry each word's token count. An independent second
    * implementation of the [[graft.plans.BpeTokens]] kernel. */
  private val BpeStepsSql: String =
    "wd AS (\n" +
    "  SELECT doc_id, w FROM (\n" +
    "    SELECT doc_id, unnest(string_split(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')), ' ')) AS w\n" +
    "    FROM documents) u WHERE w <> ''),\n" +
    "steps(doc_id, w, pos, ntok) AS (\n" +
    "  SELECT doc_id, w, 1, 0 FROM wd\n" +
    "  UNION ALL\n" +
    "  SELECT doc_id, w,\n" +
    "    pos + coalesce((SELECT max(length(piece)) FROM vocab WHERE piece = substr(w, pos, length(piece))), 1),\n" +
    "    ntok + 1\n" +
    "  FROM steps WHERE pos <= length(w))"

  /** Spark-compatible `xxhash64(<long col>, <long seed literal>)` as DuckDB
    * SQL — the missing "DuckDB twin" that lets the training-order/packing
    * family be oracle-checked instead of rows-only. XXH64 of an 8-byte
    * value is a short fixed arithmetic formula (public xxHash spec; Spark
    * chains it per column starting from seed 42), so it is expressible
    * exactly with unsigned-64 modular arithmetic over HUGEINT
    * intermediates: multiply splits into 32-bit halves (every partial
    * product < 2^64, sums < 2^65 — well inside HUGEINT), rotate/shift are
    * divmod by powers of two, and xor round-trips through signed BIGINT
    * (DuckDB's xor). Emitted as a CTE CHAIN — one step per arithmetic
    * stage — because each fragment repeats its argument; chaining keeps
    * the generated SQL linear in the step count. */
  private object XxSql {
    private val M = BigInt(2).pow(64)
    private val Mask = M - 1
    private val P1 = BigInt("9E3779B185EBCA87", 16)
    private val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
    private val P3 = BigInt("165667B19E3779F9", 16)
    private val P4 = BigInt("85EBCA77C2B2AE63", 16)
    private val P5 = BigInt("27D4EB2F165667C5", 16)
    // branch-free signed<->unsigned maps: the CASE forms repeated their
    // argument (the whole upstream expression tree) twice and forced
    // row-at-a-time CASE evaluation — per-row expression cost is the
    // measured wall of the hash twins (~17 us/row on the old slotv tree),
    // so every node and every argument repetition counts here.
    // u: e + 2^64 mod 2^64 wraps any signed-64 value into [0, 2^64).
    private def u(e: String) =
      s"((CAST(($e) AS HUGEINT) + $M) % $M)"
    // s64: ((e + 2^63) mod 2^64) - 2^63 re-centers [0, 2^64) onto
    // [-2^63, 2^63) — identical to the old conditional subtraction.
    private def s64(e: String) =
      s"(CAST(((($e) + ${BigInt(2).pow(63)}) % $M) - ${BigInt(2).pow(63)} AS BIGINT))"
    private def xor64(a: String, b: String) = u(s"xor(${s64(a)}, ${s64(b)})")
    // 64-bit wrapping multiply via UHUGEINT (DuckDB >= 0.10): the product of
    // two values < 2^64 fits unsigned 128 bits exactly, so one multiply + one
    // mod replaces the former 32-bit limb decomposition — which repeated each
    // operand THREE times, tripling the SQL text per chained stage. The
    // binder/optimizer walk of that text was measured at 23 s of q27c's 58 s
    // (DuckDB profile: Optimizer 15 s + Binder 8 s at sf0.001); identical
    // values, ~3x smaller expression trees.
    private def mul64(a: String, b: String) =
      s"(CAST((CAST(($a) AS UHUGEINT) * CAST(($b) AS UHUGEINT)) % $M AS HUGEINT))"
    private def add64(a: String, b: String) = s"((($a) + ($b)) % $M)"
    private def rotl(e: String, n: Int) = {
      val lo = BigInt(2).pow(64 - n); val hi = BigInt(2).pow(n)
      s"(((($e) % $lo) * $hi) + (($e) // $lo))"
    }
    private def shr(e: String, n: Int) = s"(($e) // ${BigInt(2).pow(n)})"
    // driver-side constant folding for literal operands
    private def mulC(a: BigInt, b: BigInt) = (a * b) & Mask
    private def rotlC(a: BigInt, n: Int) = ((a << n) | (a >> (64 - n))) & Mask
    private def k1C(input: BigInt) = mulC(rotlC(mulC(input, P2), 31), P1)
    private def fmix(p: String, from: Int, idCol: String): Seq[String] = Seq(
      s"$p${from} AS (SELECT $idCol, ${xor64("x", shr("x", 33))} AS x FROM $p${from - 1})",
      s"$p${from + 1} AS (SELECT $idCol, ${mul64("x", P2.toString)} AS x FROM $p$from)",
      s"$p${from + 2} AS (SELECT $idCol, ${xor64("x", shr("x", 29))} AS x FROM $p${from + 1})",
      s"$p${from + 3} AS (SELECT $idCol, ${mul64("x", P3.toString)} AS x FROM $p${from + 2})",
      s"$p${from + 4} AS (SELECT $idCol, ${xor64("x", shr("x", 32))} AS x FROM $p${from + 3})")

    /** CTE definitions computing `h` = Spark `xxhash64(idCol, seed)` for
      * every row of `src(idCol)`: hashLong(idCol, 42) chained into
      * hashLong(seed, ·). Final CTE `<p>h` has columns (idCol, h) with `h`
      * the SIGNED 64-bit result — Spark's value exactly. */
    def hashCtes(p: String, src: String, idCol: String, seed: Long): String = {
      val h0 = (BigInt(42) + P5 + 8) & Mask
      val kSeed = k1C(BigInt(seed) & Mask)
      (Seq(
        s"${p}1 AS (SELECT $idCol, ${mul64(u(idCol), P2.toString)} AS x FROM $src)",
        s"${p}2 AS (SELECT $idCol, ${rotl("x", 31)} AS x FROM ${p}1)",
        s"${p}3 AS (SELECT $idCol, ${mul64("x", P1.toString)} AS x FROM ${p}2)",
        s"${p}4 AS (SELECT $idCol, ${xor64(h0.toString, "x")} AS x FROM ${p}3)",
        s"${p}5 AS (SELECT $idCol, ${rotl("x", 27)} AS x FROM ${p}4)",
        s"${p}6 AS (SELECT $idCol, ${add64(mul64("x", P1.toString), P4.toString)} AS x FROM ${p}5)") ++
        fmix(p, 7, idCol) ++ Seq(
        s"${p}12 AS (SELECT $idCol, ${add64(add64("x", P5.toString), "8")} AS x FROM ${p}11)",
        s"${p}13 AS (SELECT $idCol, ${xor64("x", kSeed.toString)} AS x FROM ${p}12)",
        s"${p}14 AS (SELECT $idCol, ${rotl("x", 27)} AS x FROM ${p}13)",
        s"${p}15 AS (SELECT $idCol, ${add64(mul64("x", P1.toString), P4.toString)} AS x FROM ${p}14)") ++
        fmix(p, 16, idCol) ++ Seq(
        // MATERIALIZED: DuckDB inlines plain CTEs per reference, and a
        // consumer referencing `h` several times (or feeding a join that
        // is itself inlined twice) re-expands the whole 21-stage chain
        // each time — measured as a multi-minute hang on the q29f shape.
        // Materializing the final hash table caps evaluation at one pass.
        s"${p}h AS MATERIALIZED (SELECT $idCol, ${s64("x")} AS h FROM ${p}20)")).mkString(",\n")
    }

    // ---- the STRING variant: Spark xxhash64(<string col>) ----------------
    //
    // XXH64 over the token's UTF-8 bytes (seed 42) — the full public
    // formula including the 32-byte stripe loop, so the twin is exact for
    // ANY input length, not just the short tokens the testdata happens to
    // hold. Bytes come from hex(encode(token)) (substr on a VARCHAR is
    // character-based, so byte access must go through the hex encoding);
    // the stripe/8-byte/1-byte phases are RECURSIVE CTEs stepping a cursor,
    // and every multi-use intermediate is a lateral column alias inside a
    // subquery — the naive nested-helper emission repeats each argument
    // 4-6x per wrapper and the SQL text grows exponentially (the first cut
    // was measured at >100 GB of query text; this form is ~35 KB).

    private def byteAt(i: String) =
      s"(CAST((strpos('0123456789ABCDEF', substr(hx, CAST(2*($i)+1 AS BIGINT), 1)) - 1) * 16 + " +
        s"strpos('0123456789ABCDEF', substr(hx, CAST(2*($i)+2 AS BIGINT), 1)) - 1 AS HUGEINT))"
    private def lane8(i: String) =
      "(" + (0 until 8).map(j => s"${byteAt(s"($i)+$j")} * ${BigInt(2).pow(8 * j)}").mkString(" + ") + ")"
    private def lane4(i: String) =
      "(" + (0 until 4).map(j => s"${byteAt(s"($i)+$j")} * ${BigInt(2).pow(8 * j)}").mkString(" + ") + ")"
    /** k1(src) as chained aliases `<pfx>a, <pfx>b, <pfx>k` (k = the round). */
    private def k1Chain(src: String, pfx: String) =
      s"${mul64(src, P2.toString)} AS ${pfx}a, ${rotl(pfx + "a", 31)} AS ${pfx}b, " +
        s"${mul64(pfx + "b", P1.toString)} AS ${pfx}k"
    /** One stripe lane j: lane load + accumulate into alias `nv<j>`. */
    private def stripeLane(j: Int, v: String) =
      s"${lane8(s"i+${8 * j}")} AS l$j, ${mul64(s"l$j", P2.toString)} AS m$j, " +
        s"${add64(v, s"m$j")} AS s$j, ${rotl(s"s$j", 31)} AS r$j, " +
        s"${mul64(s"r$j", P1.toString)} AS nv$j"

    /** CTE definitions computing `h` = Spark `xxhash64(token)` (seed 42,
      * UTF-8 bytes) for every row of a prior CTE `tok(did, pos, token)`.
      * Final CTE `strh` has columns (did, pos, h) with `h` the SIGNED
      * 64-bit result — Spark's value exactly (validated against the engine
      * on the testdata vocabulary plus empty/stripe-length/multi-byte
      * UTF-8 stress strings). Must run under WITH RECURSIVE. */
    def strHashCtes: String = {
      val seed = BigInt(42)
      val v1i = (seed + P1 + P2) % M; val v2i = (seed + P2) % M
      val v3i = seed; val v4i = (seed - P1 + M) % M
      val hSmall = (seed + P5) % M
      def mergeStep(n: Int, v: String, keep: String) =
        s"xm$n AS (SELECT token, hx, len, i$keep,\n" +
          s"  ${add64(mul64(xor64("h", s"q${n}k"), P1.toString), P4.toString)} AS h\n" +
          s"  FROM (SELECT *, ${k1Chain(v, s"q$n")} FROM xm${n - 1}) s)"
      Seq(
        // hash each DISTINCT token once, then join back to positions: h is a
        // pure function of the token bytes and the corpus vocabulary is tiny
        // next to token occurrences (31 distinct vs 270k occurrences on the
        // sf0.1 testdata), so running the byte-level chain per occurrence
        // re-derived the same 31 values ~9000x each — measured as the
        // dominant execution cost of every strh consumer. `strh(did, pos,
        // h)` below is value-identical to the per-occurrence form.
        s"""xb AS (SELECT token, hex(encode(token)) AS hx,
           |  CAST(octet_length(encode(token)) AS HUGEINT) AS len
           |  FROM (SELECT DISTINCT token FROM tok))""".stripMargin,
        // stripe phase: 4 accumulators over 32-byte chunks (len >= 32 only)
        s"""xs AS (
           |  SELECT token, hx, len, CAST(0 AS HUGEINT) AS i,
           |         CAST($v1i AS HUGEINT) AS v1, CAST($v2i AS HUGEINT) AS v2,
           |         CAST($v3i AS HUGEINT) AS v3, CAST($v4i AS HUGEINT) AS v4
           |  FROM xb WHERE len >= 32
           |  UNION ALL
           |  SELECT token, hx, len, i + 32, nv0, nv1, nv2, nv3 FROM (
           |    SELECT token, hx, len, i,
           |           ${stripeLane(0, "v1")}, ${stripeLane(1, "v2")},
           |           ${stripeLane(2, "v3")}, ${stripeLane(3, "v4")}
           |    FROM xs WHERE i + 32 <= len) s)""".stripMargin,
        "xst AS (SELECT * FROM xs WHERE i + 32 > len)",
        // stripe convergence: rotated sum, then one merge round per lane
        s"""xm0 AS (SELECT token, hx, len, i, v1, v2, v3, v4,
           |  ${add64(add64(add64(rotl("v1", 1), rotl("v2", 7)), rotl("v3", 12)), rotl("v4", 18))} AS h
           |  FROM xst)""".stripMargin,
        mergeStep(1, "v1", ", v2, v3, v4"),
        mergeStep(2, "v2", ", v3, v4"),
        mergeStep(3, "v3", ", v4"),
        mergeStep(4, "v4", ""),
        s"""xc AS (
           |  SELECT token, hx, len, i, h FROM xm4
           |  UNION ALL
           |  SELECT token, hx, len, CAST(0 AS HUGEINT) AS i, CAST($hSmall AS HUGEINT) AS h
           |  FROM xb WHERE len < 32)""".stripMargin,
        s"xl AS (SELECT token, hx, len, i, ${add64("h", "len")} AS h FROM xc)",
        // 8-byte tail rounds
        s"""x8 AS (
           |  SELECT token, hx, len, i, h FROM xl
           |  UNION ALL
           |  SELECT token, hx, len, i + 8, h2 AS h FROM (
           |    SELECT token, hx, len, i,
           |           ${lane8("i")} AS ln, ${k1Chain("ln", "w")},
           |           ${xor64("h", "wk")} AS x1a, ${rotl("x1a", 27)} AS x1b,
           |           ${add64(mul64("x1b", P1.toString), P4.toString)} AS h2
           |    FROM x8 WHERE i + 8 <= len) s)""".stripMargin,
        "x8t AS (SELECT * FROM x8 WHERE i + 8 > len)",
        // one optional 4-byte round
        s"""x4 AS (
           |  SELECT token, hx, len,
           |         CASE WHEN i + 4 <= len THEN i + 4 ELSE i END AS i,
           |         CASE WHEN i + 4 <= len THEN h4 ELSE h END AS h
           |  FROM (
           |    SELECT *, ${lane4("i")} AS l4, ${mul64("l4", P1.toString)} AS m4,
           |           ${xor64("h", "m4")} AS y1, ${rotl("y1", 23)} AS y2,
           |           ${add64(mul64("y2", P2.toString), P3.toString)} AS h4
           |    FROM x8t) s)""".stripMargin,
        // single-byte rounds
        s"""x1 AS (
           |  SELECT token, hx, len, i, h FROM x4
           |  UNION ALL
           |  SELECT token, hx, len, i + 1, h1 AS h FROM (
           |    SELECT token, hx, len, i,
           |           ${byteAt("i")} AS bv, ${mul64("bv", P5.toString)} AS mb,
           |           ${xor64("h", "mb")} AS z1, ${rotl("z1", 11)} AS z2,
           |           ${mul64("z2", P1.toString)} AS h1
           |    FROM x1 WHERE i < len) s)""".stripMargin,
        "x1t AS (SELECT token, h FROM x1 WHERE i = len)",
        // avalanche
        s"xa1 AS (SELECT token, ${xor64("h", shr("h", 33))} AS h FROM x1t)",
        s"xa2 AS (SELECT token, ${mul64("h", P2.toString)} AS h FROM xa1)",
        s"xa3 AS (SELECT token, ${xor64("h", shr("h", 29))} AS h FROM xa2)",
        s"xa4 AS (SELECT token, ${mul64("h", P3.toString)} AS h FROM xa3)",
        s"xth AS (SELECT token, ${s64(xor64("h", shr("h", 32)))} AS h FROM xa4)",
        "strh AS MATERIALIZED (SELECT t.did, t.pos, xth.h FROM tok t JOIN xth USING (token))"
      ).mkString(",\n")
    }

    /** The whole MinHash-LSH pipeline of
      * [[graft.operators.Dedup.minHashLsh]] (shingleN=3, numHashes=64,
      * bands=16) as DuckDB CTEs over `strh` — banding INCLUDED, so the
      * oracle reproduces the exact candidate set (LSH recall < 1 is
      * deterministic given the hash family, not random): 3-gram shingle
      * hashes (FNV-style fold over token hashes, distinct per doc),
      * 64 signature slots (min over shingles of the splitmix64-derived
      * affine transform, SIGNED 64-bit min exactly like the native
      * kernel; empty docs => Long.MaxValue slots), 16 band keys (seeded
      * FNV fold over each 4-slot slice), band-join candidates, the
      * signature-estimate prefilter (>= threshold - 0.2, the same double
      * arithmetic), and exact Jaccard verification. Final CTE
      * `mh(doc_a, doc_b, jacc)` with `jacc` the UNROUNDED exact Jaccard —
      * consumers filter on threshold and round. `survivors` (a CTE name
      * with a doc_id column) restricts the pipeline to that doc subset —
      * the q29p composition runs it over the exact-dedup survivors. */
    def minHashPairsCtes(threshold: Double, survivors: Option[String] = None): String = {
      val (fold3, coefVals, bandSeeds, sigPivot, bandFold) = minHashBuildingBlocks
      val restrict = survivors.fold("")(s => s"\n  WHERE s0.did IN (SELECT doc_id FROM $s)")
      val docList = survivors.getOrElse("(SELECT doc_id FROM documents)")
      minHashSigPrefix(restrict, docList, fold3, coefVals, bandSeeds, sigPivot, bandFold) +
        s""",
           |cand AS (
           |  SELECT DISTINCT a.did AS doc_a, b.did AS doc_b
           |  FROM bandk a JOIN bandk b ON a.b = b.b AND a.bk = b.bk AND a.did < b.did),
           |${minHashVerifyCtes(threshold)}""".stripMargin
    }

    /** CROSS-set MinHash candidates — [[minHashPairsCtes]]'s banding and
      * verification with candidates drawn across a corpus/benchmark split
      * instead of corpus self-pairs (the fuzzy-decontamination twin):
      * `cand` = band collisions with `doc_a` from `corpusCond` rows and
      * `doc_b` from `benchCond` rows (predicates over `did`; ids may
      * coincide — an eval doc sitting verbatim in the corpus IS the
      * contamination case). Ends in `mh(doc_a, doc_b, jacc)` for
      * estimate-surviving pairs. */
    def minHashCrossCtes(threshold: Double, corpusCond: String, benchCond: String): String = {
      val (fold3, coefVals, bandSeeds, sigPivot, bandFold) = minHashBuildingBlocks
      minHashSigPrefix("", "(SELECT doc_id FROM documents)",
        fold3, coefVals, bandSeeds, sigPivot, bandFold) +
        s""",
           |cand AS (
           |  SELECT DISTINCT a.did AS doc_a, b.did AS doc_b
           |  FROM bandk a JOIN bandk b ON a.b = b.b AND a.bk = b.bk
           |  WHERE (a.did) ${corpusCond} AND (b.did) ${benchCond}),
           |${minHashVerifyCtes(threshold)}""".stripMargin
    }

    /** The est → ver → mh verification tail shared by the self-pair and
      * cross-set candidate CTEs: signature-overlap estimate at
      * `threshold - 0.2`, exact hashed-shingle Jaccard for survivors. */
    private def minHashVerifyCtes(threshold: Double): String =
      s"""est AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c JOIN sigs sa ON sa.did = c.doc_a
         |  JOIN sigs sb ON sb.did = c.doc_b AND sb.s = sa.s
         |  GROUP BY c.doc_a, c.doc_b
         |  HAVING CAST(SUM(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS DOUBLE) / 64
         |         >= ($threshold - 0.2)),
         |ver AS (
         |  SELECT e.doc_a, e.doc_b,
         |         CAST(count(*) FILTER (WHERE xb.sh IS NOT NULL) AS DOUBLE) AS inter,
         |         (SELECT count(*) FROM shg WHERE did = e.doc_a) +
         |         (SELECT count(*) FROM shg WHERE did = e.doc_b) AS tot
         |  FROM est e
         |  JOIN shg xa ON xa.did = e.doc_a
         |  LEFT JOIN shg xb ON xb.did = e.doc_b AND xb.sh = xa.sh
         |  GROUP BY e.doc_a, e.doc_b),
         |mh AS (
         |  SELECT doc_a, doc_b,
         |         CASE WHEN tot - inter = 0 THEN 0.0 ELSE inter / (tot - inter) END AS jacc
         |  FROM ver)""".stripMargin

    /** The literal pieces of the MinHash signature construction (shingle
      * fold, mix coefficients, band seeds, pivot columns, band fold),
      * derived from [[graft.plans.TextKernels.minHashCoeffs]] once per
      * caller. */
    private def minHashBuildingBlocks: (String, String, String, String, (String, Seq[String]) => String) = {
      val FnvP = 0x100000001b3L
      def mixCoeffs(i: Int): (BigInt, BigInt) = {
        val (a, b) = graft.plans.TextKernels.minHashCoeffs(i)
        def uc(x: Long) = (BigInt(x) + M) % M
        (uc(a), uc(b))
      }
      val coefVals = (0 until 64)
        .map(s => s"($s, ${mixCoeffs(s)._1}::HUGEINT, ${mixCoeffs(s)._2}::HUGEINT)")
        .mkString(", ")
      val bandSeeds = (0 until 16)
        .map(b => s"WHEN $b THEN ${mixCoeffs(b)._2}::HUGEINT").mkString(" ")
      val fold3 = add64(mul64(add64(mul64(u("s0.h"), FnvP.toString), u("s1.h")),
        FnvP.toString), u("s2.h"))
      def bandFold(seed: String, vs: Seq[String]): String =
        vs.foldLeft(seed)((acc, v) => add64(mul64(acc, FnvP.toString), v))
      val sigPivot = (0 until 4)
        .map(j => s"MAX(CASE WHEN s = 4*b4+$j THEN v END) AS v$j").mkString(", ")
      (fold3, coefVals, bandSeeds, sigPivot, bandFold)
    }

    /** shg → coef → slotv → sigs → sigp → bandk: the shared MinHash
      * signature construction over `strh`. */
    private def minHashSigPrefix(
        restrict: String, docList: String, fold3: String, coefVals: String,
        bandSeeds: String, sigPivot: String,
        bandFold: (String, Seq[String]) => String): String =
      s"""shg AS MATERIALIZED (
         |  SELECT DISTINCT s0.did, ${s64(fold3)} AS sh
         |  FROM strh s0
         |  JOIN strh s1 ON s1.did = s0.did AND s1.pos = s0.pos + 1
         |  JOIN strh s2 ON s2.did = s0.did AND s2.pos = s0.pos + 2$restrict),
         |coef(s, a, b) AS (VALUES $coefVals),
         |shv AS MATERIALIZED (
         |  SELECT sh, coef.s, ${s64(add64(mul64(u("sh"), "a"), "b"))} AS v
         |  FROM (SELECT DISTINCT sh FROM shg) shd CROSS JOIN coef),
         |slotv AS (
         |  SELECT shg.did, shv.s, shv.v FROM shg JOIN shv USING (sh)),
         |sigs AS MATERIALIZED (
         |  SELECT d.doc_id AS did, coef.s, coalesce(m.v, 9223372036854775807) AS v
         |  FROM $docList d
         |  CROSS JOIN coef
         |  LEFT JOIN (SELECT did, s, min(v) AS v FROM slotv GROUP BY did, s) m
         |    ON m.did = d.doc_id AND m.s = coef.s),
         |sigp AS (
         |  SELECT did, b4, $sigPivot
         |  FROM (SELECT did, s, v, s // 4 AS b4 FROM sigs) t GROUP BY did, b4),
         |bandk AS MATERIALIZED (
         |  SELECT did, b4 AS b,
         |         ${s64(bandFold("sd", (0 until 4).map(j => u(s"v$j"))))} AS bk
         |  FROM (SELECT *, CASE b4 $bandSeeds END AS sd FROM sigp) t)""".stripMargin

    /** The SimHash64 construction of [[graft.plans.SimHash64]] over `strh`
      * (per-bit +/-1 votes across the token-hash MULTISET, bit set iff the
      * vote sum is strictly positive) as DuckDB CTEs ending in
      * `ssig(did, sh)`. The multi-index banding needs no SQL twin: the
      * pigeonhole guarantee makes candidate generation COMPLETE, so the
      * pair output equals plain all-pairs Hamming filtering — which is
      * what consumers append. */
    def simHashSigCtes: String = {
      val pow2 = (0 until 64).map(b => s"($b, ${BigInt(1) << b}::HUGEINT)").mkString(", ")
      // per-bit signs are computed once per DISTINCT token hash (hbit —
      // vocabulary x 64 rows) and votes weighted by the per-doc hash
      // multiplicity (thc): identical multiset vote sums as the former
      // strh x pow2 cross join, at vocabulary cost instead of
      // token-occurrence cost (the strh dedup argument, one level up).
      s"""pow2(b, p) AS (VALUES $pow2),
         |thc AS (SELECT did, h, count(*) AS c FROM strh GROUP BY did, h),
         |hbit AS MATERIALIZED (
         |  SELECT h, b, p,
         |         CASE WHEN (${u("h")} // p) % 2 = 1 THEN 1 ELSE -1 END AS sgn
         |  FROM (SELECT DISTINCT h FROM strh) hd CROSS JOIN pow2),
         |sbits AS (
         |  SELECT thc.did, hbit.b, hbit.p, SUM(thc.c * hbit.sgn) AS cnt
         |  FROM thc JOIN hbit USING (h) GROUP BY thc.did, hbit.b, hbit.p),
         |ssig AS MATERIALIZED (
         |  SELECT did, ${s64("SUM(CASE WHEN cnt > 0 THEN p ELSE 0::HUGEINT END)")} AS sh
         |  FROM sbits GROUP BY did)""".stripMargin
    }

    /** Positional n-gram hashes over `strh` — the
      * [[graft.plans.PositionalNgramHashes]] fold (FNV-style polynomial
      * over n consecutive token hashes, one value per start offset, order
      * preserved, duplicates kept) as a CTE `png(did, offset, gram)`. */
    def posNgramCtes(n: Int): String = {
      val FnvP = 0x100000001b3L
      val joins = (1 until n)
        .map(j => s"  JOIN strh s$j ON s$j.did = s0.did AND s$j.pos = s0.pos + $j")
        .mkString("\n")
      val fold = (1 until n).foldLeft(u("s0.h"))((acc, j) =>
        add64(mul64(acc, FnvP.toString), u(s"s$j.h")))
      s"""png AS MATERIALIZED (
         |  SELECT s0.did, s0.pos AS off, ${s64(fold)} AS gram
         |  FROM strh s0
         |$joins)""".stripMargin
    }

    /** The shared `tok`/`strh` prefix: whitespace tokenization of
      * `documents` with positions, then the string-XXH64 twin. */
    def docTokenHashCtes: String =
      // tokd is MATERIALIZED: the LATERAL position unnest correlates on
      // t.toks, and DuckDB inlines a plain subquery — re-running the
      // regexp_replace + string_split of the WHOLE document once per token
      // position (measured: 34 s for 28k token rows at sf0.001, the
      // dominant cost of every strh consumer). Materializing tokenizes each
      // document once.
      s"""tokd AS MATERIALIZED (
         |  SELECT doc_id,
         |         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id AS did, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS token
         |  FROM tokd t,
         |  LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) g),
         |$strHashCtes""".stripMargin

    /** The rolling-fingerprint fold of [[graft.functions.TextOps.fingerprint]]
      * over `strh`: per doc, acc = acc * 1000003 + h(token), in token order,
      * wrapping 64-bit — as a recursive CTE stepping one token per round
      * across all docs in lockstep. Final CTE `fp(doc_id, fingerprint)`. */
    def fingerprintCtes: String =
      s"""fp0 AS (
         |  SELECT did, CAST(1 AS BIGINT) AS nxt, ${u("h")} AS acc FROM strh WHERE pos = 0
         |  UNION ALL
         |  SELECT f.did, f.nxt + 1, ${add64(mul64("f.acc", "1000003"), u("s.h"))} AS acc
         |  FROM fp0 f JOIN strh s ON s.did = f.did AND s.pos = f.nxt),
         |fpt AS (
         |  SELECT did, acc FROM fp0 f
         |  WHERE nxt = (SELECT count(*) FROM strh s WHERE s.did = f.did)),
         |fp AS (SELECT did AS doc_id, ${s64("acc")} AS fingerprint FROM fpt)""".stripMargin
  }

  /** The (doc_id, shard, pos) training order of
    * [[graft.operators.Curation.trainingOrder]] (numShards=8, seed=42) as
    * DuckDB CTEs ending in `ord` — shared by the q29j/q29m oracles. */
  private val TrainingOrderSql: String =
    XxSql.hashCtes("xh", "(SELECT doc_id FROM documents)", "doc_id", 42L) + ",\n" +
      """ord AS (
        |  SELECT doc_id, CAST(((h % 8) + 8) % 8 AS INT) AS shard,
        |         CAST(row_number() OVER (PARTITION BY ((h % 8) + 8) % 8
        |                                 ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        |  FROM xhh)""".stripMargin

  /** First-fit sequence packing over `ordnt(doc_id, shard, pos, n_tokens)`
    * as a recursive CTE ending in `pack` — the sequential scan of
    * [[graft.operators.Curation.packSequences]] stepped one row at a time
    * per shard (budget 2000). */
  private val PackSql: String =
    """pack(shard, pos, doc_id, n_tokens, example_idx, pos_in_example, acc) AS (
      |  SELECT shard, pos, doc_id, n_tokens, CAST(0 AS BIGINT), CAST(0 AS BIGINT), n_tokens
      |  FROM ordnt WHERE pos = 0
      |  UNION ALL
      |  SELECT r.shard, r.pos, r.doc_id, r.n_tokens,
      |    CASE WHEN p.acc + r.n_tokens > 2000 THEN p.example_idx + 1 ELSE p.example_idx END,
      |    CASE WHEN p.acc + r.n_tokens > 2000 THEN CAST(0 AS BIGINT) ELSE p.pos_in_example + 1 END,
      |    CASE WHEN p.acc + r.n_tokens > 2000 THEN r.n_tokens ELSE p.acc + r.n_tokens END
      |  FROM pack p JOIN ordnt r ON r.shard = p.shard AND r.pos = p.pos + 1)""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // Q26: typed UDAF (Aggregator) — exact weighted average with scaled-long
    // accumulation: order/partitioning independent, map-side combinable.
    QueryDef(
      "q26_udaf_wavg",
      (s, dir) => {
        val wavg = udaf(new Aggregators.WeightedAvg)
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            wavg(col("l_extendedprice"), col("l_quantity").cast("long")).as("wavg_price"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  CAST(SUM(CAST(round(l_extendedprice * 1000000) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
             |    / (1000000.0 * CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)) AS wavg_price,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Q26b: scalar UDF surface — the reference's key codec (series‖ts packed
    // keys, kv/db/dbformat.h:82-101) as an encode UDF, registered and used
    // in a grouped query.
    QueryDef(
      "q26b_udf_keycodec",
      (s, dir) => {
        s.udf.register("encode_key", (u: Long, t: String) => s"$u|$t")
        Tables.events(s, dir)
          .groupBy(call_udf("encode_key", col("user_id"), col("event_type")).as("key"))
          .agg(count(lit(1)).as("n"), max(col("event_id")).as("max_seq"))
          .orderBy("key")
      },
      Some("""SELECT concat(CAST(user_id AS VARCHAR), '|', event_type) AS key,
             |       COUNT(*) AS n, max(event_id) AS max_seq
             |FROM events GROUP BY 1 ORDER BY key""".stripMargin)),

    // Q26c: bloom-filter build UDAF (the reference's filter-block analogue,
    // kv/util/bloom.cpp:10-101) — bitsets OR-merge (distributive), output is
    // the popcount per group. Deterministic but FNV-1a is not expressible in
    // the oracle; cross-checked by BloomSpec membership properties.
    QueryDef(
      "q26c_udaf_bloom",
      (s, dir) => {
        val bloom = udaf(new Aggregators.BloomBuild(4096, 5))
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(bloom(col("user_id").cast("string")).as("bloom"))
          .select(
            col("event_type"),
            expr("aggregate(transform(bloom, x -> CAST(bit_count(x) AS BIGINT)), 0L, (a, x) -> a + x)")
              .as("bits_set"))
          .orderBy("event_type")
      },
      None),

    // Q26d: UDTF surface — a Scala UDF returning array<struct> exploded by
    // the Generate operator (flatMap shape, no shuffle): JSON props -> one
    // row per key/value pair.
    QueryDef(
      "q26d_udtf_explode",
      (s, dir) => {
        val kvs = udf((props: String) =>
          props.stripPrefix("{").stripSuffix("}").split(",").toSeq
            .filter(_.contains(":"))
            .map { p =>
              val Array(k, v) = p.split(":", 2)
              (k.trim.stripPrefix("\"").stripSuffix("\""), v.trim)
            })
        Tables.events(s, dir)
          .select(col("event_id"), explode(kvs(col("props"))).as("kv"))
          .select(col("event_id"), col("kv._1").as("k"), col("kv._2").as("v"))
          .orderBy("event_id", "k")
      },
      Some("""SELECT event_id, 'k' AS k, regexp_extract(props, '"k": (-?[0-9]+)', 1) AS v
             |FROM events ORDER BY event_id, k""".stripMargin)),

    // Q27: exact dedup on normalized text (lowercase, whitespace-collapsed):
    // one hash aggregation + join back — fully shuffle-parallel.
    QueryDef(
      "q27_dedup_exact",
      (s, dir) =>
        Dedup.exact(Tables.documents(s, dir))
          .orderBy("doc_id"),
      Some("""WITH n AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
             |           FROM documents),
             |     g AS (SELECT norm, min(doc_id) AS keep_id, COUNT(*) AS group_size
             |           FROM n GROUP BY norm)
             |SELECT n.doc_id, g.keep_id, g.group_size, n.doc_id = g.keep_id AS is_kept
             |FROM n JOIN g ON n.norm = g.norm ORDER BY n.doc_id""".stripMargin)),

    // Q27b: exact n-gram (3-shingle) Jaccard near-dup pairs, blocked on
    // (lang, token-count band). The Spark blocking (adjacent-band probe)
    // provably misses no qualifying pair, so the oracle is the plain
    // quadratic predicate.
    QueryDef(
      "q27b_dedup_jaccard",
      (s, dir) =>
        Dedup.exactJaccardPairs(Tables.documents(s, dir), shingleN = 3, threshold = 0.5, tokenSlack = 5)
          .orderBy("doc_a", "doc_b"),
      Some("""WITH d AS (
             |  SELECT doc_id, lang,
             |         string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, lang, len(toks) AS nt,
             |         CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
             |              ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
             |                                  for i in range(1, len(toks) - 1)]) END AS sh
             |  FROM d)
             |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |         CASE WHEN len(a.sh) + len(b.sh) = 0 THEN 0.0
             |              ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             |                   / (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - len(list_intersect(a.sh, b.sh)))
             |         END AS jaccard
             |  FROM sh a JOIN sh b
             |    ON a.lang = b.lang AND a.doc_id < b.doc_id AND abs(a.nt - b.nt) <= 5)
             |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),

    // Q27h: duplicate-cluster collapse — connected components over the q27b
    // exact-Jaccard pairs, every clustered doc labeled with its component's
    // min id (the deterministic representative). The oracle computes the
    // same transitive closure with a recursive CTE.
    QueryDef(
      "q27h_dedup_components",
      (s, dir) =>
        Dedup.connectedComponents(
          Dedup.exactJaccardPairs(Tables.documents(s, dir), shingleN = 3, threshold = 0.5, tokenSlack = 5))
          .orderBy("doc_id"),
      Some("""WITH RECURSIVE d AS (
             |  SELECT doc_id, lang,
             |         string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, lang, len(toks) AS nt,
             |         CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
             |              ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
             |                                  for i in range(1, len(toks) - 1)]) END AS sh
             |  FROM d),
             |p AS (
             |  SELECT doc_a, doc_b FROM (
             |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |           CASE WHEN len(a.sh) + len(b.sh) = 0 THEN 0.0
             |                ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             |                     / (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - len(list_intersect(a.sh, b.sh)))
             |           END AS jaccard
             |    FROM sh a JOIN sh b
             |      ON a.lang = b.lang AND a.doc_id < b.doc_id AND abs(a.nt - b.nt) <= 5)
             |  WHERE jaccard >= 0.5),
             |e AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p),
             |reach(src, dst) AS (
             |  SELECT src, dst FROM e
             |  UNION
             |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
             |SELECT src AS doc_id, least(src, min(dst)) AS component
             |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin)),

    // Q27i: semantic (embedding-space) dedup — the SemDeDup composition:
    // IVF lists as the blocking key, within-list cosine pairs, component
    // collapse, keep each cluster's min id. k-means training and float
    // cosine have no DuckDB twin => rows-only; DedupAndSimilaritySpec pins
    // a planted-paraphrase recall floor and no-false-collapse.
    QueryDef(
      "q27i_dedup_semantic",
      (s, dir) =>
        Dedup.semanticDedup(
          Tables.documents(s, dir), Tables.embeddings(s, dir),
          threshold = 0.9, lists = 16)
          .select("doc_id", "lang")
          .orderBy("doc_id"),
      None),

    // Q27j: sub-document duplicate-SPAN detection (ExactSubstr, Lee et al.
    // 2022) — every non-first occurrence of a >= 6-token window, within-
    // and cross-document, keeping the global (id, offset)-first copy.
    // Oracle-checked exactly: the positional 6-gram fold over the
    // string-XXH64 twin re-derives the kernel's combined hashes, and
    // first-occurrence retention is a row_number over (did, off).
    QueryDef(
      "q27j_dedup_spans",
      (s, dir) =>
        graft.operators.Curation.duplicateSpans(Tables.documents(s, dir), n = 6)
          .orderBy("doc_id", "offset", "gram"),
      Some(s"""WITH RECURSIVE
             |${XxSql.docTokenHashCtes},
             |${XxSql.posNgramCtes(6)},
             |r AS (
             |  SELECT did, off, gram,
             |         row_number() OVER (PARTITION BY gram ORDER BY did, off) AS rn
             |  FROM png)
             |SELECT did AS doc_id, CAST(off AS BIGINT) AS "offset", gram
             |FROM r WHERE rn > 1 ORDER BY doc_id, "offset", gram""".stripMargin)),

    // Q27k: ExactSubstr EXCISION — q27j's consumer: tokens covered by a
    // non-first duplicated window are cut, the remainder rejoins in
    // order, the first occurrence survives untouched (the dedup posture;
    // q29r2's boilerplate excision removes ALL occurrences). The CLEANED
    // TEXT ITSELF is hash-compared.
    QueryDef(
      "q27k_dedup_substring",
      (s, dir) =>
        graft.operators.Curation.exciseDuplicateSpans(Tables.documents(s, dir), n = 6)
          .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE
             |${XxSql.docTokenHashCtes},
             |${XxSql.posNgramCtes(6)},
             |hit AS (
             |  SELECT did, off FROM (
             |    SELECT did, off,
             |           row_number() OVER (PARTITION BY gram ORDER BY did, off) AS rn
             |    FROM png) r
             |  WHERE rn > 1),
             |cov AS (
             |  SELECT DISTINCT did, off + d AS pos
             |  FROM hit CROSS JOIN (SELECT unnest(range(0, 6)) AS d) g),
             |kept AS (
             |  SELECT t.did, t.pos, t.token FROM tok t
             |  WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.did = t.did AND c.pos = t.pos)),
             |agg AS (
             |  SELECT did, CAST(count(*) AS BIGINT) AS n_kept,
             |         coalesce(string_agg(token, ' ' ORDER BY pos), '') AS text_clean
             |  FROM kept GROUP BY did),
             |tot AS (SELECT did, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY did)
             |SELECT tot.did AS doc_id, tot.n_tokens,
             |       CAST(tot.n_tokens - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
             |       coalesce(a.text_clean, '') AS text_clean
             |FROM tot LEFT JOIN agg a ON a.did = tot.did
             |ORDER BY doc_id""".stripMargin)),

    // Q27l: INCREMENTAL ExactSubstr — the daily-ingest shape: the first
    // half of the corpus persists as a span CATALOG (one row per distinct
    // 6-token window with its first occurrence, gram-sorted + bloomed),
    // then the second half is excised against it without re-reading any
    // corpus text (catalog row groups bloom-pruned to the batch's grams).
    // Equals q27k over the union restricted to batch rows (the oracle
    // states exactly that; ids follow arrival order in this corpus).
    QueryDef(
      "q27l_dedup_substring_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cut = docs.agg(expr("max(doc_id) div 2")).head().getLong(0)
        // catalog construction is deterministic in (dir, corpus): build
        // ONCE per (JVM, sf dir) and let every rep time the PROBE — the
        // q32b / media-fixture discipline; rebuilding per rep also leaked
        // a corpus-token-scale parquet per execution
        val cat = builtSpanCatalog.computeIfAbsent(
          s"$dir#${docsFingerprint(s, dir)}", _ => {
            val p = QueryDef.tempDirForResult("graft_span_cat_").toString
            Dedup.writeSpanCatalog(docs.filter(col("doc_id") <= cut), p, n = 6)
            p
          })
        graft.operators.Curation.exciseDuplicateSpansIncremental(
          docs.filter(col("doc_id") > cut), cat)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
             |${XxSql.docTokenHashCtes},
             |${XxSql.posNgramCtes(6)},
             |hit AS (
             |  SELECT did, off FROM (
             |    SELECT did, off,
             |           row_number() OVER (PARTITION BY gram ORDER BY did, off) AS rn
             |    FROM png) r
             |  WHERE rn > 1),
             |cov AS (
             |  SELECT DISTINCT did, off + d AS pos
             |  FROM hit CROSS JOIN (SELECT unnest(range(0, 6)) AS d) g),
             |kept AS (
             |  SELECT t.did, t.pos, t.token FROM tok t
             |  WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.did = t.did AND c.pos = t.pos)),
             |agg AS (
             |  SELECT did, CAST(count(*) AS BIGINT) AS n_kept,
             |         coalesce(string_agg(token, ' ' ORDER BY pos), '') AS text_clean
             |  FROM kept GROUP BY did),
             |tot AS (SELECT did, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY did)
             |SELECT tot.did AS doc_id, tot.n_tokens,
             |       CAST(tot.n_tokens - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
             |       coalesce(a.text_clean, '') AS text_clean
             |FROM tot LEFT JOIN agg a ON a.did = tot.did
             |WHERE tot.did > (SELECT max(doc_id) // 2 FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Q27c: MinHash-LSH near-dup pairs — the 100 TB path (banded equi-join,
    // no quadratic scan). Probabilistic recall => no SQL oracle; DedupSpec
    // asserts recall vs q27b's exact pairs.
    QueryDef(
      "q27c_dedup_minhash_lsh",
      (s, dir) =>
        Dedup.minHashLsh(Tables.documents(s, dir), shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
          .orderBy("doc_a", "doc_b"),
      // the WHOLE LSH pipeline re-derived in DuckDB — string-XXH64 token
      // hashes, shingle folds, signature mins, band keys, estimate
      // prefilter, exact Jaccard — so banding-dependent recall is
      // hash-compared exactly, not rows-only
      Some(s"""WITH RECURSIVE
             |${XxSql.docTokenHashCtes},
             |${XxSql.minHashPairsCtes(0.5)}
             |SELECT doc_a, doc_b, round(jacc, 6) AS jaccard
             |FROM mh WHERE jacc >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),

    // Q27d: SimHash near-dup pairs (Hamming <= 6 on 64-bit signatures).
    // Oracle-checked: signatures re-derived bit-by-bit in DuckDB over the
    // string-XXH64 token hashes; banding needs no twin because the
    // pigeonhole scheme provably generates EVERY qualifying pair, so the
    // output equals all-pairs Hamming filtering.
    QueryDef(
      "q27d_dedup_simhash",
      (s, dir) =>
        Dedup.simHashPairs(Tables.documents(s, dir), maxHamming = 6)
          .orderBy("doc_a", "doc_b"),
      Some(s"""WITH RECURSIVE
             |${XxSql.docTokenHashCtes},
             |${XxSql.simHashSigCtes}
             |SELECT a.did AS doc_a, b.did AS doc_b,
             |       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
             |FROM ssig a JOIN ssig b ON a.did < b.did
             |WHERE bit_count(xor(a.sh, b.sh)) <= 6
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Q27e: INCREMENTAL exact dedup — the daily-ingest shape: the first
    // half of the corpus (by id) is persisted as a dedup index, then the
    // second half is classified against it without re-reading the first
    // half's text. Equals exact() over the union restricted to batch rows
    // (DedupIncrementalSpec); the oracle states the incremental semantics
    // directly.
    QueryDef(
      "q27e_dedup_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cut = docs.agg(expr("max(doc_id) div 2")).head().getLong(0)
        val idx = QueryDef.tempDirForResult("graft_dedup_idx_").toString
        Dedup.writeExactIndex(docs.filter(col("doc_id") <= cut), idx)
        Dedup.exactIncremental(docs.filter(col("doc_id") > cut), idx)
          .orderBy("doc_id")
      },
      Some("""WITH cut AS (SELECT max(doc_id) // 2 AS c FROM documents),
             |n AS (SELECT doc_id,
             |             lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))) AS norm
             |      FROM documents),
             |corpus AS (SELECT norm, min(doc_id) AS c_keep, COUNT(*) AS c_n
             |           FROM n WHERE doc_id <= (SELECT c FROM cut) GROUP BY norm),
             |batch AS (SELECT doc_id, norm FROM n WHERE doc_id > (SELECT c FROM cut)),
             |bg AS (SELECT norm, min(doc_id) AS b_keep, COUNT(*) AS b_n
             |       FROM batch GROUP BY norm)
             |SELECT b.doc_id,
             |       coalesce(c.c_keep, g.b_keep) AS keep_id,
             |       g.b_n + coalesce(c.c_n, 0) AS group_size,
             |       b.doc_id = coalesce(c.c_keep, g.b_keep) AS is_kept
             |FROM batch b JOIN bg g ON b.norm = g.norm
             |LEFT JOIN corpus c ON b.norm = c.norm
             |ORDER BY b.doc_id""".stripMargin)),

    // Q27f: INCREMENTAL MinHash near-dup — the index-probe form of q27c:
    // sign the first half once into a persisted index, then find all pairs
    // touching the second half without re-tokenizing the first. The
    // incremental probe equals the full recompute restricted to pairs with
    // a batch member (the hash family is deterministic), so the oracle is
    // the q27c pipeline with that restriction — the index round-trip is
    // hash-compared end to end.
    QueryDef(
      "q27f_dedup_minhash_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cut = docs.agg(expr("max(doc_id) div 2")).head().getLong(0)
        val idx = QueryDef.tempDirForResult("graft_mh_idx_").toString
        Dedup.writeMinHashIndex(
          docs.filter(col("doc_id") <= cut), idx, shingleN = 3, numHashes = 64, bands = 16)
        Dedup.minHashIncremental(docs.filter(col("doc_id") > cut), idx, threshold = 0.5)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH RECURSIVE
             |${XxSql.docTokenHashCtes},
             |${XxSql.minHashPairsCtes(0.5)},
             |cut AS (SELECT max(doc_id) // 2 AS c FROM documents)
             |SELECT doc_a, doc_b, round(jacc, 6) AS jaccard
             |FROM mh WHERE jacc >= 0.5
             |  AND (doc_a > (SELECT c FROM cut) OR doc_b > (SELECT c FROM cut))
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Q27g: INCREMENTAL SimHash — the signature-store probe form of q27d,
    // same pigeonhole recall guarantee across the index boundary.
    // Rows-only (near-dup family); DedupIncrementalSpec proves equality to
    // the full recompute.
    QueryDef(
      "q27g_dedup_simhash_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cut = docs.agg(expr("max(doc_id) div 2")).head().getLong(0)
        val idx = QueryDef.tempDirForResult("graft_sh_idx_").toString
        Dedup.writeSimHashIndex(docs.filter(col("doc_id") <= cut), idx)
        Dedup.simHashIncremental(docs.filter(col("doc_id") > cut), idx, maxHamming = 6)
          .orderBy("doc_a", "doc_b")
      },
      // the q27d all-pairs oracle restricted to pairs touching the batch
      // half — the incremental probe equals the full recompute there (the
      // signatures are deterministic), so the index round-trip is
      // hash-compared end to end
      Some(s"""WITH RECURSIVE
             |${XxSql.docTokenHashCtes},
             |${XxSql.simHashSigCtes},
             |cut AS (SELECT max(doc_id) // 2 AS c FROM documents)
             |SELECT a.did AS doc_a, b.did AS doc_b,
             |       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
             |FROM ssig a JOIN ssig b ON a.did < b.did
             |WHERE bit_count(xor(a.sh, b.sh)) <= 6
             |  AND (a.did > (SELECT c FROM cut) OR b.did > (SELECT c FROM cut))
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Q28: brute-force top-k cosine similarity search — the exactness
    // baseline: query batch broadcast, corpus streams partition-parallel.
    QueryDef(
      "q28_sim_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(
          corpus = emb,
          queries = emb.filter(col("vec_id") < 8),
          k = 5)
          .orderBy("q_id", "rank")
      },
      Some("""SELECT q_id, n_id, rank, round(score, 6) AS score FROM (
             |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |         CAST(row_number() OVER (
             |           PARTITION BY q.vec_id
             |           ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
             |                    / sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
             |                           * list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) DESC,
             |                    c.vec_id) AS BIGINT) AS rank,
             |         list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
             |           / sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
             |                  * list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) AS score
             |  FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND c.vec_id != q.vec_id)
             |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // Q28b: LSH-bucketed ANN — the scale path (bucketed probe, recall < 1 by
    // design; SimilaritySpec measures recall vs q28's exact top-k).
    QueryDef(
      "q28b_sim_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.lshTopK(
          corpus = emb,
          queries = emb.filter(col("vec_id") < 8),
          k = 5, dim = 64, numTables = 16, planesPerTable = 4)
          .orderBy("q_id", "rank")
      },
      None),

    // Q28b2: int8-QUANTIZED hyperplane-LSH MIPS — the q28b shape with the
    // production int8 trick, and FULLY ORACLE-CHECKED where q28b is
    // rows-only: floor-quantization, LCG-derived ±1 plane signs, bucket
    // bits, and the inner-product ranking are ALL exact integer math the
    // DuckDB twin re-derives step for step (no float ever enters the
    // pipeline after the quantize). The q28h2 lesson applied to the LSH
    // family: grow the hash-checked surface by restructuring the query
    // around integer arithmetic, never by twinning floats.
    QueryDef(
      "q28b2_sim_lsh_int8",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.lshTopKInt8(
          corpus = emb, queries = emb.filter(col("vec_id") < 8),
          k = 5, dim = 64, numTables = 8, planesPerTable = 8)
          .orderBy("q_id", "rank")
      },
      Some("""WITH pl AS (
             |  SELECT t, p, d,
             |         CASE WHEN (((1103515245 * (d + 64 * p + 512 * t) + 12345) % 2147483648) >> 13) & 1 = 0
             |              THEN 1 ELSE -1 END AS s
             |  FROM range(8) tt(t), range(8) pp(p), range(64) dd(d)),
             |qv AS (
             |  SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS d,
             |         CAST(floor(unnest(embedding) * 127.0) AS BIGINT) AS q
             |  FROM embeddings),
             |dots AS (SELECT id, t, p, CAST(SUM(q * s) AS BIGINT) AS pdot
             |         FROM qv JOIN pl USING (d) GROUP BY id, t, p),
             |bk AS (SELECT id, t,
             |              CAST(SUM(CASE WHEN pdot >= 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
             |                            ELSE 0 END) AS BIGINT) AS bucket
             |       FROM dots GROUP BY id, t),
             |cand AS (SELECT DISTINCT a.id AS q_id, b.id AS n_id
             |         FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket AND a.id <> b.id
             |         WHERE a.id < 8),
             |sc AS (SELECT c.q_id, c.n_id, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
             |       FROM cand c
             |       JOIN qv qa ON qa.id = c.q_id
             |       JOIN qv qb ON qb.id = c.n_id AND qb.d = qa.d
             |       GROUP BY c.q_id, c.n_id),
             |rk AS (SELECT q_id, n_id,
             |              CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, n_id) AS BIGINT) AS rank,
             |              dot FROM sc)
             |SELECT q_id, n_id, rank, dot FROM rk WHERE rank <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    // Q28d: IVF-flat ANN — the inverted-list scale path (coarse k-means
    // quantizer, nProbe lists scanned per query). Deterministic training
    // (decimal-exact Lloyd means), but approximate => rows-only;
    // IvfSpec asserts recall vs exact and run-to-run determinism.
    QueryDef(
      "q28d_sim_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val model = graft.operators.Ivf.train(emb, c = 32, iters = 3)
        graft.operators.Ivf.topK(emb, emb.filter(col("vec_id") < 8), model, k = 5, nProbe = 8)
          .orderBy("q_id", "rank")
      },
      None),

    // Q28d2: int8 IVF-flat MIPS over the CLOSED-FORM integer codebook —
    // the q28b2 discipline applied to the IVF family, which was
    // previously rows-only across all five members (trained float
    // models). Quantize (floor x*127), assign by EXACT integer squared-L2
    // argmin (ties to the lowest centroid index), probe the nProbe
    // nearest centroids per query, rank same-bucket candidates by the
    // exact integer inner product. The DuckDB twin re-derives the
    // codebook from the LCG formula and replays assignment, probing, and
    // scoring step for step — the first hash-checked row at the IVF
    // kernel. n_bucket rides in the output so the ORACLE also checks the
    // assignment itself, not just the ranking.
    QueryDef(
      "q28d2_sim_ivf_int8",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.ivfTopKInt8(
          corpus = emb, queries = emb.filter(col("vec_id") < 8),
          k = 5, dim = 64, c = 16, nProbe = 4)
          .orderBy("q_id", "rank")
      },
      Some("""WITH cb AS (
             |  SELECT c, d, ((1103515245 * c + 12345 * d + 54321) % 256) - 128 AS v
             |  FROM range(16) cc(c), range(64) dd(d)),
             |qv AS (
             |  SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS d,
             |         CAST(floor(unnest(embedding) * 127.0) AS BIGINT) AS q
             |  FROM embeddings),
             |d2 AS (
             |  SELECT qv.id, cb.c, CAST(SUM((qv.q - cb.v) * (qv.q - cb.v)) AS BIGINT) AS dd
             |  FROM qv JOIN cb USING (d) GROUP BY qv.id, cb.c),
             |rkc AS (
             |  SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY dd, c) AS rn FROM d2),
             |assign AS (SELECT id, c AS bucket FROM rkc WHERE rn = 1),
             |probes AS (SELECT id AS q_id, c AS bucket FROM rkc WHERE rn <= 4 AND id < 8),
             |cand AS (
             |  SELECT p.q_id, a.id AS n_id, a.bucket
             |  FROM probes p JOIN assign a ON a.bucket = p.bucket AND a.id <> p.q_id),
             |sc AS (
             |  SELECT c.q_id, c.n_id, c.bucket, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
             |  FROM cand c
             |  JOIN qv qa ON qa.id = c.q_id
             |  JOIN qv qb ON qb.id = c.n_id AND qb.d = qa.d
             |  GROUP BY c.q_id, c.n_id, c.bucket),
             |rk AS (SELECT q_id, n_id,
             |              CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, n_id) AS BIGINT) AS rank,
             |              dot, bucket FROM sc)
             |SELECT q_id, n_id, rank, dot, CAST(bucket AS BIGINT) AS n_bucket
             |FROM rk WHERE rank <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    // Q28f: IVF over a PERSISTED index — train once, corpus written
    // partitionBy(bucket) (inverted-file layout), search reads only the
    // probed list directories (partition pruning, plan-asserted in IvfSpec).
    // Same output as q28d's in-memory form given the same model (equality
    // asserted in IvfSpec); approximate => rows-only.
    QueryDef(
      "q28f_sim_ivf_indexed",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val model = graft.operators.Ivf.train(emb, c = 32, iters = 3)
        val idx = QueryDef.tempDirForResult("graft_ivf_idx_").toString
        graft.operators.Ivf.writeIndex(emb, model, idx)
        graft.operators.Ivf.topKIndexed(s, idx, emb.filter(col("vec_id") < 8), k = 5, nProbe = 8)
          .orderBy("q_id", "rank")
      },
      None),

    // Q28i: IVF-PQ — the coarse quantizer composed with product
    // quantization (Jégou et al. 2011): the persisted lists hold m=8
    // codes + the exact norm per vector, never the vectors; search is
    // partition-pruned coarse probes + per-query ADC lookup tables. The
    // billion-scale layout where the raw vectors are the dominant bytes.
    // Trained models => rows-only; codes/recall/round-trip pinned by
    // IvfSpec.
    QueryDef(
      "q28i_sim_ivfpq",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // the two trainings are INDEPENDENT deterministic fits over the
        // same corpus — submit them as concurrent Spark jobs (guide §2.6:
        // actions are only sequential because the driver calls them
        // sequentially; the second job's tasks back-fill executors the
        // first's tail leaves idle). Each model is bit-identical to its
        // sequential fit (nothing is shared but the read-only corpus).
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val coarseF = Future(graft.operators.Ivf.train(emb, c = 32, iters = 3))
        val pqF = Future(graft.operators.Pq.train(emb, m = 8, k = 64, iters = 2))
        val coarse = Await.result(coarseF, Duration.Inf)
        val pq = Await.result(pqF, Duration.Inf)
        val idx = QueryDef.tempDirForResult("graft_pq_idx_").toString
        graft.operators.Pq.writeIndex(emb, coarse, pq, idx)
        graft.operators.Pq.topKIndexed(s, idx, emb.filter(col("vec_id") < 8), k = 5, nProbe = 8)
          .orderBy("q_id", "rank")
      },
      None),

    // Q28h: cluster-balanced sampling — the SemDeDup-style diversity
    // selection: at most perList vectors kept per quantizer bucket, chosen
    // in deterministic hash order, so dense embedding regions cannot
    // dominate a training mix. Trained model => rows-only; cap/coverage/
    // exact-keep-set semantics are pinned in IvfSpec.
    QueryDef(
      "q28h_cluster_sample",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val model = graft.operators.Ivf.train(emb, c = 32, iters = 3)
        graft.operators.Ivf.balancedSample(emb, model, perList = 8, seed = 42L)
          .orderBy("vec_id")
      },
      None),

    // Q28h2: the SAME balanced-keep kernel (lossless hash prefilter +
    // exact per-bucket window) over a CLOSED-FORM grouping column — the
    // "at most k per domain/language" diversity cap. Unlike q28h's
    // trained-quantizer buckets (a float k-means model is not soundly
    // SQL-expressible), this form is fully oracle-checked: DuckDB
    // re-derives Spark's xxhash64(vec_id, 42) via the XxSql twin and
    // replays the per-group smallest-hash keep rule end to end — which
    // also verifies the prefilter is lossless (any dropped survivor would
    // hash-mismatch).
    QueryDef(
      "q28h2_sample_by_group",
      (s, dir) =>
        graft.operators.Ivf.balancedSampleBy(
          Tables.embeddings(s, dir), "label", perGroup = 8, seed = 42L)
          .orderBy("vec_id"),
      Some(s"""WITH ${XxSql.hashCtes("bs", "embeddings", "vec_id", 42L)},
             |ranked AS (
             |  SELECT e.vec_id, e.label AS bucket,
             |         row_number() OVER (PARTITION BY e.label ORDER BY h.h, e.vec_id) AS rn
             |  FROM embeddings e JOIN bsh h ON e.vec_id = h.vec_id
             |  WHERE e.label IS NOT NULL)
             |SELECT vec_id, bucket FROM ranked WHERE rn <= 8 ORDER BY vec_id""".stripMargin)),

    // Q28g: streaming SEMANTIC ingest — embedding near-dup dedup-on-write:
    // an IVF index over the first-half embeddings, the second half streamed
    // through startSemanticIngest (partition-pruned probes, arrival-order
    // keeps, replay-idempotent segments). Returns the kept streamed ids.
    // The IVF model is not SQL-expressible => rows-only; the replay /
    // search / compaction semantics are pinned by DedupIncrementalSpec.
    QueryDef(
      "q28g_sim_semantic_ingest",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cut = emb.agg(expr("max(vec_id) div 2")).head().getLong(0)
        val corpus = emb.filter(col("vec_id") <= cut)
        val model = graft.operators.Ivf.train(corpus, c = 16, iters = 3)
        val tmp = QueryDef.tempDirForResult("graft_seming_").toString
        graft.operators.Ivf.writeIndex(corpus, model, s"$tmp/idx")
        val srcDir = s"$tmp/src"
        emb.filter(col("vec_id") > cut).select("vec_id", "embedding")
          .coalesce(1).write.parquet(srcDir)
        val schema = Parquet.read(s, srcDir).schema
        graft.streaming.Ingest.startSemanticIngest(
          s, srcDir, schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx",
          threshold = 0.99).awaitTermination()
        Parquet.read(s, s"$tmp/sink").select("vec_id").orderBy("vec_id")
      },
      None),

    // Q28c: embedding near-dup pairs over a blocking column (label).
    QueryDef(
      "q28c_sim_pairs",
      (s, dir) =>
        Similarity.nearDupPairs(Tables.embeddings(s, dir), threshold = 0.25, blockCol = "label")
          .orderBy("id_a", "id_b"),
      Some("""SELECT id_a, id_b, round(score, 6) AS score FROM (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             |           / sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))
             |                  * list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))) AS score
             |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
             |WHERE score >= 0.25 ORDER BY id_a, id_b""".stripMargin)),

    // Q29: corpus text statistics per language — byte/token counts with a
    // BPE-ish subword proxy, all deterministic arithmetic.
    QueryDef(
      "q29_text_stats",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        Tables.documents(s, dir)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(octet_length(col("text")).cast("long")).as("sum_bytes"),
            sum(size(toks).cast("long")).as("sum_toks"),
            sum(TextOps.approxBpeTokenCount(col("text")).cast("long")).as("sum_bpe"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes,
             |  CAST(SUM(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))) AS BIGINT) AS sum_toks,
             |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT) AS sum_bpe
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Q29b: per-document quality scoring — length/token/punctuation heuristic
    // blend, mirrored exactly in the oracle's double arithmetic.
    QueryDef(
      "q29b_text_quality",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_toks"),
            TextOps.approxBpeTokenCount(col("text")).cast("long").as("n_bpe"),
            round(TextOps.punctRatio(col("text")), 6).as("punct_ratio"),
            TextOps.qualityScore(col("text")).as("quality"))
          .orderBy("doc_id"),
      Some("""WITH q AS (
             |  SELECT doc_id, text,
             |    CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_toks,
             |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
             |    CASE WHEN length(text) = 0 THEN 0.0
             |         ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
             |              / CAST(length(text) AS DOUBLE) END AS pr
             |  FROM documents)
             |SELECT doc_id, n_toks, n_bpe, round(pr, 6) AS punct_ratio,
             |  round(
             |    least(CAST(n_toks AS DOUBLE) / 50.0, 1.0) * 0.4 +
             |    (CASE WHEN n_toks != 0
             |               AND CAST(length(text) AS DOUBLE) / CAST(n_toks AS DOUBLE) >= 3
             |               AND CAST(length(text) AS DOUBLE) / CAST(n_toks AS DOUBLE) <= 10
             |          THEN 1.0 ELSE 0.5 END) * 0.4 +
             |    (CASE WHEN pr <= 0.1 THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality
             |FROM q ORDER BY doc_id""".stripMargin)),

    // Q29c: language identification (stopword-hit heuristic) vs the labeled
    // lang column — confusion counts. The heuristic is deterministic
    // arithmetic (multiset stopword counts + Han-character count, argmax
    // with a fixed priority cascade), so it oracles exactly: the CASE
    // cascade mirrors Spark's greatest((hits, pri, lang)) tie-breaking
    // (de > en > es > fr > zh on equal hits).
    QueryDef(
      "q29c_text_langid",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("lang"), TextOps.langId(col("text")).as("pred_lang"))
          .groupBy("lang", "pred_lang")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred_lang"),
      Some("""WITH t AS (
             |  SELECT lang, text,
             |         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks,
             |         length(regexp_replace(text, '[^\p{Han}]', '', 'g')) AS zh
             |  FROM documents),
             |h AS (
             |  SELECT lang,
             |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit','auf','fur','von','im','den'))) AS de,
             |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','that','was','for','on','with','as','at'))) AS en,
             |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','una','es','no','con','por','los','las','para'))) AS es,
             |    len(list_filter(toks, x -> x IN ('le','la','de','et','un','une','est','les','des','du','en','que','pour','dans','sur'))) AS fr,
             |    zh
             |  FROM t)
             |SELECT lang, pred_lang, COUNT(*) AS n FROM (
             |  SELECT lang, CASE
             |    WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
             |    WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
             |    WHEN es >= fr AND es >= zh THEN 'es'
             |    WHEN fr >= zh THEN 'fr'
             |    ELSE 'zh' END AS pred_lang
             |  FROM h)
             |GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin)),

    // Q29e: token-budget curation — per-language greedy fill with the
    // highest-quality documents until a 2000-token budget: the
    // "assemble an N-token training mix" selection. The quality score is
    // the q29b formula (rounded to 6 decimals, so cross-engine ordering is
    // exact); the oracle states the same windowed prefix fill.
    QueryDef(
      "q29e_token_budget",
      (s, dir) =>
        graft.operators.Curation.tokenBudget(
          Tables.documents(s, dir), budgetTokens = 2000L,
          score = TextOps.qualityScore(col("text")))
          .orderBy("lang", "cum_tokens"),
      Some("""WITH t AS (
             |  SELECT doc_id, lang, text,
             |    CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens,
             |    CASE WHEN length(text) = 0 THEN 0.0
             |         ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
             |              / CAST(length(text) AS DOUBLE) END AS pr
             |  FROM documents),
             |q AS (
             |  SELECT doc_id, lang, n_tokens,
             |    round(
             |      least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4 +
             |      (CASE WHEN n_tokens != 0
             |                 AND CAST(length(text) AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 3
             |                 AND CAST(length(text) AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 10
             |            THEN 1.0 ELSE 0.5 END) * 0.4 +
             |      (CASE WHEN pr <= 0.1 THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS score
             |  FROM t),
             |c AS (
             |  SELECT doc_id, lang, n_tokens,
             |         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id
             |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             |  FROM q)
             |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
             |WHERE cum_tokens <= 2000 ORDER BY lang, cum_tokens""".stripMargin)),

    // Q29f: deterministic stratified sampling — the dataset-mixing
    // selection (hash-threshold membership: reproducible, nested across
    // rates, map-side only). Oracle-checked via the XxSql xxhash64
    // re-derivation (the id is a LONG, so the 8-byte twin applies);
    // CurationSpec additionally pins determinism/nestedness/rate accuracy.
    QueryDef(
      "q29f_stratified_sample",
      (s, dir) =>
        graft.operators.Curation.stratifiedSample(
          Tables.documents(s, dir), rates = Map.empty, defaultRate = 0.5, seed = 42L)
          .select("doc_id", "lang")
          .orderBy("doc_id"),
      // membership = pmod(xxhash64(doc_id, 42), 2^20) < 0.5 * 2^20 — the
      // XxSql re-derivation makes the exact sample oracle-checkable
      Some(s"""WITH ${XxSql.hashCtes("xh", "(SELECT doc_id FROM documents)", "doc_id", 42L)},
             |m AS (SELECT doc_id FROM xhh
             |      WHERE ((h % 1048576) + 1048576) % 1048576 < 524288)
             |SELECT d.doc_id, d.lang FROM documents d JOIN m USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Q29g: PII redaction — sequential email/IPv4/phone scrubbing with
    // per-pass counts. The patterns are restricted to syntax with identical
    // semantics in Java regex (Spark) and RE2 (DuckDB), so the oracle
    // hash-compares the REDACTED TEXT itself, proving dialect equivalence
    // end-to-end on the real corpus.
    QueryDef(
      "q29g_pii_redact",
      (s, dir) =>
        graft.operators.Curation.redact(Tables.documents(s, dir))
          .select(
            col("doc_id"),
            col("n_emails").cast("long").as("n_emails"),
            col("n_ips").cast("long").as("n_ips"),
            col("n_phones").cast("long").as("n_phones"),
            col("redacted"))
          .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, coalesce(text, '') AS t0 FROM documents),
             |a AS (SELECT doc_id, t0,
             |        regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g') AS t1
             |      FROM t),
             |b AS (SELECT doc_id, t0, t1,
             |        regexp_replace(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[PII]', 'g') AS t2
             |      FROM a)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
             |  CAST(len(regexp_extract_all(t2, '\+?[0-9][0-9()\s.-]{6,}[0-9]')) AS BIGINT) AS n_phones,
             |  regexp_replace(t2, '\+?[0-9][0-9()\s.-]{6,}[0-9]', '[PII]', 'g') AS redacted
             |FROM b ORDER BY doc_id""".stripMargin)),

    // Q29h: benchmark decontamination — distinct 4-gram overlap between each
    // corpus document and a held-out "benchmark" slice (doc_id % 20 == 0
    // plays the eval set). The engine joins on n-gram HASHES (broadcast
    // benchmark set, corpus never shuffled); the oracle joins the n-gram
    // STRINGS — equality of the counts is itself a collision check.
    QueryDef(
      "q29h_decontaminate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.operators.Curation.decontaminate(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          n = 4, minOverlap = 5L)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, unnest(CASE WHEN len(toks) < 4 THEN []::VARCHAR[]
             |           ELSE list_distinct([array_to_string(toks[i:i+3], ' ')
             |                               for i in range(1, len(toks) - 2)]) END) AS ng
             |  FROM t),
             |bm AS (SELECT DISTINCT ng FROM g WHERE doc_id % 20 = 0),
             |ov AS (
             |  SELECT g.doc_id, count(*) AS n_ngrams, count(bm.ng) AS n_overlap
             |  FROM g LEFT JOIN bm ON g.ng = bm.ng
             |  WHERE g.doc_id % 20 != 0 GROUP BY 1)
             |SELECT t.doc_id,
             |  CAST(coalesce(ov.n_ngrams, 0) AS BIGINT) AS n_ngrams,
             |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
             |  CAST(CASE WHEN coalesce(ov.n_overlap, 0) >= 5 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
             |FROM t LEFT JOIN ov ON t.doc_id = ov.doc_id
             |WHERE t.doc_id % 20 != 0 ORDER BY t.doc_id""".stripMargin)),

    // Q29h2: FUZZY decontamination — the q29h split re-checked for
    // paraphrased/truncated leaks: MinHash/LSH banding ACROSS the
    // corpus/benchmark boundary (bench side broadcast), estimate
    // prefilter, exact-Jaccard verify. Banding-dependent output is
    // deterministic given the hash family, so the oracle re-derives the
    // whole cross pipeline via the string-XXH64 twin (the q27c machinery
    // with cross-set candidates) — hash-compared end to end.
    QueryDef(
      "q29h2_decontaminate_fuzzy",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.operators.Curation.decontaminateFuzzy(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          threshold = 0.5)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
             |${XxSql.docTokenHashCtes},
             |${XxSql.minHashCrossCtes(0.5, "% 20 != 0", "% 20 = 0")},
             |fz AS (
             |  SELECT d.doc_id,
             |         CAST(count(CASE WHEN m.jacc >= 0.5 THEN 1 END) AS BIGINT) AS n_matches,
             |         round(coalesce(max(m.jacc), 0.0), 6) AS max_jaccard
             |  FROM documents d LEFT JOIN mh m ON m.doc_a = d.doc_id
             |  WHERE d.doc_id % 20 != 0
             |  GROUP BY d.doc_id)
             |SELECT doc_id, n_matches, max_jaccard,
             |       CAST(n_matches > 0 AS BIGINT) AS contaminated
             |FROM fz ORDER BY doc_id""".stripMargin)),

    // Q29i: intra-document repetition stats (Gopher-style duplicate
    // token/2-gram/3-gram fractions + repetitive flag). Engine counts
    // distinct hashes map-side; oracle counts distinct strings.
    QueryDef(
      "q29i_text_repetition",
      (s, dir) =>
        graft.operators.Curation.repetitionStats(Tables.documents(s, dir))
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')), ' ') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             |    len(list_distinct(toks)) AS d1,
             |    CASE WHEN len(toks) < 2 THEN 0
             |         ELSE len(list_distinct([array_to_string(toks[i:i+1], ' ')
             |                                 for i in range(1, len(toks))])) END AS d2,
             |    CASE WHEN len(toks) < 3 THEN 0
             |         ELSE len(list_distinct([array_to_string(toks[i:i+2], ' ')
             |                                 for i in range(1, len(toks) - 1)])) END AS d3
             |  FROM t),
             |r AS (
             |  SELECT doc_id, n_tokens,
             |    CASE WHEN n_tokens <= 0 THEN 0.0
             |         ELSE round(1.0 - CAST(d1 AS DOUBLE) / n_tokens, 6) END AS dup_token_frac,
             |    CASE WHEN n_tokens - 1 <= 0 THEN 0.0
             |         ELSE round(1.0 - CAST(d2 AS DOUBLE) / (n_tokens - 1), 6) END AS dup_2gram_frac,
             |    CASE WHEN n_tokens - 2 <= 0 THEN 0.0
             |         ELSE round(1.0 - CAST(d3 AS DOUBLE) / (n_tokens - 2), 6) END AS dup_3gram_frac
             |  FROM g)
             |SELECT doc_id, n_tokens, dup_token_frac, dup_2gram_frac, dup_3gram_frac,
             |  CAST(CASE WHEN dup_2gram_frac > 0.5 THEN 1 ELSE 0 END AS BIGINT) AS repetitive
             |FROM r ORDER BY doc_id""".stripMargin)),

    // Q29j: deterministic training-shard order — xxhash64 shard + in-shard
    // rank. The oracle re-derives Spark's xxhash64 ITSELF in DuckDB (the
    // XxSql CTE chain: XXH64 of an 8-byte value is a fixed public formula,
    // expressible in unsigned-64 modular arithmetic) — full rows+hash
    // check, not rows-only. CurationSpec additionally pins the
    // permutation/determinism/balance properties.
    QueryDef(
      "q29j_training_order",
      (s, dir) =>
        graft.operators.Curation.trainingOrder(
          Tables.documents(s, dir), numShards = 8, seed = 42L)
          .orderBy("shard", "pos"),
      Some(s"""WITH $TrainingOrderSql
             |SELECT doc_id, shard, pos FROM ord ORDER BY shard, pos""".stripMargin)),

    // Q29k: quality filter chain — ordered rules, each doc labeled with the
    // FIRST rule it violates (funnel accounting; drop counts are one groupBy
    // away). Signals reuse the q29i/q29b formulas so the oracle states the
    // same cascade.
    QueryDef(
      "q29k_filter_chain",
      (s, dir) =>
        // the shared default cascade: thresholds exercise every rule (and
        // first-wins ordering) on the synthetic corpus distribution
        graft.operators.Curation.filterChain(
          Tables.documents(s, dir),
          graft.operators.Curation.defaultQualityRules())
          .select(col("doc_id"), col("fail_rule"), col("keep"))
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, coalesce(text, '') AS tx,
             |         string_split(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')), ' ') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, tx, CAST(len(toks) AS BIGINT) AS n_tokens,
             |    CASE WHEN len(toks) < 2 THEN 0
             |         ELSE len(list_distinct([array_to_string(toks[i:i+1], ' ')
             |                                 for i in range(1, len(toks))])) END AS d2
             |  FROM t),
             |r AS (
             |  SELECT doc_id,
             |    CASE WHEN n_tokens < 20 THEN 'too_short'
             |         WHEN (CASE WHEN n_tokens - 1 <= 0 THEN 0.0
             |               ELSE round(1.0 - CAST(d2 AS DOUBLE) / (n_tokens - 1), 6) END) > 0.05
             |           THEN 'too_repetitive'
             |         WHEN CAST(length(tx) AS DOUBLE) / n_tokens < 5.2
             |              OR CAST(length(tx) AS DOUBLE) / n_tokens > 10.0 THEN 'word_length'
             |         ELSE 'pass' END AS fail_rule
             |  FROM g)
             |SELECT doc_id, fail_rule,
             |  CAST(CASE WHEN fail_rule = 'pass' THEN 1 ELSE 0 END AS BIGINT) AS keep
             |FROM r ORDER BY doc_id""".stripMargin)),

    // Q29l: chunking into training sequences — 40-token windows, 10-token
    // overlap (stride 30); the oracle states the same window arithmetic
    // over DuckDB list slices.
    QueryDef(
      "q29l_chunk",
      (s, dir) =>
        graft.operators.Curation.chunk(
          Tables.documents(s, dir), chunkTokens = 40, overlapTokens = 10)
          .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
            col("n_chunk_tokens").cast("long").as("n_chunk_tokens"), col("chunk_text"))
          .orderBy("doc_id", "chunk_idx"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         string_split(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')), ' ') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, toks, len(toks) AS n,
             |         (greatest(len(toks) - 10 - 1, 0) // 30) AS last_i
             |  FROM t),
             |c AS (SELECT doc_id, toks, n, unnest(range(0, last_i + 1)) AS i FROM g)
             |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             |  CAST(least(40, n - i * 30) AS BIGINT) AS n_chunk_tokens,
             |  array_to_string(toks[i * 30 + 1 : i * 30 + 40], ' ') AS chunk_text
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Q29m: sequence packing — documents in their deterministic training
    // order, first-fit into 2000-token examples per shard. The sequential
    // first-fit scan is not a SQL window, but it IS a recursive CTE
    // stepping one row per shard-position (PackSql) over the re-derived
    // xxhash64 order — oracle-checked end to end; CurationSpec pins the
    // packing against a driver-side reference fill too.
    QueryDef(
      "q29m_pack_sequences",
      (s, dir) =>
        graft.operators.Curation.packDocuments(
          Tables.documents(s, dir), tokensPerExample = 2000L, numShards = 8, seed = 42L)
          .orderBy("shard", "example_idx", "pos_in_example"),
      Some(s"""WITH RECURSIVE $TrainingOrderSql,
             |nt AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |ordnt AS (
             |  SELECT o.doc_id, o.shard, o.pos, nt.n_tokens FROM ord o JOIN nt USING (doc_id)),
             |$PackSql
             |SELECT doc_id, shard, example_idx, pos_in_example, n_tokens
             |FROM pack ORDER BY shard, example_idx, pos_in_example""".stripMargin)),

    // Q29n: corpus vocabulary — top-50 token frequencies with corpus
    // share, ties broken by token. One partial-agg count + TakeOrdered.
    QueryDef(
      "q29n_vocabulary",
      (s, dir) =>
        graft.operators.Curation.vocabulary(Tables.documents(s, dir), k = 50)
          .orderBy(col("n_occurrences").desc, col("token")),
      Some("""WITH t AS (
             |  SELECT unnest(string_split(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')), ' ')) AS token
             |  FROM documents),
             |c AS (SELECT token, count(*) AS n_occurrences FROM t GROUP BY token),
             |s AS (SELECT CAST(sum(n_occurrences) AS DOUBLE) AS total FROM c)
             |SELECT token, n_occurrences,
             |  round(CAST(n_occurrences AS DOUBLE) / total, 6) AS share
             |FROM c, s ORDER BY n_occurrences DESC, token LIMIT 50""".stripMargin)),

    // Q29p: the END-TO-END curation pipeline (filter → redact → exact
    // dedup → near-dup collapse → decontaminate → token budget), reporting
    // the per-stage funnel. Oracle-checked: the whole composition is
    // re-derived in ONE DuckDB query chaining the per-stage oracle twins —
    // the q29k quality cascade, the q29g redaction chain, normalized-text
    // exact dedup, the FULL MinHash-LSH pipeline over the string-XXH64
    // twin RESTRICTED to the exact survivors (tokenized on the REDACTED
    // text, threshold 0.7) closed into components and collapsed to min-id
    // representatives, 4-gram decontamination against the raw first-20
    // benchmark, and the per-lang quality-ordered token-budget fill.
    // CurationSpec additionally pins the funnel against the
    // manually-chained standalone operators.
    QueryDef(
      "q29p_pipeline",
      (s, dir) => Stage.scope { _ =>
        val docs = Tables.documents(s, dir)
        // the funnel is the result here: the corpus passes to this scope
        // and is freed on return
        val (_, funnel) = graft.operators.Curation.curationPipeline(
          docs,
          graft.operators.Curation.defaultQualityRules(),
          benchmark = Some(docs.orderBy("doc_id").limit(20)),
          budgetTokens = Some(100000L))
        funnel
      },
      Some(s"""WITH RECURSIVE
             |ft AS (
             |  SELECT doc_id, lang, coalesce(text, '') AS tx,
             |         string_split(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')), ' ') AS toks
             |  FROM documents),
             |fg AS (
             |  SELECT doc_id, lang, tx, CAST(len(toks) AS BIGINT) AS n_tokens,
             |    CASE WHEN len(toks) < 2 THEN 0
             |         ELSE len(list_distinct([array_to_string(toks[i:i+1], ' ')
             |                                 for i in range(1, len(toks))])) END AS d2
             |  FROM ft),
             |fdoc AS MATERIALIZED (
             |  SELECT doc_id, lang, tx FROM fg
             |  WHERE NOT (n_tokens < 20)
             |    AND NOT ((CASE WHEN n_tokens - 1 <= 0 THEN 0.0
             |              ELSE round(1.0 - CAST(d2 AS DOUBLE) / (n_tokens - 1), 6) END) > 0.05)
             |    AND NOT (CAST(length(tx) AS DOUBLE) / n_tokens < 5.2
             |             OR CAST(length(tx) AS DOUBLE) / n_tokens > 10.0)),
             |ra AS (SELECT doc_id, lang,
             |         regexp_replace(tx, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[PII]', 'g') AS t1
             |       FROM fdoc),
             |rb AS (SELECT doc_id, lang,
             |         regexp_replace(t1, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '[PII]', 'g') AS t2
             |       FROM ra),
             |rdoc AS MATERIALIZED (
             |  SELECT doc_id, lang,
             |         regexp_replace(t2, '\\+?[0-9][0-9()\\s.-]{6,}[0-9]', '[PII]', 'g') AS text
             |  FROM rb),
             |tokd AS MATERIALIZED (
             |  SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
             |  FROM rdoc),
             |tok AS (
             |  SELECT doc_id AS did, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS token
             |  FROM tokd t,
             |  LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) g),
             |${XxSql.strHashCtes},
             |en AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm FROM rdoc),
             |ek AS (SELECT norm, min(doc_id) AS keep_id FROM en GROUP BY norm),
             |edoc AS MATERIALIZED (
             |  SELECT n.doc_id FROM en n JOIN ek k ON n.norm = k.norm WHERE n.doc_id = k.keep_id),
             |${XxSql.minHashPairsCtes(0.7, survivors = Some("edoc"))},
             |mhp AS MATERIALIZED (SELECT doc_a, doc_b FROM mh WHERE jacc >= 0.7),
             |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mhp UNION SELECT doc_b, doc_a FROM mhp),
             |reach(src, dst) AS (
             |  SELECT src, dst FROM edges
             |  UNION
             |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
             |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component FROM reach GROUP BY src),
             |ndoc AS MATERIALIZED (
             |  SELECT doc_id FROM edoc
             |  WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != component)),
             |bmdocs AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 20),
             |bmg AS (
             |  SELECT DISTINCT unnest(CASE WHEN len(toks) < 4 THEN []::VARCHAR[]
             |           ELSE list_distinct([array_to_string(toks[i:i+3], ' ')
             |                               for i in range(1, len(toks) - 2)]) END) AS ng
             |  FROM (SELECT string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
             |        FROM bmdocs)),
             |cg AS (
             |  SELECT doc_id, unnest(CASE WHEN len(toks) < 4 THEN []::VARCHAR[]
             |           ELSE list_distinct([array_to_string(toks[i:i+3], ' ')
             |                               for i in range(1, len(toks) - 2)]) END) AS ng
             |  FROM (SELECT r.doc_id, string_split(trim(regexp_replace(r.text, '\\s+', ' ', 'g')), ' ') AS toks
             |        FROM rdoc r JOIN ndoc USING (doc_id))),
             |contam AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bmg ON cg.ng = bmg.ng),
             |cdoc AS MATERIALIZED (
             |  SELECT doc_id FROM ndoc WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
             |bt AS (
             |  SELECT r.doc_id, r.lang, r.text,
             |    CAST(len(string_split(trim(regexp_replace(r.text, '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens,
             |    CASE WHEN length(r.text) = 0 THEN 0.0
             |         ELSE CAST(length(regexp_replace(r.text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
             |              / CAST(length(r.text) AS DOUBLE) END AS pr
             |  FROM rdoc r JOIN cdoc USING (doc_id)),
             |bq AS (
             |  SELECT doc_id, lang, n_tokens,
             |    round(
             |      least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4 +
             |      (CASE WHEN n_tokens != 0
             |                 AND CAST(length(text) AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 3
             |                 AND CAST(length(text) AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 10
             |            THEN 1.0 ELSE 0.5 END) * 0.4 +
             |      (CASE WHEN pr <= 0.1 THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS score
             |  FROM bt),
             |bc AS (
             |  SELECT doc_id,
             |         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id
             |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             |  FROM bq),
             |bdoc AS (SELECT doc_id FROM bc WHERE cum_tokens <= 100000)
             |SELECT 'filter' AS stage, CAST((SELECT count(*) FROM documents) AS BIGINT) AS docs_in,
             |       CAST((SELECT count(*) FROM fdoc) AS BIGINT) AS docs_out
             |UNION ALL SELECT 'redact', (SELECT count(*) FROM fdoc), (SELECT count(*) FROM rdoc)
             |UNION ALL SELECT 'exact', (SELECT count(*) FROM rdoc), (SELECT count(*) FROM edoc)
             |UNION ALL SELECT 'neardup', (SELECT count(*) FROM edoc), (SELECT count(*) FROM ndoc)
             |UNION ALL SELECT 'decontaminate', (SELECT count(*) FROM ndoc), (SELECT count(*) FROM cdoc)
             |UNION ALL SELECT 'budget', (SELECT count(*) FROM cdoc), (SELECT count(*) FROM bdoc)""".stripMargin)),

    // Q29q: CCNet-style LM-perplexity quality scoring — a pruned
    // stupid-backoff bigram model trained on the corpus, every document
    // scored against it (three broadcast joins, one slim per-doc agg).
    // Prune limits (25 of 31 tokens, 600 of 946 bigrams) are set to
    // genuinely exercise the OOV floor and the backoff rule at this SF.
    // The oracle re-derives the whole model AND the scoring in SQL.
    QueryDef(
      "q29q_perplexity",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val lm = graft.operators.Curation.trainNgramLm(docs, maxVocab = 25, maxBigrams = 600)
        graft.operators.Curation.perplexity(docs, lm).orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         string_split(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')), ' ') AS toks
             |  FROM documents),
             |r AS (SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos FROM t),
             |tok AS (
             |  SELECT doc_id, pos, toks[pos + 1] AS token,
             |         CASE WHEN pos = 0 THEN NULL ELSE toks[pos] END AS prev
             |  FROM r),
             |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
             |uni AS (
             |  SELECT token, CAST(count(*) AS DOUBLE) AS c1 FROM tok
             |  GROUP BY token ORDER BY c1 DESC, token LIMIT 25),
             |big AS (
             |  SELECT prev, token, CAST(count(*) AS DOUBLE) AS c2 FROM tok
             |  WHERE prev IS NOT NULL
             |    AND prev IN (SELECT token FROM uni) AND token IN (SELECT token FROM uni)
             |  GROUP BY prev, token ORDER BY c2 DESC, prev, token LIMIT 600),
             |s AS (
             |  SELECT tok.doc_id,
             |    CASE WHEN tok.prev IS NULL THEN coalesce(u.c1, 0.4) / (SELECT n FROM n)
             |         WHEN b.c2 IS NOT NULL THEN b.c2 / up.c1
             |         ELSE 0.4 * coalesce(u.c1, 0.4) / (SELECT n FROM n) END AS sc
             |  FROM tok
             |  LEFT JOIN uni u ON tok.token = u.token
             |  LEFT JOIN uni up ON tok.prev = up.token
             |  LEFT JOIN big b ON tok.prev = b.prev AND tok.token = b.token)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  round(exp(-avg(ln(sc))), 4) AS ppl
             |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Q29q2: perplexity under the PLUGGABLE BPE tokenizer — the LM is
    // trained AND scored on the same subword stream (NgramLm carries its
    // tokenizer, so the two can never split-brain; a BPE-curated corpus
    // must be scored under BPE tokens). The oracle composes the recursive
    // greedy-match tokenizer CTE (q29l2's) with q29q's model + scoring SQL
    // — a fully independent second implementation end-to-end.
    QueryDef(
      "q29q2_perplexity_bpe",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val lm = graft.operators.Curation.trainNgramLm(
          docs, maxVocab = 25, maxBigrams = 600,
          tokenizer = graft.functions.Tokenizer.Bpe(graft.functions.Tokenizer.FixtureVocab))
        graft.operators.Curation.perplexity(docs, lm).orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $BpeVocabSql,
             |wl AS (
             |  SELECT doc_id,
             |         string_split(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')), ' ') AS ws
             |  FROM documents),
             |wd AS (
             |  SELECT doc_id, wi, w FROM (
             |    SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS wi FROM wl) u
             |  WHERE w <> ''),
             |steps(doc_id, wi, w, pos, pieces) AS (
             |  SELECT doc_id, wi, w, 1, CAST([] AS VARCHAR[]) FROM wd
             |  UNION ALL
             |  SELECT doc_id, wi, w, pos + L,
             |    list_append(pieces,
             |      CASE WHEN pos = 1 THEN ' ' || substr(w, pos, L) ELSE substr(w, pos, L) END)
             |  FROM (
             |    SELECT s.*, coalesce((SELECT max(length(piece)) FROM vocab
             |                          WHERE piece = substr(s.w, s.pos, length(piece))), 1) AS L
             |    FROM steps s WHERE s.pos <= length(s.w)) x),
             |dtoks AS (
             |  SELECT doc_id, flatten(list(pieces ORDER BY wi)) AS toks
             |  FROM steps WHERE pos > length(w) GROUP BY doc_id),
             |r AS (SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos FROM dtoks),
             |tok AS (
             |  SELECT doc_id, pos, toks[pos + 1] AS token,
             |         CASE WHEN pos = 0 THEN NULL ELSE toks[pos] END AS prev
             |  FROM r),
             |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
             |uni AS (
             |  SELECT token, CAST(count(*) AS DOUBLE) AS c1 FROM tok
             |  GROUP BY token ORDER BY c1 DESC, token LIMIT 25),
             |big AS (
             |  SELECT prev, token, CAST(count(*) AS DOUBLE) AS c2 FROM tok
             |  WHERE prev IS NOT NULL
             |    AND prev IN (SELECT token FROM uni) AND token IN (SELECT token FROM uni)
             |  GROUP BY prev, token ORDER BY c2 DESC, prev, token LIMIT 600),
             |sc AS (
             |  SELECT tok.doc_id,
             |    CASE WHEN tok.prev IS NULL THEN coalesce(u.c1, 0.4) / (SELECT n FROM n)
             |         WHEN b.c2 IS NOT NULL THEN b.c2 / up.c1
             |         ELSE 0.4 * coalesce(u.c1, 0.4) / (SELECT n FROM n) END AS sc
             |  FROM tok
             |  LEFT JOIN uni u ON tok.token = u.token
             |  LEFT JOIN uni up ON tok.prev = up.token
             |  LEFT JOIN big b ON tok.prev = b.prev AND tok.token = b.token)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  round(exp(-avg(ln(sc))), 4) AS ppl
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Q29r: passage-level boilerplate detection (ExactSubstr-style) — the
    // positional n-gram kernel's operator: the OFFSET of every occurrence
    // of an n-gram recurring in >= minDocs distinct documents (what
    // excision consumes). Oracle-checked: the string-XXH64 twin supplies
    // the token hashes, the positional 5-gram fold re-derives the kernel's
    // combined hashes, and the distinct-document threshold is plain SQL.
    // CurationSpec additionally pins planted boilerplate offsets,
    // soundness, and the catalog-interop property.
    QueryDef(
      "q29r_boilerplate",
      (s, dir) =>
        graft.operators.Curation.boilerplateNgrams(
          Tables.documents(s, dir), n = 5, minDocs = 3)
          .orderBy("doc_id", "offset", "gram"),
      Some(s"""WITH RECURSIVE
             |${XxSql.docTokenHashCtes},
             |${XxSql.posNgramCtes(5)},
             |hot AS (
             |  SELECT gram, CAST(count(DISTINCT did) AS BIGINT) AS n_docs
             |  FROM png GROUP BY gram HAVING count(DISTINCT did) >= 3)
             |SELECT p.did AS doc_id, CAST(p.off AS BIGINT) AS "offset", p.gram, h.n_docs
             |FROM png p JOIN hot h USING (gram)
             |ORDER BY doc_id, "offset", gram""".stripMargin)),

    // Q29r2: boilerplate EXCISION — the ExactSubstr consumer of q29r's
    // hits: covered token positions cut, remainder rejoined in order
    // (passage-level removal where doc-level dedup would discard the
    // page). The oracle composes q29r's detection CTEs with the position
    // cover, the NOT EXISTS cut, and an ordered string_agg rebuild — the
    // CLEANED TEXT ITSELF is hash-compared.
    QueryDef(
      "q29r2_excise_boilerplate",
      (s, dir) =>
        graft.operators.Curation.exciseBoilerplate(
          Tables.documents(s, dir), n = 5, minDocs = 3)
          .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE
             |${XxSql.docTokenHashCtes},
             |${XxSql.posNgramCtes(5)},
             |hot AS (
             |  SELECT gram FROM png GROUP BY gram HAVING count(DISTINCT did) >= 3),
             |hit AS (SELECT DISTINCT p.did, p.off FROM png p JOIN hot h USING (gram)),
             |cov AS (
             |  SELECT DISTINCT did, off + d AS pos
             |  FROM hit CROSS JOIN (SELECT unnest(range(0, 5)) AS d) g),
             |kept AS (
             |  SELECT t.did, t.pos, t.token FROM tok t
             |  WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.did = t.did AND c.pos = t.pos)),
             |agg AS (
             |  SELECT did, CAST(count(*) AS BIGINT) AS n_kept,
             |         coalesce(string_agg(token, ' ' ORDER BY pos), '') AS text_clean
             |  FROM kept GROUP BY did),
             |tot AS (SELECT did, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY did)
             |SELECT tot.did AS doc_id, tot.n_tokens,
             |       CAST(tot.n_tokens - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
             |       coalesce(a.text_clean, '') AS text_clean
             |FROM tot LEFT JOIN agg a ON a.did = tot.did
             |ORDER BY doc_id""".stripMargin)),

    // Q29s: Naive-Bayes quality classification — the GPT-3/LLaMA-style
    // "reference-like" classifier, trained by pure counting on a labeled
    // source split (src0-src3 = curated references, the rest = raw crawl)
    // and scored map-only over the whole corpus. maxVocab = 25 genuinely
    // prunes this corpus's ~31-token vocabulary, so the OOV path (pruned
    // AND unseen tokens) is exercised. The oracle re-derives the counts,
    // the Laplace log-likelihood ratios, the prune, and the decimal-sum
    // scoring — model training AND inference both hash-compared.
    QueryDef(
      "q29s_quality_classifier",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val isRef = col("source").isin("src0", "src1", "src2", "src3")
        val nb = graft.operators.Curation.trainQualityClassifier(
          docs.filter(isRef), docs.filter(!isRef), maxVocab = 25)
        graft.operators.Curation.classifierScore(docs, nb).orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source IN ('src0','src1','src2','src3') AS is_pos,
             |         string_split(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')), ' ') AS toks
             |  FROM documents),
             |tok AS (SELECT doc_id, is_pos, unnest(toks) AS token FROM t),
             |cnt AS (
             |  SELECT token,
             |         CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS DOUBLE) AS cpos,
             |         CAST(sum(CASE WHEN is_pos THEN 0 ELSE 1 END) AS DOUBLE) AS cneg
             |  FROM tok GROUP BY token),
             |tot AS (
             |  SELECT sum(cpos) + CAST(count(*) AS DOUBLE) AS dpos,
             |         sum(cneg) + CAST(count(*) AS DOUBLE) AS dneg
             |  FROM cnt),
             |llr AS (
             |  SELECT token,
             |         ln((cpos + 1.0) / (SELECT dpos FROM tot)) -
             |         ln((cneg + 1.0) / (SELECT dneg FROM tot)) AS llr
             |  FROM cnt ORDER BY cpos + cneg DESC, token LIMIT 25),
             |pr AS (
             |  SELECT ln(CAST((SELECT count(*) FROM documents
             |                  WHERE source IN ('src0','src1','src2','src3')) AS DOUBLE) /
             |            CAST((SELECT count(*) FROM documents
             |                  WHERE source NOT IN ('src0','src1','src2','src3')) AS DOUBLE)) AS prior,
             |         ln(1.0 / (SELECT dpos FROM tot)) - ln(1.0 / (SELECT dneg FROM tot)) AS oov),
             |s AS (
             |  SELECT tok.doc_id, coalesce(l.llr, (SELECT oov FROM pr)) AS sc
             |  FROM tok LEFT JOIN llr l ON tok.token = l.token),
             |agg AS (
             |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |         round(CAST(sum(CAST(sc AS DECIMAL(30,10))) AS DOUBLE)
             |               + (SELECT prior FROM pr), 4) AS nb_logodds
             |  FROM s GROUP BY doc_id)
             |SELECT doc_id, n_tokens, nb_logodds,
             |       CAST(nb_logodds > 0 AS BIGINT) AS is_quality
             |FROM agg ORDER BY doc_id""".stripMargin)),

    // Q29t: DSIR importance weights — hashed-bigram bucket models of the
    // curated-source target vs the whole corpus, per-doc log importance
    // ratio. The hashing trick bounds the model at `buckets` rows, so no
    // prune/OOV path fires here. Oracle: the positional-2-gram fold over
    // the string-XXH64 twin, bucketed by pmod, both count models and the
    // decimal-summed scoring re-derived in SQL.
    QueryDef(
      "q29t_dsir",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val m = graft.operators.Curation.trainDsir(
          docs.filter(col("source").isin("src0", "src1", "src2", "src3")), docs,
          buckets = 10007)
        graft.operators.Curation.dsirScore(docs, m).orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
             |${XxSql.docTokenHashCtes},
             |${XxSql.posNgramCtes(2)},
             |$DsirWeightCtes
             |SELECT d.doc_id, CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
             |       CAST(coalesce(a.log_weight, 0.0) AS DOUBLE) AS log_weight
             |FROM documents d LEFT JOIN agg a ON a.did = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // Q29t2: DSIR importance RESAMPLING — Gumbel-top-k over the q29t
    // weights with deterministic hash-derived noise: the exact 100-doc
    // data mix is reproducible and fully re-derived in SQL (weights,
    // noise, ordering, cut).
    QueryDef(
      "q29t2_dsir_sample",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val m = graft.operators.Curation.trainDsir(
          docs.filter(col("source").isin("src0", "src1", "src2", "src3")), docs,
          buckets = 10007)
        graft.operators.Curation.dsirResample(docs, m, sampleSize = 100, seed = 7L)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
             |${XxSql.docTokenHashCtes},
             |${XxSql.posNgramCtes(2)},
             |$DsirWeightCtes,
             |w AS (
             |  SELECT d.doc_id, CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
             |         CAST(coalesce(a.log_weight, 0.0) AS DOUBLE) AS log_weight
             |  FROM documents d LEFT JOIN agg a ON a.did = d.doc_id),
             |${XxSql.hashCtes("gh", "(SELECT doc_id FROM documents)", "doc_id", 7L)},
             |keyed AS (
             |  SELECT w.doc_id, w.n_grams, w.log_weight,
             |         w.log_weight + (-ln(-ln(
             |           (CAST(((h % 9007199254740992) + 9007199254740992) % 9007199254740992
             |                 AS DOUBLE) + 0.5) / 9007199254740992.0))) AS sel_key
             |  FROM w JOIN ghh ON ghh.doc_id = w.doc_id),
             |top AS (
             |  SELECT doc_id, n_grams, log_weight, round(sel_key, 6) AS sel_key
             |  FROM keyed ORDER BY keyed.sel_key DESC, doc_id LIMIT 100)
             |SELECT * FROM top ORDER BY doc_id""".stripMargin)),

    // Q29o: LEARNED BPE vocabulary — the trained-tokenizer half of the
    // pluggable token-counting surface: distributed word histogram, then
    // the Sennrich-style greedy merge loop over the bounded histogram
    // (Tokenizer.learn). Deterministic AND oracle-checked: the DuckDB twin
    // re-runs the ENTIRE merge loop as a recursive CTE — per-word
    // segmentations as delimiter-wrapped symbol strings
    // (chr(1)<sym>chr(2) units, so a whole-symbol pair replace is exactly
    // the learner's greedy left-to-right merge and can never split or
    // bridge symbols), per-iteration global pair counts + argmin
    // tie-break via a window over the recursive rows, termination on
    // frequency < 2 — an independent second implementation of the
    // learner, hash-compared merge-for-merge. (The q29e2 lesson: the CTE
    // state-steps the LEARNER the way BpeStepsSql state-steps the
    // tokenizer.) CurationSpec additionally pins the merge sequence
    // against a hand-computed fixture.
    QueryDef(
      "q29o_learn_bpe",
      (s, dir) => {
        import s.implicits._
        graft.functions.Tokenizer.learn(Tables.documents(s, dir), numMerges = 60)
          .zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("rank", "piece")
      },
      Some("""WITH RECURSIVE
             |wd AS (
             |  SELECT w FROM (
             |    SELECT unnest(string_split(trim(regexp_replace(coalesce(text,''), '\s+', ' ', 'g')), ' ')) AS w
             |    FROM documents) u WHERE w <> ''),
             |hist AS (
             |  SELECT w AS word, count(*)::BIGINT AS n FROM wd GROUP BY w
             |  ORDER BY n DESC, w LIMIT 50000),
             |init AS (
             |  SELECT word, n,
             |         chr(1) || array_to_string(str_split(word, ''), chr(2) || chr(1)) || chr(2) AS seg
             |  FROM hist),
             |loop(iter, piece, word, n, seg) AS (
             |  SELECT 0, '', word, n, seg FROM init
             |  UNION ALL
             |  SELECT iter + 1, bpa || bpb, word, n,
             |         replace(seg, chr(1)||bpa||chr(2)||chr(1)||bpb||chr(2), chr(1)||bpa||bpb||chr(2))
             |  FROM (
             |    SELECT DISTINCT iter, word, n, seg,
             |           first_value(pa) OVER w AS bpa,
             |           first_value(pb) OVER w AS bpb,
             |           first_value(cnt) OVER w AS bcnt
             |    FROM (
             |      SELECT iter, word, n, seg, pa, pb,
             |             CASE WHEN pb IS NULL THEN NULL
             |                  ELSE sum(n) OVER (PARTITION BY pa, pb) END AS cnt
             |      FROM (
             |        SELECT iter, word, n, seg, syms[i] AS pa, syms[i+1] AS pb
             |        FROM (
             |          SELECT iter, word, n, seg,
             |                 list_transform(list_filter(string_split(seg, chr(1)), x -> x <> ''),
             |                                x -> rtrim(x, chr(2))) AS syms
             |          FROM loop WHERE iter < 60),
             |          UNNEST(generate_series(1, greatest(len(syms) - 1, 1))) AS u(i)
             |      ) p
             |    ) q
             |    WINDOW w AS (ORDER BY cnt DESC NULLS LAST, pa, pb)
             |  ) z
             |  WHERE bcnt >= 2
             |),
             |firsts AS (
             |  SELECT piece, min(iter) AS it FROM loop WHERE iter >= 1 GROUP BY piece),
             |ranked AS (
             |  SELECT CAST(row_number() OVER (ORDER BY it) - 1 AS BIGINT) AS rank, piece
             |  FROM firsts),
             |fallback AS (
             |  SELECT CAST(row_number() OVER (ORDER BY n DESC, word) - 1 AS BIGINT) AS rank,
             |         word AS piece
             |  FROM hist ORDER BY n DESC, word LIMIT 60)
             |SELECT rank, piece FROM ranked
             |UNION ALL
             |SELECT rank, piece FROM fallback
             |WHERE NOT EXISTS (SELECT 1 FROM ranked)
             |ORDER BY rank""".stripMargin)),

    // Q29e2/l2/m2: the token-counting operators under the PLUGGABLE BPE
    // tokenizer (greedy longest-match over the fixture vocab) — budgets and
    // chunk windows counted in model-accurate subword tokens instead of
    // whitespace words. The oracle re-implements the greedy match as a
    // DuckDB RECURSIVE CTE (per word, step the cursor by the longest vocab
    // piece matching at it, else one char) — a fully independent second
    // implementation of the tokenizer, hash-compared end-to-end. The
    // VALUES list mirrors Tokenizer.FixtureVocab verbatim.
    QueryDef(
      "q29e2_token_budget_bpe",
      (s, dir) =>
        graft.operators.Curation.tokenBudget(
          Tables.documents(s, dir), budgetTokens = 2000L,
          score = TextOps.qualityScore(col("text")),
          tokenizer = graft.functions.Tokenizer.Bpe(graft.functions.Tokenizer.FixtureVocab))
          .orderBy("lang", "cum_tokens"),
      Some(s"""WITH RECURSIVE $BpeVocabSql,
             |$BpeStepsSql,
             |bpe AS (
             |  SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS n_bpe
             |  FROM steps WHERE pos > length(w) GROUP BY doc_id),
             |t AS (
             |  SELECT doc_id, lang, text,
             |    CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS ws_tokens,
             |    CASE WHEN length(text) = 0 THEN 0.0
             |         ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
             |              / CAST(length(text) AS DOUBLE) END AS pr
             |  FROM documents),
             |q AS (
             |  SELECT t.doc_id, lang, coalesce(b.n_bpe, 0) AS n_tokens,
             |    round(
             |      least(CAST(ws_tokens AS DOUBLE) / 50.0, 1.0) * 0.4 +
             |      (CASE WHEN ws_tokens != 0
             |                 AND CAST(length(text) AS DOUBLE) / CAST(ws_tokens AS DOUBLE) >= 3
             |                 AND CAST(length(text) AS DOUBLE) / CAST(ws_tokens AS DOUBLE) <= 10
             |            THEN 1.0 ELSE 0.5 END) * 0.4 +
             |      (CASE WHEN pr <= 0.1 THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS score
             |  FROM t LEFT JOIN bpe b USING (doc_id)),
             |c AS (
             |  SELECT doc_id, lang, n_tokens,
             |         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id
             |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             |  FROM q)
             |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
             |WHERE cum_tokens <= 2000 ORDER BY lang, cum_tokens""".stripMargin)),

    QueryDef(
      "q29l2_chunk_bpe",
      (s, dir) =>
        graft.operators.Curation.chunk(
          Tables.documents(s, dir), chunkTokens = 40, overlapTokens = 10,
          tokenizer = graft.functions.Tokenizer.Bpe(graft.functions.Tokenizer.FixtureVocab))
          .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
            col("n_chunk_tokens").cast("long").as("n_chunk_tokens"), col("chunk_text"))
          .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH RECURSIVE $BpeVocabSql,
             |wl AS (
             |  SELECT doc_id,
             |         string_split(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')), ' ') AS ws
             |  FROM documents),
             |wd AS (
             |  SELECT doc_id, wi, w FROM (
             |    SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS wi FROM wl) u
             |  WHERE w <> ''),
             |steps(doc_id, wi, w, pos, pieces) AS (
             |  SELECT doc_id, wi, w, 1, CAST([] AS VARCHAR[]) FROM wd
             |  UNION ALL
             |  SELECT doc_id, wi, w, pos + L,
             |    list_append(pieces,
             |      CASE WHEN pos = 1 THEN ' ' || substr(w, pos, L) ELSE substr(w, pos, L) END)
             |  FROM (
             |    SELECT s.*, coalesce((SELECT max(length(piece)) FROM vocab
             |                          WHERE piece = substr(s.w, s.pos, length(piece))), 1) AS L
             |    FROM steps s WHERE s.pos <= length(s.w)) x),
             |toks AS (
             |  SELECT doc_id, flatten(list(pieces ORDER BY wi)) AS toks
             |  FROM steps WHERE pos > length(w) GROUP BY doc_id),
             |alld AS (
             |  SELECT d.doc_id, coalesce(t.toks, CAST([] AS VARCHAR[])) AS toks
             |  FROM documents d LEFT JOIN toks t USING (doc_id)),
             |g AS (SELECT doc_id, toks, len(toks) AS n,
             |             (greatest(len(toks) - 10 - 1, 0) // 30) AS last_i FROM alld),
             |c AS (SELECT doc_id, toks, n, unnest(range(0, last_i + 1)) AS i FROM g)
             |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             |  CAST(least(40, n - i * 30) AS BIGINT) AS n_chunk_tokens,
             |  ltrim(array_to_string(toks[i * 30 + 1 : i * 30 + 40], ''), ' ') AS chunk_text
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // BPE packing: q29m's recursive-CTE pack over the recursive-CTE BPE
    // token counts — both independent re-implementations composed in one
    // oracle; CurationSpec additionally pins BPE-count packing equality
    // against a driver-side reference fill.
    QueryDef(
      "q29m2_pack_bpe",
      (s, dir) =>
        graft.operators.Curation.packDocuments(
          Tables.documents(s, dir), tokensPerExample = 2000L, numShards = 8, seed = 42L,
          tokenizer = graft.functions.Tokenizer.Bpe(graft.functions.Tokenizer.FixtureVocab))
          .orderBy("shard", "example_idx", "pos_in_example"),
      Some(s"""WITH RECURSIVE $BpeVocabSql,
             |$BpeStepsSql,
             |$TrainingOrderSql,
             |nt AS (
             |  SELECT d.doc_id, CAST(coalesce(b.n_bpe, 0) AS BIGINT) AS n_tokens
             |  FROM documents d LEFT JOIN (
             |    SELECT doc_id, sum(ntok) AS n_bpe FROM steps WHERE pos > length(w)
             |    GROUP BY doc_id) b USING (doc_id)),
             |ordnt AS (
             |  SELECT o.doc_id, o.shard, o.pos, nt.n_tokens FROM ord o JOIN nt USING (doc_id)),
             |$PackSql
             |SELECT doc_id, shard, example_idx, pos_in_example, n_tokens
             |FROM pack ORDER BY shard, example_idx, pos_in_example""".stripMargin)),

    // Q29d: document fingerprinting — order-sensitive rolling hash over the
    // token stream (distinguishes permutations, unlike minhash) + exact-dup
    // grouping by fingerprint. Oracle-checked by re-deriving Spark's
    // STRING xxhash64 in DuckDB (XXH64 over the UTF-8 bytes, stripe loop
    // included, as recursive-CTE cursor phases over HUGEINT modular
    // arithmetic — XxSql.strHashCtes) and folding the wrapping rolling
    // hash with a per-doc recursive CTE; FunctionsSpec additionally pins
    // order sensitivity and determinism.
    QueryDef(
      "q29d_text_fingerprint",
      (s, dir) => {
        val fp = TextOps.fingerprint(TextOps.tokens(col("text")))
        Tables.documents(s, dir)
          .select(col("doc_id"), fp.as("fingerprint"))
          .groupBy("fingerprint")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
          .orderBy("keep_id")
      },
      Some(s"""WITH RECURSIVE
             |${XxSql.docTokenHashCtes},
             |${XxSql.fingerprintCtes}
             |SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keep_id
             |FROM fp GROUP BY fingerprint ORDER BY keep_id""".stripMargin)),

    // Q28e: embedding near-dup pairs with NO natural blocking key — the LSH
    // bucket plays the blocking role (hyperplane sign hash), pairs verified
    // by exact cosine. Recall < 1 by design => rows-only.
    QueryDef(
      "q28e_sim_neardup_lsh",
      (s, dir) => {
        val rnd = new scala.util.Random(7L)
        val planes = typedLit(Array.fill(6, 64)(rnd.nextGaussian().toFloat))
        val bucketed = Tables.embeddings(s, dir)
          .withColumn("bucket", graft.functions.VectorOps.hyperplaneBucket(col("embedding"), planes))
        Similarity.nearDupPairs(bucketed, threshold = 0.25, blockCol = "bucket")
          .orderBy("id_a", "id_b")
      },
      None),

    // Q30: multimodal feature extraction — the payload column holds REAL
    // container bytes (valid PNG/JPEG/GIF/WAV/MP4 synthesized per-doc, since
    // the testdata ships no media) and extractFeatures PARSES them (PNG IHDR,
    // JPEG SOF scan, GIF block walk, WAV RIFF chunks, ISO-BMFF box walk).
    // The synthesis derives format/dims/frames/duration from strlen(text),
    // so the oracle predicts the parsed metadata arithmetically while the
    // engine round-trips through genuine container byte layouts.
    QueryDef(
      "q30_multimodal",
      (s, dir) =>
        Multimodal.extractFeatures(Multimodal.withBinaryPayload(Tables.documents(s, dir)))
          .select(
            col("doc_id"),
            col("payload_len").cast("long").as("payload_len"),
            col("format"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"),
            col("duration_ms").cast("long").as("duration_ms"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(CASE strlen(text) % 5
             |    WHEN 0 THEN 45
             |    WHEN 1 THEN 17
             |    WHEN 2 THEN 14 + 14 * (1 + strlen(text) % 24)
             |    WHEN 3 THEN 44 + 8 * (1 + strlen(text) % 40)
             |    ELSE 236 END AS BIGINT) AS payload_len,
             |  CASE strlen(text) % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif' WHEN 3 THEN 'wav' ELSE 'mp4' END AS format,
             |  CAST(CASE WHEN strlen(text) % 5 IN (0, 1, 2, 4) THEN 64 + strlen(text) % 640 ELSE 0 END AS BIGINT) AS width,
             |  CAST(CASE WHEN strlen(text) % 5 IN (0, 1, 2, 4) THEN 64 + (strlen(text) * 7) % 480 ELSE 0 END AS BIGINT) AS height,
             |  CAST(CASE strlen(text) % 5 WHEN 2 THEN 1 + strlen(text) % 24 WHEN 0 THEN 1 WHEN 1 THEN 1 ELSE 0 END AS BIGINT) AS n_frames,
             |  CAST(CASE strlen(text) % 5 WHEN 3 THEN 1 + strlen(text) % 40 WHEN 4 THEN 1 + strlen(text) % 5000 ELSE 0 END AS BIGINT) AS duration_ms
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Q30b: deterministic frame sampling over the parsed GIF frame counts
    // (explode-to-frames shape).
    QueryDef(
      "q30b_multimodal_frames",
      (s, dir) =>
        Multimodal.sampleFrames(
          Multimodal.extractFeatures(Multimodal.withBinaryPayload(Tables.documents(s, dir))),
          stride = 2)
          .select(
            col("doc_id"),
            col("frame_idx").cast("long").as("frame_idx"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"))
          .orderBy("doc_id", "frame_idx"),
      Some("""WITH f AS (
             |  SELECT doc_id, strlen(text) AS n FROM documents WHERE strlen(text) % 5 = 2)
             |SELECT doc_id, CAST(unnest(range(0, 1 + n % 24, 2)) AS BIGINT) AS frame_idx,
             |       CAST(64 + n % 640 AS BIGINT) AS width,
             |       CAST(64 + (n * 7) % 480 AS BIGINT) AS height
             |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),

    // Q30c: CONTENT-level image dedup — pixel decode (pure-JVM PNG
    // inflate+defilter / BMP, Multimodal.ImageDecoder), perceptual dHash,
    // and the guaranteed-recall multi-index Hamming banding shared with
    // SimHash. Every 10th document's image is re-rendered with per-pixel
    // noise under a new id — near-duplicate twins whose container bytes
    // (and q30 fnv64 checksums) differ completely; content hashing must
    // collapse them onto the originals. Deflate/decode are not
    // SQL-expressible => rows-only; MultimodalSpec pins decode exactness,
    // fixture hashes, container independence, and planted-twin collapse.
    QueryDef(
      "q30c_image_dedup",
      (s, dir) => {
        val ids = Tables.documents(s, dir).select("doc_id")
        val base = cachedPayloads(s, dir, "img")(Multimodal.withImagePayload(ids))
        val twins = cachedPayloads(s, dir, "img_twins")(
          Multimodal.withImagePayload(
            ids.filter(col("doc_id") % 10 === 0)
              .select((col("doc_id") + 100000L).as("doc_id"), col("doc_id").as("seed")),
            seedCol = "seed", noise = 8)
            .drop("seed"))
        val hashes = Stage.scope(_(Multimodal.imageHashes(base.unionByName(twins))))
        val kept = graft.operators.Dedup.collapseDuplicates(
          hashes.select("doc_id"), Multimodal.imageDupPairs(hashes, maxHamming = 10),
          idCol = "doc_id", aCol = "doc_a", bCol = "doc_b")
        hashes.select("doc_id")
          .join(kept.withColumn("is_kept", lit(1L)), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("is_kept"), lit(0L)).as("is_kept"))
          .orderBy("doc_id")
      },
      None),

    // Q30c2: ORACLE-EXACT image dedup — the q30c pipeline (decode →
    // dHash64 → guaranteed-recall Hamming banding → components → min-id
    // keep) over the PER-SEED-gradient integer fixture
    // (ImageGen.bmpAffineKeyed: p = (31·seed + (7 + seed%23)·x +
    // (13 + seed%17)·y) mod 256). Every step is exact integer math: cell
    // means compare by cross-multiplication (sum_a·n_b vs sum_b·n_a — no
    // float ever decides a bit), banding is guaranteed-recall (pairs ≡
    // brute-force Hamming ≤ 10, DedupAndSimilaritySpec pins the
    // equivalence), and components are min-label. The DuckDB twin
    // re-derives both 64-bit hashes from the pixel formula, replays the
    // pair search brute-force, and closes components with a recursive
    // CTE — so the whole BMP encode → decode → perceptual-hash → banding
    // → collapse chain is hash-checked end to end (the q30e2 pattern
    // applied to dedup); q30c keeps the noisy-twin corpus rows-only.
    // Twins render pixel-identical images under fresh ids (seed = the
    // original id), and the per-seed gradients also produce a sparse
    // (~0.4%) cross-seed collision population the banding must find.
    QueryDef(
      "q30c2_image_dedup_exact",
      (s, dir) => {
        val ids = Tables.documents(s, dir).select("doc_id")
        val base = Multimodal.withKeyedAffineImagePayload(ids)
        val twins = Multimodal.withKeyedAffineImagePayload(
          ids.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 300000L).as("doc_id"), col("doc_id").as("seed")),
          idCol = "seed").drop("seed")
        val hashes = Stage.scope(_(Multimodal.imageHashes(base.unionByName(twins))))
        val kept = graft.operators.Dedup.collapseDuplicates(
          hashes.select("doc_id"), Multimodal.imageDupPairs(hashes, maxHamming = 10),
          idCol = "doc_id", aCol = "doc_a", bCol = "doc_b")
        hashes.select(col("doc_id"), col("ahash"), col("dhash"))
          .join(kept.withColumn("is_kept", lit(1L)), Seq("doc_id"), "left")
          .select(col("doc_id"), col("ahash"), col("dhash"),
            coalesce(col("is_kept"), lit(0L)).as("is_kept"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |docs AS (
             |  SELECT doc_id AS id, doc_id AS seed FROM documents
             |  UNION ALL
             |  SELECT doc_id + 300000, doc_id FROM documents WHERE doc_id % 10 = 0),
             |gx9 AS (SELECT cx, (cx*64)//9 AS x0,
             |               greatest((cx*64)//9 + 1, ((cx+1)*64)//9) AS x1 FROM range(9) t(cx)),
             |px9 AS (SELECT cx, x0 + u.i AS x FROM gx9, UNNEST(generate_series(0, x1 - x0 - 1)) u(i)),
             |gy8 AS (SELECT cy, cy*6 + v.j AS y FROM range(8) t(cy), UNNEST(generate_series(0,5)) v(j)),
             |dcell AS (
             |  SELECT d.id, gy8.cy, px9.cx,
             |         CAST(SUM((d.seed*31 + (7 + d.seed%23)*px9.x + (13 + d.seed%17)*gy8.y) % 256) AS BIGINT) AS s,
             |         COUNT(*)::BIGINT AS n
             |  FROM docs d, px9, gy8 GROUP BY d.id, gy8.cy, px9.cx),
             |dbit AS (
             |  SELECT a.id, a.cy*8 + a.cx AS i,
             |         CASE WHEN a.s * b.n > b.s * a.n THEN 1 ELSE 0 END AS bit
             |  FROM dcell a JOIN dcell b ON b.id = a.id AND b.cy = a.cy AND b.cx = a.cx + 1
             |  WHERE a.cx < 8),
             |px8 AS (SELECT cx, cx*8 + u.i AS x FROM range(8) t(cx), UNNEST(generate_series(0,7)) u(i)),
             |acell AS (
             |  SELECT d.id, gy8.cy*8 + px8.cx AS i,
             |         CAST(SUM((d.seed*31 + (7 + d.seed%23)*px8.x + (13 + d.seed%17)*gy8.y) % 256) AS BIGINT) AS s
             |  FROM docs d, px8, gy8 GROUP BY d.id, gy8.cy, px8.cx),
             |abit AS (
             |  SELECT a.id, a.i, CASE WHEN 64*a.s > t.tot THEN 1 ELSE 0 END AS bit
             |  FROM acell a JOIN (SELECT id, SUM(s) AS tot FROM acell GROUP BY id) t USING (id)),
             |dh AS (
             |  SELECT id, CAST(CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
             |                       ELSE hi * 4294967296 + lo END AS BIGINT) AS dhash
             |  FROM (SELECT id,
             |          SUM(CASE WHEN i < 32 THEN bit * (CAST(1 AS BIGINT) << (31 - i)) ELSE 0 END) AS hi,
             |          SUM(CASE WHEN i >= 32 THEN bit * (CAST(1 AS BIGINT) << (63 - i)) ELSE 0 END) AS lo
             |        FROM dbit GROUP BY id) z),
             |ah AS (
             |  SELECT id, CAST(CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
             |                       ELSE hi * 4294967296 + lo END AS BIGINT) AS ahash
             |  FROM (SELECT id,
             |          SUM(CASE WHEN i < 32 THEN bit * (CAST(1 AS BIGINT) << (31 - i)) ELSE 0 END) AS hi,
             |          SUM(CASE WHEN i >= 32 THEN bit * (CAST(1 AS BIGINT) << (63 - i)) ELSE 0 END) AS lo
             |        FROM abit GROUP BY id) z),
             |edges AS (
             |  SELECT a.id AS ea, b.id AS eb FROM dh a JOIN dh b
             |  ON a.id <> b.id AND bit_count(xor(a.dhash, b.dhash)) <= 10),
             |reach(src, dst) AS (
             |  SELECT id, id FROM docs
             |  UNION
             |  SELECT r.src, e.eb FROM reach r JOIN edges e ON e.ea = r.dst),
             |lab AS (SELECT src AS id, min(dst) AS rep FROM reach GROUP BY src)
             |SELECT d.id AS doc_id, ah.ahash, dh.dhash,
             |       CAST(CASE WHEN lab.rep = d.id THEN 1 ELSE 0 END AS BIGINT) AS is_kept
             |FROM docs d JOIN dh USING (id) JOIN ah ON ah.id = d.id JOIN lab ON lab.id = d.id
             |ORDER BY doc_id""".stripMargin)),

    // Q30d: CONTENT-level audio dedup — PCM decode (8/16-bit mono/stereo
    // RIFF walk) + the 64-bit energy-delta fingerprint (Philips robust-hash
    // family: 65 frames, bit = rising energy), searched with the same
    // guaranteed-recall Hamming banding. Twins are the SAME waveform
    // re-rendered with per-sample noise under a new id — and the base
    // corpus itself alternates 8-bit and 16-bit containers, so matching
    // twins to originals also crosses sample widths. The MP3 slot
    // (id % 8 = 7) is declared out of sample decode and yields no row.
    // Not SQL-expressible => rows-only; MultimodalSpec pins decode, gain/width invariance,
    // fixture hash, and twin collapse.
    QueryDef(
      "q30d_audio_dedup",
      (s, dir) => {
        val ids = Tables.documents(s, dir).select("doc_id")
        val base = cachedPayloads(s, dir, "aud")(Multimodal.withAudioPayload(ids))
        val twins = cachedPayloads(s, dir, "aud_twins")(
          Multimodal.withAudioPayload(
            ids.filter(col("doc_id") % 10 === 0)
              .select((col("doc_id") + 100001L).as("doc_id"), col("doc_id").as("seed")),
            seedCol = "seed", noise = 8)
            .drop("seed"))
        val hashes = Stage.scope(_(Multimodal.audioHashes(base.unionByName(twins))))
        val kept = graft.operators.Dedup.collapseDuplicates(
          hashes.select("doc_id"), Multimodal.audioDupPairs(hashes, maxHamming = 10),
          idCol = "doc_id", aCol = "doc_a", bCol = "doc_b")
        hashes.select("doc_id")
          .join(kept.withColumn("is_kept", lit(1L)), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("is_kept"), lit(0L)).as("is_kept"))
          .orderBy("doc_id")
      },
      None),

    // Q30d2: ORACLE-EXACT audio dedup — the q30d pipeline (RIFF parse →
    // PCM-16 decode → 65-frame energy-delta fingerprint → banding →
    // components → min-id keep) over the CLOSED-FORM integer waveform
    // (AudioGen.wavPcmKeyed: k(i) = (((h·(h+1)) mod 65536) div 16) − 2048,
    // h = ((((i+1)·(2·seed+1)) mod 65536)·2654435761) mod 65536 — the
    // seed is a STRIDE, never an offset: offset seeds are time shifts of
    // one master sequence and chain components at sf0.1). 2080 samples divide
    // into the 65 frames exactly (32 each), and 16-bit decode is
    // k/32768 — DYADIC, so the fingerprint's double frame energies are
    // exact rationals and every bit replays in SQL as an integer Σk²
    // comparison (the q30c2/q30e2 doctrine: restructure around exact
    // arithmetic, never twin floats). The DuckDB twin re-derives every
    // sample from the formula, folds the frame energies, packs the
    // 64-bit fingerprint, replays the pair search brute-force and closes
    // components recursively — WAV encode → decode → fingerprint →
    // collapse hash-checked end to end; q30d keeps the 8-codec noisy
    // corpus rows-only. Twins render bit-identical waveforms under fresh
    // ids (seed = the original id); pseudorandom frame energies put
    // cross-seed fingerprints at ~32 bits Hamming, so the Hamming-10
    // search must find exactly the planted twins.
    QueryDef(
      "q30d2_audio_dedup_exact",
      (s, dir) => {
        val ids = Tables.documents(s, dir).select("doc_id")
        val base = Multimodal.withKeyedAudioPayload(ids)
        val twins = Multimodal.withKeyedAudioPayload(
          ids.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 300000L).as("doc_id"), col("doc_id").as("seed")),
          idCol = "seed").drop("seed")
        val hashes = Stage.scope(_(Multimodal.audioHashes(base.unionByName(twins))))
        val kept = graft.operators.Dedup.collapseDuplicates(
          hashes.select("doc_id"), Multimodal.audioDupPairs(hashes, maxHamming = 10),
          idCol = "doc_id", aCol = "doc_a", bCol = "doc_b")
        hashes.select(col("doc_id"), col("afp"))
          .join(kept.withColumn("is_kept", lit(1L)), Seq("doc_id"), "left")
          .select(col("doc_id"), col("afp"),
            coalesce(col("is_kept"), lit(0L)).as("is_kept"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |docs AS (
             |  SELECT doc_id AS id, doc_id AS seed FROM documents
             |  UNION ALL
             |  SELECT doc_id + 300000, doc_id FROM documents WHERE doc_id % 10 = 0),
             |smp AS (
             |  SELECT d.id, i // 32 AS f,
             |         ((((((i + 1) * (2*d.seed + 1)) % 65536) * 2654435761 % 65536) *
             |           ((((i + 1) * (2*d.seed + 1)) % 65536) * 2654435761 % 65536 + 1)) % 65536) // 16 - 2048 AS k
             |  FROM docs d, range(2080) t(i)),
             |fe AS (SELECT id, f, CAST(SUM(k*k) AS BIGINT) AS e FROM smp GROUP BY id, f),
             |fbit AS (
             |  SELECT a.id, a.f AS i, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
             |  FROM fe a JOIN fe b ON b.id = a.id AND b.f = a.f + 1
             |  WHERE a.f < 64),
             |fp AS (
             |  SELECT id, CAST(CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
             |                       ELSE hi * 4294967296 + lo END AS BIGINT) AS afp
             |  FROM (SELECT id,
             |          SUM(CASE WHEN i < 32 THEN bit * (CAST(1 AS BIGINT) << (31 - i)) ELSE 0 END) AS hi,
             |          SUM(CASE WHEN i >= 32 THEN bit * (CAST(1 AS BIGINT) << (63 - i)) ELSE 0 END) AS lo
             |        FROM fbit GROUP BY id) z),
             |edges AS (
             |  SELECT a.id AS ea, b.id AS eb FROM fp a JOIN fp b
             |  ON a.id <> b.id AND bit_count(xor(a.afp, b.afp)) <= 10),
             |reach(src, dst) AS (
             |  SELECT id, id FROM docs
             |  UNION
             |  SELECT r.src, e.eb FROM reach r JOIN edges e ON e.ea = r.dst),
             |lab AS (SELECT src AS id, min(dst) AS rep FROM reach GROUP BY src)
             |SELECT d.id AS doc_id, fp.afp,
             |       CAST(CASE WHEN lab.rep = d.id THEN 1 ELSE 0 END AS BIGINT) AS is_kept
             |FROM docs d JOIN fp ON fp.id = d.id JOIN lab ON lab.id = d.id
             |ORDER BY doc_id""".stripMargin)),

    // Q30e: image RESIZE to fixed-shape training tensors — decode +
    // box-average resample to 16x16 [0,1] grayscale (the image-tower input
    // step; same resampler the perceptual hashes bin with). The tensor
    // itself is summarized per row (size + sequential-fold mean, both
    // deterministic) so the dumped result stays slim; pixel values derive
    // from PNG inflate/defilter => not SQL-expressible, rows-only;
    // MultimodalSpec pins the resample against hand-computed fixtures.
    QueryDef(
      "q30e_image_resize",
      (s, dir) => {
        val ids = Tables.documents(s, dir).select("doc_id")
        Multimodal.resizeImages(cachedPayloads(s, dir, "img")(
            Multimodal.withImagePayload(ids)), 16, 16)
          .select(
            col("doc_id"),
            col("width"), col("height"),
            size(col("pixels")).cast("long").as("n_px"),
            round(
              aggregate(col("pixels"), lit(0.0), (a, x) => a + x) / (16.0 * 16.0),
              6).as("px_mean"))
          .orderBy("doc_id")
      },
      None),

    // Q30e2: ORACLE-EXACT image resize — the q30e decode+resample path
    // over the INTEGER closed-form fixture slice (BMP, pixels
    // p = (31·doc_id + 7x + 13y) mod 256 — no trig, no floats in the
    // content), emitting each 16x16 cell's recovered integer WINDOW SUM
    // (round(pixel · 255 · 12) inverts the resampler's two divisions
    // exactly: float32 quantization error is ~6e-4 of one count). The
    // DuckDB twin re-derives every window sum from the formula without
    // touching a decoder — so the whole BMP encode → decode → box-average
    // chain is hash-checked end to end, closing the q30e oracle gap the
    // sinusoid corpus's last-ulp trig behavior forbids (BASELINE.md
    // round-13 analysis); q30e keeps the full-rotation corpus rows-only.
    QueryDef(
      "q30e2_image_resize_exact",
      (s, dir) => {
        val ids = Tables.documents(s, dir).select("doc_id")
        Multimodal.resizeImages(
            Multimodal.withAffineImagePayload(ids), 16, 16)
          .select(
            col("doc_id"), col("width"), col("height"),
            concat_ws(",",
              transform(col("pixels"), p => round(p * 3060).cast("long"))).as("cell_sums"))
          .orderBy("doc_id")
      },
      Some("""WITH cells AS (
             |  SELECT d.doc_id, cy.cy * 16 + cx.cx AS i,
             |         CAST(SUM((d.doc_id * 31 + (4 * cx.cx + dx.dx) * 7
             |                   + (3 * cy.cy + dy.dy) * 13) % 256) AS BIGINT) AS s
             |  FROM (SELECT doc_id FROM documents) d,
             |       range(16) cx(cx), range(16) cy(cy), range(4) dx(dx), range(3) dy(dy)
             |  GROUP BY d.doc_id, cy.cy, cx.cx)
             |SELECT doc_id,
             |       CAST(64 AS INTEGER) AS width, CAST(48 AS INTEGER) AS height,
             |       string_agg(CAST(s AS VARCHAR), ',' ORDER BY i) AS cell_sums
             |FROM cells GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // Q30i: SEMANTIC image dedup — the q30e tensors fed through the
    // vector-index machinery (imageEmbeddings: centered 16x16 tensors,
    // cosine == Pearson correlation of the resampled images; semanticDedup:
    // IVF-quantized within-list cosine pairs -> components -> min-id keep).
    // Twins are the SAME field re-rendered under HEAVY per-pixel noise
    // (amplitude 90) — the box-averaged tensor shrugs the noise off
    // (correlation stays >= ~0.89) while a deterministic slice of the
    // twins flips dHash past the Hamming-10 budget, i.e. the exact
    // near-dups q30c's perceptual-hash path MISSES (MultimodalSpec pins
    // the hash-missed slice and its semantic recall). Zero new store
    // machinery: a trained image tower would replace the embedding column
    // verbatim. Pixel values derive from PNG/JPEG decode => not
    // SQL-expressible, rows-only.
    QueryDef(
      "q30i_image_semantic_dedup",
      (s, dir) => {
        val ids = Tables.documents(s, dir).select("doc_id")
        val base = cachedPayloads(s, dir, "img")(Multimodal.withImagePayload(ids))
        val twins = cachedPayloads(s, dir, "img_sem_twins")(
          Multimodal.withImagePayload(
            ids.filter(col("doc_id") % 10 === 0)
              .select((col("doc_id") + 200000L).as("doc_id"), col("doc_id").as("seed")),
            seedCol = "seed", noise = 90)
            .drop("seed"))
        val emb = Stage.scope(_(Multimodal.imageEmbeddings(base.unionByName(twins))))
        val docs = emb.select(col("vec_id").as("doc_id"))
        // lists <= 0 = AUTO (constant ~128-vector lists however large the
        // corpus — the 100 TB default): an explicit small C left ~3400
        // tensors per list at sf0.1 and the within-list pair stage paid
        // ~94M cosines (measured 30 s; auto reads 3.9 s at the same calib)
        val kept = graft.operators.Dedup.semanticDedup(
          docs, emb, threshold = 0.85, lists = 0)
        docs
          .join(kept.withColumn("is_kept", lit(1L)), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("is_kept"), lit(0L)).as("is_kept"))
          .orderBy("doc_id")
      },
      None),

    // Q30f: the DECODE MATRIX — per-format rows / content-decodable rows /
    // ratio over a mixed media corpus (the full image rotation, an audio
    // corpus whose MP3 slot is recognized but declared out, and a planted slice of 8-byte-truncated payloads that parse
    // as nothing). This is the introspection that turns "formats the
    // engine can't decode silently skip content dedup" into a measurable
    // number. FULLY ORACLE-CHECKED: the generator's container rotation and
    // the decoder's format matrix are both deterministic functions of
    // doc_id, so DuckDB re-derives every count — if a format ever starts
    // silently failing to decode, the ratio row hash-mismatches.
    QueryDef(
      "q30f_decode_stats",
      (s, dir) => {
        val imgAll = cachedPayloads(s, dir, "img")(
          Multimodal.withImagePayload(Tables.documents(s, dir).select("doc_id")))
        val img = imgAll.filter(col("doc_id") % 17 =!= 0)
        val trunc = imgAll.filter(col("doc_id") % 17 === 0)
          .withColumn("payload", expr("substring(payload, 1, 8)"))
        val aud = cachedPayloads(s, dir, "aud")(
          Multimodal.withAudioPayload(Tables.documents(s, dir).select("doc_id")))
        // the q30g/q30h clip corpus rides in too (cache shared), so BOTH
        // video containers (avi/mp4, rotation on id mod 4) are measured
        // decodable rows, not just declared ones
        val vid = cachedPayloads(s, dir, "vid4")(
          Multimodal.withVideoPayload(Tables.documents(s, dir).select("doc_id"), frames = 4))
        // plus a planted slice of the four DECLARED-OUT codecs
        // (avc1/vp09/av01/mp4a — fully-valid containers the engine must
        // refuse), so the skipped share is itemized PER CODEC
        val vidc = cachedPayloads(s, dir, "vidc")(
          Multimodal.withCodedVideoPayload(
            Tables.documents(s, dir).select("doc_id").filter(col("doc_id") % 13 === 0)))
        Multimodal.decodeStats(
            img.unionByName(trunc).unionByName(aud).unionByName(vid).unionByName(vidc))
          .select(col("format"), col("coding"), col("rows").as("n_rows"),
            col("decodable"), col("decodable_ratio"))
          .orderBy("format", "coding")
      },
      Some("""WITH img AS (
             |  SELECT doc_id,
             |         CASE WHEN doc_id % 3 = 0 THEN 'bmp'
             |              WHEN doc_id % 3 = 1 THEN 'jpeg'
             |              WHEN (doc_id // 3) % 3 = 0 THEN 'png'
             |              WHEN (doc_id // 3) % 3 = 1 THEN 'gif' ELSE 'webp' END AS format,
             |         '' AS coding, 1 AS ok
             |  FROM documents WHERE doc_id % 17 <> 0),
             |trunc AS (
             |  SELECT doc_id, 'unknown' AS format, '' AS coding, 0 AS ok
             |  FROM documents WHERE doc_id % 17 = 0),
             |aud AS (SELECT doc_id,
             |               CASE WHEN doc_id % 8 = 5 THEN 'flac'
             |                    WHEN doc_id % 8 = 6 THEN 'aiff'
             |                    WHEN doc_id % 8 = 7 THEN 'mp3' ELSE 'wav' END AS format,
             |               '' AS coding, CASE WHEN doc_id % 8 = 7 THEN 0 ELSE 1 END AS ok
             |        FROM documents),
             |vid AS (SELECT doc_id,
             |               CASE WHEN doc_id % 4 IN (0, 1) THEN 'avi' ELSE 'mp4' END AS format,
             |               CASE WHEN doc_id % 4 IN (0, 1) THEN 'MJPG' ELSE 'jpeg' END AS coding,
             |               1 AS ok
             |        FROM documents),
             |vidc AS (SELECT doc_id, 'mp4' AS format,
             |                CASE doc_id % 4 WHEN 0 THEN 'avc1' WHEN 1 THEN 'vp09'
             |                     WHEN 2 THEN 'av01' ELSE 'mp4a' END AS coding,
             |                0 AS ok
             |         FROM documents WHERE doc_id % 13 = 0),
             |u AS (SELECT * FROM img UNION ALL SELECT * FROM trunc
             |      UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid
             |      UNION ALL SELECT * FROM vidc)
             |SELECT format, coding, CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(ok) AS BIGINT) AS decodable,
             |       round(avg(CAST(ok AS DOUBLE)), 4) AS decodable_ratio
             |FROM u GROUP BY format, coding ORDER BY format, coding""".stripMargin)),

    // Q30g: CONTENT-level VIDEO dedup — MJPEG-in-AVI frame slicing,
    // stride-sampled per-frame JPEG decode (the existing T.81 decoder),
    // per-frame perceptual dHash as a TEMPORAL fingerprint, slot-aligned
    // banded Hamming candidates with a match-ratio verify. Twins are the
    // same clip re-encoded with per-pixel noise under a new id. JPEG
    // decode is not SQL-expressible => rows-only; MultimodalSpec pins
    // frame slicing, decode closeness, and twin collapse.
    QueryDef(
      "q30g_video_dedup",
      (s, dir) => {
        val ids = Tables.documents(s, dir).select("doc_id")
        // frames = 4: the tracked wall is dominated by payload SYNTHESIS
        // (per-frame JPEG encode) — four sampled slots exercise the full
        // temporal contract at 2/3 the fixture cost of the 6-frame default
        val base = cachedPayloads(s, dir, "vid4")(
          Multimodal.withVideoPayload(ids, frames = 4))
        val twins = cachedPayloads(s, dir, "vid4_twins")(
          Multimodal.withVideoPayload(
            ids.filter(col("doc_id") % 10 === 0)
              .select((col("doc_id") + 100002L).as("doc_id"), col("doc_id").as("seed")),
            seedCol = "seed", frames = 4, noise = 8)
            .drop("seed"))
        val hashes = Stage.scope(_(Multimodal.videoHashes(base.unionByName(twins))))
        val kept = graft.operators.Dedup.collapseDuplicates(
          hashes.select("doc_id"),
          Multimodal.videoDupPairs(hashes, maxHamming = 10)
            .select("doc_a", "doc_b"),
          idCol = "doc_id", aCol = "doc_a", bCol = "doc_b")
        hashes.select("doc_id")
          .join(kept.withColumn("is_kept", lit(1L)), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("is_kept"), lit(0L)).as("is_kept"))
          .orderBy("doc_id")
      },
      None),

    // Q30h: video dedup ACROSS THE INDEX BOUNDARY — the q30g semantics
    // re-derived through the PERSISTED slot store: base clips indexed once
    // (slot-encoded rows in the generic signature store, so the full
    // incremental lifecycle — segments, fold/GC, takedown, compaction,
    // auto bucketing — applies verbatim), then the twin batch probed with
    // Multimodal.videoIncremental: only the batch is decoded, the corpus
    // contributes stored slot rows. Kept = arrival-order collapse (stored
    // clips always win over the later-arriving twins). Decode-derived =>
    // rows-only; MultimodalSpec proves probe == full recompute, takedown,
    // fold, and crash replay.
    QueryDef(
      "q30h_video_dedup_indexed",
      (s, dir) => {
        val ids = Tables.documents(s, dir).select("doc_id")
        val idx = QueryDef.tempDirForResult("graft_vid_idx_").toString
        Stage.scope(t => Multimodal.writeVideoIndex(t(Multimodal.videoHashes(
          cachedPayloads(s, dir, "vid4")(
            Multimodal.withVideoPayload(ids, frames = 4)))), idx))
        val twinHashes = Stage.scope(_(Multimodal.videoHashes(
          cachedPayloads(s, dir, "vid4_twins")(
            Multimodal.withVideoPayload(
              ids.filter(col("doc_id") % 10 === 0)
                .select((col("doc_id") + 100002L).as("doc_id"), col("doc_id").as("seed")),
              seedCol = "seed", frames = 4, noise = 8)
              .drop("seed")))))
        val pairs = Multimodal.videoIncremental(twinHashes, idx, maxHamming = 10)
        val kept = graft.operators.Dedup.collapseDuplicatesArrival(
          twinHashes.select("doc_id"), pairs)
        twinHashes.select("doc_id")
          .join(kept.withColumn("is_kept", lit(1L)), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("is_kept"), lit(0L)).as("is_kept"))
          .orderBy("doc_id")
      },
      None),

    // Q32: BM25 keyword retrieval — the corpus-inspection companion to the
    // embedding search family: three keyword queries (one with a rare
    // discriminative term, one multi-term, one with no corpus hits) scored
    // batch-style. The oracle re-derives N/avgdl, tf, df, the Lucene-style
    // idf, the decimal-summed score, and the rounded-score ranking in
    // plain SQL (no hash twin needed — the terms join as strings).
    QueryDef(
      "q32_bm25_search",
      (s, dir) => {
        import s.implicits._
        val qs = Seq(
          (1L, "dup scan"), (2L, "spark query merge"), (3L, "zebra"))
          .toDF("query_id", "query_text")
        graft.operators.Search.bm25(Tables.documents(s, dir), qs, topK = 10)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $Bm25AggCtes,
             |rnk AS (
             |  SELECT query_id, doc_id, score,
             |         CAST(row_number() OVER (PARTITION BY query_id
             |                                 ORDER BY score DESC, doc_id) AS BIGINT) AS rank
             |  FROM agg)
             |SELECT query_id, doc_id, rank, score FROM rnk
             |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // Q32b: BM25 over the PERSISTED inverted index — buildTextIndex writes
    // postings partitionBy(term-hash bucket) (the IVF inverted-file layout
    // applied to terms); search reads only the query terms' bucket
    // directories. Deterministic and IDENTICAL to q32 by construction
    // (shared scoring tail, stats from meta), so the SAME full SQL oracle
    // hash-checks the indexed path too.
    //
    // The index is built ONCE per (JVM, sf dir) and reused across reps —
    // this row times the WARM INDEXED PROBE (the operator a user runs
    // many times per build); construction cost is its own tracked row
    // (q32b2_bm25_index_build below), so the bench table no longer charges
    // index construction to query wall on every rep.
    QueryDef(
      "q32b_bm25_indexed",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        // fingerprint from FILESYSTEM METADATA (file names + lengths +
        // mtimes of the documents table), not a data scan: regeneration
        // of the dir within one JVM still invalidates the cache, at
        // driver-listing cost instead of a per-rep corpus aggregation
        val idx = builtTextIdx.computeIfAbsent(
            s"$dir#${docsFingerprint(s, dir)}", _ => {
          val p = QueryDef.tempDirForResult("graft_text_idx_").toString
          graft.operators.Search.buildTextIndex(docs, p)
          p
        })
        val qs = Seq(
          (1L, "dup scan"), (2L, "spark query merge"), (3L, "zebra"))
          .toDF("query_id", "query_text")
        graft.operators.Search.bm25Indexed(s, idx, qs, topK = 10)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $Bm25AggCtes,
             |rnk AS (
             |  SELECT query_id, doc_id, score,
             |         CAST(row_number() OVER (PARTITION BY query_id
             |                                 ORDER BY score DESC, doc_id) AS BIGINT) AS rank
             |  FROM agg)
             |SELECT query_id, doc_id, rank, score FROM rnk
             |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // Q32b2: text-index CONSTRUCTION, timed as its own row — a fresh
    // buildTextIndex per run (never the q32b cache), returning the built
    // index's deterministic corpus stats. Rows-only: the index layout is
    // filesystem output (SearchSpec covers the lifecycle; q32b hash-checks
    // search THROUGH the built index against the full SQL oracle).
    QueryDef(
      "q32b2_bm25_index_build",
      (s, dir) => {
        import s.implicits._
        val idx = QueryDef.tempDirForResult("graft_text_idxb_").toString
        graft.operators.Search.buildTextIndex(Tables.documents(s, dir), idx)
        graft.operators.Search.textIndexStats(s, idx).toSeq.sorted
          .toDF("stat", "value")
      },
      None),

    // Q32c: hybrid retrieval by reciprocal-rank fusion — BM25 candidate
    // ranks fused with a quality-prior re-rank (q29b's deterministic
    // quality score) via the generic Search.fuseRankings combiner. Fully
    // deterministic: both component rankings and the decimal-summed RRF
    // score re-derive exactly in SQL, so the fused top-k hash-checks end
    // to end (the dense-vector sibling q32d composes the exact-cosine
    // twin the same way).
    QueryDef(
      "q32c_rrf_quality",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        val qs = Seq(
          (1L, "dup scan"), (2L, "spark query merge"), (3L, "zebra"))
          .toDF("query_id", "query_text")
        // feeds both fusion inputs
        val bm = Stage.scope(_(graft.operators.Search.bm25(docs, qs, topK = 10)
          .select(col("query_id"), col("doc_id"), col("rank"))))
        val w2 = Window.partitionBy(col("query_id"))
          .orderBy(col("q").desc, col("doc_id"))
        // candidate-bounded quality: the tiny candidate set broadcasts and
        // the regex-heavy qualityScore evaluates ONLY on the joined
        // survivors — never as a second corpus-wide pass (quality is
        // per-doc deterministic, so the fused output is identical)
        val prior = broadcast(bm)
          .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
          .select(col("query_id"), col("doc_id"),
            TextOps.qualityScore(col("text")).as("q"))
          .select(col("query_id"), col("doc_id"),
            row_number().over(w2).cast("long").as("rank"))
        graft.operators.Search.fuseRankings(Seq(bm, prior), topK = 10)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $Bm25AggCtes,
             |rnk AS (
             |  SELECT query_id, doc_id,
             |         CAST(row_number() OVER (PARTITION BY query_id
             |                                 ORDER BY score DESC, doc_id) AS BIGINT) AS rank
             |  FROM agg),
             |cand AS (SELECT query_id, doc_id, rank FROM rnk WHERE rank <= 10),
             |qd AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_toks,
             |    CASE WHEN length(text) = 0 THEN 0.0
             |         ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
             |              / CAST(length(text) AS DOUBLE) END AS pr,
             |    length(text) AS n_chars
             |  FROM documents),
             |qual AS (
             |  SELECT doc_id,
             |    round(
             |      least(CAST(n_toks AS DOUBLE) / 50.0, 1.0) * 0.4 +
             |      (CASE WHEN n_toks != 0
             |                 AND CAST(n_chars AS DOUBLE) / CAST(n_toks AS DOUBLE) >= 3
             |                 AND CAST(n_chars AS DOUBLE) / CAST(n_toks AS DOUBLE) <= 10
             |            THEN 1.0 ELSE 0.5 END) * 0.4 +
             |      (CASE WHEN pr <= 0.1 THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS qv
             |  FROM qd),
             |prior AS (
             |  SELECT c.query_id, c.doc_id,
             |         CAST(row_number() OVER (PARTITION BY c.query_id
             |                                 ORDER BY qual.qv DESC, c.doc_id) AS BIGINT) AS rank
             |  FROM cand c JOIN qual ON qual.doc_id = c.doc_id),
             |u AS (
             |  SELECT query_id, doc_id,
             |         CAST(1.0 / (60.0 + CAST(rank AS DOUBLE)) AS DECIMAL(30,10)) AS c
             |  FROM cand
             |  UNION ALL
             |  SELECT query_id, doc_id,
             |         CAST(1.0 / (60.0 + CAST(rank AS DOUBLE)) AS DECIMAL(30,10)) AS c
             |  FROM prior),
             |f AS (
             |  SELECT query_id, doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS rrf
             |  FROM u GROUP BY query_id, doc_id),
             |r AS (
             |  SELECT query_id, doc_id, rrf,
             |         CAST(row_number() OVER (PARTITION BY query_id
             |                                 ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
             |  FROM f)
             |SELECT query_id, doc_id, rank, rrf FROM r
             |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // Q32d: hybrid keyword + DENSE retrieval — BM25 ranks fused with exact
    // cosine ranks over the embeddings table (queries carry both text and
    // the matching vector). FULLY oracle-checked by composition: the dense
    // side is the exact double cosine already hash-validated in
    // q28_sim_topk (list_dot_product twin), the keyword side is the shared
    // Bm25AggCtes chain, and the fusion is q32c's decimal-summed RRF —
    // both components fetch 50 candidates (hybridTopK's fetchK default),
    // fuse at k0 = 60 with unit weights, rank by (rrf desc, doc_id).
    QueryDef(
      "q32d_hybrid_dense",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        val qs = Seq(
          (1L, "dup scan"), (2L, "spark query merge"), (3L, "zebra"))
          .toDF("query_id", "query_text")
        val queries = qs.join(
          emb.select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
          Seq("query_id"))
        graft.operators.Search.hybridTopK(docs, emb, queries, topK = 10)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $Bm25AggCtes,
             |rnk AS (
             |  SELECT query_id, doc_id,
             |         CAST(row_number() OVER (PARTITION BY query_id
             |                                 ORDER BY score DESC, doc_id) AS BIGINT) AS rank
             |  FROM agg),
             |kw AS (SELECT query_id, doc_id, rank FROM rnk WHERE rank <= 50),
             |qv AS (
             |  SELECT v.query_id, e.embedding AS qe
             |  FROM (VALUES (CAST(1 AS BIGINT)), (2), (3)) AS v(query_id)
             |  JOIN embeddings e ON e.vec_id = v.query_id),
             |ds AS (
             |  SELECT q.query_id, c.vec_id AS doc_id,
             |         list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
             |           / sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))
             |                  * list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) AS score
             |  FROM qv q CROSS JOIN embeddings c),
             |dn AS (
             |  SELECT query_id, doc_id, rank FROM (
             |    SELECT query_id, doc_id,
             |           CAST(row_number() OVER (PARTITION BY query_id
             |                                   ORDER BY score DESC, doc_id) AS BIGINT) AS rank
             |    FROM ds)
             |  WHERE rank <= 50),
             |u AS (
             |  SELECT query_id, doc_id,
             |         CAST(1.0 / (60.0 + CAST(rank AS DOUBLE)) AS DECIMAL(30,10)) AS c
             |  FROM kw
             |  UNION ALL
             |  SELECT query_id, doc_id,
             |         CAST(1.0 / (60.0 + CAST(rank AS DOUBLE)) AS DECIMAL(30,10)) AS c
             |  FROM dn),
             |f AS (
             |  SELECT query_id, doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS rrf
             |  FROM u GROUP BY query_id, doc_id),
             |r AS (
             |  SELECT query_id, doc_id, rrf,
             |         CAST(row_number() OVER (PARTITION BY query_id
             |                                 ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
             |  FROM f)
             |SELECT query_id, doc_id, rank, rrf FROM r
             |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))
  )
}
