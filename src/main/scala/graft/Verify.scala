package graft
import graft.core.GraftSession
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only these queries (dev iteration)
    val only: Set[String] = args.drop(2).toSet
    val cpus = Verify.cpus(sys.env.get("SPARK_GRAFT_CPUS"))
    // GraftSession.configure: nanosAsLong (events TIMESTAMP(NANOS) parquet),
    // UTC, ANSI off, AQE — without it 7 of 9 events queries fail at scan.
    val spark: SparkSession = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-verify"),
      shufflePartitions = math.max(cpus, 4)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json FIRST (it needs no Spark jobs): the r14 driver verify
    // came back EMPTY (n_queries: 0) — if a verify-stage timeout lands
    // mid-run, writing the SQL map up front leaves every already-completed
    // query directory scorable instead of zeroing the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val defs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // Queries run on a small driver pool (optimization guide §2.6): each
    // writes its own directory and every query is concurrency-invariant
    // (deterministic plans, per-query temp dirs, atomic fixture caches), so
    // results are identical to the sequential loop — but the sequential
    // loop left ~29 of 32 cores idle (user/real = 8m33s/3m39s at sf0.001:
    // single-task scans + scheduler gaps). 4 jobs in flight back-fill the
    // tails and cut the wall roughly in half, attacking the verify-stage
    // timeout directly. SPARK_GRAFT_VERIFY_PAR=1 restores sequential.
    val par = parallelism(sys.env.get("SPARK_GRAFT_VERIFY_PAR"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      val futures = defs.map { case (name, fn) =>
        Future {
          val t0 = System.nanoTime()
          try {
            spark.sparkContext.setJobDescription(s"verify: $name")
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%6.1f s" +
              f" (${done.incrementAndGet()}%d/${defs.size}%d)")
          } catch { case e: Throwable =>
            done.incrementAndGet()
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()
    spark.stop()
  }

  /** Query pool size from `SPARK_GRAFT_VERIFY_PAR`: 4 when unset or not an
    * integer (a typo must not kill the whole verify run), at least 1. */
  private[graft] def parallelism(raw: Option[String]): Int =
    math.max(1, raw.flatMap(v => scala.util.Try(v.trim.toInt).toOption).getOrElse(4))

  /** Local cores from `SPARK_GRAFT_CPUS` for the Verify and Bench sessions,
    * parsed the same way: 4 when unset or malformed, at least 1. */
  private[graft] def cpus(raw: Option[String]): Int = parallelism(raw)
}
