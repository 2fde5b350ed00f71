package graft
import graft.core.GraftSession
import graft.queries.Registry
import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Queries are materialized through the noop sink —
  * full execution of every operator, no driver collection, and no
  * count()-style plan collapse (Catalyst prunes projections under count).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Verify.cpus(sys.env.get("SPARK_GRAFT_CPUS"))
    val id = runId(cpus, java.time.Instant.now(), ProcessHandle.current().pid())
    val spark: SparkSession = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-bench"),
      shufflePartitions = math.max(cpus, 4)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // free this run's localCheckpoint blocks afterwards — ON BOTH PATHS
      // (results are already fully materialized by the noop save): across
      // ~70 queries x reps they otherwise pile up in the block manager
      // until GC happens to run, and a query timed under that storage
      // pressure reads 10-30x slow — a harness artifact, not an operator
      // cost (seen on q27g in the first full-table run: 33 s in-session
      // vs 0.98 s isolated). A FAILED query's eager state must not poison
      // later timings either, hence the finally.
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable => System.err.println(s"[bench] ${e.getMessage}"); -1.0
      } finally {
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        spark.sharedState.cacheManager.clearCache()
      }
    }

    // --full (or SPARK_GRAFT_BENCH_ALL=1) -> every registered query, so the
    // complete per-query median table is regenerated mechanically each round
    // and regressions OUTSIDE the headline set are caught by diffing.
    // SPARK_GRAFT_REPS=n -> trimmed median of n timed reps (defaults below).
    // SPARK_GRAFT_ONLY=q1,q2 -> bench just those queries (dev iteration).
    val full = args.contains("--full") || sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")
    val defs = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(names) =>
        val keep = names.split(",").map(_.trim).toSet
        Registry.all.filter(d => keep(d.name))
      case None => if (full) Registry.all else Registry.headline
    }
    // The shared host's IO load swings recorded totals by ~30% at 1 rep
    // (BASELINE.md round-5 IO-variance note), so the gate artifact defaults
    // to several reps with a TRIMMED median (drop min + max, median of the
    // rest): robust to one slow outlier rep AND one anomalously-cached fast
    // one. Headline (12 queries) affords 5 reps; --full (70) uses 3.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", if (full) "3" else "5").toInt

    def loadAvg: Double = {
      val l = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
      math.round(l * 100) / 100.0
    }
    // Disk-read calibration constant: stream the sf dir's largest parquet
    // file through the OS (no Spark), reporting MB/s. A round-over-round
    // headline diff can then be normalized for ambient IO contention — the
    // same code on a quiet vs loaded host reads very different wall-clocks.
    def calibMbPerS: Double = {
      val dir = new java.io.File(sfDir)
      val files = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      if (files.isEmpty) return -1.0
      val f = files.maxBy(_.length)
      val buf = new Array[Byte](1 << 20)
      val t0 = System.nanoTime()
      val in = new java.io.FileInputStream(f)
      try { while (in.read(buf) > 0) () } finally { in.close() }
      val sec = (System.nanoTime() - t0) / 1e9
      math.round(f.length / 1e6 / sec * 10) / 10.0
    }

    val loadStart = loadAvg
    val calib = calibMbPerS
    // one untimed warmup pass (JIT + codegen + parquet footer caches)
    val warmup = sys.env.get("SPARK_GRAFT_NO_WARMUP").isEmpty
    if (warmup) defs.foreach(d => run(d.fn))
    val results = defs.map { d =>
      val times = (1 to reps).map(_ => run(d.fn)).filter(_ >= 0).sorted
      val trimmed = if (times.size >= 4) times.drop(1).dropRight(1) else times
      val med = if (trimmed.isEmpty) -1.0 else trimmed(trimmed.size / 2)
      val spread = if (times.size >= 2) times.last - times.head else 0.0
      System.err.println(f"[bench] ${d.name}%-28s $med%8.3f s  (±${spread / 2}%.3f over $reps reps)")
      (d.name, med, spread)
    }
    def jmap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }.mkString("{", ",", "}")
    val qs = jmap(results.map(r => r._1 -> r._2))
    val spreads = jmap(results.map(r => r._1 -> r._3))
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalSpread = results.filter(_._2 >= 0).map(_._3).sum
    val metric = if (full) "full_total" else "headline_total"
    val json = s"""{"metric":"$metric","value":$total,"unit":"sec","reps":$reps,""" +
      s""""cpus":$cpus,"run_id":"$id",""" +
      s""""total_spread":$totalSpread,"load_avg_start":$loadStart,"load_avg_end":$loadAvg,""" +
      s""""calib_read_mb_per_s":$calib,"queries":$qs,"spread":$spreads,"sf":"$sfDir"}"""
    println(json)
    // The stdout line has never survived the sbt "[info] " prefix into the
    // driver's parser (PERF `parsed: null` since r10) — ALSO write the
    // identical JSON to a bare file beside the repo root so the comparison
    // machinery has a machine-readable artifact. The default name carries
    // the run id, so an 8-core and a 32-core run cannot overwrite each other.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", s"bench_last_$id.json")), json + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] json file write failed: ${e.getMessage}") }
    spark.stop()
  }

  /** Run id: UTC start second, local cores and process id, e.g.
    * `20261017T160405Z-c8-p4242`. */
  private[graft] def runId(cpus: Int, start: java.time.Instant, pid: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(start) + s"-c$cpus-p$pid"
}
