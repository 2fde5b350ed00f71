package perfbench

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean, runId: String,
    root: String, results: String, tmp: String, gitCommit: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("run-id"), get("root"), get("results"), get("tmp"), m.getOrElse("git-commit", "unknown"))
  }
}

/** One timed client call, with the busy and stolen CPU ticks of the VM
  * while it ran (see [[StealTime]]). */
final case class OpRecord(kind: String, id: Long, start: Long, end: Long, ok: Boolean, rows: Long,
    busyTicks: Long, stealTicks: Long) {
  def wallMs: Double = (end - start) / 1e6
  def unstolen: Double = StealTime.unstolen(busyTicks, stealTicks)
  /** Latency without the stolen time: the figure every metric uses. */
  def ms: Double = wallMs * unstolen
}

/** The single client thread: runs each call to completion (closed loop),
  * records its latency, releases cached and checkpointed blocks after it,
  * and counts failed calls and failed output checks. */
final class Client(val spark: SparkSession, val tracer: Tracer) {
  private val records = mutable.ArrayBuffer.empty[OpRecord]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val storagePeak = mutable.Map.empty[Long, Long]
  var recording = false

  /** Run one op; `rows` derives its row count from the result. The VM's
    * CPU ticks are read right before and right after. */
  def call[T](layer: String, kind: String, rows: T => Long = (_: T) => 0L)(body: => T): Option[T] = {
    val ticks0 = StealTime.cpuTicks()
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.op(layer, kind)(body))
      catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val (busy, steal) = StealTime.ticks(ticks0, StealTime.cpuTicks())
    res.left.foreach { e =>
      System.err.println(s"[perfbench] $kind failed: $e")
      e.printStackTrace()
    }
    System.err.println(f"[perfbench] op $kind ${(t1 - t0) / 1e6}%.1f ms${if (recording) "" else " (set-up)"}")
    if (recording)
      records += OpRecord(kind, res.fold(_ => -1L, _._1), t0, t1,
        res.isRight, res.fold(_ => 0L, r => rows(r._2)), busy, steal)
    release(res.toOption.map(_._1))
    res.toOption.map(_._2)
  }

  /** Free every persisted and checkpointed block before the next call. */
  private def release(op: Option[Long]): Unit = {
    val sc = spark.sparkContext
    if (tracer.enabled) op.foreach { id =>
      storagePeak(id) = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    }
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def check(name: String)(ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    if (!ok) System.err.println(s"[perfbench] check failed: $name $d")
    checks += ((name, ok, d))
  }

  def timed: Seq[OpRecord] = records.toSeq
  def of(kinds: String*): Seq[OpRecord] = records.filter(r => kinds.contains(r.kind)).toSeq
}

/** A workload: generate inputs from the seed, a set-up unit the run
  * repeats and takes the median of, one closed-loop step (the first
  * `warmSteps` are the untimed warm-up), final checks, and the metrics
  * only it can compute. */
trait Workload {
  def generate(c: Client, seed: Long): Unit
  def setup(c: Client, rep: Int): Unit
  def step(c: Client, i: Int): Unit
  /** Untimed steps made before the timed loop, so that the JIT has
    * compiled the loop's hot paths. */
  def warmSteps: Int = 1
  /** Timed steps a run makes even when they outlast `--seconds`. */
  def minSteps: Int = 1
  def finish(c: Client): Unit
  /** User rows pushed through the engine per second of the calls that
    * carry them. */
  def rowsPerS(c: Client): Double
  def layerMetrics(c: Client): Map[String, Double]
}

object Main {
  val SetupReps = 3

  /** Half the cores: the engine is driver-bound, and leaving cores to the
    * driver, JIT and GC threads keeps run-to-run timings steady. */
  val sparkCores: Int = math.max(1, Runtime.getRuntime.availableProcessors / 2)

  /** Every workload the harness can run, by name, built over a scratch dir. */
  val workloads: Map[String, String => Workload] = Map(
    "kv_changelog" -> (new KvChangelog(_)),
    "corpus_build" -> (new CorpusBuild(_)),
    "index_serve" -> (new IndexServe(_)))

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val ticksAtMain = StealTime.cpuTicks()
    val a = Args.parse(argv)
    val spec = BenchSpec.load(s"${a.root}/BENCHMARK.json")
    val cores = sparkCores
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.local.dir", s"${a.tmp}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.tmp}/warehouse"),
      shufflePartitions = math.max(cores, 4)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val loadStart = loadAvg

    val workload = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))(a.tmp)
    val tracer = new Tracer(spark, a.trace)
    val client = new Client(spark, tracer)

    workload.generate(client, a.seed)
    val setupUnits = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      workload.setup(client, rep)
      (System.nanoTime() - t0) / 1e9
    }
    // the warm-up steps make every call kind of the loop; their time is set-up
    val warm0 = System.nanoTime()
    (0 until workload.warmSteps).foreach(workload.step(client, _))
    val warmupS = (System.nanoTime() - warm0) / 1e9
    val setupWallS = sessionS + Stats.median(setupUnits) + warmupS
    // without stolen time, as the op latencies are, over the whole span
    // from main() to the end of the warm-up
    val (setupBusy, setupSteal) = StealTime.ticks(ticksAtMain, StealTime.cpuTicks())
    val setupS = setupWallS * StealTime.unstolen(setupBusy, setupSteal)

    val gcBefore = Jvm.gc()
    Jvm.resetHeapPeak()
    client.recording = true
    val ticksStart = StealTime.cpuTicks()
    val loopStart = System.nanoTime()
    var i = workload.warmSteps
    while (System.nanoTime() - loopStart < a.seconds * 1000000000L || i - workload.warmSteps < workload.minSteps) {
      workload.step(client, i)
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val (loopBusy, loopSteal) = StealTime.ticks(ticksStart, StealTime.cpuTicks())
    client.recording = false
    val gcAfter = Jvm.gc()
    workload.finish(client)
    tracer.close()

    val ops = client.timed
    System.err.println(s"[perfbench] $i steps, timed calls by kind: " +
      ops.groupBy(_.kind).map { case (k, v) => s"$k=${v.size}" }.mkString(" "))
    val failedOps = ops.count(!_.ok)
    val failedChecks = client.checks.count(!_._2)
    val lat = ops.filter(_.ok).map(_.ms)
    val e2e = ListMap(
      "setup_s" -> setupS,
      "peak_rss_mb" -> Jvm.peakRssMb,
      "ops_per_s" -> lat.size / (lat.sum / 1e3),
      "rows_per_s" -> workload.rowsPerS(client),
      "op_p50_gmean_ms" -> Stats.geomean(Layers.kindMedians(ops).values.toSeq))
    val layers: Map[String, Double] =
      if (a.trace) workload.layerMetrics(client) ++
        Layers.common(client, (gcAfter._1 - gcBefore._1, gcAfter._2 - gcBefore._2))
      else Map.empty
    val values = if (a.trace) layers else e2e
    val metrics = ListMap(spec.select(a.trace, values).map { case (m, v) =>
      m.name -> ListMap("value" -> v, "unit" -> m.unit)
    }: _*)
    val attempted = ops.size + client.checks.size
    val result = ListMap(
      "correct" -> (failedOps + failedChecks == 0),
      "attempted" -> attempted,
      "failed" -> (failedOps + failedChecks),
      "metrics" -> metrics)

    val byKind = ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      val ms = rs.filter(_.ok).map(_.ms)
      val wall = rs.filter(_.ok).map(_.wallMs)
      val tail = Stats.tailPercentile(ms.size)
      k -> ListMap("n" -> rs.size, "failed" -> rs.count(!_.ok),
        "p50_ms" -> (if (ms.isEmpty) None else Some(Stats.median(ms))),
        "wall_p50_ms" -> (if (wall.isEmpty) None else Some(Stats.median(wall))),
        "tail_percentile" -> tail, "tail_ms" -> tail.map(q => Stats.percentile(ms, q)))
    }
    val file = ListMap(
      "run_id" -> a.runId, "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "git_commit" -> a.gitCommit, "cpus" -> Runtime.getRuntime.availableProcessors,
      "spark_master" -> s"local[$cores]", "spark_version" -> spark.version,
      "load_avg_start" -> loadStart, "load_avg_end" -> loadAvg,
      "session_s" -> sessionS, "setup_unit_s" -> setupUnits, "warmup_s" -> warmupS, "setup_wall_s" -> setupWallS,
      "loop_s" -> loopS, "timed_steps" -> (i - workload.warmSteps),
      "failed_op_ratio" -> (failedOps + failedChecks).toDouble / math.max(1, ops.size),
      "ops" -> ListMap(byKind: _*),
      "checks" -> client.checks.map { case (n, ok, d) => ListMap("name" -> n, "ok" -> ok, "detail" -> d) },
      "end_to_end" -> e2e,
      "host" -> ListMap(
        "steal_share" -> (1 - StealTime.unstolen(loopBusy, loopSteal)),
        "setup_steal_share" -> (1 - StealTime.unstolen(setupBusy, setupSteal)),
        "wall_ops_per_s" -> { val w = ops.filter(_.ok).map(_.wallMs); w.size / (w.sum / 1e3) }),
      "op_log" -> ops.map(o => Seq(o.kind, (o.start - loopStart) / 1e6, o.wallMs, o.unstolen, o.ok)),
      "trace_overhead" -> (if (a.trace) traceOverhead(a, e2e("ops_per_s")) else None),
      "per_layer_not_exercised" -> (if (a.trace) spec.unexercised(layers) else Nil),
      "per_layer" -> ListMap(layers.toSeq.sortBy(_._1): _*),
      "result" -> result)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.results, s"${a.runId}.json"), Json.render(file) + "\n")
    if (a.trace) writeSpans(s"${a.results}/${a.runId}.spans.jsonl", tracer.spans)
    System.err.println(Json.render(file))

    spark.stop()
    println(Json.render(result))
    System.out.flush()
    System.exit(0)
  }

  /** Tracing overhead: how much slower the calls of this traced run were
    * than those of the newest untraced run of the same workload and seed. */
  private def traceOverhead(a: Args, tracedOpsPerS: Double): Option[ListMap[String, Any]] =
    Option(new java.io.File(a.results).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(s"${a.workload}-s${a.seed}-t0-") && f.getName.endsWith(".json"))
      .sortBy(_.lastModified).lastOption.map { f =>
        val untraced = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
          .get("end_to_end").get("ops_per_s").asDouble
        ListMap("untraced_run" -> f.getName.stripSuffix(".json"), "ops_per_s_untraced" -> untraced,
          "ops_per_s_traced" -> tracedOpsPerS, "slowdown" -> (untraced / tracedOpsPerS - 1))
      }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val self = Stats.selfTimes(spans)
    val lines = spans.map(s => Json.render(ListMap("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "op" -> s.opId, "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end,
      "self_ns" -> self(s.id))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

/** JVM-level readings: GC totals, heap peak, process peak RSS. */
object Jvm {
  import scala.jdk.CollectionConverters._

  def gc(): (Long, Long) = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount.max(0L)).sum, beans.map(_.getCollectionTime.max(0L)).sum)
  }

  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM of this process, in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}
