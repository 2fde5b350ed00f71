package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

final case class MetricSpec(name: String, unit: String)

/** The metric lists of BENCHMARK.json, which fix what a run reports. */
final case class BenchSpec(workloads: Seq[String], endToEnd: Seq[MetricSpec], perLayer: Seq[MetricSpec]) {

  /** The metrics a run reports, in file order: every `endToEnd` metric
    * for a timed run, every `perLayer` one for a traced run. A per-layer
    * metric the workload does not exercise reads 0; a missing end-to-end
    * metric is an error. */
  def select(trace: Boolean, values: Map[String, Double]): Seq[(MetricSpec, Double)] =
    (if (trace) perLayer else endToEnd).map { m =>
      m -> values.getOrElse(m.name,
        if (trace) 0.0 else throw new IllegalStateException(s"metric ${m.name} was not computed"))
    }

  /** Per-layer metrics a workload leaves unexercised. */
  def unexercised(values: Map[String, Double]): Seq[String] = perLayer.map(_.name).filterNot(values.contains)
}

object BenchSpec {
  def load(path: String): BenchSpec = parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))))

  def parse(json: String): BenchSpec = {
    val root = new ObjectMapper().readTree(json)
    def metrics(key: String) = root.get(key).elements().asScala
      .map(n => MetricSpec(n.get("name").asText(), n.get("unit").asText())).toSeq
    BenchSpec(root.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq,
      metrics("end_to_end"), metrics("per_layer"))
  }
}

/** Per-layer metrics every workload reports: the Spark runtime, the
  * Catalyst phases and the JVM, attributed to the timed ops. Counts are
  * per timed op; the storage peak is a maximum; GC is over the timed loop. */
object Layers {
  def common(c: Client, gc: (Long, Long)): Map[String, Double] = {
    val ops = c.timed
    val n = math.max(1, ops.size).toDouble
    val counters = ops.flatMap(o => Option(c.tracer.counters.get(o.id)))
    def perOp(f: OpCounters => Double): Double = counters.map(f).sum / n
    val roots = c.tracer.spans.filter(s => s.parent == 0L).map(s => s.id -> s).toMap
    val gaps = ops.flatMap { o =>
      roots.get(o.id).map { s =>
        val jobs = Option(c.tracer.counters.get(o.id)).map(_.jobs.toSeq).getOrElse(Nil)
        s.uncoveredBy(jobs) / 1e9
      }
    }
    Map(
      "spark.jobs" -> perOp(_.jobs.size),
      "spark.stages" -> perOp(_.stages),
      "spark.tasks" -> perOp(_.tasks),
      "spark.driver_gap_s" -> gaps.sum / n,
      "spark.executor_run_s" -> perOp(_.executorRunMs / 1e3),
      "spark.executor_cpu_s" -> perOp(_.executorCpuNs / 1e9),
      "spark.storage_peak_bytes" -> ops.flatMap(o => c.storagePeak.get(o.id)).foldLeft(0L)(math.max).toDouble,
      "spark.shuffle_read_bytes" -> perOp(_.shuffleReadBytes),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWriteBytes),
      "spark.spill_bytes" -> perOp(_.spillBytes),
      "spark.task_failures" -> counters.map(_.taskFailures).sum.toDouble,
      "plans.analysis_ms" -> perOp(_.analysisMs),
      "plans.optimization_ms" -> perOp(_.optimizationMs),
      "plans.planning_ms" -> perOp(_.planningMs),
      "jvm.gc_s" -> gc._2 / 1e3,
      "jvm.gc_count" -> gc._1.toDouble,
      "jvm.heap_peak_mb" -> Jvm.heapPeakMb)
  }

  /** Median latency of each call kind among the successful `ops`, in ms. */
  def kindMedians(ops: Seq[OpRecord]): Map[String, Double] =
    ops.filter(_.ok).groupBy(_.kind).map { case (k, rs) => k -> Stats.median(rs.map(_.ms)) }

  /** Median latency of the timed calls of `kind`, in ms (0 when none ran). */
  def p50Ms(c: Client, kind: String): Double = kindMedians(c.timed).getOrElse(kind, 0.0)
}
