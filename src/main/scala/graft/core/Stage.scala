package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftCheckpointStats, GraftObservationAccess, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{coalesce, count, lit, sum, when}
import org.apache.spark.sql.types.LongType

import scala.collection.mutable
import scala.reflect.ClassTag

/** The engine's one eager materialization primitive, and the owner of the
  * storage it pins: a checkpoint lives until its scope ends unless the
  * scope returns it.
  *
  * In `Stage.scope { s => ... }`, `s(df)` is an eager `localCheckpoint`.
  * When the body ends, normally or by an exception, the scope frees every
  * checkpoint it holds except the leaves of the value it returns (a
  * Dataset, or a tuple, case class or collection holding Datasets). It
  * holds the checkpoints it took or adopted and the survivors of the
  * scopes nested in it on the same thread; its own survivors pass to the
  * enclosing scope, or to the caller when there is none, who frees a
  * returned frame with [[free]].
  *
  * Freeing is `RDD.unpersist` on the checkpointed RDD. `Dataset.unpersist`
  * is a silent no-op on a local checkpoint (the RDD is persisted outside
  * the SQL CacheManager), which leaves the blocks to the ContextCleaner's
  * GC timing; the week-long uptime soak measured that residue.
  *
  * A frame that reaches a checkpoint only through RDD lineage
  * (`createDataFrame(x.rdd, ...)`) hides that leaf, so such a frame must be
  * returned as a checkpoint itself. Reading a freed checkpoint fails
  * loudly ("Checkpoint block ... not found"), never silently.
  *
  * `s.localOr(df, rowBytes)(pack)` is the one policy for small inputs:
  * an operator whose input fits [[DriverBudget]] runs its loop in driver
  * memory instead of as one Spark job per round. */
object Stage {

  /** The driver byte budget of [[Scope.localOr]]: 8 MB, 2^20 primitive
    * longs. */
  val DriverBudget: Long = 8L << 20

  final class Scope private[Stage] (private[Stage] val parent: Option[Scope]) {
    private val held = mutable.LinkedHashMap.empty[Int, RDD[_]]

    /** `df` materialized now, as a local checkpoint this scope holds. */
    def apply[T](df: Dataset[T]): Dataset[T] = {
      val c = df.localCheckpoint()
      hold(leaves(c))
      c
    }

    /** [[apply]] for a loop variable: the checkpoint drops the size estimate
      * it inherits from the plan it truncates, which would otherwise
      * compound round over round ([[GraftCheckpointStats]]). */
    def loop(df: DataFrame): DataFrame = GraftCheckpointStats.resetInheritedStats(apply(df))

    /** This scope takes over `df`'s checkpoints: they are freed when it
      * ends unless it returns them. A loop hands each round the previous
      * round's frame, which is then freed as soon as the next one lands. */
    def adopt(df: Dataset[_]): Unit = hold(leaves(df))

    /** `df` materialized now as a checkpoint, with its size observed in
      * that same job: the sum of `rowBytes`, each row's bytes in driver
      * memory. When every row has a size and the sum fits [[DriverBudget]],
      * one more job collects `pack` of each partition's rows, the
      * checkpoint is freed and `Left` holds the packs in partition order.
      * Otherwise `Right` holds the checkpoint, which this scope holds.
      *
      * A null `rowBytes` marks a row the caller's driver path does not
      * take. The observed size only picks the path: a sum inflated by a
      * retried task, or a metrics map left empty by a pruned plan, sends
      * the input to `Right` and never changes a result. */
    def localOr[B: ClassTag](df: DataFrame, rowBytes: Column)(
        pack: Iterator[InternalRow] => B): Either[Array[B], DataFrame] = {
      val obs = Observation(s"stage_local_${java.util.UUID.randomUUID()}")
      val cp = apply(df.observe(obs,
        coalesce(sum(rowBytes.cast(LongType)), lit(0L)).as("bytes"),
        count(when(rowBytes.isNull, 1)).as("unsized")))
      val m = GraftObservationAccess.getOrEmpty(obs)
      val fits = m.get("unsized").contains(0L) &&
        m.get("bytes").exists(_.asInstanceOf[Long] <= DriverBudget)
      if (!fits) Right(cp)
      else {
        val packs = cp.queryExecution.toRdd.mapPartitions(rows => Iterator.single(pack(rows))).collect()
        val rdds = leaves(cp)
        synchronized(rdds.foreach(r => held.remove(r.id)))
        rdds.foreach(_.unpersist(blocking = false))
        Left(packs)
      }
    }

    private[Stage] def hold(rdds: Iterable[RDD[_]]): Unit =
      synchronized(rdds.foreach(r => held(r.id) = r))

    private[Stage] def release(keep: Set[Int]): Iterable[RDD[_]] = synchronized {
      val (kept, freed) = held.values.partition(r => keep(r.id))
      freed.foreach(_.unpersist(blocking = false))
      kept
    }
  }

  private val current = new ThreadLocal[Scope]

  def scope[A](body: Scope => A): A = {
    val s = new Scope(Option(current.get))
    current.set(s)
    var keep = Set.empty[Int]
    try {
      val out = body(s)
      keep = datasets(out).flatMap(leaves).map(_.id).toSet
      out
    } finally {
      current.set(s.parent.orNull)
      val kept = s.release(keep)
      s.parent.foreach(_.hold(kept))
    }
  }

  /** Free the checkpoints `df` scans now — for a caller outside any scope
    * that holds a returned frame. Plans without a checkpoint are left
    * untouched. */
  def free(df: Dataset[_]): Unit = leaves(df).foreach(_.unpersist(blocking = false))

  private def leaves(df: Dataset[_]): Seq[RDD[_]] = {
    val out = Seq.newBuilder[RDD[_]]
    df.queryExecution.analyzed.foreachWithSubqueries {
      case lr: LogicalRDD => out += lr.rdd
      case _ => ()
    }
    out.result()
  }

  private def datasets(v: Any): Iterator[Dataset[_]] = v match {
    case d: Dataset[_] => Iterator.single(d)
    case i: Iterable[_] => i.iterator.flatMap(datasets)
    case p: Product => p.productIterator.flatMap(datasets)
    case _ => Iterator.empty
  }
}
