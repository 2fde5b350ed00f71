package org.apache.spark.sql

import org.apache.spark.sql.execution.LogicalRDD

/** Bridge for checkpoint statistics hygiene (`LogicalRDD` and
  * `classic.Dataset.ofRows` are `private[sql]`).
  *
  * `Dataset.localCheckpoint` wraps the materialized RDD in a [[LogicalRDD]]
  * carrying `originStats` — the SIZE ESTIMATE of the plan it truncated.
  * In an iterative loop whose round joins the previous round's checkpoint
  * against itself (connected components: neighbor join + pointer jumps),
  * that makes the estimate COMPOUND multiplicatively round over round —
  * size(r+1) ~ size(r)^k for k joins of the loop variable — so the BigInt
  * inside Catalyst's SizeInBytesOnlyStatsPlanVisitor doubles (k=2) or
  * triples (k=3) its DIGIT COUNT every round. By round ~10 the "estimate"
  * has 10^5+ digits and every stats visit burns minutes of driver CPU in
  * BigInteger Toom-Cook multiplication (observed: q30c2's component loop
  * pinning the driver RUNNABLE in computeStats). [[resetInheritedStats]]
  * re-wraps the SAME persisted RDD (so its `graft.core.Stage` scope still
  * frees the right blocks, and partitioning/ordering are preserved)
  * without `originStats`, falling back to the session default size — the
  * estimate a fresh scan of unknown data gets, and the only value that
  * cannot compound. The truncated plan's constraints (its inferred
  * predicates, e.g. `isnotnull` on the loop keys; `originConstraints` is
  * not readable, `constraints` is the same set minus subquery predicates)
  * do not compound and are kept, so constraint-derived filters still apply
  * to the loop variable.
  */
object GraftCheckpointStats {
  def resetInheritedStats(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        org.apache.spark.sql.classic.Dataset.ofRows(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
            lr.isStreaming, lr.stream)(
            df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            originStats = None, originConstraints = Some(lr.constraints)))
      case _ => df
    }
}
