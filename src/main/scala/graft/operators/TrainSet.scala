package graft.operators

import graft.core.Stage
import graft.plans.{CentroidProbes, HierCentroidProbes}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Divide, EvalMode, Expression, GenericInternalRow, NumericEvalContext, SpecificInternalRow, UnsafeArrayData, XxHash64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, DecimalType, DoubleType, FloatType, IntegerType, LongType}

/** The input of the Lloyd trainers ([[Ivf.train]], [[Ivf.trainHier]],
  * [[Pq.train]]): the `(_gid, _gvec)` training projection, in one of two
  * forms with the same primitives. [[TrainSet.Rows]] runs each primitive as
  * Spark jobs over a checkpoint; [[TrainSet.Local]] runs it in driver
  * memory over the projection collected by the [[Stage.Scope.localOr]]
  * gate. The trainers are written once over these primitives, so the two
  * paths differ only primitive by primitive, and each `Local` primitive
  * evaluates the Catalyst expressions its `Rows` twin plans: the same
  * centroid kernels, `XxHash64` (seed 42) for the init order, and the
  * decimal means' `Cast` and `Divide` in the session's eval mode. Models
  * are bit-identical whichever path ran. */
private[operators] sealed trait TrainSet {

  /** Row count. */
  def n: Long

  /** Vector length of the first row. */
  def dim: Int

  /** The `k` vectors with the smallest `(xxhash64(id), id)`: the
    * deterministic init. */
  def first(k: Int): Array[Array[Float]]

  /** The rows whose `pmod(xxhash64(id), 10^6)` is below `threshold`: the
    * deterministic hash sample. */
  def hashSample(threshold: Long): TrainSet

  /** Per bucket that the greedy descend through `tree` assigns, the first
    * `k` vectors in init order, keyed by (bucket, 1-based rank). */
  def firstPerBucket(tree: Seq[Array[Array[Float]]], k: Int): Map[(Int, Int), Array[Float]]

  /** `iters` Lloyd steps from `init` under `assign`: each centroid moves to
    * the exact decimal mean of its rows, and an empty cluster keeps its
    * previous centroid. */
  def lloyd(init: Array[Array[Float]], iters: Int, assign: TrainSet.Assign): Array[Array[Float]]

  /** [[lloyd]] of each subspace `j` of `books` (the vector slice
    * `[j * dsub, (j + 1) * dsub)`) under flat assignment: the product
    * quantizer's independent subspace fits. */
  def lloydSub(books: Array[Array[Array[Float]]], iters: Int): Array[Array[Array[Float]]]
}

private[operators] object TrainSet {

  /** `body` over the trainers' input: [[sampledProj]] through the
    * [[Stage.Scope.localOr]] gate, as a [[Local]] when it fits the
    * driver budget and as [[Rows]] over the checkpoint otherwise.
    * `driver = false` always takes [[Rows]]: the reference the driver path
    * is tested against. Inputs the driver cannot reproduce bit for bit
    * take [[Rows]] too, so today's behaviour, exceptions included, holds
    * there: null ids or vectors, null elements, vectors of mixed length,
    * other than `long`/`int` ids and `array<float>` vectors (the gate
    * sends these), an empty input, cast values out of the driver's exact
    * range ([[Local.of]]), or a centroid mean the distributed fit reads as
    * null ([[Unreproducible]]). */
  def fit[A](
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      maxTrainRows: Long,
      driver: Boolean)(body: TrainSet => A): A = Stage.scope { s =>
    val proj = sampledProj(corpus, idCol, vecCol, maxTrainRows)
    val gate =
      if (driver && Local.eligible(proj)) s.localOr(proj, Local.rowBytes(proj))(Local.pack(proj))
      else Right(s(proj))
    def distributed(cp: DataFrame): A = body(new Rows(spread(cp)))
    gate match {
      case Right(cp) => distributed(cp)
      case Left(packs) =>
        val local = Local.of(packs, proj)
        (try local.map(body) catch { case Unreproducible => None })
          .getOrElse(distributed(s(proj)))
    }
  }

  /** The trainers' projection, optionally hash-sampled to ~`maxTrainRows`
    * rows (deterministic hash-threshold membership — no RNG state, no
    * shuffle). */
  private def sampledProj(
      corpus: DataFrame, idCol: String, vecCol: String, maxTrainRows: Long): DataFrame = {
    val projAll = corpus.select(col(idCol).as("_gid"), col(vecCol).as("_gvec"))
    if (maxTrainRows <= 0L) projAll
    else {
      val n = projAll.count()
      if (n <= maxTrainRows) projAll
      // max(1, ...): integer division floors to 0 once n exceeds
      // buckets * maxTrainRows (a 4e9-row corpus at maxTrainRows=3200)
      // — the sample would silently go EMPTY and train() would crash
      // with a spurious "empty corpus". The 1-bucket floor keeps
      // ~n/1e6 rows instead: larger than asked, never zero.
      else hashSample(projAll, math.max(1L, Buckets * maxTrainRows / n))
    }
  }

  /** The modulus of the hash samples. */
  val Buckets = 1000000L

  private def hashSample(proj: DataFrame, threshold: Long): DataFrame =
    proj.filter(pmod(xxhash64(col("_gid")), lit(Buckets)) < lit(threshold))

  /** SPREAD the checkpointed projection to the session's parallelism:
    * embedding corpora often arrive as a handful of fat parquet splits
    * (blob-heavy rows pack thousands into one scan task), and every Lloyd
    * iteration re-scans this frame — a 2-partition checkpoint serializes
    * the whole fit on 2 cores (measured 3x wall at iters=3). Keyed on
    * _gid (deterministic under task retry, never round-robin); the spread
    * checkpoint replaces `cp`, which is freed once it has landed. Centroid
    * means are exact decimal sums, so partitioning cannot move a single
    * bit. */
  private def spread(cp: DataFrame): DataFrame = {
    val par = cp.sparkSession.sparkContext.defaultParallelism
    if (cp.rdd.getNumPartitions >= par) cp
    else Stage.scope { s =>
      s.adopt(cp)
      s(cp.repartition(par, col("_gid")))
    }
  }

  /** The assignment of a Lloyd step, in both forms: a column for [[Rows]],
    * the same Catalyst expression over a bound vector for [[Local]]. */
  sealed trait Assign {
    def col(v: Column, cents: Array[Array[Float]]): Column
    def expr(cents: Array[Array[Float]]): Expression
  }

  private val Vec = BoundReference(0, ArrayType(FloatType), nullable = true)

  /** The nearest centroid ([[graft.plans.CentroidProbes]], k = 1). */
  case object Flat extends Assign {
    def col(v: Column, cents: Array[Array[Float]]): Column =
      element_at(call_function("graft_centroid_probes", v, typedLit(cents), lit(1)), 1)
    def expr(cents: Array[Array[Float]]): Expression = CentroidProbes(Vec, cents, 1)
  }

  /** The greedy descend through the levels `above` and then `cents`
    * ([[graft.plans.HierCentroidProbes]], k = 1). */
  final case class Hier(above: Seq[Array[Array[Float]]]) extends Assign {
    def col(v: Column, cents: Array[Array[Float]]): Column =
      element_at(Ivf.hierProbesCol(v, above :+ cents, 1), 1)
    def expr(cents: Array[Array[Float]]): Expression =
      HierCentroidProbes(Vec, (above :+ cents).toArray, 1)
  }

  /** The distributed form over `proj`: the checkpoint, or a hash sample
    * of it. */
  final class Rows(val proj: DataFrame) extends TrainSet {
    def n: Long = proj.count()

    def dim: Int = proj.select(size(col("_gvec"))).head().getInt(0)

    def first(k: Int): Array[Array[Float]] =
      proj.orderBy(xxhash64(col("_gid")), col("_gid")).limit(k).collect()
        .map(_.getAs[scala.collection.Seq[Float]](1).toArray)

    def hashSample(threshold: Long): TrainSet = new Rows(TrainSet.hashSample(proj, threshold))

    // one window job over the sample; the collect is model-sized
    def firstPerBucket(tree: Seq[Array[Array[Float]]], k: Int): Map[(Int, Int), Array[Float]] = {
      val w = Window.partitionBy(col("_pb")).orderBy(xxhash64(col("_gid")), col("_gid"))
      proj
        .withColumn("_pb", Hier(tree.init).col(col("_gvec"), tree.last))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k)
        .select(col("_pb"), col("_rn"), col("_gvec"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getAs[scala.collection.Seq[Float]](2).toArray))
        .toMap
    }

    /** Assignment and per-dimension means fuse into ONE aggregation job
      * per iteration; decimal accumulation makes centroids independent of
      * partitioning and row order. */
    def lloyd(init: Array[Array[Float]], iters: Int, assign: Assign): Array[Array[Float]] = {
      var cents = init
      val dim = cents.head.length
      for (_ <- 1 to iters) {
        val means = proj
          .select(assign.col(col("_gvec"), cents).as("b"), posexplode(col("_gvec")))
          .groupBy(col("b"), col("pos"))
          .agg(mean(col("col")))
          .collect()
          .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
          .toMap
        val prev = cents
        cents = Array.tabulate(prev.length) { b =>
          Array.tabulate(dim)(d => means.get((b, d)).map(_.toFloat).getOrElse(prev(b)(d)))
        }
      }
      cents
    }

    /** Every subspace's step `i` runs in ONE job: per-row codes for all
      * `m` slices, one posexplode of the full vector, one groupBy
      * (subspace, code, pos-in-subspace). Each group aggregates exactly
      * the rows a lone subspace fit's (code, pos) group does, so this is
      * `iters` passes over the projection instead of `m x iters`. */
    def lloydSub(books: Array[Array[Array[Float]]], iters: Int): Array[Array[Array[Float]]] = {
      val m = books.length
      val dsub = books.head.head.length
      var cur = books
      for (_ <- 1 to iters) {
        val codes = array((0 until m).map { j =>
          Flat.col(slice(col("_gvec"), j * dsub + 1, dsub), cur(j))
        }: _*)
        val means = proj
          .select(codes.as("_codes"), posexplode(col("_gvec")))
          .select(
            (col("pos") / dsub).cast("int").as("j"),
            pmod(col("pos"), lit(dsub)).as("p"),
            col("_codes"), col("col"))
          .select(col("j"), element_at(col("_codes"), col("j") + 1).as("b"),
            col("p"), col("col"))
          .groupBy(col("j"), col("b"), col("p"))
          .agg(mean(col("col")))
          .collect()
          .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
          .toMap
        val prev = cur
        cur = Array.tabulate(m) { j =>
          Array.tabulate(prev(j).length) { b =>
            Array.tabulate(dsub)(p => means.get((j, b, p)).map(_.toFloat).getOrElse(prev(j)(b)(p)))
          }
        }
      }
      cur
    }

    /** The exact per-group mean: elements summed as decimal(30,10), divided
      * by the group's row count, as a double. */
    private def mean(v: Column): Column =
      (sum(v.cast(DecimalType(30, 10))) / count(lit(1))).cast("double")
  }

  /** A [[Local]] fit stepped outside what the distributed fit returns: a
    * null bucket, or a centroid element whose group mean is null (every
    * element a NaN), which the distributed fit fails on reading. */
  case object Unreproducible extends Exception with scala.util.control.NoStackTrace

  /** One partition of the collected projection: ids widened to long,
    * vector lengths, and the vectors' elements back to back. */
  final case class Pack(ids: Array[Long], lens: Array[Int], elems: Array[Float])

  /** The driver form: `n` rows of `dim` floats, each element also held as
    * its decimal(30,10) cast (`units`, unscaled; `nulls` marks a null
    * cast). Every `units` value is at most `Long.MaxValue / n` in
    * magnitude, so the long sums below are the exact decimal sums. */
  final class Local private (
      ids: Array[Long],
      hashes: Array[Long],
      val dim: Int,
      elems: Array[Float],
      units: Array[Long],
      nulls: java.util.BitSet,
      conf: SQLConf) extends TrainSet {

    def n: Long = ids.length

    /** Row indices in init order: ascending (xxhash64(id), id). */
    private lazy val order: Array[Int] =
      Array.range(0, ids.length).sortBy(i => (hashes(i), ids(i)))

    private def vec(i: Int): Array[Float] = java.util.Arrays.copyOfRange(elems, i * dim, (i + 1) * dim)

    def first(k: Int): Array[Array[Float]] = order.take(k).map(vec)

    def hashSample(threshold: Long): TrainSet =
      sub(ids.indices.filter(i => Math.floorMod(hashes(i), Buckets) < threshold).toArray, 0, dim)

    def firstPerBucket(tree: Seq[Array[Array[Float]]], k: Int): Map[(Int, Int), Array[Float]] = {
      val bucket = assignAll(Hier(tree.init).expr(tree.last))
      val rank = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
      order.iterator.flatMap { i =>
        val r = rank(bucket(i)) + 1
        rank(bucket(i)) = r
        if (r <= k) Some((bucket(i), r) -> vec(i)) else None
      }.toMap
    }

    def lloyd(init: Array[Array[Float]], iters: Int, assign: Assign): Array[Array[Float]] =
      SQLConf.withExistingConf(conf) {
        val mode = EvalMode.fromSQLConf(conf)
        val mean = Cast(
          Divide(BoundReference(0, DecimalType(38, 10), nullable = true),
            Cast(BoundReference(1, LongType, nullable = false), DecimalType(20, 0), None, mode),
            NumericEvalContext.fromSQLConf(conf)),
          DoubleType, None, mode)
        var cents = init
        for (_ <- 1 to iters) {
          val b = assignAll(assign.expr(cents))
          val c = cents.length
          val size = new Array[Long](c)
          val sums = new Array[Long](c * dim)
          val summed = new java.util.BitSet(c * dim)
          var i = 0
          while (i < b.length) {
            size(b(i)) += 1
            var d = 0
            while (d < dim) {
              val e = i * dim + d
              if (!nulls.get(e)) {
                sums(b(i) * dim + d) += units(e)
                summed.set(b(i) * dim + d)
              }
              d += 1
            }
            i += 1
          }
          val prev = cents
          cents = Array.tabulate(c) { k =>
            if (size(k) == 0L) prev(k)
            else Array.tabulate(dim) { d =>
              if (!summed.get(k * dim + d)) throw Unreproducible
              val m = mean.eval(InternalRow(Decimal(sums(k * dim + d), 38, 10), size(k)))
              m.asInstanceOf[Double].toFloat
            }
          }
        }
        cents
      }

    def lloydSub(books: Array[Array[Array[Float]]], iters: Int): Array[Array[Array[Float]]] = {
      val dsub = books.head.head.length
      books.indices.map(j => sub(ids.indices.toArray, j * dsub, dsub).lloyd(books(j), iters, Flat)).toArray
    }

    /** The first element of `expr`'s probes for every row. */
    private def assignAll(expr: Expression): Array[Int] = {
      val row = new GenericInternalRow(1)
      Array.tabulate(ids.length) { i =>
        row.update(0, UnsafeArrayData.fromPrimitiveArray(vec(i)))
        val probes = expr.eval(row).asInstanceOf[ArrayData]
        if (probes == null) throw Unreproducible
        probes.getInt(0)
      }
    }

    /** Elements `[from, from + len)` of each of `rows`. */
    private def sub(rows: Array[Int], from: Int, len: Int): Local = {
      def cut[T: scala.reflect.ClassTag](a: Array[T]): Array[T] =
        rows.flatMap(i => a.slice(i * dim + from, i * dim + from + len))
      val cutNulls = new java.util.BitSet(rows.length * len)
      for ((i, r) <- rows.zipWithIndex; d <- 0 until len if nulls.get(i * dim + from + d))
        cutNulls.set(r * len + d)
      new Local(rows.map(ids), rows.map(hashes), len, cut(elems), cut(units), cutNulls, conf)
    }
  }

  object Local {
    /** `long`/`int` ids and `array<float>` vectors. */
    def eligible(proj: DataFrame): Boolean =
      Set[DataType](LongType, IntegerType)(proj.schema("_gid").dataType) &&
        (proj.schema("_gvec").dataType match { case ArrayType(FloatType, _) => true; case _ => false })

    /** A row's bytes in driver memory — its id and hash, and each element
      * as a float and an unscaled long — or null for a null id, a null
      * vector or a null element. */
    def rowBytes(proj: DataFrame): Column =
      when(col("_gid").isNotNull && col("_gvec").isNotNull && forall(col("_gvec"), _.isNotNull),
        size(col("_gvec")).cast(LongType) * 12L + 16L)

    def pack(proj: DataFrame): Iterator[InternalRow] => Pack = {
      val intIds = proj.schema("_gid").dataType == IntegerType
      rows => {
        val ids = Array.newBuilder[Long]
        val lens = Array.newBuilder[Int]
        val elems = Array.newBuilder[Float]
        rows.foreach { r =>
          ids += (if (intIds) r.getInt(0).toLong else r.getLong(0))
          val v = r.getArray(1).toFloatArray()
          lens += v.length
          elems ++= v
        }
        Pack(ids.result(), lens.result(), elems.result())
      }
    }

    /** The collected projection, or None for an empty input, vectors of
      * mixed length, or a cast the driver cannot sum exactly: one that
      * fails (ANSI mode), or one beyond `Long.MaxValue / n` unscaled. */
    def of(packs: Array[Pack], proj: DataFrame): Option[Local] = {
      val ids = packs.flatMap(_.ids)
      val lens = packs.flatMap(_.lens)
      if (ids.isEmpty || lens.exists(_ != lens.head)) return None
      val conf = proj.sparkSession.sessionState.conf
      val elems = packs.flatMap(_.elems)
      val units = new Array[Long](elems.length)
      val nulls = new java.util.BitSet(elems.length)
      val limit = java.math.BigInteger.valueOf(Long.MaxValue / ids.length)
      val exact = SQLConf.withExistingConf(conf) {
        val cast = Cast(BoundReference(0, FloatType, nullable = false), DecimalType(30, 10), None,
          EvalMode.fromSQLConf(conf))
        val row = new SpecificInternalRow(Seq(FloatType))
        var ok = true
        var e = 0
        while (ok && e < elems.length) {
          row.setFloat(0, elems(e))
          try cast.eval(row) match {
            case null => nulls.set(e)
            case d: Decimal =>
              val u = d.toJavaBigDecimal.setScale(10).unscaledValue()
              ok = u.abs.compareTo(limit) <= 0
              units(e) = u.longValue
          } catch { case _: ArithmeticException => ok = false }
          e += 1
        }
        ok
      }
      if (!exact) return None
      val idType = proj.schema("_gid").dataType
      val hash = XxHash64(Seq(BoundReference(0, idType, nullable = false)), 42L)
      val hashes = ids.map { id =>
        hash.eval(InternalRow(if (idType == IntegerType) id.toInt else id)).asInstanceOf[Long]
      }
      Some(new Local(ids, hashes, lens.head, elems, units, nulls, conf))
    }
  }
}
