package graft.ml

import java.util.concurrent.atomic.AtomicReference
import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** The static input of an iterative fit (EM, Lloyd, gradient descent,
  * power rounds) and the one place the fit's rounds run.
  *
  * The input is sized and cached once. A round folds every row into an
  * accumulator per partition and merges the partials in partition-index
  * order, so no fit depends on the order its tasks finish in:
  *  - when the whole input weighs at most `perPart` (one task's budget),
  *    its rows are collected once and every round folds them on the
  *    calling thread: no per-round job, plan or broadcast, and driver
  *    memory bounded by that one task's budget;
  *  - otherwise the input is cached at clamp(ceil(weight / perPart), 1,
  *    defaultParallelism) partitions and each round is one
  *    `mapPartitions` job whose partials come back with its result.
  *
  * `perPart` is each fit family's constant, derived in the fit from its
  * measured per-row cost against the 40–60 ms a one-task round job
  * costs (measurements at [[Hmm.PointsPerPart]]).
  * The jobs the seam submits are described `"<name> round i/n"` (round
  * 0 is the sizing and collect passes); the caller's job description is
  * restored afterwards and its job group is left alone. */
sealed abstract class FitRounds[T] {

  /** The fit's name in job descriptions. */
  def name: String

  /** The fit's round budget, the `n` of `"round i/n"`. */
  def rounds: Int

  /** Number of input rows. */
  def count: Long

  /** One round: `add` folds each row into a fresh `zero()` per
    * partition, and the partials merge in partition order. On the
    * driver fold there is one partial and no merge. */
  def round[A: ClassTag](i: Int)(zero: () => A)(add: (A, T) => A)(
      merge: (A, A) => A): A

  /** The rows `pf` is defined at, mapped, in partition order (in the
    * fold order on the driver fold). */
  def collect[U: ClassTag](pf: PartialFunction[T, U]): IndexedSeq[U]

  /** Drop the cached input. */
  def close(): Unit
}

object FitRounds {

  /** Partitions for an input of total `weight` at `perPart` per
    * partition: clamp(ceil(weight / perPart), 1, parallelism). */
  def width(weight: Long, perPart: Long, parallelism: Int): Int =
    math.max(1, math.min(parallelism,
      math.ceil(weight.toDouble / perPart).toInt))

  /** An `array<double>` cell as the PRIMITIVE array a fit caches (~1/3
    * the boxed footprint): a null element rides as NaN, which every
    * decimal fold treats exactly like null (VecDecimal.sqDist18 nulls
    * the distance, dec18 drops the term); a null cell is empty. */
  def doubles(s: Seq[Any]): Array[Double] =
    if (s == null) Array.emptyDoubleArray
    else s.iterator.map {
      case null => Double.NaN
      case d: java.lang.Double => d.doubleValue
    }.toArray

  /** Rounds over rows already on the driver (no Spark). */
  def local[T](name: String, rounds: Int, rows: IndexedSeq[T])
      : FitRounds[T] = new Local(name, rounds, rows)

  /** Size and cache `input` (one job), then fold on the driver (one
    * more job collects the rows, in `order` when given) or spread the
    * rounds over the sized width. */
  def apply[T: ClassTag](name: String, rounds: Int, input: RDD[T],
      weight: T => Long, perPart: Long,
      order: Option[Ordering[T]] = None): FitRounds[T] = {
    val sc = input.sparkContext
    val cached = input.persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val (n, total) = described(cached, name, 0, rounds) {
        cached.mapPartitions { it =>
          var n = 0L
          var w = 0L
          it.foreach { r => n += 1; w += weight(r) }
          Iterator.single((n, w))
        }.collect().foldLeft((0L, 0L)) {
          case ((n1, w1), (n2, w2)) => (n1 + n2, w1 + w2)
        }
      }
      val w = width(total, perPart, sc.defaultParallelism)
      if (w == 1) {
        val rows = described(cached, name, 0, rounds)(cached.collect())
        cached.unpersist(blocking = false)
        new Local(name, rounds,
          order.fold(rows.toIndexedSeq)(o => rows.sorted(o).toIndexedSeq))
      } else {
        val cur = cached.getNumPartitions
        if (cur == w) new Spread(name, rounds, n, cached, None)
        else new Spread(name, rounds, n,
          (if (cur > w) cached.coalesce(w) else cached.repartition(w))
            .persist(StorageLevel.MEMORY_AND_DISK_SER),
          Some(cached))
      }
    } catch {
      case e: Throwable => cached.unpersist(blocking = false); throw e
    }
  }

  private val Description = "spark.job.description"

  private def described[R](rdd: RDD[_], name: String, i: Int, n: Int)(
      body: => R): R = {
    val sc = rdd.sparkContext
    val prev = sc.getLocalProperty(Description)
    sc.setJobDescription(s"$name round $i/$n")
    try body finally sc.setLocalProperty(Description, prev)
  }

  private final class Local[T](val name: String, val rounds: Int,
      rows: IndexedSeq[T]) extends FitRounds[T] {
    def count: Long = rows.length.toLong
    def round[A: ClassTag](i: Int)(zero: () => A)(add: (A, T) => A)(
        merge: (A, A) => A): A = rows.foldLeft(zero())(add)
    def collect[U: ClassTag](pf: PartialFunction[T, U]): IndexedSeq[U] =
      rows.collect(pf)
    def close(): Unit = ()
  }

  /** `sized` is the input as first cached; it is dropped once a job has
    * materialized the re-partitioned `data`. */
  private final class Spread[T: ClassTag](val name: String,
      val rounds: Int, val count: Long, data: RDD[T], sized: Option[RDD[T]])
      extends FitRounds[T] {
    private val parent = new AtomicReference(sized.orNull)

    private def job[R](i: Int)(body: => R): R = {
      val r = described(data, name, i, rounds)(body)
      Option(parent.getAndSet(null)).foreach(_.unpersist(blocking = false))
      r
    }

    def round[A: ClassTag](i: Int)(zero: () => A)(add: (A, T) => A)(
        merge: (A, A) => A): A = {
      val partials = job(i) {
        data.mapPartitions(it =>
          Iterator.single(it.foldLeft(zero())(add))).collect()
      }
      partials.reduceLeft(merge)
    }

    def collect[U: ClassTag](pf: PartialFunction[T, U]): IndexedSeq[U] =
      job(0)(data.collect(pf).collect()).toIndexedSeq

    def close(): Unit = {
      data.unpersist(blocking = false)
      Option(parent.getAndSet(null)).foreach(_.unpersist(blocking = false))
    }
  }
}
