package graft.ops

import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Sparse matrix × dense vector in exact integer arithmetic — the
  * kernel of the node-bounded graph iterations ([[graft.ext.GraphOps]]'
  * pageRank and HITS). Once the node set fits the driver, an iteration
  * is a product y = M·x over dense node indices, and the fused
  * DataFrame plan it replaces (broadcast build + probe + rollup per
  * step, re-planned every call) costs far more in planning and stage
  * dispatch than in data.
  *
  *  - [[layout]] lays the entries of one or more matrices out ONCE as
  *    a persisted RDD of per-partition primitive arrays: one shuffle,
  *    partitioned on each matrix's output row range, so a task owns a
  *    disjoint slice of the result vector.
  *  - [[Layout.multiply]] is one shuffle-free job per product: the
  *    vector ships as a broadcast `long[]`, each task returns its slice,
  *    the driver collects exactly n longs and destroys the broadcast.
  *    Products are `Math.multiplyExact` / `addExact` (overflow throws,
  *    as ANSI Spark arithmetic does), with an optional per-entry
  *    truncating divisor.
  *  - [[Layout.release]] unpersists the layout and destroys the
  *    dictionary broadcast; nothing the kernel makes outlives its
  *    caller's call, and no state is shared between calls.
  */
object SparseMatVec {

  /** Receives one matrix entry: y_m(row) += x_m(col) · w div d. */
  abstract class Emit extends Serializable {
    def apply(m: Int, row: Int, col: Int, w: Long, d: Long): Unit
  }

  /** One task's share of one matrix: output rows [lo, lo + size);
    * entry k adds x(col(k)) · w(k) [div d(k)] to y(lo + row(k)).
    * `d` is null when every divisor is 1. */
  final class Block(val lo: Int, size: Int, row: Array[Int], col: Array[Int],
      w: Array[Long], d: Array[Long]) extends Serializable {
    def multiply(x: Array[Long]): Array[Long] = {
      val y = new Array[Long](size)
      var k = 0
      while (k < row.length) {
        val c = Math.multiplyExact(x(col(k)), w(k))
        y(row(k)) = Math.addExact(y(row(k)), if (d == null) c else c / d(k))
        k += 1
      }
      y
    }
  }

  /** Output rows per task of a matrix with `rows` rows, and the number
    * of tasks (0 for an empty matrix). */
  private def geometry(rows: Int, tasks: Int): (Int, Int) = {
    val width = math.max(1, (rows + tasks - 1) / tasks)
    (width, (rows + width - 1) / width)
  }

  final class Layout private[SparseMatVec] (blocks: RDD[Block], first: Array[Int],
      rows: Array[Int], dict: Broadcast[_]) {

    /** y = M_m · x: one job over matrix m's partitions. */
    def multiply(m: Int, x: Array[Long]): Array[Long] = {
      val y = new Array[Long](rows(m))
      if (rows(m) > 0) {
        val sc = blocks.sparkContext
        val xb = sc.broadcast(x)
        try sc.runJob(blocks, (it: Iterator[Block]) => {
            val b = it.next()
            (b.lo, b.multiply(xb.value))
          }, first(m) until first(m + 1)).foreach { case (lo, slice) =>
            System.arraycopy(slice, 0, y, lo, slice.length)
          }
        finally xb.destroy()
      }
      y
    }

    def release(): Unit = {
      blocks.unpersist(blocking = false)
      dict.destroy()
    }
  }

  /** Lays out the matrices `encode` emits from each element of `data`:
    * matrix m has `rows(m)` output rows, split over at most
    * `defaultParallelism` tasks. `dict` (the key → index dictionary
    * the encoder resolves against) ships once as a broadcast owned by
    * the layout. Lazy: the first product runs the shuffle and fills
    * the layout's cache. */
  def layout[T, D: ClassTag](data: RDD[T], rows: Seq[Int], dict: D)(
      encode: (D, T, Emit) => Unit): Layout = {
    val sc = data.sparkContext
    val rowsA = rows.toArray
    val geo = rowsA.map(geometry(_, sc.defaultParallelism))
    val first = geo.map(_._2).scanLeft(0)(_ + _)
    val total = first.last
    val dictB = sc.broadcast(dict)
    val widths = geo.map(_._1)
    // map side: bucket each entry by its target task as packed longs
    // (local row << 32 | col, w, d), one array per non-empty task
    val chunks = data.mapPartitions { it =>
      val bufs = Array.fill(total)(new ArrayBuilder.ofLong)
      val emit = new Emit {
        def apply(m: Int, row: Int, col: Int, w: Long, d: Long): Unit = {
          val s = row / widths(m)
          val b = bufs(first(m) + s)
          b += (row - s * widths(m)).toLong << 32 | (col & 0xffffffffL)
          b += w
          b += d
        }
      }
      val dv = dictB.value
      it.foreach(encode(dv, _, emit))
      bufs.iterator.zipWithIndex.collect {
        case (b, p) if b.length > 0 => (p, b.result())
      }
    }
    val blocks = chunks.partitionBy(new HashPartitioner(math.max(1, total)))
      .mapPartitionsWithIndex { (p, it) =>
        // the matrix whose partition range holds p
        val m = first.lastIndexWhere(_ <= p, first.length - 2)
        val lo = (p - first(m)) * widths(m)
        val packed = it.map(_._2).toArray
        val n = packed.map(_.length / 3).sum
        val (row, col, w, d) =
          (new Array[Int](n), new Array[Int](n), new Array[Long](n), new Array[Long](n))
        var k = 0
        packed.foreach { a =>
          var i = 0
          while (i < a.length) {
            row(k) = (a(i) >>> 32).toInt
            col(k) = a(i).toInt
            w(k) = a(i + 1)
            d(k) = a(i + 2)
            k += 1
            i += 3
          }
        }
        Iterator(new Block(lo, math.min(widths(m), rowsA(m) - lo), row, col, w,
          if (d.forall(_ == 1L)) null else d))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    new Layout(blocks, first, rowsA, dictB)
  }

  /** A (key, value) frame of `keys.length` rows, built on the executors
    * from one broadcast (never a driver-side local relation), with
    * range statistics for the planner downstream. */
  def frame(spark: SparkSession, key: StructField, value: StructField,
      keys: Array[Any], values: Array[Long]): DataFrame = {
    val b = spark.sparkContext.broadcast((keys, values))
    val tasks = math.max(1, math.min(spark.sparkContext.defaultParallelism, keys.length))
    spark.range(0, keys.length, 1, tasks)
      .map((i: java.lang.Long) => {
        val (k, v) = b.value
        Row(k(i.toInt), v(i.toInt))
      })(Encoders.row(StructType(Seq(key, value))))
  }

  /** Runs `body` with `tag` on every job this thread submits (Spark's
    * job tags, the mechanism [[Concurrent.all]] cancels by), so a trace
    * attributes the kernel's jobs to the operator that ran them. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    val added = !sc.getJobTags().contains(tag)
    if (added) sc.addJobTag(tag)
    try body finally if (added) sc.removeJobTag(tag)
  }
}
