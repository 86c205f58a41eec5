package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-key ORDERED folds via secondary sort — the one implementation
  * of sequential recurrences (`q_ema_decay` runs on it): instead of
  * collecting each key's values into an array and folding the array
  * (per-key memory ∝ key's row count), repartition by key, sort
  * WITHIN partitions by (key, order), and stream one pass over each
  * partition folding run-by-run. Memory per
  * task is O(1) regardless of how hot a key is — the pathological
  * 10M-event user costs time, never heap — and the sort is the same
  * shuffle the groupBy would have paid.
  *
  * This is Spark's "secondary sort" idiom (the mapPartitions escape
  * hatch the module guidelines reserve for genuine per-partition
  * imperative logic): `repartition(k)` guarantees all rows of a key
  * share a partition; `sortWithinPartitions(k, o...)` makes each
  * key's rows adjacent and ordered; the fold is then a single
  * sequential scan. The per-element op chain is the textbook
  * left-to-right one, so results are bit-for-bit those of a plain
  * sequential fold (OrderedFoldSpec pins this on the sf data) and of
  * DuckDB's `list_reduce` (the `q_ema_decay` oracle).
  */
object OrderedFold {

  /** EMA per user over (ts, event_id)-ordered `value`s: s_1 = x_1,
    * s_i = (1-alpha)·s_{i-1} + alpha·x_i. Input needs columns
    * (user_id: long, ts: timestamp, event_id: long, value: double).
    * Returns (user_id, n_events, ema) — the `q_ema_decay` contract. */
  def emaByUser(events: DataFrame, alpha: Double = 0.125): DataFrame = {
    val beta = 1.0 - alpha
    val outSchema = StructType(Seq(
      StructField("user_id", LongType, nullable = false),
      StructField("n_events", LongType, nullable = false),
      StructField("ema", DoubleType, nullable = false)))
    val sorted = events
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
    sorted.mapPartitions { rows =>
      new Iterator[Row] {
        private var pending: Option[Row] = None
        def hasNext: Boolean = pending.isDefined || rows.hasNext
        def next(): Row = {
          // start a run at the buffered row (or the stream head)
          var r = pending.getOrElse(rows.next())
          pending = None
          val user = r.getLong(0)
          var n = 1L
          var ema = r.getDouble(3)
          var done = false
          while (!done && rows.hasNext) {
            r = rows.next()
            if (r.getLong(0) == user) { // same key: fold in place
              n += 1
              ema = ema * beta + r.getDouble(3) * alpha
            } else { // next key's first row: buffer for the next run
              pending = Some(r)
              done = true
            }
          }
          Row(user, n, ema)
        }
      }
    }(Encoders.row(outSchema))
  }
}
