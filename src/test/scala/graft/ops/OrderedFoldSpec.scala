package graft.ops

import java.sql.Timestamp

import graft.SparkSpec

/** OrderedFold.emaByUser (the secondary-sort fold `q_ema_decay` runs
  * on) must be bit-identical to a plain sequential fold: same
  * per-element IEEE chain, different physical shape (streaming
  * one-pass fold, O(1) task memory).
  */
class OrderedFoldSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("secondary-sort fold == plain-Scala fold bit-for-bit on sf data") {
    val events = graft.Tables(spark, sf, "events")
    val got = OrderedFold.emaByUser(events)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // the same events folded on the driver under (ts, event_id)
    // order; (epoch second, nanos) orders timestamps at full precision
    val ref = events.select("user_id", "ts", "event_id", "value").collect()
      .groupBy(_.getLong(0)).map { case (u, rs) =>
        val xs = rs.sortBy { r =>
          val t = r.getTimestamp(1)
          (math.floorDiv(t.getTime, 1000L), t.getNanos, r.getLong(2))
        }.map(_.getDouble(3))
        u -> (rs.length.toLong,
          xs.tail.foldLeft(xs.head)((a, x) => a * 0.875 + x * 0.125))
      }
    assert(got.keySet === ref.keySet)
    ref.foreach { case (u, (n, ema)) =>
      assert(got(u)._1 === n, s"user $u count")
      assert(java.lang.Double.doubleToLongBits(got(u)._2) ===
        java.lang.Double.doubleToLongBits(ema), s"user $u ema")
    }
  }

  test("runs spanning partition-internal order survive a hot key") {
    // one pathological key dwarfing the others + keys adjacent in
    // sort order — run boundaries must cut exactly at key changes
    val rows =
      (1 to 5000).map(i => (7L, Timestamp.valueOf(
        f"2024-01-01 00:${i / 600}%02d:${(i / 10) % 60}%02d.${i % 10}00000"),
        i.toLong, (i % 13).toDouble)) ++
        Seq((8L, Timestamp.valueOf("2024-01-01 00:00:00"), 9001L, 4.0),
          (6L, Timestamp.valueOf("2024-01-01 00:00:00"), 9002L, 2.0))
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val got = OrderedFold.emaByUser(df)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // imperative reference over the same total order
    val ref = rows.groupBy(_._1).map { case (u, rs) =>
      val xs = rs.sortBy(t => (t._2.getTime, t._3)).map(_._4)
      u -> (rs.size.toLong,
        xs.tail.foldLeft(xs.head)((a, x) => a * 0.875 + x * 0.125))
    }
    assert(got.keySet === ref.keySet)
    ref.foreach { case (u, (n, e)) =>
      assert(got(u)._1 === n)
      assert(java.lang.Double.doubleToLongBits(got(u)._2) ===
        java.lang.Double.doubleToLongBits(e), s"user $u")
    }
  }
}
