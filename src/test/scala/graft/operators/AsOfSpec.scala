package graft.operators

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class AsOfSpec extends SparkTestBase {

  test("asofJoin picks the latest right row at-or-before each left time") {
    import spark.implicits._
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val left = Seq((1L, ts(5)), (1L, ts(20)), (2L, ts(10)), (3L, ts(10)))
      .toDF("k", "t")
    val right = Seq((1L, ts(0), "a"), (1L, ts(5), "b"), (1L, ts(15), "c"), (2L, ts(11), "late"))
      .toDF("k", "t", "v")
    val out = AsOf.asofJoin(left, right, "k", "t", Seq("v"))
      .orderBy("k", "t").collect()
    // k=1 @10:05 -> "b" (exact at-or-before), @10:20 -> "c"
    assert(out(0).getString(2) == "b")
    assert(out(1).getString(2) == "c")
    // k=2 @10:10: only right row is later -> null
    assert(out(2).isNullAt(2))
    // k=3: no right rows at all -> null
    assert(out(3).isNullAt(2))
  }

  test("asofJoin forward picks the earliest right at-or-after, carrying its timestamp") {
    import spark.implicits._
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val left = Seq((1L, ts(5)), (1L, ts(16)), (2L, ts(10)), (3L, ts(10)))
      .toDF("k", "t")
    val right = Seq((1L, ts(5), "same"), (1L, ts(15), "c"), (2L, ts(9), "early"))
      .toDF("k", "t", "v")
    val out = AsOf.asofJoin(left, right, "k", "t", Seq("v"),
      forward = true, carryRightTimeAs = Some("rt"))
      .orderBy("k", "t").collect()
    // k=1 @10:05 -> the SAME-instant right row (at-or-after includes ties)
    assert(out(0).getString(2) == "same" && out(0).getTimestamp(3) == ts(5))
    // k=1 @10:16 -> nothing at-or-after
    assert(out(1).isNullAt(2) && out(1).isNullAt(3))
    // k=2 @10:10: the only right row is EARLIER -> null
    assert(out(2).isNullAt(2))
    // k=3: no right rows at all -> null
    assert(out(3).isNullAt(2))
  }

  test("asofJoin carries the matched right ROW atomically: a NULL value never mixes rows (r19 review)") {
    import spark.implicits._
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    // right rows: (10:00, v=5.0, tag=old) then (10:10, v=NULL, tag=new).
    // A left row at 10:20 matches the 10:10 ROW: v must be NULL (that
    // row's field), NOT 5.0 skipped back from 10:00 — and the carried
    // right time must be 10:10 alongside it.
    val left = Seq((1L, ts(20))).toDF("k", "t")
    val right = Seq((1L, ts(0), Some(5.0), "old"), (1L, ts(10), None, "new"))
      .toDF("k", "t", "v", "tag")
    val out = AsOf.asofJoin(left, right, "k", "t", Seq("v", "tag"),
      carryRightTimeAs = Some("rt")).collect()
    assert(out.length == 1)
    assert(out(0).isNullAt(2), s"v must be the matched row's NULL, got ${out(0)}")
    assert(out(0).getString(3) == "new")
    assert(out(0).getTimestamp(4) == ts(10))
  }

  test("asofJoin NULL keys and NULL timestamps never match (ASOF equi-join semantics, r19 review)") {
    import spark.implicits._
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val left = Seq((Option(1L), Option(ts(20))), (Option.empty[Long], Option(ts(20))),
      (Option(1L), Option.empty[Timestamp]))
      .toDF("k", "t")
    val right = Seq((Option(1L), Option(ts(0)), "real"),
      (Option.empty[Long], Option(ts(5)), "nullkey"),
      (Option(1L), Option.empty[Timestamp], "nullts"))
      .toDF("k", "t", "v")
    val back = AsOf.asofJoin(left, right, "k", "t", Seq("v")).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)).isDefined) -> Option(r.getString(2))).toMap
    assert(back((Some(1L), true)) == Some("real"), "real key/ts matches the real row")
    assert(back((None, true)).isEmpty, "NULL-key left row must not match the NULL-key right row")
    assert(back((Some(1L), false)).isEmpty, "NULL-ts left row matches nothing")
    val fwd = AsOf.asofJoin(left, right, "k", "t", Seq("v"), forward = true).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)).isDefined) -> Option(r.getString(2))).toMap
    assert(fwd((None, true)).isEmpty && fwd((Some(1L), false)).isEmpty,
      s"forward NULLs must not match either: $fwd")
  }

  test("rangeJoin output carries exactly left columns + rightCols (no __rt leak, r19 review)") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val left = Seq((1L, t0)).toDF("k", "t")
    val right = Seq((1L, t0, "x")).toDF("k", "t", "v")
    val out = AsOf.rangeJoin(left, right, "k", "t", 0L, 3600L, Seq("v"))
    assert(out.columns.toSeq == Seq("k", "t", "v"), s"got ${out.columns.toSeq}")
  }

  test("rangeJoin: integer bucket ids keep far-future (year-9999) pairs joined") {
    import spark.implicits._
    // past ~2^51 us the old double bucket chain could floor a pair into
    // non-overlapping buckets; exercise the [t-3600, t] lookback at the
    // extreme timestamp range plus a boundary-exact pair
    val far = Timestamp.valueOf("9999-12-31 23:00:00")
    val farM30 = Timestamp.valueOf("9999-12-31 22:30:00")
    val farM60 = Timestamp.valueOf("9999-12-31 22:00:00")
    val farM61 = Timestamp.valueOf("9999-12-31 21:59:00")
    val left = Seq((1L, far)).toDF("k", "t")
    val right = Seq((1L, farM30, "in30"), (1L, farM60, "edge60"), (1L, farM61, "out61"))
      .toDF("k", "t", "v")
    // left.t in [right.t + 0, right.t + 3600] == right within the hour
    // BEFORE the left row (eventRangeHour's lookback shape)
    val out = AsOf.rangeJoin(left, right, "k", "t", 0L, 3600L, Seq("v"))
      .select(col("v")).collect().map(_.getString(0)).sorted.toSeq
    assert(out == Seq("edge60", "in30"), s"got $out")
  }

  test("ev4 returns one row per view event with monotone state per user") {
    val rows = AsOf.eventAsofPurchase(spark, sfDir).collect()
    val nViews = graft.Engine.table(spark, sfDir, "events")
      .filter(col("event_type") === "view").count()
    assert(rows.length == nViews)
  }

  test("ev7 funnel stages are prefix-consistent and strictly ordered in time") {
    val rows = Relational.eventFunnel(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val stage = r.getInt(1)
      val v = if (r.isNullAt(2)) None else Some(r.getLong(2))
      val c = if (r.isNullAt(3)) None else Some(r.getLong(3))
      val p = if (r.isNullAt(4)) None else Some(r.getLong(4))
      // stage counts exactly the non-null prefix: no click without a view, etc.
      assert(stage == Seq(v, c, p).count(_.isDefined))
      assert(c.isEmpty || v.isDefined)
      assert(p.isEmpty || c.isDefined)
      // the sequence constraint is strict in event time
      for (tv <- v; tc <- c) assert(tc > tv)
      for (tc <- c; tp <- p) assert(tp > tc)
    }
  }

}
