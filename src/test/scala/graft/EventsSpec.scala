package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class EventsSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  test("every event query returns rows at sf0.001") {
    // q141 excepted: a robust detector on the flat tiny corpus
    // correctly flags NOTHING — its planted-spike spec below proves
    // the detection path instead
    operators.Events.qs.filterNot(_.name == "q141_robust_anomaly").foreach { q =>
      assert(q.fn(spark, sf).count() > 0, s"${q.name} returned no rows")
    }
  }

  test("q141 robust anomaly: empty on flat series, flags a planted spike, masks nothing") {
    import spark.implicits._
    def ts(h: Int) = new java.sql.Timestamp(1700000000000L + h * 3600000L)
    // flat series with jitter 1: MAD floor keeps it quiet
    val flat = (0 until 48).map(h => ("view", ts(h), 100L + (h % 2)))
    assert(operators.Events.robustAnomalyCore(
      flat.toDF("event_type", "hour_ts", "cnt")).count() == 0)
    // one planted 10x spike: flagged, and the median/MAD stay at the
    // body's values (the spike cannot mask itself like it does in a
    // mean/stddev z-score)
    val spiked = flat.updated(20, ("view", ts(20), 1000L))
    val hits = operators.Events.robustAnomalyCore(
      spiked.toDF("event_type", "hour_ts", "cnt")).collect()
    assert(hits.length == 1 && hits(0).getTimestamp(1) == ts(20))
    assert(hits(0).getLong(3) == 100L || hits(0).getLong(3) == 101L, "median moved to the spike")
    assert(hits(0).getLong(4) <= 1L, "MAD inflated by the spike")
    // the same spike through q26's z-score threshold on these 48
    // points: sample stddev ~ 130, z ~ 6.9 — also flagged there, but
    // the robust stats here are provably from the body, not the spike
  }

  test("q21 risk_score is capped at 1.0 and segments cover all events") {
    val df = operators.Events.q21(spark, sf)
    assert(df.filter(col("risk_score") > 1.0 || col("risk_score") < 0.0).count() == 0)
    assert(df.filter(col("user_segment").isNull).count() == 0)
  }

  // q22 is return-aware (returns subtract), but the natural events
  // table carries no returns, so its LTV never dips there; the
  // return-driven decrease is asserted on synthetic events below.
  test("q22 LTV is non-decreasing on the returns-free natural data") {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val bad = operators.Events.q22(spark, sf)
      .withColumn("prev", lag("ltv", 1).over(w))
      .filter(col("prev").isNotNull && col("ltv") < col("prev"))
    assert(bad.count() == 0)
  }

  /** Batch twin of StreamingSpec's synthetic-returns trajectory test:
    * the q22 window formula over events WITH returns must show LTV
    * decreasing after each return. */
  test("q22 window formula decreases LTV after returns (synthetic batch)") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1000000L, 7L, "purchase", 10.0, """{}"""),
      (2L, 2000000L, 7L, "return", 4.0, """{}"""),
      (3L, 3000000L, 7L, "purchase", -3.0, """{}"""),
      (4L, 4000000L, 7L, "purchase", 2.5, """{"is_return": "true"}"""),
      (5L, 5000000L, 8L, "purchase", 1.0, """{}"""))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_micros(us)"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ltv = ev.filter(operators.Events.isMonetary)
      .withColumn("cents", operators.Events.ltvCents)
      .select(col("event_id"), (sum("cents").over(w) / 100.0).as("ltv"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // user 7: +10.00, -4.00, -3.00, -2.50 => 10.0, 6.0, 3.0, 0.5
    assert(ltv == Map(1L -> 10.0, 2L -> 6.0, 3L -> 3.0, 4L -> 0.5, 5L -> 1.0),
      s"unexpected batch LTV trajectory: $ltv")
  }

  test("q23 sessions start at seq 1 and durations are non-negative") {
    val df = operators.Events.q23(spark, sf)
    assert(df.groupBy("user_id").agg(min("session_seq").as("m"))
      .filter(col("m") =!= 1).count() == 0)
    assert(df.filter(col("duration_us") < 0).count() == 0)
  }

  test("q24 funnel stages are monotonically shrinking") {
    val m = operators.Events.q24(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("1_view") >= m("2_click") && m("2_click") >= m("3_purchase"))
  }

  test("q24 on an all-anonymous intake counts the NULL-user view group and zero later stages") {
    import spark.implicits._
    // every user_id NULL: the identified-user aggregate runs over an
    // empty grouped set. DuckDB's funnel keeps one NULL group in `v`
    // (GROUP BY NULL) and none in `c`/`p` (the joins on user_id never
    // match NULL), so its answer is (1, 0, 0).
    TestSpark.withTmpDir("q24-anon") { dir =>
      Seq((1L, 1000000L, "view"), (2L, 2000000L, "click"), (3L, 3000000L, "purchase"))
        .toDF("event_id", "us", "event_type")
        .select(col("event_id"), expr("timestamp_micros(us)").as("ts"),
          lit(null).cast("long").as("user_id"), col("event_type"),
          lit(1.0).as("value"), lit("{}").as("props"))
        .write.parquet(s"$dir/events.parquet")
      val m = operators.Events.q24(spark, dir).collect()
        .map(r => r.getString(0) -> r.get(1)).toMap
      assert(m == Map("1_view" -> 1L, "2_click" -> 0L, "3_purchase" -> 0L), s"q24 read $m")
    }
  }

  test("q25 cohort week 0 contains every user exactly once") {
    val ev = Tables(spark, sf, "events")
    val users = ev.select("user_id").distinct().count()
    val w0 = operators.Events.q25(spark, sf)
      .filter(col("week_offset") === 0)
      .agg(sum("n_users")).collect()(0).getLong(0)
    assert(w0 == users)
  }

  test("q26 only emits hours above the 2-sigma line") {
    assert(operators.Events.q26(spark, sf).filter(col("z_score") <= 2.0).count() == 0)
  }

  /** The natural data has every event after every order, so the
    * general as-of cases — event before any order (null context),
    * context switching mid-stream, same-date order ties — are driven
    * synthetically through the same core. */
  test("q28 as-of join picks the latest order at-or-before each event, ties to max key") {
    import spark.implicits._
    val orders = Seq(
      (100L, 7L, "2024-01-10", 50.0),
      (101L, 7L, "2024-01-20", 70.0),
      (102L, 7L, "2024-01-20", 90.0), // same date as 101 -> tie to key 102
      (103L, 8L, "2024-03-01", 10.0))
      .toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
      .withColumn("o_orderdate", col("d").cast("date")).drop("d")
    val events = Seq(
      (1L, 7L, "2024-01-05 12:00:00", "view", 1.0),   // before any order -> null
      (2L, 7L, "2024-01-10 00:00:00", "view", 1.0),   // exactly at order ts -> order 100
      (3L, 7L, "2024-01-15 09:00:00", "click", 1.0),  // -> order 100
      (4L, 7L, "2024-01-25 09:00:00", "purchase", 5.0), // -> tie date, key 102
      (5L, 8L, "2024-02-01 00:00:00", "view", 1.0))   // before 8's order -> null
      .toDF("event_id", "user_id", "tss", "event_type", "value")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val out = operators.Events.asofOrders(events, orders)
      .collect().map(r => r.getLong(0) -> Option(r.get(4))).toMap
    assert(out(1L).isEmpty && out(5L).isEmpty)
    assert(out(2L).contains(100L) && out(3L).contains(100L))
    assert(out(4L).contains(102L))
    val days = operators.Events.asofOrders(events, orders)
      .filter(col("event_id") === 3L).collect()(0).getInt(6)
    assert(days == 5)
  }

  /** The natural events table has no returns, so drive the
    * return/anonymous/wholesale rules with synthetic events — the
    * same Columns the batch q21/q22 and the streaming pipeline use. */
  test("segment taxonomy covers returns, anonymous, and wholesale") {
    import spark.implicits._
    val ev = Seq(
      // (event_id, user_id, event_type, value, props)
      (1L, Some(10L), "purchase", 50.0, """{"k": 5}"""),
      (2L, Some(10L), "purchase", 150.0, """{"k": 5}"""),          // vip
      (3L, Some(10L), "purchase", 40.0, """{"k": 95}"""),          // wholesale (k > 90)
      (4L, Some(10L), "return", 30.0, """{"k": 1}"""),             // return_customer
      (5L, Some(10L), "purchase", -20.0, """{"k": 1}"""),          // negative value => return
      (6L, Some(10L), "purchase", 25.0, """{"k": 2, "is_return": "true"}"""), // flag => return
      (7L, None, "view", 1.0, """{"k": 1}"""),                     // anonymous
      (8L, Some(11L), "signup", 0.1, """{"k": 1}"""))
      .toDF("event_id", "user_id", "event_type", "value", "props")
    val seg = ev.withColumn("s", operators.Events.userSegment)
      .select("event_id", "s").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(seg(1L) == "regular_buyer" && seg(2L) == "vip" && seg(3L) == "wholesale")
    assert(seg(4L) == "return_customer" && seg(5L) == "return_customer" && seg(6L) == "return_customer")
    assert(seg(7L) == "anonymous" && seg(8L) == "new")
  }

  test("LTV deltas subtract abs(amount) on returns and skip non-monetary events") {
    import spark.implicits._
    val ev = Seq(
      (1L, "purchase", 10.0, """{}"""),
      (2L, "return", 4.0, """{}"""),
      (3L, "purchase", -3.0, """{}"""),
      (4L, "view", 99.0, """{}"""),
      (5L, "purchase", 2.5, """{"is_return": "true"}"""))
      .toDF("event_id", "event_type", "value", "props")
    val out = ev.filter(operators.Events.isMonetary)
      .withColumn("cents", operators.Events.ltvCents)
      .select("event_id", "cents").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1000L, 2L -> -400L, 3L -> -300L, 5L -> -250L),
      s"unexpected deltas: $out")
  }

  test("q76 heavy hitters satisfy the Misra-Gries error bound vs exact counts") {
    val k = 16
    val exact = Tables(spark, sf, "events")
      .withColumn("product_key", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type", "product_key").count()
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val nPerGroup = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val got = operators.Events.q76(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got.nonEmpty)
    // the corpus's ~100 uniform keys per type force real decrements
    // (summary capacity k << distinct keys)
    assert(exact.groupBy(_._1._1).forall(_._2.size > k))
    got.foreach { case (key @ (et, _), est) =>
      val t = exact(key)
      val err = nPerGroup(et) / (k + 1)
      assert(est <= t, s"$key overestimated: $est > $t")
      assert(est >= t - err, s"$key undercounted past the bound: $est < $t - $err")
    }
  }

  test("Misra-Gries never loses a guaranteed heavy hitter on a skewed stream") {
    import spark.implicits._
    import graft.functions.HeavyHitters
    val k = 16
    // 4000 background rows over 200 keys + two hot keys at 400 —
    // threshold 4800/17 = 282 < 400, so both MUST survive the
    // capacity-16 summary however Spark partitions the reduce/merge
    val rows = (0 until 4000).map(i => ("g", (i % 200).toLong)) ++
      Seq.fill(400)(("g", 1000L)) ++ Seq.fill(400)(("g", 1001L))
    val out = rows.toDF("grp", "key").repartition(8)
      .groupBy("grp").agg(HeavyHitters.heavyHitters(k)(col("key")).as("hh"))
      .select(explode(col("hh")).as("h")).select("h.id", "h.est")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = rows.size.toLong
    assert(out.contains(1000L) && out.contains(1001L),
      s"guaranteed heavy hitters lost: $out")
    assert(out.size <= k)
    Seq(1000L, 1001L).foreach { id =>
      assert(out(id) <= 400L && out(id) >= 400L - n / (k + 1),
        s"estimate for $id out of bounds: ${out(id)}")
    }
    // background keys (true count 20) can never beat the bound floor
    out.foreach { case (id, est) =>
      if (id < 1000L) assert(est <= 20L, s"background key $id overestimated: $est")
    }
  }

  test("q115 transition rows normalize to 1 and total transitions match a per-user recompute") {
    val df = operators.Events.q115(spark, sf).cache()
    assert(df.count() > 0)
    // each prev_type row of the matrix is a probability distribution
    val rowSums = df.groupBy("prev_type").agg(sum("p").as("sp")).collect()
    rowSums.foreach(r =>
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-4, s"${r.getString(0)} sums to ${r.getDouble(1)}"))
    // Σ transitions = Σ_users (n_events − 1) over identified users
    val want = Tables(spark, sf, "events").filter(col("user_id").isNotNull)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .agg(sum(col("n") - 1)).head.getLong(0)
    assert(df.agg(sum("n_transitions")).head.getLong(0) == want)
    df.unpersist()
  }

  test("q118 attribution conserves purchase revenue under all three models") {
    val df = operators.Events.q118(spark, sf).cache()
    val types = df.select("touch_type").collect().map(_.getString(0)).toSet
    assert(types.subsetOf(Set("view", "click", "direct")), s"unexpected buckets: $types")
    val exact = Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .agg(sum(operators.ops.cents(col("value")))).head.getLong(0) / 100.0
    def total(c: String): Double = df.agg(sum(col(c))).head.getDouble(0)
    // first/last assign each purchase exactly once; per-bucket r2
    // display rounding bounds the drift at 0.005 per bucket
    assert(math.abs(total("first_touch_revenue") - exact) < 0.05,
      s"first-touch ${total("first_touch_revenue")} vs exact $exact")
    assert(math.abs(total("last_touch_revenue") - exact) < 0.05,
      s"last-touch ${total("last_touch_revenue")} vs exact $exact")
    // linear splits lose < n_touches·1e-8 dollars per purchase to the
    // integer division — one-sided, never over
    val linear = total("linear_revenue")
    assert(linear <= exact + 0.05 && linear > exact - 1.0,
      s"linear $linear vs exact $exact")
    df.unpersist()
  }

  test("q119 OLS fit equals a driver-side exact regression per series") {
    val got = operators.Events.q119(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val daily = Tables(spark, sf, "events")
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit(operators.Events.TrendEpoch))).cast("long").as("x"))
      .agg(coalesce(sum(operators.ops.cents(col("value"))), lit(0L)).as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    def r2(x: Double) = math.floor(x * 100.0 + 0.5) / 100.0
    daily.groupBy(_._1).foreach { case (tpe, rows) =>
      val n = rows.length.toLong
      val sx = rows.map(_._2).sum; val sy = rows.map(_._3).sum
      val sxy = rows.map(r => r._2 * r._3).sum; val sxx = rows.map(r => r._2 * r._2).sum
      val maxx = rows.map(_._2).max
      val den = n * sxx - sx * sx
      assert(den != 0, s"$tpe: degenerate x range in testdata")
      val slope = (n * sxy - sx * sy).toDouble / den.toDouble
      val intercept = (sy.toDouble - slope * sx.toDouble) / n.toDouble
      val forecast = intercept + slope * (maxx + 1L).toDouble
      val row = got(tpe)
      assert(row.getLong(1) == n, s"$tpe n_days")
      // identical integer moments through the identical double tree →
      // bit-exact equality, not tolerance
      assert(row.getDouble(2) == r4(slope / 100.0), s"$tpe slope")
      assert(row.getDouble(3) == r2(intercept / 100.0), s"$tpe level")
      assert(row.getDouble(4) == r2(forecast / 100.0), s"$tpe forecast")
    }
  }

  test("q120 top paths equal a local sessionize-and-count reference") {
    val got = operators.Events.q120(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // local reference: sessionize by the same 30-min gap over the
    // integer (ts, event_id) order, join the first 8 types
    val ev = Tables(spark, sf, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val paths = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      val sessions = scala.collection.mutable.ArrayBuffer[List[String]]()
      var cur = List.empty[String]
      var prevUs = Long.MinValue
      sorted.foreach { r =>
        if (cur.isEmpty || r._3 - prevUs > 1800L * 1000000L) {
          if (cur.nonEmpty) sessions += cur.reverse
          cur = List(r._4)
        } else cur = r._4 :: cur
        prevUs = r._3
      }
      if (cur.nonEmpty) sessions += cur.reverse
      sessions.map(_.take(8).mkString(">"))
    }
    val want = paths.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(20)
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
  }

  test("q124 windowed funnel equals a local recompute and is bounded by q24's unbounded funnel") {
    val row = operators.Events.q124(spark, sf).collect()(0)
    // local reference with explicit first-anchor chaining
    val ev = Tables(spark, sf, "events").filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    var (nv, nc, np) = (0L, 0L, 0L)
    val users = ev.groupBy(_._1)
    users.foreach { case (_, rows) =>
      val fv = rows.filter(_._2 == "view").map(_._3).minOption
      val fc = fv.flatMap(v => rows.filter(r => r._2 == "click" && r._3 > v &&
        r._3 <= v + operators.Events.FunnelClickUs).map(_._3).minOption)
      val fp = fc.flatMap(c => rows.filter(r => r._2 == "purchase" && r._3 > c &&
        r._3 <= c + operators.Events.FunnelBuyUs).map(_._3).minOption)
      if (fv.isDefined) nv += 1
      if (fc.isDefined) nc += 1
      if (fp.isDefined) np += 1
    }
    assert(row.getLong(0) == users.size.toLong)
    assert((row.getLong(1), row.getLong(2), row.getLong(3)) == ((nv, nc, np)))
    assert(row.getLong(4) == nc * 1000000L / nv)
    // the time windows can only shrink each stage vs the unbounded q24
    val q24 = operators.Events.q24(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(row.getLong(2) <= q24("2_click") && row.getLong(3) <= q24("3_purchase"))
  }

  test("q125 purchase cadence equals a local gap recompute") {
    val row = operators.Events.q125(spark, sf).collect()(0)
    val ev = Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gaps = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val us = rows.sortBy(r => (r._3, r._2)).map(_._3).toSeq
      us.sliding(2).collect { case Seq(a, b) => (b - a) / operators.Events.DayUs }
    }
    assert(row.getLong(0) == gaps.length.toLong)
    val sorted = gaps.sorted
    def disc(p: Long): Long = sorted(((gaps.length.toLong * p + 99L) / 100L).toInt - 1)
    assert(row.getLong(2) == disc(50) && row.getLong(3) == disc(90))
    assert(row.getLong(4) == gaps.count(_ <= 7L).toLong * 1000000L / gaps.length)
  }

  test("q127 seasonality cells partition each type's events; shares floor-sum to one million") {
    val df = operators.Events.q127(spark, sf).cache()
    assert(df.filter(col("dow") < 1 || col("dow") > 7 || col("hr") < 0 || col("hr") > 23).count() == 0)
    val want = Tables(spark, sf, "events").groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    df.groupBy("event_type")
      .agg(sum("n_events").as("n"), sum("share_ppm").as("sp"), count(lit(1)).as("cells"))
      .collect().foreach { r =>
        assert(r.getLong(1) == want(r.getString(0)), s"${r.getString(0)} cell counts drop events")
        // each cell's floor loses < 1 ppm; cells <= 7*24
        assert(r.getLong(2) <= 1000000L && r.getLong(2) > 1000000L - r.getLong(3),
          s"${r.getString(0)} shares sum to ${r.getLong(2)}")
      }
    df.unpersist()
  }

  test("q122 growth accounting: identities hold and new users sum to the user base") {
    val df = operators.Events.q122(spark, sf).cache()
    // every active bucket decomposes exactly
    assert(df.filter(col("n_active") =!=
      col("n_new") + col("n_retained") + col("n_resurrected")).count() == 0)
    // churn is defined for every week after an observed predecessor
    // and never negative (retained <= previous actives)
    val rows = df.orderBy("week").collect()
    assert(rows.head.isNullAt(5), "first week cannot have churn")
    assert(rows.tail.forall(r => r.isNullAt(5) || r.getLong(5) >= 0))
    // every identified user is new exactly once
    val users = Tables(spark, sf, "events").filter(col("user_id").isNotNull)
      .select("user_id").distinct().count()
    assert(df.agg(sum("n_new")).head.getLong(0) == users)
    df.unpersist()
  }

  test("q131 rolling actives equal a local trailing-7-day recompute") {
    val got = operators.Events.q131(spark, sf).collect()
      .map(r => r.getDate(0).toLocalDate -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val ud = Tables(spark, sf, "events").filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val want = ud.map(_._2).distinct.map { d =>
      val dau = ud.count(_._2 == d).toLong
      val wau = ud.filter { case (_, ad) =>
        !ad.isAfter(d) && ad.isAfter(d.minusDays(7))
      }.map(_._1).distinct.length.toLong
      d -> ((dau, wau, math.floor(dau.toDouble / wau.toDouble * 1e6 + 0.5) / 1e6))
    }.toMap
    assert(got == want, s"first diff: ${got.find(kv => want.get(kv._1) != Some(kv._2))}")
    // a user active on day d is in the window ending d: dau <= wau
    assert(got.values.forall(v => v._1 <= v._2))
  }

  test("q137 cohort LTV triangle equals an exact local recompute") {
    val got = operators.Events.q137(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val ev = Tables(spark, sf, "events").filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("week"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val cohort = ev.groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).min }
    val sizes = cohort.values.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val cells = ev.filter(_._3 == "purchase").map { case (u, w, _, v) =>
      val cw = cohort(u)
      val age = java.time.temporal.ChronoUnit.DAYS.between(cw, w) / 7
      ((cw, age), v.map(x => math.floor(x * 100.0 + 0.5).toLong).getOrElse(0L))
    }.groupBy(_._1)
    val want = cells.map { case ((cw, age), rows) =>
      val wc = rows.map(_._2).sum
      val cum = cells.collect { case ((c2, a2), rs) if c2 == cw && a2 <= age =>
        rs.map(_._2).sum }.sum
      (cw, age) -> ((rows.size.toLong, wc / 100.0,
        math.floor(cum.toDouble / (100.0 * sizes(cw)) * 1e4 + 0.5) / 1e4))
    }
    assert(got == want, s"first diff: ${got.find(kv => want.get(kv._1) != Some(kv._2))}")
  }

  test("q148 session funnel equals an exact local recompute over the shared sessions") {
    val r = operators.Events.q148(spark, sf).collect()(0)
    val ev = operators.Events.sessionized(spark, sf)
      .select("user_id", "session_seq", "us", "event_type").collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2), x.getString(3)))
    val perSess = ev.groupBy(_._1).map { case (_, rows) =>
      val v = rows.collect { case (_, us, "view") => us }.minOption
      val c = v.flatMap(vu => rows.collect {
        case (_, us, "click") if us >= vu => us }.minOption)
      val p = c.flatMap(cu => rows.collect {
        case (_, us, "purchase") if us >= cu => us }.minOption)
      (rows.length.toLong, v.isDefined, c.isDefined, p.isDefined)
    }.toSeq
    val n = perSess.length.toLong
    val (nv, nc, np) = (perSess.count(_._2).toLong, perSess.count(_._3).toLong,
      perSess.count(_._4).toLong)
    assert(r.getLong(0) == n && r.getLong(1) == nv && r.getLong(2) == nc && r.getLong(3) == np)
    assert(np <= nc && nc <= nv && nv <= n)
    assert(r.getLong(4) == nv * 1000000L / n)
    assert(r.getLong(7) == (nc - np) * 1000000L / nc)
    val depths = perSess.map(_._1).sorted
    def disc(p: Long): Long = depths(((n * p + 99L) / 100L).toInt - 1)
    assert(r.getLong(8) == disc(50) && r.getLong(9) == disc(90))
  }

  test("q140 user features equal an exact per-user local recompute") {
    val got = operators.Events.q140(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getLong(5), r.getLong(6), r.getDouble(7),
        if (r.isNullAt(8)) None else Some(r.getDouble(8))))).toMap
    // value is nullable (q137's guard pattern): the operator coalesces
    // a NULL purchase value to 0 cents, so the recompute must too —
    // a bare getDouble would NPE on any corpus with NULL values.
    val ev = Tables(spark, sf, "events").filter(col("user_id").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val nowUs = ev.map(_._2).max
    val dayUs = 86400000000L
    def r4l(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    val want = ev.groupBy(_._1).map { case (u, rows) =>
      val buys = rows.filter(_._3 == "purchase")
      val mc = buys.map(_._4.map(v => math.floor(v * 100.0 + 0.5).toLong).getOrElse(0L)).sum
      val (first, last) = (rows.map(_._2).min, rows.map(_._2).max)
      val tenure = (nowUs - first) / dayUs
      u -> ((rows.length.toLong, buys.length.toLong,
        rows.count(_._3 == "error").toLong, mc / 100.0,
        (nowUs - last) / dayUs, tenure,
        r4l(rows.length.toDouble / math.max(tenure, 1L).toDouble),
        if (buys.isEmpty) None else Some(r4l(mc / (100.0 * buys.length)))))
    }
    assert(got == want, s"first diff: ${got.find(kv => want.get(kv._1) != Some(kv._2))}")
  }
}
