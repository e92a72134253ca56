package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Batch/stream parity: the streaming pipeline must produce the same
  * results as the batch operators it mirrors. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.{spark, sf, withTmpDir}

  test("streaming enrichment matches batch q21 exactly") {
    val q = streaming.EnrichStream.enriched(spark, sf)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("enrich_out")
    val batch = operators.Events.q21(spark, sf)
    assert(streamed.count() == batch.count())
    // full-row equality both directions
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("watermarked hourly metrics match the batch aggregation") {
    val q = streaming.EnrichStream.hourlyMetrics(
        streaming.EnrichStream.source(spark, sf))
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("hourly_out")
      .select(col("window.start").as("hour_ts"), col("event_type"), col("n_events"))
    val batch = Tables(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming popular products match batch sliding windows, ranked per window") {
    val q = streaming.EnrichStream.popularProducts(
        streaming.EnrichStream.source(spark, sf))
      .writeStream.format("memory").queryName("pop_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("pop_out")
    // window/product/count parity is exact; revenue is a double sum
    // whose accumulation order differs stream-vs-batch, so compare
    // by tolerance instead of hash
    val ev = Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .withColumn("product_key", get_json_object(col("props"), "$.k").cast("long"))
    val batch = ev
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("product_key"))
      .agg(count(lit(1)).as("n_purchases"), sum("value").as("revenue"))
    val sKeys = streamed.select(col("window.start").as("ws"), col("product_key"), col("n_purchases"))
    val bKeys = batch.select(col("window.start").as("ws"), col("product_key"), col("n_purchases"))
    assert(sKeys.exceptAll(bKeys).count() == 0)
    assert(bKeys.exceptAll(sKeys).count() == 0)
    val joined = streamed.select(col("window.start").as("ws"), col("product_key"),
        col("revenue").as("r_s"))
      .join(batch.select(col("window.start").as("ws"), col("product_key"),
        col("revenue").as("r_b")), Seq("ws", "product_key"))
    assert(joined.filter(abs(col("r_s") - col("r_b")) > 1e-6).count() == 0)
    // per-window top-5 from the bounded aggregate == a reference
    // row_number ranking over the same (streamed) aggregate
    import org.apache.spark.sql.expressions.Window
    val ranked = streaming.EnrichStream.topKPerWindow(streamed, 5)
    val expect = streamed.withColumn("rank", row_number().over(
        Window.partitionBy("window").orderBy(col("n_purchases").desc,
          col("revenue").desc, col("product_key"))))
      .filter(col("rank") <= 5)
      .select(col("window.start").as("window_start"), col("product_key"), col("rank"))
    assert(ranked.count() > 0)
    assert(ranked.exceptAll(expect).count() == 0)
    assert(expect.exceptAll(ranked).count() == 0)
  }

  test("live seasonality profile equals batch q127 cell-for-cell") {
    val q = streaming.EnrichStream.seasonStream(
        streaming.EnrichStream.source(spark, sf))
      .writeStream.format("memory").queryName("season_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = streaming.EnrichStream.seasonShares(spark.table("season_out"))
    val batch = operators.Events.q127(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("live rolling actives equal the batch HLL sketch per window, near exact distinct") {
    val q = streaming.EnrichStream.rollingActiveStream(
        streaming.EnrichStream.source(spark, sf))
      .writeStream.format("memory").queryName("wau_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("wau_out")
      .select(col("window.start").as("ws"), col("wau_est"))
    val ev = Tables(spark, sf, "events").filter(col("user_id").isNotNull)
    val batch = ev
      .groupBy(window(col("ts"), "7 days", "1 day"))
      .agg(approx_count_distinct("user_id").as("wau_est"))
      .select(col("window.start").as("ws"), col("wau_est"))
    // HLL registers merge by max: stream vs batch sketch is EXACT
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // and the estimate tracks exact windowed distinct within 5%
    val exact = ev
      .select(col("user_id"), window(col("ts"), "7 days", "1 day").as("window"))
      .select(col("user_id"), col("window.start").as("ws")).distinct()
      .groupBy("ws").agg(count(lit(1)).as("exact"))
    val joined = streamed.join(exact, "ws")
    assert(joined.count() == exact.count())
    assert(joined.filter(
      abs(col("wau_est") - col("exact")) > greatest(lit(2.0), col("exact") * 0.05))
      .count() == 0)
  }

  test("rolling actives in UPDATE mode: watermark bounds state to the open-window horizon") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // The deployment mode the docstring's state bound refers to: with
    // append/update output the 1-day watermark evicts windows whose
    // end falls behind the horizon; complete mode (the parity test
    // above) retains all of them by design. Feed 40 days of events in
    // chronological micro-batches and measure state rows.
    val base = 1704067200000000L // 2024-01-01 UTC micros, clear of epoch-0
    val dayUs = 86400L * 1000000L
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val src = mem.toDF().toDF("ts", "user_id")
    val q = streaming.EnrichStream.rollingActiveStream(src)
      .writeStream.format("memory").queryName("wau_update_out")
      .outputMode("update").start()
    var maxState = 0L
    (0 until 40).grouped(10).foreach { days =>
      mem.addData(days.flatMap(d => (0 until 25).map(u =>
        (new java.sql.Timestamp((base + d * dayUs + u * 3600L * 1000000L) / 1000L),
          (d * 25 + u).toLong))))
      q.processAllAvailable()
      val st = q.lastProgress.stateOperators
      if (st.nonEmpty) maxState = math.max(maxState, st(0).numRowsTotal)
    }
    q.stop()
    // 7-day window / 1-day slide: any instant overlaps 7 windows; the
    // watermark (max event − 1 day, updated with one-batch lag) keeps
    // windows ending after it — starts spanning ≤ ~9 days, plus the
    // 10-day batch granularity before eviction runs. 40 days of
    // history would hold 46 windows if nothing evicted; assert the
    // bound the docstring claims (horizon + batch lag), not history.
    assert(maxState > 0, "state operator never reported rows")
    assert(maxState <= 7 + 1 + 10 + 2,
      s"state rows $maxState exceed the open-window horizon + batch lag")
    assert(spark.table("wau_update_out").count() > 0)
  }

  test("x10 stress replay: stateful stream state sits at its documented bound, not history") {
    assume(new java.io.File("/tmp/estress_x10/events.parquet").isDirectory,
      "x10 events stress corpus not present on this machine")
    import streaming.EnrichStream
    val chunks = 8
    withTmpDir("x10-spool") { tmp =>
      val spool = Scenario.spoolEvents(spark, "/tmp/estress_x10", chunks, tmp)
      val total = spark.read.schema(EnrichStream.rawSchema).parquet(spool).count()
      val ltvUsers = EnrichStream.typed(Tables(spark, "/tmp/estress_x10", "events"))
        .filter(e => e.event_type.contains("purchase") ||
          e.event_type.contains("return") || e.is_return)
        .map(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
        .distinct().count()
      def replay() = EnrichStream.replaySource(spark, spool, 1)

      val ltv = Scenario.drain(spark)(
        EnrichStream.ltvStateful(EnrichStream.typed(replay()))
          .writeStream.format("noop").outputMode("append").start())
      // nothing dropped as late under time-ordered replay, and state is
      // EXACTLY one row per purchase/return user — not per event
      assert(ltv.rows == total, s"ltv admitted ${ltv.rows} of $total rows")
      assert(ltv.maxStateRows == ltvUsers,
        s"ltv state ${ltv.maxStateRows} != $ltvUsers purchase/return users")

      val sess = Scenario.drain(spark)(
        EnrichStream.sessionizedStream(replay().filter(col("user_id").isNotNull))
          .writeStream.format("noop").outputMode("append").start())
      // open sessions bounded by events within the ~2-batch watermark
      // horizon (rate x horizon), never by the 1M-event history
      assert(sess.rows == total)
      assert(sess.maxStateRows <= 2L * (total / chunks + 1L),
        s"session state ${sess.maxStateRows} exceeds the rate x horizon bound")
      assert(sess.maxStateRows < total / 4,
        "session state tracks history, not the open horizon")

      val roll = Scenario.drain(spark)(
        EnrichStream.rollingActiveStream(replay())
          .writeStream.format("noop").outputMode("update").start())
      val bound = 8L + 2L * Scenario.chunkSpanDays(spark, spool, chunks)
      assert(roll.maxStateRows > 0 && roll.maxStateRows <= bound,
        s"rolling-active state ${roll.maxStateRows} outside (0, $bound]")

      // the r9 emission-mode additions: per-closed-session append with
      // collected-struct state (same open-session row bound as
      // sessions), and complete-mode republication with the structural
      // #types x 168 cell cap — flat no matter the stream length
      val paths = Scenario.drain(spark)(
        EnrichStream.sessionPathStream(replay().filter(col("user_id").isNotNull))
          .writeStream.format("noop").outputMode("append").start())
      assert(paths.rows == total)
      assert(paths.maxStateRows <= 2L * (total / chunks + 1L),
        s"session-path state ${paths.maxStateRows} exceeds the rate x horizon bound")
      val season = Scenario.drain(spark)(
        EnrichStream.seasonStream(replay())
          .writeStream.format("noop").outputMode("complete").start())
      assert(season.rows == total)
      assert(season.maxStateRows > 0 && season.maxStateRows <= 5L * 168L,
        s"season state ${season.maxStateRows} exceeds the #types x 168 structural cap")
    }
  }

  test("x30 stress replay: session state tracks RATE, not history (the x10 law at 3x the rate)") {
    assume(new java.io.File("/tmp/estress_x30/events.parquet").isDirectory,
      "x30 events stress corpus not present on this machine")
    import streaming.EnrichStream
    val chunks = 8
    withTmpDir("x30-spool") { tmp =>
      val spool = Scenario.spoolEvents(spark, "/tmp/estress_x30", chunks, tmp)
      val total = spark.read.schema(EnrichStream.rawSchema).parquet(spool).count()
      val sess = Scenario.drain(spark)(
        EnrichStream.sessionizedStream(
            EnrichStream.replaySource(spark, spool, 1).filter(col("user_id").isNotNull))
          .writeStream.format("noop").outputMode("append").start())
      assert(sess.rows == total)
      // same law as x10: open sessions <= events in ~2 replay chunks.
      // 3x the event rate, same horizon -> state scales WITH the chunk
      // (measured 377k vs 119k at x10, ratio to chunk ~1.0 both), never
      // with the 3M-event history
      assert(sess.maxStateRows <= 2L * (total / chunks + 1L),
        s"x30 session state ${sess.maxStateRows} exceeds the rate x horizon bound")
      assert(sess.maxStateRows < total / 4,
        "x30 session state tracks history, not the open horizon")
    }
  }

  test("streaming anomaly hours match a prefix-stats recomputation exactly") {
    val q = streaming.EnrichStream.anomalyStream(
        streaming.EnrichStream.typedSource(spark, sf))
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("anom_out").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    // brute force with IDENTICAL arithmetic: hours in order per type,
    // Welford prefix stats, z against strictly earlier hours only
    val hourUs = 3600L * 1000000L
    val slackUs = 30L * 60L * 1000000L
    val evs = Tables(spark, sf, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = evs.groupBy(_._1).toSeq.flatMap { case (et, rows) =>
      val maxTs = rows.map(_._2).max
      val counts = rows.groupBy(r => Math.floorDiv(r._2, hourUs) * hourUs)
        .view.mapValues(_.length.toLong).toSeq.sortBy(_._1)
      var (n, mean, m2) = (0L, 0.0, 0.0)
      counts.filter { case (h, _) => h + hourUs + slackUs <= maxTs }.map { case (h, c) =>
        val x = c.toDouble
        val prevN = n
        val z = if (prevN < 2L) 0.0
          else (x - mean) / math.max(math.sqrt(m2 / (prevN - 1L)), 1e-9)
        n += 1L
        val d = x - mean
        mean += d / n
        m2 += d * (x - mean)
        (et, h) -> ((c, z, prevN >= 2L && math.abs(z) >= streaming.EnrichStream.AnomZ))
      }
    }.toMap
    assert(streamed.nonEmpty)
    assert(streamed.keySet == expected.keySet,
      s"hour sets differ: extra=${streamed.keySet -- expected.keySet} missing=${expected.keySet -- streamed.keySet}")
    streamed.foreach { case (key, got) =>
      assert(got == expected(key), s"$key: got $got expected ${expected(key)}")
    }
  }

  test("streaming near-dup detection finds the co-bucket pair set incrementally") {
    import spark.implicits._
    import streaming.DedupStream
    // replay the corpus as 4 ranged files, one per micro-batch, so
    // later documents are checked against genuinely earlier history
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupstream").toString
    val base = Tables(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val ids = base.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = (1 to 3).map(i => ids(i * ids.length / 4))
    val ranges = (Long.MinValue +: cuts) :+ Long.MaxValue
    ranges.zip(ranges.tail).foreach { case (lo, hi) =>
      base.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val q = DedupStream.neardupStream(
        DedupStream.source(spark, dir, filesPerTrigger = 1)
          .select(col("doc_id"), col("text")).as[(Long, String)])
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(batches >= 2, s"replay collapsed into $batches batch(es)")
    // at-least-once per shared bucket → dedupe on the pair
    val got = spark.table("neardup_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // expected: same shingle/band helpers, every co-bucket pair with
    // exact Jaccard >= threshold, independent of arrival order
    val docs = base.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> DedupStream.shingleHashes(r.getString(1)))
    val bks = docs.map { case (id, sh) => id -> DedupStream.bandKeys(sh).toSet }.toMap
    def jac(a: Array[Long], b: Array[Long]): Double = {
      val c = a.intersect(b).length
      if (a.length + b.length == 0) 0.0 else c.toDouble / (a.length + b.length - c)
    }
    val expected = (for {
      i <- docs.indices.iterator
      j <- (i + 1) until docs.length
      (ia, sa) = docs(i)
      (ib, sb) = docs(j)
      if (bks(ia) & bks(ib)).nonEmpty && jac(sa, sb) >= operators.Dedup.JaccThr.toDouble
    } yield (math.min(ia, ib), math.max(ia, ib))).toSet
    assert(expected.nonEmpty, "no near-dup pairs at this SF: test is vacuous")
    assert(got == expected,
      s"extra=${got -- expected} missing=${expected -- got}")
    // semantic recall vs the exact batch inverted-index pairs (q41):
    // banding misses a 0.6-Jaccard pair with prob ~1.2% per pair
    val exact = operators.Dedup.q41(spark, sf).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = exact.count(got.contains)
    assert(hit >= (exact.size * 0.9).ceil.toInt, s"stream recall $hit/${exact.size}")
  }

  test("streaming decontamination guard matches batch q77 bit-for-bit") {
    import spark.implicits._
    import streaming.DecontaminateStream
    // the reference filter is built ONCE from the batch eval split;
    // stream the train docs through the guard in 2 micro-batches
    val bloom = operators.Sampling.referenceBloom(spark, sf)
    val batch = operators.Sampling.q77(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-decon").toString
    val trainIds = batch.keySet
    val base = Tables(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .filter(col("doc_id").isInCollection(trainIds))
    val mid = trainIds.toSeq.sorted.apply(trainIds.size / 2)
    base.filter(col("doc_id") < mid).coalesce(1).write.mode("append").parquet(dir)
    base.filter(col("doc_id") >= mid).coalesce(1).write.mode("append").parquet(dir)
    val q = DecontaminateStream.guard(
        streaming.DedupStream.source(spark, dir, filesPerTrigger = 1)
          .select(col("doc_id"), col("text")).as[(Long, String)], bloom)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(batches >= 2, s"replay collapsed into $batches batch(es)")
    val got = spark.table("decon_out").collect()
    assert(got.length == batch.size)
    assert(got.map(_.getLong(0)).distinct.length == got.length)
    got.foreach { r =>
      val (ng, ns, contaminated) = batch(r.getLong(0))
      assert(r.getLong(1) == ng, s"doc ${r.getLong(0)} gram count")
      assert(r.getLong(2) == ns, s"doc ${r.getLong(0)} shared estimate")
      assert(r.getBoolean(3) == !contaminated, s"doc ${r.getLong(0)} admission")
    }
  }

  test("streaming ingest assignment is bit-identical to batch split + importance keep") {
    import spark.implicits._
    // batch truth: the shared assignment core over the whole corpus
    val batch = operators.Sampling.assignCols(Tables(spark, sf, "documents"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3), r.getString(4), r.getBoolean(5))))
      .toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-assign").toString
    val base = Tables(spark, sf, "documents").select("doc_id", "text", "lang")
    val mid = batch.keySet.toSeq.sorted.apply(batch.size / 2)
    base.filter(col("doc_id") < mid).coalesce(1).write.mode("append").parquet(dir)
    base.filter(col("doc_id") >= mid).coalesce(1).write.mode("append").parquet(dir)
    val q = streaming.AssignStream.assign(
        spark.readStream.schema(base.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir))
      .writeStream.format("memory").queryName("assign_out")
      .outputMode("append").start()
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(batches >= 2, s"replay collapsed into $batches batch(es)")
    val got = spark.table("assign_out").collect()
    assert(got.length == batch.size)
    got.foreach { r =>
      val (lang, bucket, split, kept) = batch(r.getLong(0))
      assert(r.getString(1) == lang && r.getLong(3) == bucket &&
        r.getString(4) == split && r.getBoolean(5) == kept,
        s"doc ${r.getLong(0)} assignment diverges from batch")
    }
  }

  test("streaming novelty undercounts batch q97 only by Bloom false positives") {
    // batch truth (exact first-occurrence novelty, doc_id order)
    val exact = operators.Sampling.q97(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-novelty").toString
    val base = Tables(spark, sf, "documents").select("doc_id", "text")
    val mid = exact.keySet.toSeq.sorted.apply(exact.size / 2)
    // files must arrive in doc_id order for stream/batch parity
    base.filter(col("doc_id") < mid).coalesce(1).write.mode("append").parquet(dir + "/b0")
    base.filter(col("doc_id") >= mid).coalesce(1).write.mode("append").parquet(dir + "/b1")
    val got = collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val scorer = new streaming.NoveltyStream.Scorer(spark)
    for (b <- Seq("b0", "b1"))
      got ++= scorer.scoreBatch(spark.read.parquet(dir + "/" + b))
    val byDoc = got.map(r => r.getLong(0) -> r).toMap
    assert(byDoc.size == exact.count(_._2._1 > 0L), "every grammed doc scored once")
    var undercount = 0L
    var totalGrams = 0L
    byDoc.foreach { case (id, r) =>
      val (ng, novel) = exact(id)
      assert(r.getLong(1) == ng, s"doc $id gram count")
      val est = r.getLong(2)
      assert(est <= novel, s"doc $id overcounts novelty: $est > $novel")
      assert(r.getDouble(3) == math.floor((est * 1.0 / ng) * 1e6 + 0.5) / 1e6)
      undercount += novel - est
      totalGrams += ng
    }
    // one-sided Bloom error budget: E[FP] = totalGrams * fpp; allow 50x
    val budget = math.max(5L, (totalGrams * streaming.NoveltyStream.NoveltyFpp * 50).toLong)
    assert(undercount <= budget, s"undercount $undercount exceeds Bloom budget $budget")
  }

  test("streaming novelty via the foreachBatch guard matches the scorer driven directly") {
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("graft-novelty2").toString
    val base = Tables(spark, sf, "documents").select("doc_id", "text")
    base.coalesce(1).write.mode("append").parquet(dir)
    val sunk = collection.mutable.ArrayBuffer.empty[Row]
    val q = streaming.NoveltyStream.guard(
      spark.readStream.schema(base.schema).parquet(dir),
      rows => sunk.synchronized { sunk ++= rows })
    q.processAllAvailable(); q.stop()
    val direct = new streaming.NoveltyStream.Scorer(spark)
      .scoreBatch(spark.read.parquet(dir))
    assert(sunk.toSet == direct.toSet, "guard wiring diverges from the scorer")
  }

  test("live corpus card converges to the batch card on the same documents") {
    val dir = java.nio.file.Files.createTempDirectory("graft-card").toString
    val base = Tables(spark, sf, "documents").select("doc_id", "text", "lang")
    val mid = base.agg(expr("percentile(doc_id, 0.5)")).collect()(0).getDouble(0).toLong
    base.filter(col("doc_id") < mid).coalesce(1).write.mode("append").parquet(dir)
    base.filter(col("doc_id") >= mid).coalesce(1).write.mode("append").parquet(dir)
    val q = streaming.CardStream.card(
        spark.readStream.schema(base.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir))
      .writeStream.format("memory").queryName("card_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("card_out").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    val want = streaming.CardStream.card(base).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got == want, s"live card diverges from batch: $got vs $want")
    assert(want.values.map(_._1).sum == base.count())
  }

  test("live intake validation converges to the batch row-local counts, corruption included") {
    val dir = java.nio.file.Files.createTempDirectory("graft-val").toString
    val live = Tables(spark, sf, "documents")
      .select("doc_id", "text", "lang", "n_chars")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("n_chars", LongType)))
    val corrupt = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(900001L, "", "en", 0L),
      org.apache.spark.sql.Row(900002L, "   ", "en", 3L),
      org.apache.spark.sql.Row(900003L, "bad\u0007byte", "en", 8L),
      org.apache.spark.sql.Row(900004L, "len lies", "en", 42L),
      org.apache.spark.sql.Row(900005L, "no lang", null, 7L),
      org.apache.spark.sql.Row(null, "no id", "en", 5L)), 1), schema)
    val all = live.unionByName(corrupt)
    // two landing batches: clean corpus first, then the corrupt tail
    live.coalesce(1).write.mode("append").parquet(dir)
    corrupt.coalesce(1).write.mode("append").parquet(dir)
    val q = streaming.ValidateStream.validate(
        spark.readStream.schema(live.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir))
      .writeStream.format("memory").queryName("val_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("val_out").collect()(0)
    val want = streaming.ValidateStream.validate(all).collect()(0)
    assert(got == want, s"live validation diverges: $got vs $want")
    // the injected corruption is visible: one of each flag, none clean
    assert(got.getAs[Long]("n_empty_text") == 1L)
    assert(got.getAs[Long]("n_ws_only") == 1L)
    assert(got.getAs[Long]("n_ctrl_chars") == 1L)
    assert(got.getAs[Long]("n_chars_mismatch") == 1L)
    assert(got.getAs[Long]("n_null_lang") == 1L)
    assert(got.getAs[Long]("n_null_id") == 1L)
    assert(got.getAs[Long]("n_clean") == live.count())
  }

  test("streaming heavy hitters satisfy the Misra-Gries envelope vs exact counts") {
    val k = operators.Events.HhK
    val q = streaming.EnrichStream.heavyHitterStream(
        streaming.EnrichStream.source(spark, sf))
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("hh_out").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got.nonEmpty)
    val exact = Tables(spark, sf, "events")
      .withColumn("product_key", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type", "product_key").count()
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val nPerGroup = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    // the stream's merge tree differs from batch q76's, so the exact
    // survivor set may differ — but the MG envelope must hold at the
    // final emission just as it does in batch
    got.foreach { case (key @ (et, _), est) =>
      val t = exact(key)
      val err = nPerGroup(et) / (k + 1)
      assert(est <= t, s"$key overestimated: $est > $t")
      assert(est >= t - err, s"$key undercounted past the bound: $est < $t - $err")
    }
  }

  test("stateful LTV final value per user matches batch q22") {
    val q = streaming.EnrichStream.ltvStateful(
        streaming.EnrichStream.typedSource(spark, sf))
      .writeStream.format("memory").queryName("ltv_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamedFinal = spark.table("ltv_out")
      .groupBy("user_id").agg(max("ltv").as("final_ltv"))
    val batchFinal = operators.Events.q22(spark, sf)
      .groupBy("user_id").agg(max("ltv").as("final_ltv"))
    assert(streamedFinal.exceptAll(batchFinal).count() == 0)
    assert(batchFinal.exceptAll(streamedFinal).count() == 0)
  }

  test("watermarked dedup collapses a duplicated replay to distinct events") {
    // simulate an at-least-once source: the events file delivered twice
    val dupDir = java.nio.file.Files.createTempDirectory("graft-dup").toString
    val ev = Tables(spark, sf, "events")
    val raw = ev.select(col("event_id"), unix_micros(col("ts")).as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))
    raw.write.mode("overwrite").parquet(dupDir + "/replay1")
    raw.write.mode("append").parquet(dupDir + "/replay1")
    val stream = spark.readStream
      .schema(streaming.EnrichStream.rawSchema)
      .parquet(dupDir + "/replay1")
      .withColumn("ts", expr("timestamp_micros(ts)"))
    val q = streaming.EnrichStream.dedupedSource(stream)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup_out").count() == ev.count())
  }

  test("rate-limited replay paces a backlog across micro-batches and loses nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val raw = Tables(spark, sf, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    // a 4-file backlog replayed at 1 file per trigger = 4 micro-batches
    raw.repartition(4).write.mode("overwrite").parquet(dir)
    var batches = 0
    var rows = 0L
    val q = streaming.EnrichStream.replaySource(spark, dir, filesPerTrigger = 1)
      .writeStream
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1; rows += df.count()
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 4, s"expected the backlog paced over >=4 micro-batches, got $batches")
    assert(rows == raw.count(), "replay dropped or duplicated events")
  }

  test("stream of synthetic returns matches batch LTV including subtractions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-returns").toString
    Seq(
      (1L, 1000000L, 7L, "purchase", 10.0, """{}"""),
      (2L, 2000000L, 7L, "return", 4.0, """{}"""),
      (3L, 3000000L, 7L, "purchase", -3.0, """{}"""),
      (4L, 4000000L, 7L, "purchase", 2.5, """{"is_return": "true"}"""),
      (5L, 5000000L, 8L, "purchase", 1.0, """{}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(streaming.EnrichStream.rawSchema).parquet(dir)
      .withColumn("ts", expr("timestamp_micros(ts)"))
    val q = streaming.EnrichStream.ltvStateful(streaming.EnrichStream.typed(stream))
      .writeStream.format("memory").queryName("ltv_ret_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val ltv = spark.table("ltv_ret_out")
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    // user 7: +10.00, -4.00, -3.00, -2.50 => 10.0, 6.0, 3.0, 0.5
    assert(ltv == Map(1L -> 10.0, 2L -> 6.0, 3L -> 3.0, 4L -> 0.5, 5L -> 1.0),
      s"unexpected streamed LTV trajectory: $ltv")
  }

  test("session windows match batch sessionization for every closed session") {
    val q = streaming.EnrichStream.sessionizedStream(
        streaming.EnrichStream.source(spark, sf))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sess_out")
    assert(streamed.count() > 0, "no sessions closed by the final watermark")
    val batch = operators.Events.q23(spark, sf)
      .select(col("user_id"), col("session_start"),
        col("session_end").as("batch_end"), col("n_events").as("batch_n"))
    // every emitted session must agree exactly with its batch twin:
    // same start, same count, end = batch end + the 30-minute gap
    val joined = streamed.join(batch, Seq("user_id", "session_start"), "left")
    assert(joined.filter(col("batch_n").isNull).count() == 0,
      "streamed a session batch does not know")
    assert(joined.filter(col("n_events") =!= col("batch_n")).count() == 0)
    assert(joined.filter(unix_micros(col("session_end")) =!=
      unix_micros(col("batch_end")) + 1800L * 1000000L).count() == 0,
      "session end is not last event + gap")
    // sessions that ended well before the final watermark are all present
    val maxTs = Tables(spark, sf, "events").agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val closed = batch.filter(unix_micros(col("batch_end")) + 1800L * 1000000L < maxTs - 3600L * 1000000L)
    val missing = closed.join(streamed, Seq("user_id", "session_start"), "left_anti")
    assert(missing.count() == 0, "a closed session was never emitted")
  }

  test("live session paths match the batch journey assembly for every closed session") {
    val q = streaming.EnrichStream.sessionPathStream(
        streaming.EnrichStream.source(spark, sf))
      .writeStream.format("memory").queryName("paths_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("paths_out")
    assert(streamed.count() > 0, "no session paths closed by the final watermark")
    // batch twin: per-session journey by the identical assembly rule
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    val batch = operators.Events.sessionized(spark, sf)
      .withColumn("rn", row_number().over(ord))
      .filter(col("rn") <= operators.Events.PathLen)
      .groupBy("user_id", "session_seq")
      .agg(min("ts").as("session_start"),
        expr("array_join(transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type), '>')")
          .as("batch_path"))
    val joined = streamed.join(batch, Seq("user_id", "session_start"), "left")
    assert(joined.filter(col("batch_path").isNull).count() == 0,
      "streamed a session batch does not know")
    assert(joined.filter(col("path") =!= col("batch_path")).count() == 0,
      "a streamed journey differs from its batch twin")
  }

  test("stream-stream interval join matches the equivalent batch join exactly") {
    val q = streaming.EnrichStream.viewToPurchase(
        streaming.EnrichStream.source(spark, sf))
      .writeStream.format("memory").queryName("v2p_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("v2p_out")
    val ev = Tables(spark, sf, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("view_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
    val batch = purchases.join(views,
        col("p_user") === col("v_user") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"),
        col("p_ts"), col("v_ts"), col("value"))
    assert(streamed.count() > 0, "interval join produced no attributions")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("speed-factor replay emits in event-time order across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vclock").toString
    val raw = Tables(spark, sf, "events")
      .select(col("event_id"), (unix_micros(col("ts")) * 1000).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    raw.write.mode("overwrite").parquet(dir)
    val expected = raw.count()
    val span = Tables(spark, sf, "events")
      .agg((unix_micros(max("ts")) - unix_micros(min("ts"))).as("us"))
      .collect()(0).getLong(0) / 1e6
    // compress the whole backlog into ~12 ticks at 4 ticks/second
    val factor = span / 12.0 * 4.0
    val batches = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]() // (count, minUs, maxUs)
    val q = streaming.EnrichStream.timeCompressedReplay(spark, dir, factor, ticksPerSecond = 4)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val r = df.agg(count(lit(1)), min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).collect()(0)
        if (r.getLong(0) > 0) batches.synchronized {
          batches += ((r.getLong(0), r.getLong(1), r.getLong(2)))
        }
        ()
      }
      .start()
    val deadline = System.nanoTime() + 90L * 1000000000L
    while (batches.synchronized(batches.map(_._1).sum) < expected && System.nanoTime() < deadline) {
      Thread.sleep(200)
    }
    q.stop()
    val snap = batches.synchronized(batches.toList)
    assert(snap.map(_._1).sum == expected, s"replay dropped or duplicated events: $snap")
    assert(snap.length >= 2, s"expected the replay spread over >=2 micro-batches, got ${snap.length}")
    // event-time order ACROSS batches: each batch's earliest event is
    // at or after every prior batch's latest
    snap.sliding(2).foreach {
      case List((_, _, prevMax), (_, curMin, _)) =>
        assert(curMin >= prevMax, s"event-time order violated across batches: $snap")
      case _ => ()
    }
  }

  test("paced backlog through stateful LTV: bounded per-batch buffering, exact final total") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hotuser").toString
    import spark.implicits._
    // one hot user with 4000 purchases — the adversarial shape for
    // per-(user, batch) buffering — split into 8 time-ranged files
    val events = (1 to 4000).map(i =>
      (i.toLong, i.toLong * 1000000000L, 99L, "purchase", 2.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartitionByRange(8, col("ts"))
      .write.mode("overwrite").parquet(dir)
    val perBatch = scala.collection.mutable.ArrayBuffer[Long]()
    val finalLtv = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = streaming.EnrichStream.ltvStateful(
        streaming.EnrichStream.typed(
          streaming.EnrichStream.replaySource(spark, dir, filesPerTrigger = 1)))
      .writeStream.outputMode("append")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[streaming.LtvOut], _: Long) =>
        val rows = ds.collect()
        if (rows.nonEmpty) {
          perBatch.synchronized { perBatch += rows.length.toLong }
          val m = rows.map(_.ltv).max
          finalLtv.updateAndGet(cur => math.max(cur, math.round(m * 100)))
        }
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    val counts = perBatch.synchronized(perBatch.toList)
    assert(counts.sum == 4000, s"lost or duplicated events: $counts")
    assert(counts.length >= 8, s"pacing did not split the backlog: $counts")
    // the contract ltvStateful documents: no batch buffers more than
    // one paced file's worth of a user's events
    assert(counts.max <= 600, s"a micro-batch buffered too much for one user: $counts")
    // all values positive => running max is order-independent: 4000 x $2
    assert(finalLtv.get() == 800000L, s"final LTV cents = ${finalLtv.get()}")
  }

  test("online embedding near-dup matches batch q44 pair-for-pair") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = streaming.EmbedDedupStream.neardupStream(mem.toDS())
      .writeStream.format("memory").queryName("embed_neardup_out")
      .outputMode("append").start()
    // several micro-batches so pairs form against cross-batch history,
    // not just within one batch
    vecs.grouped(150).foreach { g => mem.addData(g.toSeq); q.processAllAvailable() }
    q.stop()
    // at-least-once per shared bucket → dedupe on the pair; identical
    // geometry + exact verify → SET EQUALITY with the batch operator,
    // cosine included (same sequential float-widened arithmetic)
    val got = spark.table("embed_neardup_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = operators.Dedup.q44(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "no near-dup pairs at this SF: vacuous")
    assert(got == batch, s"extra=${got -- batch} missing=${batch -- got}")
  }

  test("TTL'd near-dup stream evicts aged-out residents and bounds state by rate, not history") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import streaming.DedupStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // offset base: epoch-0 event times sit exactly on the initial
    // watermark and get dropped as late
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    def text(stem: String) = (1 to 60).map(i => s"$stem$i").mkString(" ")
    val (base, d5, u1, u2) = (text("alpha"), text("solo"), text("first"), text("second"))
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DedupStream.neardupStreamTtl(mem.toDS(), java.time.Duration.ofHours(1))
      .writeStream.format("memory").queryName("neardup_ttl_out")
      .outputMode("append").start()
    def hits = spark.table("neardup_ttl_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def stateRows = q.recentProgress.filter(_.stateOperators.nonEmpty)
      .last.stateOperators.head.numRowsTotal
    // t=0h: a dup pair plus a loner enter the history
    mem.addData((1L, base, ts(0)), (2L, base, ts(0)), (5L, d5, ts(0)))
    q.processAllAvailable()
    assert(hits == Set((1L, 2L)))
    // unrelated traffic at t=2h advances the watermark past 0h+TTL;
    // the next batch's timeout sweep removes every idle aged bucket
    mem.addData((90L, u1, ts(120))); q.processAllAvailable()
    mem.addData((91L, u2, ts(121))); q.processAllAvailable()
    // t=2h05: a fresh dup of the 0h pair — its residents aged out, so
    // NO hit against history...
    mem.addData((3L, base, ts(125))); q.processAllAvailable()
    assert(hits == Set((1L, 2L)), "aged-out residents must stop matching")
    // ...but a dup of the FRESH doc still matches: eviction is
    // selective, the operator keeps working
    mem.addData((4L, base, ts(126))); q.processAllAvailable()
    assert(hits == Set((1L, 2L), (3L, 4L)))
    // state plateaus at the ALIVE docs' bucket keys (d5's buckets and
    // the pre-eviction copies of base's are gone), not at history size
    def keys(t: String) = DedupStream.bandKeys(DedupStream.shingleHashes(t)).toSet
    val alive = keys(base) ++ keys(u1) ++ keys(u2)
    val ever = alive ++ keys(d5)
    assert(ever.size > alive.size, "loner shares all buckets: vacuous")
    assert(stateRows == alive.size.toLong,
      s"state rows $stateRows != alive bucket keys ${alive.size}")
    q.stop()
  }

  test("TTL'd embedding near-dup stream evicts aged-out vectors, same contract as the n-gram twin") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import streaming.EmbedDedupStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    def vec(seed: Int): Seq[Float] = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(64)(rnd.nextGaussian().toFloat)
    }
    val (base, d5, u1, u2) = (vec(1), vec(5), vec(90), vec(91))
    val mem = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val q = EmbedDedupStream.neardupStreamTtl(mem.toDS(), java.time.Duration.ofHours(1))
      .writeStream.format("memory").queryName("embed_ttl_out")
      .outputMode("append").start()
    def hits = spark.table("embed_ttl_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def stateRows = q.recentProgress.filter(_.stateOperators.nonEmpty)
      .last.stateOperators.head.numRowsTotal
    mem.addData((1L, base, ts(0)), (2L, base, ts(0)), (5L, d5, ts(0)))
    q.processAllAvailable()
    assert(hits == Set((1L, 2L)))
    mem.addData((90L, u1, ts(120))); q.processAllAvailable()
    mem.addData((91L, u2, ts(121))); q.processAllAvailable()
    mem.addData((3L, base, ts(125))); q.processAllAvailable()
    assert(hits == Set((1L, 2L)), "aged-out vectors must stop matching")
    mem.addData((4L, base, ts(126))); q.processAllAvailable()
    assert(hits == Set((1L, 2L), (3L, 4L)))
    // state plateaus at alive vectors' (band, key) buckets
    def keys(v: Seq[Float]) =
      operators.Dedup.ndBandKeysG(operators.Dedup.ndPlanes, v.toArray)
        .zipWithIndex.map { case (k, b) => (b, k) }.toSet
    val alive = keys(base) ++ keys(u1) ++ keys(u2)
    val ever = alive ++ keys(d5)
    assert(ever.size > alive.size, "loner shares all buckets: vacuous")
    assert(stateRows == alive.size.toLong,
      s"state rows $stateRows != alive bucket keys ${alive.size}")
    q.stop()
  }

  test("multi-sink fan-out: both sinks equal the batch result; batch replay is idempotent") {
    import streaming.EnrichStream
    val d1 = java.nio.file.Files.createTempDirectory("graft-sink1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-sink2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-msckpt").toString
    val q = EnrichStream.multiSink(EnrichStream.enriched(spark, sf), ckpt, d1, d2)
    q.processAllAvailable(); q.stop()
    val batch = operators.Events.q21(spark, sf)
    for (d <- Seq(d1, d2)) {
      val written = spark.read.parquet(d).drop("batch_id")
      assert(written.count() == batch.count(), s"sink $d row count")
      assert(written.exceptAll(batch).count() == 0, s"sink $d content")
    }
    // at-least-once replay: re-writing the SAME batch ids must leave
    // both sinks unchanged (dynamic overwrite of the batch partition,
    // not an append of duplicates)
    // partition-column values parse back as int — cast to the long id
    val batchIds = spark.read.parquet(d1)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    batchIds.foreach { id =>
      val replay = spark.read.parquet(d1).filter(col("batch_id") === id).drop("batch_id")
      EnrichStream.writeBatch(replay, id, Seq(d1, d2))
    }
    for (d <- Seq(d1, d2)) {
      val after = spark.read.parquet(d).drop("batch_id")
      assert(after.count() == batch.count(), s"sink $d duplicated on replay")
      assert(after.exceptAll(batch).count() == 0)
    }
  }

  test("parquet sink with checkpoint round-trips the enriched stream") {
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = streaming.EnrichStream.enriched(spark, sf)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val written = spark.read.parquet(out)
    val batch = operators.Events.q21(spark, sf)
    assert(written.count() == batch.count())
    assert(written.exceptAll(batch).count() == 0)
  }

  test("live frequency sketch lands on the batch cells; probes stay one-sided") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-freq").toString
    val base = Tables(spark, sf, "documents").select("text")
    val mid = Tables(spark, sf, "documents")
      .agg(expr("percentile(doc_id, 0.5)")).collect()(0).getDouble(0).toLong
    Tables(spark, sf, "documents").filter(col("doc_id") < mid)
      .select("text").coalesce(1).write.mode("append").parquet(dir)
    Tables(spark, sf, "documents").filter(col("doc_id") >= mid)
      .select("text").coalesce(1).write.mode("append").parquet(dir)
    val q = streaming.FreqStream.sketch(
        spark.readStream.schema(base.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir))
      .writeStream.format("memory").queryName("freq_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("freq_out")
    val want = streaming.FreqStream.sketch(base)
    // a counting aggregate is merge-order-invariant: the live sketch
    // IS the batch sketch, cell for cell
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // probing the live sketch for the exact top tokens never
    // undercounts (the synthetic vocabulary is smaller than the
    // limit at this SF, so pin against the probe frame's own count)
    val exact = base.select(explode(expr(operators.Dedup.tokensExpr)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("tok").asc).limit(50).cache()
    val nProbe = exact.count()
    assert(nProbe > 0)
    val est = streaming.FreqStream.probe(got, exact.select("tok"))
    assert(est.count() == nProbe)
    assert(est.join(exact, "tok").filter(col("est_n") < col("exact_n")).count() == 0)
    // an empty sketch (sparse: zero rows) probes as 0, not a dropped row
    val z = streaming.FreqStream.probe(
      streaming.FreqStream.sketch(base.limit(0)), Seq("never-seen").toDF("tok"))
    assert(z.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("never-seen", 0L)))
  }

  /** Simulate the crash window a graceful stop never exercises: the
    * offset log has batch N but the commit log does not (the process
    * died after writing offsets + sink output, before the commit
    * marker). On restart the engine must re-run batch N from state
    * version N-1 and the file sink must SKIP its already-committed
    * output — the exactly-once recovery contract. */
  private def dropLatestCommit(ckpt: String): Unit = {
    val dir = new java.io.File(ckpt, "commits")
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("\\d+"))
    assert(files.nonEmpty, s"no commits to tamper in $dir")
    val latest = files.maxBy(_.getName.toLong)
    assert(latest.delete(), s"could not delete $latest")
    val crc = new java.io.File(dir, "." + latest.getName + ".crc")
    if (crc.exists()) crc.delete()
    ()
  }

  test("stateful LTV survives a mid-stream crash: restart resumes with no loss, no dupes, exact values") {
    import spark.implicits._
    TestSpark.withTmpDir("ltv-restart") { tmp =>
      val src = s"$tmp/src"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      // 6 users x 50 purchase/return events; ts nanos = i*1e9 so each
      // user's history is strictly time-ordered
      def userEvents(uid: Long) = (1 to 50).map { i =>
        val tpe = if (i % 5 == 0) "return" else "purchase"
        (uid * 1000L + i, i.toLong * 1000000000L, uid, tpe, (i % 7 + 1) * 1.5, "{}")
      }
      def write(uids: Seq[Long]): Unit =
        uids.flatMap(userEvents)
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          // hash by user: every user's history sits WHOLLY in one file,
          // so its within-batch event-time sort is its global order and
          // the per-event running LTV is deterministic across runs
          .repartition(3, col("user_id"))
          .write.mode("append").parquet(src)
      def start() = streaming.EnrichStream.ltvStateful(
          streaming.EnrichStream.typed(
            streaming.EnrichStream.replaySource(spark, src, filesPerTrigger = 1)))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      write(Seq(1L, 2L, 3L))
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      dropLatestCommit(ckpt)
      write(Seq(4L, 5L, 6L)) // the stream's second life has new work too
      val q2 = start(); q2.processAllAvailable(); q2.stop()
      val got = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // exact expected rows: per-user running cents in event order
      val want = (1L to 6L).flatMap { uid =>
        var cents = 0L
        userEvents(uid).map { case (eid, _, _, tpe, v, _) =>
          val c = math.floor(v * 100.0 + 0.5).toLong
          cents += (if (tpe == "return") -c else c)
          (uid, eid, cents / 100.0)
        }
      }
      assert(got.length == want.length,
        s"crash-restart lost or duplicated events: ${got.length} vs ${want.length}")
      assert(got.toSet == want.toSet,
        s"values diverged: extra=${got.toSet -- want.toSet} missing=${want.toSet -- got.toSet}")
    }
  }

  test("streaming CDC upsert converges to batch q116, survives crash-replay, and keeps deletes won") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the SAME deterministic change feed q116 merges in one shot,
    // delivered as three CDC batches: snapshot, re-prices, deletes
    val orders = Tables(spark, sf, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    type Chg = (Long, Option[String], Option[Double], Long, Boolean)
    def rows(df: org.apache.spark.sql.DataFrame, v: Long, del: Boolean): Seq[Chg] =
      df.collect().map(r => (r.getLong(0),
        if (del) None else Some(r.getString(1)),
        if (del) None else Some(r.getDouble(2)), v, del)).toSeq
    val base = rows(orders, 1L, del = false)
    val reprice = rows(orders.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + lit(1.0)).as("o_totalprice")), 2L, del = false)
    val del = rows(orders.filter(col("o_orderkey") % 13 === 0), 3L, del = true)
    TestSpark.withTmpDir("cdc-stream") { tmp =>
      val table = s"$tmp/table"; val ckpt = s"$tmp/ckpt"
      val mem = MemoryStream[(Long, Option[String], Option[Double], Long, Boolean)]
      def changes = mem.toDF()
        .toDF("o_orderkey", "o_orderstatus", "o_totalprice", "version", "deleted")
      def start() = streaming.UpsertStream.start(
        changes, table, ckpt, Seq("o_orderkey"), "version", buckets = 8)
      def alive = streaming.UpsertStream.snapshot(spark, table, "deleted")
      val q1 = start()
      mem.addData(base); q1.processAllAvailable()
      mem.addData(reprice); q1.processAllAvailable()
      mem.addData(del); q1.processAllAvailable()
      q1.stop()
      val batch = operators.Relational.q116(spark, sf)
      def assertParity(tag: String): Unit = {
        assert(alive.count() == batch.count(), s"$tag: row count")
        assert(alive.exceptAll(batch).count() == 0 &&
          batch.exceptAll(alive).count() == 0, s"$tag: content")
      }
      assertParity("after three change batches")
      // crash window: offsets say the delete batch ran, commits do not
      // — the restart re-merges it; idempotent merge leaves the table
      // bit-identical (no duplicate winners, no resurrected keys)
      dropLatestCommit(ckpt)
      val q2 = start(); q2.processAllAvailable()
      assertParity("after crash-replay of the delete batch")
      // at-least-once redelivery of OLD versions for deleted keys: the
      // retained tombstones outrank them — deletes stay won (the
      // merge-on-read property a drop-tombstones-on-write design lacks)
      mem.addData(base.filter(_._1 % 13 == 0)); q2.processAllAvailable()
      q2.stop()
      assertParity("after redelivering version-1 rows of deleted keys")
    }
  }

  test("TTL'd near-dup stream survives a mid-stream crash: state and sink recover exactly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import streaming.DedupStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    def text(stem: String) = (1 to 60).map(i => s"$stem$i").mkString(" ")
    val (base, d5, u1) = (text("alpha"), text("solo"), text("first"))
    TestSpark.withTmpDir("ttl-restart") { tmp =>
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
      def start() = DedupStream.neardupStreamTtl(mem.toDS(), java.time.Duration.ofHours(1))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      mem.addData((5L, d5, ts(1)), (90L, u1, ts(1))); q1.processAllAvailable()
      // the batch we will "crash" after PRODUCES output — its replay
      // must not duplicate the (1,2) hit
      mem.addData((1L, base, ts(2)), (2L, base, ts(2))); q1.processAllAvailable()
      q1.stop()
      dropLatestCommit(ckpt)
      val q2 = start()
      // a fresh twin within TTL: matches BOTH residents 1 and 2 — only
      // possible if the band-bucket state survived the crash-restart
      mem.addData((3L, base, ts(5))); q2.processAllAvailable(); q2.stop()
      val rows = spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
        s"state or output diverged after restart: ${rows.toSet}")
      // the operator emits one hit per SHARED BAND BUCKET, and the
      // three pairs are textually identical twins, so an intact run
      // emits every pair exactly as often. A replayed phase-A batch
      // would double ONLY the pre-crash (1,2) count — equal
      // multiplicities prove the sink skipped the replay.
      val counts = rows.groupBy(identity).map { case (p, v) => p -> v.length }
      assert(counts.values.toSet.size == 1,
        s"replayed batch duplicated sink rows: $counts")
    }
  }

  test("online ANN probe serves per-trigger batch-parity results and replays idempotently") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    TestSpark.withTmpDir("probestream") { root =>
      val idx = s"$root/index"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
      val cents = sources.AnnIndex.write(spark, sf, idx)
      val all = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      def start(mem: MemoryStream[(Long, Seq[Float])]) =
        streaming.ProbeStream.probeSink(mem.toDF().toDF("vec_id", "embedding"),
          idx, cents, nprobe = 4, k = 5, out, ckpt)
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = start(mem)
      mem.addData(all.take(10).toSeq)
      q.processAllAvailable()
      mem.addData(all.slice(10, 20).toSeq)
      q.processAllAvailable()
      q.stop()
      // per-trigger parity: each batch directory equals the batch
      // probe over exactly that trigger's query set
      def direct(qs: Array[(Long, Seq[Float])]) =
        sources.AnnIndex.probe(spark, idx, cents,
          qs.map { case (i, v) => (i, v.toArray) }, nprobe = 4, k = 5)
      val served = spark.read.parquet(out).localCheckpoint(false)
      for ((lo, hi, b) <- Seq((0, 10, 0), (10, 20, 1))) {
        val want = direct(all.slice(lo, hi))
        val got = served.filter(col("batch") === b)
          .select("query_id", "neighbor_id", "rank", "cosine")
        assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
          s"served batch $b diverges from the batch probe")
      }
      // crash-replay: drop the newest commit so restart re-runs the
      // last trigger; the dynamic batch=<id> overwrite must leave the
      // sink IDENTICAL (no duplicate, no loss)
      val before = served.collect().map(_.toString).sorted
      dropLatestCommit(ckpt)
      val mem2 = MemoryStream[(Long, Seq[Float])]
      mem2.addData(all.take(10).toSeq)     // offsets log replays batch 1's
      mem2.addData(all.slice(10, 20).toSeq) // data from the source's view
      val q2 = start(mem2)
      q2.processAllAvailable()
      q2.stop()
      val after = spark.read.parquet(out).collect().map(_.toString).sorted
      assert(after.sameElements(before), "replayed trigger changed the sink")
    }
  }

  test("skew guard quarantines a planted hot-bucket trigger, admits normal traffic, replays idempotently") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    TestSpark.withTmpDir("dedupguard") { root =>
      val pass = s"$root/pass"; val quar = s"$root/quar"
      val dlog = s"$root/log"; val ckpt = s"$root/ckpt"
      // batch 0: 60 corpus vectors (driver-family geometry, skew ~1x);
      // batch 1: 60 near-copies of ONE vector — every band's bucket
      // holds all 60, candidate volume n(n-1)/2 per band vs the
      // uniform floor n²/128 → skew ~60x, far past the 3x gate
      val normal = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
        .collect().take(60).map(r => (r.getLong(0), r.getSeq[Float](1)))
      val baseV = normal.head._2
      val hot = (0 until 60).map { i =>
        (10000L + i, baseV.zipWithIndex.map { case (x, j) =>
          if (j == i % baseV.length) x + 0.001f else x })
      }
      def start(mem: MemoryStream[(Long, Seq[Float])]) =
        streaming.EmbedDedupStream.guardedIngest(
          mem.toDF().toDF("vec_id", "embedding"), pass, quar, dlog, ckpt)
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = start(mem)
      mem.addData(normal.toSeq); q.processAllAvailable()
      mem.addData(hot.toSeq); q.processAllAvailable()
      q.stop()
      // routing: the normal trigger passed, the hot one was parked
      val passed = spark.read.parquet(pass).collect()
      val parked = spark.read.parquet(quar).collect()
      assert(passed.map(_.getLong(0)).toSet == normal.map(_._1).toSet,
        "pass area does not hold exactly the normal trigger")
      assert(parked.map(_.getLong(0)).toSet == hot.map(_._1).toSet,
        "quarantine does not hold exactly the hot trigger")
      // the decision log is auditable: per-trigger median skew + verdict
      val log = spark.read.parquet(dlog).collect()
        .map(r => r.getAs[Long]("batch") ->
          ((r.getAs[Long]("med_skew_x1000"), r.getAs[Boolean]("admitted")))).toMap
      assert(log(0L)._2 && log(0L)._1 < operators.Dedup.RouteSkewX1000,
        s"normal trigger misjudged: ${log(0L)}")
      assert(!log(1L)._2 && log(1L)._1 >= 30000L,
        s"hot trigger's skew should read ~60x: ${log(1L)}")
      // crash-replay: dropped commit re-runs the hot trigger; dynamic
      // batch=<id> overwrite leaves all three areas identical
      val before = (passed.map(_.toString).sorted, parked.map(_.toString).sorted)
      dropLatestCommit(ckpt)
      val mem2 = MemoryStream[(Long, Seq[Float])]
      mem2.addData(normal.toSeq); mem2.addData(hot.toSeq)
      val q2 = start(mem2); q2.processAllAvailable(); q2.stop()
      assert(spark.read.parquet(pass).collect().map(_.toString).sorted
        .sameElements(before._1), "replay changed the pass area")
      assert(spark.read.parquet(quar).collect().map(_.toString).sorted
        .sameElements(before._2), "replay changed the quarantine")
    }
  }

  test("candidate-budget guard quarantines a template-flood trigger, admits normal docs, replays idempotently") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    TestSpark.withTmpDir("textguard") { root =>
      val pass = s"$root/pass"; val quar = s"$root/quar"
      val dlog = s"$root/log"; val ckpt = s"$root/ckpt"
      // batch 0: 60 distinct corpus documents (normal traffic);
      // batch 1: 60 copies of ONE template — every band bucket holds
      // all 60, candidate volume 32·n(n−1)/2 ≫ the 64·n budget
      val normal = Tables(spark, sf, "documents").select("doc_id", "text")
        .collect().take(60).map(r => (r.getLong(0), r.getString(1)))
      val tmpl = (1 to 60).map(i => s"template $i").mkString(" ")
      val flood = (0 until 60).map(i => (20000L + i, tmpl))
      def start(mem: MemoryStream[(Long, String)]) =
        streaming.DedupStream.guardedIngest(
          mem.toDF().toDF("doc_id", "text"), pass, quar, dlog, ckpt)
      val mem = MemoryStream[(Long, String)]
      val q = start(mem)
      mem.addData(normal.toSeq); q.processAllAvailable()
      mem.addData(flood.toSeq); q.processAllAvailable()
      q.stop()
      assert(spark.read.parquet(pass).collect().map(_.getLong(0)).toSet ==
        normal.map(_._1).toSet, "pass area does not hold exactly the normal trigger")
      assert(spark.read.parquet(quar).collect().map(_.getLong(0)).toSet ==
        flood.map(_._1).toSet, "quarantine does not hold exactly the flood trigger")
      val log = spark.read.parquet(dlog).collect()
        .map(r => r.getAs[Long]("batch") ->
          ((r.getAs[Long]("cand_pairs"), r.getAs[Long]("budget"),
            r.getAs[Boolean]("admitted")))).toMap
      assert(log(0L)._3 && log(0L)._1 <= log(0L)._2, s"normal trigger misjudged: ${log(0L)}")
      // identical texts share every band: 32·60·59/2 = 56640 candidates
      assert(!log(1L)._3 && log(1L)._1 == 32L * 60 * 59 / 2,
        s"flood trigger's candidate volume misread: ${log(1L)}")
      // dropped commit re-runs the flood trigger; dynamic overwrite
      // leaves both areas identical
      val before = (spark.read.parquet(pass).collect().map(_.toString).sorted,
        spark.read.parquet(quar).collect().map(_.toString).sorted)
      dropLatestCommit(ckpt)
      val mem2 = MemoryStream[(Long, String)]
      mem2.addData(normal.toSeq); mem2.addData(flood.toSeq)
      val q2 = start(mem2); q2.processAllAvailable(); q2.stop()
      assert(spark.read.parquet(pass).collect().map(_.toString).sorted
        .sameElements(before._1), "replay changed the pass area")
      assert(spark.read.parquet(quar).collect().map(_.toString).sorted
        .sameElements(before._2), "replay changed the quarantine")
    }
  }

  test("online hybrid retrieval serves q160's ranking per trigger and replays idempotently") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    TestSpark.withTmpDir("retrievestream") { root =>
      val lex = s"$root/lex"; val ann = s"$root/ann"
      val out = s"$root/out"; val ckpt = s"$root/ckpt"
      val lexStats = sources.LexIndex.write(spark, sf, lex)
      val cents = sources.AnnIndex.write(spark, sf, ann)
      // q160's query contract: corpus docs (doc_id ≡ vec_id) < 20
      // carrying their own text + embedding
      val queries = Tables(spark, sf, "documents").select("doc_id", "text")
        .join(Tables(spark, sf, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .filter(col("doc_id") < 20)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2)))
        .sortBy(_._1)
      // nprobe = #cells: the dense probe degenerates to the exact
      // scan, so the stream must land EXACTLY on batch q160
      def start(mem: MemoryStream[(Long, String, Seq[Float])]) =
        streaming.RetrieveStream.retrieveSink(
          mem.toDF().toDF("query_id", "text", "embedding"),
          lex, lexStats, ann, cents, nprobe = cents.length, out, ckpt)
      val mem = MemoryStream[(Long, String, Seq[Float])]
      val q = start(mem)
      mem.addData(queries.take(10).toSeq); q.processAllAvailable()
      mem.addData(queries.drop(10).toSeq); q.processAllAvailable()
      q.stop()
      val served = spark.read.parquet(out).localCheckpoint(false)
      val want = operators.Similarity.q160(spark, sf)
      val got = served.select("query_id", "doc_id", "rank", "lex_rank", "vec_rank", "rrf")
      assert(got.count() == want.count(), "served row volume diverges from batch q160")
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        "served hybrid ranking diverges from batch q160")
      // crash-replay: the dynamic batch=<id> overwrite must leave the
      // sink identical after the dropped commit's trigger re-runs
      val before = served.collect().map(_.toString).sorted
      dropLatestCommit(ckpt)
      val mem2 = MemoryStream[(Long, String, Seq[Float])]
      mem2.addData(queries.take(10).toSeq)
      mem2.addData(queries.drop(10).toSeq)
      val q2 = start(mem2)
      q2.processAllAvailable()
      q2.stop()
      val after = spark.read.parquet(out).collect().map(_.toString).sorted
      assert(after.sameElements(before), "replayed trigger changed the sink")
    }
  }

  test("gated online ingestion: delta append, quarantine, idempotent replay, compaction parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    TestSpark.withTmpDir("ingeststream") { root =>
      val base = s"$root/base"; val delta = s"$root/delta"
      val quar = s"$root/quar"; val ckpt = s"$root/ckpt"
      val dlog = s"$root/log"
      val cents = sources.AnnIndex.write(spark, sf, base)
      val all = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      // batch 0: twins of residents (same geometry -> delta);
      // batch 1: shifted off the quantizer's region (-> quarantine)
      val twins = all.take(50).map { case (i, v) => (i + 200000L, v) }
      val shifted = all.slice(50, 100).map { case (i, v) => (i + 300000L, v.map(x => x + 5.0f)) }
      def start(mem: MemoryStream[(Long, Seq[Float])]) =
        streaming.IngestStream.ingestSink(mem.toDF().toDF("vec_id", "embedding"),
          base, delta, quar, dlog, cents, ckpt)
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = start(mem)
      mem.addData(twins.toSeq)
      q.processAllAvailable()
      mem.addData(shifted.toSeq)
      q.processAllAvailable()
      q.stop()
      // routing: delta holds exactly batch 0, quarantine exactly batch 1
      val d = spark.read.parquet(delta)
      assert(d.count() == 50 && d.filter(col("batch") =!= 0).count() == 0,
        "delta does not hold exactly the same-geometry batch")
      val qr = spark.read.parquet(quar)
      assert(qr.count() == 50 && qr.filter(col("batch") =!= 1).count() == 0,
        "quarantine does not hold exactly the drifted batch")
      // frozen placement in the delta
      val want = operators.Similarity.assignCells(spark,
        twins.toSeq.toDF("vec_id", "embedding"), cents).select("vec_id", "cid")
      val placed = d.select("vec_id", "cid")
      assert(placed.exceptAll(want).count() == 0 && want.exceptAll(placed).count() == 0,
        "delta rows landed off the frozen quantizer's cells")
      // the delta is immediately probeable: twins surface at cosine 1.0
      val queries = all.take(20).map { case (i, v) => (i, v.toArray) }
      val served = sources.AnnIndex.probeWithDelta(spark, base, delta, cents,
        queries, nprobe = 4, k = 5).localCheckpoint(false)
      val hitTwins = served.filter(col("neighbor_id") === col("query_id") + 200000L)
      assert(hitTwins.count() == queries.length, "a delta twin is missing from its query's top-5")
      assert(hitTwins.filter(col("cosine") =!= 1.0).count() == 0)
      // the decision log audits both verdicts, one row per trigger
      val logRows = spark.read.parquet(dlog).collect()
        .map(r => r.getAs[Long]("batch") -> r.getAs[Boolean]("refit")).toMap
      assert(logRows == Map(0L -> false, 1L -> true),
        s"decision log disagrees with the routing: $logRows")
      // crash replay: dynamic batch overwrite keeps both areas identical
      val beforeD = d.collect().map(_.toString).sorted
      val beforeQ = qr.collect().map(_.toString).sorted
      dropLatestCommit(ckpt)
      val mem2 = MemoryStream[(Long, Seq[Float])]
      mem2.addData(twins.toSeq)
      mem2.addData(shifted.toSeq)
      val q2 = start(mem2)
      q2.processAllAvailable()
      q2.stop()
      assert(spark.read.parquet(delta).collect().map(_.toString).sorted.sameElements(beforeD),
        "replayed trigger changed the delta")
      assert(spark.read.parquet(quar).collect().map(_.toString).sorted.sameElements(beforeQ),
        "replayed trigger changed the quarantine")
      // compaction parity: folding the delta preserves probe results
      val newBase = s"$root/base2"
      sources.AnnIndex.compactDelta(spark, base, delta, newBase)
      val compacted = sources.AnnIndex.probe(spark, newBase, cents, queries, nprobe = 4, k = 5)
      assert(compacted.exceptAll(served).count() == 0 && served.exceptAll(compacted).count() == 0,
        "compaction changed probe results")
    }
  }

  test("gated lexical ingestion: same-domain triggers land and serve, drifted trigger parks, crash replay idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val baseDocs = docs.filter(col("doc_id") < 20 || col("doc_id") % 2 === 0)
    val t1 = docs.filter(col("doc_id") >= 20 && col("doc_id") % 4 === 1)
      .as[(Long, String)].collect().toSeq
    val t2 = docs.filter(col("doc_id") >= 20 && col("doc_id") % 4 === 3)
      .as[(Long, String)].collect().toSeq
    val drift = Seq((900000L, (1 to 50).map(i => s"zz$i").mkString(" ")))
    TestSpark.withTmpDir("lexingest") { root =>
      val base = s"$root/base"; val delta = s"$root/delta"
      val quar = s"$root/quar"; val log = s"$root/log"; val ckpt = s"$root/ckpt"
      val st0 = sources.LexIndex.writeFrom(spark, baseDocs, base)
      val mem = MemoryStream[(Long, String)]
      def start() = streaming.LexIngestStream.ingestSink(
        mem.toDF().toDF("doc_id", "text"), base, delta, quar, log, st0, ckpt)
      val q1 = start()
      mem.addData(t1); q1.processAllAvailable()
      mem.addData(drift); q1.processAllAvailable()
      mem.addData(t2); q1.processAllAvailable(); q1.stop()
      // routing: same-domain batches 0/2 in the delta, the
      // novel-vocab batch 1 parked
      def batches(p: String) = spark.read.parquet(p)
        .select(col("batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(batches(delta) == Set(0L, 2L), s"delta batches: ${batches(delta)}")
      assert(batches(quar) == Set(1L), s"quarantine batches: ${batches(quar)}")
      // folded stats = base + the two ADMITTED triggers' exact moments
      val stats = streaming.LexIngestStream.foldStats(spark, log, st0)
      val admitted = t1 ++ t2
      val wantDl = admitted.map(_._2.split(' ').count(_.nonEmpty).toLong).sum
      assert(stats.nDocs == st0.nDocs + admitted.size &&
        stats.sumDl == st0.sumDl + wantDl,
        s"folded stats $stats vs base $st0 + ${admitted.size} docs / $wantDl tokens")
      // the streamed delta serves EXACTLY like the batch-API path:
      // probeWithDelta parity against appendDelta-built state
      val delta2 = s"$root/delta2"
      sources.LexIndex.appendDelta(spark, delta2, t1.toDF("doc_id", "text"), 0L)
      sources.LexIndex.appendDelta(spark, delta2, t2.toDF("doc_id", "text"), 2L)
      val qtok = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("query_id"),
          explode(expr(operators.Dedup.tokensExpr)).as("tok")).distinct()
      val got = sources.LexIndex.probeWithDelta(spark, base, delta, stats, qtok, 10)
      val want = sources.LexIndex.probeWithDelta(spark, base, delta2, stats, qtok, 10)
      assert(got.count() > 0, "streamed-delta probe returned nothing: vacuous")
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        "streamed delta serves differently than the batch-API delta")
      // crash window: re-run batch 2 — delta, quarantine, and log
      // must come back byte-identical (dynamic overwrite + the
      // log-folded stats cannot double-count)
      def snap(p: String) = spark.read.parquet(p).collect().map(_.toString).sorted
      val (dB, qB, lB) = (snap(delta), snap(quar), snap(log))
      dropLatestCommit(ckpt)
      val q2 = start(); q2.processAllAvailable(); q2.stop()
      assert(snap(delta).sameElements(dB), "replay changed the delta")
      assert(snap(quar).sameElements(qB), "replay changed the quarantine")
      assert(snap(log).sameElements(lB), "replay changed the decision log")
      assert(streaming.LexIngestStream.foldStats(spark, log, st0) == stats,
        "replay double-folded the serving stats")
    }
  }

  test("admission stream: verdicts equal the exact sequential reference, only novels land, crash replay is idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val base = docs.filter(_._1 < 300)
    def near(t: String) = { val w = t.split(' '); (w.take(3) ++ w).mkString(" ") }
    def synth(id: Long) = (id, (0 to 9).map(i => s"zzq${id}t$i").mkString(" "))
    // trigger 1: natural docs + a near-copy of a BASE doc + a
    // guaranteed-novel synthetic; trigger 2: natural docs + a
    // near-copy of THAT synthetic (cross-trigger dedup must catch
    // it) + a second synthetic for the post-crash trigger to copy
    val t1docs = (docs.filter(d => d._1 >= 300 && d._1 < 330) :+
      ((80001L, near(base.head._2)))) :+ synth(80005L)
    val t2docs = (docs.filter(d => d._1 >= 330 && d._1 < 350) :+
      ((80002L, near(synth(80005L)._2)))) :+ synth(80006L)
    val t3docs = Seq((80003L, near(synth(80006L)._2)))

    // exact SEQUENTIAL reference — frozen base hot cap, residents
    // grow by each trigger's novels only (a different substrate
    // than the index path: Scala sets)
    val thr = operators.Dedup.JaccThr.toDouble
    def shingles(t: String): Set[String] = {
      val tk = t.split(' ').filter(_.nonEmpty)
      if (tk.length >= 3) tk.sliding(3).map(_.mkString(" ")).toSet
      else Set.empty
    }
    val hot = base.iterator.flatMap(d => shingles(d._2)).toSeq
      .groupBy(identity).collect { case (sh, xs) if xs.size > operators.Dedup.DfCap => sh }.toSet
    def capped(t: String) = shingles(t) -- hot
    val residents = scala.collection.mutable.Map(
      base.map { case (id, t) => id -> capped(t) }: _*)
    def refVerdicts(trigger: Seq[(Long, String)]): Map[Long, Option[(Long, Double)]] = {
      val out = trigger.map { case (id, t) =>
        val bs = capped(t)
        val hits = residents.iterator.map { case (oid, os) =>
          val c = (bs & os).size
          val j = if (bs.isEmpty || os.isEmpty) 0.0
                  else c.toDouble / (bs.size + os.size - c)
          (oid, j)
        }.filter(_._2 >= thr).toSeq
        id -> hits.sortBy(_._1).headOption
      }.toMap
      trigger.foreach { case (id, t) =>
        if (out(id).isEmpty) residents(id) = capped(t)
      }
      out
    }

    TestSpark.withTmpDir("admit-stream") { tmp =>
      val basePath = s"$tmp/base"; val delta = s"$tmp/delta"
      val verd = s"$tmp/verdicts"; val log = s"$tmp/log"; val ckpt = s"$tmp/ckpt"
      sources.DupIndex.writeFrom(spark, base.toDF("doc_id", "text"), basePath)
      val mem = MemoryStream[(Long, String)]
      def start() = streaming.AdmitStream.admitSink(
        mem.toDF().toDF("doc_id", "text"), basePath, delta, verd, log, ckpt)
      val q1 = start()
      mem.addData(t1docs); q1.processAllAvailable()
      val ref1 = refVerdicts(t1docs)
      mem.addData(t2docs); q1.processAllAvailable(); q1.stop()
      val ref2 = refVerdicts(t2docs)
      def checkBatch(batchId: Long, ref: Map[Long, Option[(Long, Double)]]): Unit = {
        val got = spark.read.parquet(verd).filter(col("batch") === batchId)
          .select("doc_id", "verdict", "partner_id", "jaccard").collect()
        assert(got.length == ref.size, s"batch $batchId: ${got.length} vs ${ref.size} rows")
        got.foreach { r =>
          val id = r.getLong(0)
          (ref(id), r.getString(1)) match {
            case (Some((p, j)), v) =>
              assert(v == "dup_of_corpus" && r.getLong(2) == p,
                s"doc $id: got $v/${r.get(2)}, want dup_of_corpus/$p")
              assert(math.abs(r.getDouble(3) - j) < 1e-6,
                s"doc $id jaccard ${r.getDouble(3)} vs $j")
            case (None, v) =>
              assert(v == "novel", s"doc $id: false dup ${r.get(2)}")
          }
        }
      }
      checkBatch(0L, ref1); checkBatch(1L, ref2)
      // the planted twins are non-vacuous: base twin flagged, and the
      // trigger-2 twin's partner IS the trigger-1 synthetic
      assert(ref1(80001L).isDefined, "base twin not flagged by the reference")
      assert(ref2(80002L).exists(_._1 == 80005L),
        s"cross-trigger twin partner: ${ref2(80002L)}")
      // only novel docs' postings entered the delta
      val novelIds = (ref1 ++ ref2).collect { case (id, None) => id }.toSet
      val deltaIds = spark.read.parquet(delta).select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(deltaIds.subsetOf(novelIds),
        s"dup docs leaked into the delta: ${deltaIds -- novelIds}")
      // decision log: one row per trigger with the right admission counts
      val l0 = spark.read.parquet(log).filter(col("batch") === 0L).collect()(0)
      assert(l0.getAs[Long]("n_docs") == t1docs.size &&
        l0.getAs[Long]("n_novel") == ref1.count(_._2.isEmpty) &&
        !l0.getAs[Boolean]("rebuild"), s"batch-0 log row: $l0")
      // crash window: offsets say batch 1 ran, commits do not — the
      // restart re-runs it; excludeBatch makes the re-probe identical
      val vBefore = spark.read.parquet(verd).collect().map(_.toString).sorted
      val dBefore = spark.read.parquet(delta).collect().map(_.toString).sorted
      dropLatestCommit(ckpt)
      val q2 = start(); q2.processAllAvailable()
      assert(spark.read.parquet(verd).collect().map(_.toString).sorted
        .sameElements(vBefore), "replayed trigger changed the verdicts")
      assert(spark.read.parquet(delta).collect().map(_.toString).sorted
        .sameElements(dBefore), "replayed trigger changed the delta")
      // the stream's second life still dedups against pre-crash
      // admissions: trigger 3's twin of the trigger-2 synthetic
      mem.addData(t3docs); q2.processAllAvailable(); q2.stop()
      val ref3 = refVerdicts(t3docs)
      checkBatch(2L, ref3)
      assert(ref3(80003L).exists(_._1 == 80006L),
        s"post-restart cross-trigger partner: ${ref3(80003L)}")
    }
  }
}
