package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The triad maintenance driver (SURVEY §2.H): decision logs in, due
  * compactions/rebuilds out, new roots provably equal to from-scratch
  * rebuilds over the union corpus.
  */
class MaintenanceSpec extends AnyFunSuite {
  import TestSpark.{spark, sf, withTmpDir}
  import spark.implicits._

  test("ann maintenance: quarantine trip in the log -> refit rebuild equal to from-scratch; quiet deep delta -> compact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withTmpDir("maint-ann") { root =>
      val base = s"$root/base"; val delta = s"$root/delta"
      val quar = s"$root/quar"; val dlog = s"$root/log"
      val cents = sources.AnnIndex.write(spark, sf, base)
      val all = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val twins = all.take(30).map { case (i, v) => (i + 200000L, v) }
      val shifted = all.slice(30, 60).map { case (i, v) => (i + 300000L, v.map(x => x + 5.0f)) }
      // nothing ingested yet: the sweep is a no-op on every index
      val dupB = s"$root/dupbase"
      sources.DupIndex.writeFrom(spark,
        Seq((1L, "a b c d e f")).toDF("doc_id", "text"), dupB)
      val lexB = s"$root/lexbase"
      sources.LexIndex.writeFrom(spark,
        Seq((1L, "a b c d e f")).toDF("doc_id", "text"), lexB)
      val quiet = sources.Maintenance.sweep(spark,
        sources.Maintenance.Roots(base, delta, quar, dlog, s"$root/o1"),
        sources.Maintenance.Roots(dupB, s"$root/dupdelta", "", s"$root/duplog", s"$root/o2"),
        sources.Maintenance.Roots(lexB, s"$root/lexdelta", "", s"$root/lexlog", s"$root/o3"),
        Seq((1L, "a b c d e f")).toDF("doc_id", "text"))
      assert(quiet.forall(_.action == "noop"), s"quiet sweep acted: $quiet")

      // ingest: batch 0 same-geometry (delta), batch 1 drifted
      // (quarantined, refit=true logged)
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = streaming.IngestStream.ingestSink(
        mem.toDF().toDF("vec_id", "embedding"), base, delta, quar, dlog, cents,
        s"$root/ckpt")
      mem.addData(twins.toSeq)
      q.processAllAvailable()
      mem.addData(shifted.toSeq)
      q.processAllAvailable()
      q.stop()

      val out = s"$root/rebuilt"
      val (v, newCents) = sources.Maintenance.maintainAnn(spark, base, delta, quar, dlog, out)
      assert(v.action == "rebuild" && v.trips == 1L, s"gate trip not acted on: $v")
      // the rebuilt root holds base + delta + quarantine rows
      val ids = spark.read.parquet(out).select("vec_id").as[Long].collect().toSet
      assert(shifted.forall { case (i, _) => ids(i) }, "quarantined rows missing from rebuild")
      assert(twins.forall { case (i, _) => ids(i) }, "delta rows missing from rebuild")
      assert(all.forall { case (i, _) => ids(i) }, "base rows missing from rebuild")
      // probes equal a from-scratch rebuild over the union corpus
      val ref = s"$root/ref"
      val refCents = sources.AnnIndex.writeFrom(spark,
        sources.Maintenance.annCorpus(spark, base, delta, quar), ref)
      val queries = (all.take(10) ++ shifted.take(10)).map { case (i, v) => (i, v.toArray) }
      val got = sources.AnnIndex.probe(spark, out, newCents.get, queries, nprobe = 4, k = 5)
      val want = sources.AnnIndex.probe(spark, ref, refCents, queries, nprobe = 4, k = 5)
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        "maintenance rebuild probes differ from a from-scratch rebuild")
      // and the drifted family is now first-class: a drifted query's
      // nearest neighbors are its own batch-mates, not forced matches
      // against the old geometry
      val driftedHits = got.filter(col("query_id") >= 300000L)
        .filter(col("rank") === 1)
      assert(driftedHits.count() == 10 &&
        driftedHits.filter(col("neighbor_id") < 300000L).count() < 10,
        "rebuilt index still quantizes the drifted family away")

      // quiet index, deep delta: 8 appended batches with no trip -> fold
      val base2 = s"$root/base2"; val delta2 = s"$root/delta2"
      val cents2 = sources.AnnIndex.write(spark, sf, base2)
      (0 until 8).foreach { b =>
        sources.AnnIndex.appendDelta(spark, delta2, cents2,
          twins.take(5).map { case (i, vv) => (i + 1000L * b, vv) }.toSeq
            .toDF("vec_id", "embedding"), b.toLong)
      }
      val out2 = s"$root/folded"
      val (v2, none2) = sources.Maintenance.maintainAnn(
        spark, base2, delta2, s"$root/noquar", s"$root/nolog", out2)
      assert(v2.action == "compact" && v2.deltaBatches == 8L && none2.isEmpty, s"$v2")
      val gotF = sources.AnnIndex.probe(spark, out2, cents2, queries.take(10), 4, 5)
      val wantF = sources.AnnIndex.probeWithDelta(spark, base2, delta2, cents2,
        queries.take(10), 4, 5)
      assert(gotF.exceptAll(wantF).count() == 0 && wantF.exceptAll(gotF).count() == 0,
        "delta fold changed probe results")
    }
  }

  test("ann drift: tripped gate routes to refit and drifted-query serving recall recovers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withTmpDir("maint-drift") { root =>
      // fitted geometry: GenData's clustered family (the drift
      // scenario's chunk generator, the harness's exact executor path)
      val base = s"$root/base"
      val cents = sources.AnnIndex.writeFrom(spark,
        GenData.vectors(spark, 4000, 0L, 0.3), base)
      // new-DOMAIN drift: strongly clustered around a DIFFERENT
      // centroid family (new embedding model) — the class the refit
      // gate exists for
      val drifted = GenData.vectors(spark, 800, 5000000L, 0.45,
        centSeed = 5000L).localCheckpoint(false)
      val rows = drifted.collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1)))
      val (deltaP, quarP, logP) = (s"$root/delta", s"$root/quar", s"$root/log")
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = streaming.IngestStream.ingestSink(
        mem.toDF().toDF("vec_id", "embedding"), base, deltaP, quarP, logP,
        cents, s"$root/ckpt")
      mem.addData(rows.toSeq)
      q.processAllAvailable()
      q.stop()
      // the gate tripped and PARKED the batch (nothing landed in delta)
      val log = spark.read.parquet(logP).collect()
      assert(log.length == 1 && log(0).getAs[Boolean]("refit"),
        s"new-domain batch did not trip the gate: ${log.toSeq}")
      assert(spark.read.parquet(quarP).count() == 800L)
      assert(!new java.io.File(deltaP).exists() ||
        spark.read.parquet(deltaP).count() == 0L)

      // serving recall for the drifted queries under the OLD root
      // (quarantine is not probeable — the drifted domain is simply
      // quantized against alien cells), then under the refit root
      val queries = rows.take(32).map { case (i, v) => i -> v.toArray }
      val pre = sources.AnnIndex.recallStats(spark, base, Some(deltaP), cents,
        queries, nprobe = 2, k = 10)._3
      val out = s"$root/rebuilt"
      val (v, newCents) = sources.Maintenance.maintainAnn(
        spark, base, deltaP, quarP, logP, out)
      assert(v.action == "rebuild" && v.trips == 1L, s"$v")
      val post = sources.AnnIndex.recallStats(spark, out, None, newCents.get,
        queries, nprobe = 2, k = 10)._3
      // post-refit the drifted domain is first-class: its queries'
      // true neighbors (their own tight cluster) live in the probed
      // cells. pre-refit those same queries rank residents through
      // cells fitted to another geometry entirely.
      assert(post > pre, f"refit did not improve drifted recall: $pre%.3f -> $post%.3f")
      assert(post >= 0.8, f"post-refit drifted recall too low: $post%.3f")

      // the SAMPLED-RECALL GATE (the r11 complement to the MSE
      // refit gate — mass drift erodes recall before geometry error
      // trips): integer-ppm recall over the same probes, with strict
      // less-than trip semantics pinned at the boundary
      val preG = sources.AnnIndex.recallGate(spark, base, Some(deltaP),
        cents, queries, nprobe = 2, k = 10).collect()(0)
      val postG = sources.AnnIndex.recallGate(spark, out, None,
        newCents.get, queries, nprobe = 2, k = 10).collect()(0)
      assert(postG.getAs[Long]("recall_ppm") > preG.getAs[Long]("recall_ppm"),
        s"refit did not lift the gate's measured recall: $preG -> $postG")
      assert(postG.getAs[Long]("recall_ppm") >= 800000L &&
        !postG.getAs[Boolean]("refit"),
        s"refit root still below the recall floor: $postG")
      val pp = preG.getAs[Long]("recall_ppm")
      def tripAt(floor: Long): Boolean = sources.AnnIndex.recallGate(spark,
          base, Some(deltaP), cents, queries, 2, 10, floorPpm = floor)
        .collect()(0).getAs[Boolean]("refit")
      assert(!tripAt(pp), "gate tripped at floor == measured ppm (must be strict <)")
      assert(tripAt(pp + 1), "gate silent at floor just above measured ppm")
    }
  }

  test("ann mass drift: sampled recall gate trips while the MSE gate stays quiet; rebuild restores serving recall") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withTmpDir("maint-mass") { root =>
      // fitted geometry: the clustered family at full mass,
      // production-sized cells (125 residents/cell -> 32 cells;
      // serving point nprobe=2, the same ~6% cell fraction the x100
      // harness probes)
      val base = s"$root/base"
      val cents = sources.AnnIndex.writeFrom(spark,
        GenData.vectors(spark, 4000, 0L, 0.3), base, cellSize = Some(125))
      // the GATE-BLIND drift class (the r11 finding, SURVEY §4.2):
      // traffic mass moves to NEW modes at modest amplitude (w=0.14,
      // dispersion 0.18 vs the base family's 0.30/0.25). These
      // vectors quantize FINE against the frozen cells — measured
      // batch/resident MSE ratio 1.83x, under the gate's 2x — so the
      // MSE gate admits them; but the frozen quantizer places them by
      // their noise component, scattering each new mode across cells,
      // and the recall the tier serves that traffic erodes to ~0.47.
      // (Truly UNCLUSTERED mass drift — w=0 — is measured too: it
      // either trips the MSE gate at ratio 2.07 or, at small nprobe,
      // is unrestorable by ANY quantizer; the restorable gate-blind
      // class is structure moving below the MSE threshold.)
      val mass = GenData.vectors(spark, 800, 5000000L, 0.14,
        centSeed = 2000L, noiseW = 0.18).localCheckpoint(false)
      val rows = mass.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val (deltaP, quarP, logP) = (s"$root/delta", s"$root/quar", s"$root/log")
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = streaming.IngestStream.ingestSink(
        mem.toDF().toDF("vec_id", "embedding"), base, deltaP, quarP, logP,
        cents, s"$root/ckpt", recallEvery = 1, recallNprobe = 2, recallK = 10)
      mem.addData(rows.toSeq)
      q.processAllAvailable()
      q.stop()

      // the MSE gate stayed QUIET (batch admitted to the delta, not
      // parked) while the sampled recall gate TRIPPED in the log —
      // exactly the drift class the r11 measurement showed the MSE
      // gate alone cannot see
      val log = spark.read.parquet(logP).collect()
      assert(log.length == 1, s"expected one log row: ${log.toSeq}")
      val row = log(0)
      info(s"mass-drift log row: refit=${row.getAs[Boolean]("refit")} " +
        s"recall_ppm=${row.getAs[Long]("recall_ppm")} " +
        s"recall_refit=${row.getAs[Boolean]("recall_refit")}")
      assert(!row.getAs[Boolean]("refit"),
        s"MSE gate tripped on mass drift — the batch quantizes fine: ${row}")
      assert(spark.read.parquet(deltaP).count() == 800L,
        "mass-drift batch was not admitted to the delta")
      assert(!new java.io.File(quarP).exists() ||
        spark.read.parquet(quarP).count() == 0L)
      assert(row.getAs[Boolean]("recall_refit") &&
        row.getAs[Long]("recall_ppm") < sources.AnnIndex.RecallFloorPpm,
        s"sampled recall gate did not trip on mass drift: ${row}")

      // maintenance reads the recall trip like any MSE trip and
      // routes the REBUILD (refit over base + delta under the same
      // cell-size policy; quarantine is empty — the vectors
      // themselves were admissible)
      val out = s"$root/rebuilt"
      val (v, newCents) = sources.Maintenance.maintainAnn(
        spark, base, deltaP, quarP, logP, out, cellSize = Some(125))
      assert(v.action == "rebuild" && v.trips == 1L, s"$v")
      assert(newCents.isDefined)

      // the refit quantizer gives the drifted modes their own cells:
      // the SAME sampled queries' serving recall recovers at the
      // SAME serving nprobe
      val queries = rows.sortBy(_._1).take(streaming.IngestStream.RecallSample)
        .map { case (i, v0) => i -> v0.toArray }
      val pre = sources.AnnIndex.recallStats(spark, base, Some(deltaP), cents,
        queries, nprobe = 2, k = 10)._3
      val post = sources.AnnIndex.recallStats(spark, out, None, newCents.get,
        queries, nprobe = 2, k = 10)._3
      info(f"mass-drift serving recall: pre=$pre%.3f post=$post%.3f")
      assert(pre < 0.6, f"pre-rebuild recall $pre%.3f not below the floor the gate saw")
      assert(post >= 0.9, f"rebuild did not restore serving recall: $pre%.3f -> $post%.3f")
    }
  }

  test("dup maintenance: admission log's hot-template trip -> compaction equal to a from-scratch rebuild over the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withTmpDir("maint-dup") { root =>
      def mk(id: Long) =
        (id, s"tpl aa bb cc u${id}x u${id}y u${id}z w${id}a w${id}b")
      // template at df 990 in base (under the 1000 cap); a 60-doc
      // trigger pushes the union df over -> the trigger's scoped hot
      // gate logs rebuild=true
      val baseDocs = (0L until 990L).map(mk)
      val trig = (5000L until 5060L).map(mk)
      val base = s"$root/base"; val delta = s"$root/delta"
      val verd = s"$root/verd"; val dlog = s"$root/log"
      sources.DupIndex.writeFrom(spark, baseDocs.toDF("doc_id", "text"), base)
      val mem = MemoryStream[(Long, String)]
      val q = streaming.AdmitStream.admitSink(
        mem.toDF().toDF("doc_id", "text"), base, delta, verd, dlog, s"$root/ckpt")
      mem.addData(trig)
      q.processAllAvailable()
      q.stop()
      val logRow = spark.read.parquet(dlog).collect()(0)
      assert(logRow.getAs[Boolean]("rebuild"), s"admission gate did not trip: $logRow")

      val out = s"$root/compacted"
      val v = sources.Maintenance.maintainDup(spark, base, delta, dlog, out)
      assert(v.action == "rebuild" && v.trips == 1L, s"$v")
      // from-scratch rebuild over base docs + the ADMITTED trigger docs
      val admitted = spark.read.parquet(verd).filter(col("verdict") === "novel")
        .select("doc_id").as[Long].collect().toSet
      val union = (baseDocs ++ trig.filter(t => admitted(t._1))).toDF("doc_id", "text")
      val ref = s"$root/ref"
      sources.DupIndex.writeFrom(spark, union, ref)
      def postRows(d: String) =
        spark.read.parquet(s"$d/post").select("sb", "s", "doc_id", "n")
      def hotRows(d: String) = spark.read.parquet(s"$d/hot").select("sb", "s")
      assert(postRows(out).exceptAll(postRows(ref)).isEmpty &&
        postRows(ref).exceptAll(postRows(out)).isEmpty,
        "maintained postings differ from a from-scratch rebuild")
      assert(hotRows(out).exceptAll(hotRows(ref)).isEmpty &&
        hotRows(ref).exceptAll(hotRows(out)).isEmpty,
        "maintained hot list differs from a from-scratch rebuild")
      // the template is hot in the new root: future probes never
      // match-multiply on it
      assert(spark.read.parquet(s"$out/hot").filter(col("s") === "tpl aa bb").count() == 1)
    }
  }

  test("dup admit-sensitivity gate: accumulated template flips sampled admissions; maintenance trips on the flag alone") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withTmpDir("maint-admit") { root =>
      // base: 990 template-HEAVY docs (10-token template + 1 unique
      // token -> 9 shingles, 8 of them pure-template). Template df
      // 990 <= cap, so the postings exist and the hot list is empty.
      val tpl = (0 until 10).map(i => s"tp$i").mkString(" ")
      def heavy(id: Long) = (id, s"$tpl u${id}q")
      // carrier: template + 8 unique tokens -> 16 shingles, 8 shared
      // with any heavy resident: J = 8/(9+16-8) = 0.47 < 0.6 -> NOVEL
      // (admitted), and each admission appends 8 template postings
      def carrier(id: Long) =
        (id, s"$tpl " + (0 until 8).map(j => s"u${id}x$j").mkString(" "))
      val base = s"$root/base"; val delta = s"$root/delta"
      val verd = s"$root/verd"; val dlog = s"$root/log"
      sources.DupIndex.writeFrom(spark,
        (0L until 990L).map(heavy).toDF("doc_id", "text"), base)
      val mem = MemoryStream[(Long, String)]
      val q = streaming.AdmitStream.admitSink(
        mem.toDF().toDF("doc_id", "text"), base, delta, verd, dlog,
        s"$root/ckpt", admitEvery = 1)
      // trigger 0: 15 carriers -> union template df 990+15 > cap: the
      // MASS gate trips, but no sampled verdict DEPENDS on the
      // template yet (carriers are novel with or without it)
      mem.addData((5000L until 5015L).map(carrier))
      q.processAllAvailable()
      // trigger 1: 10 template-heavy probes — dup_of_corpus THROUGH
      // the template (J = 8/(9+9-8) = 0.8 vs heavy residents), novel
      // without it (their one non-template shingle is unique): every
      // sampled verdict flips
      mem.addData((8000L until 8010L).map(heavy))
      q.processAllAvailable()
      q.stop()
      val rows = spark.read.parquet(dlog).collect()
        .map(r => r.getAs[Long]("batch") -> r).toMap
      assert(rows(0L).getAs[Boolean]("rebuild"),
        s"mass gate did not trip on the carrier batch: ${rows(0L)}")
      assert(rows(0L).getAs[Long]("admit_flips") == 0L &&
        !rows(0L).getAs[Boolean]("admit_refit"),
        s"benign template mass flipped carrier admissions: ${rows(0L)}")
      assert(rows(1L).getAs[Long]("admit_sampled") == 10L &&
        rows(1L).getAs[Long]("admit_flips") == 10L &&
        rows(1L).getAs[Boolean]("admit_refit"),
        s"template-dependent verdicts did not flip under the counterfactual: ${rows(1L)}")

      // maintenance trips on the admit flag ALONE (a log whose mass
      // flag never fired — the wiring, not the physics): one synthetic
      // row, rebuild=false / admit_refit=true -> the dup reconcile runs
      import spark.implicits._
      val dlog2 = s"$root/log2"
      Seq((0L, false, true)).toDF("batch", "rebuild", "admit_refit")
        .write.parquet(dlog2)
      val v2 = sources.Maintenance.maintainDup(spark, base, delta, dlog2,
        s"$root/out2")
      assert(v2.action == "rebuild" && v2.trips == 1L,
        s"admit_refit alone did not trip dup maintenance: $v2")
    }
  }

  test("lex maintenance: parked drift batch -> rebuild over the grown corpus equal to from-scratch; probes serve the new vocabulary") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withTmpDir("maint-lex") { root =>
      val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      val baseDocs = docs.filter(col("doc_id") < 20 || col("doc_id") % 2 === 0)
        .localCheckpoint(false)
      val t1 = docs.filter(col("doc_id") >= 20 && col("doc_id") % 4 === 1)
        .as[(Long, String)].collect().toSeq
      val drift = (0 until 30).map(i =>
        (900000L + i, (1 to 40).map(j => s"zz${i % 7}w$j").mkString(" ")))
      val base = s"$root/base"; val delta = s"$root/delta"
      val quar = s"$root/quar"; val dlog = s"$root/log"
      val st0 = sources.LexIndex.writeFrom(spark, baseDocs, base)
      val mem = MemoryStream[(Long, String)]
      val q = streaming.LexIngestStream.ingestSink(
        mem.toDF().toDF("doc_id", "text"), base, delta, quar, dlog, st0, s"$root/ckpt")
      mem.addData(t1)     // same-domain: admitted to the delta
      q.processAllAvailable()
      mem.addData(drift)  // novel vocabulary: parked, rebuild=true
      q.processAllAvailable()
      q.stop()
      assert(spark.read.parquet(dlog).filter(col("rebuild")).count() == 1L,
        "drift trigger did not trip the coverage gate")

      // the grown corpus: residents + admitted + parked (the caller
      // owns the documents; the index holds only capped postings)
      val corpus = baseDocs
        .unionByName(t1.toDF("doc_id", "text"))
        .unionByName(drift.toDF("doc_id", "text"))
        .localCheckpoint(false)
      val out = s"$root/rebuilt"
      val (v, newStats) = sources.Maintenance.maintainLex(spark, base, delta, dlog, corpus, out)
      assert(v.action == "rebuild" && v.trips == 1L, s"$v")
      val ref = s"$root/ref"
      val refStats = sources.LexIndex.writeFrom(spark, corpus, ref)
      assert(newStats.get == refStats, "rebuilt stats differ from from-scratch")
      def posts(p: String) = spark.read.parquet(p).select("tok", "doc_id", "dl", "tf", "df")
      assert(posts(out).exceptAll(posts(ref)).isEmpty &&
        posts(ref).exceptAll(posts(out)).isEmpty,
        "maintained postings differ from a from-scratch rebuild")
      // the parked family's vocabulary now serves: a drift-token query
      // retrieves drift docs
      val qtok = Seq((999999L, "zz0w1"), (999999L, "zz0w2")).toDF("query_id", "tok")
      val got = sources.LexIndex.probe(spark, out, newStats.get, qtok, 5)
      assert(got.count() > 0 &&
        got.filter(col("doc_id") < 900000L).count() == 0,
        "rebuilt lexical index does not serve the parked vocabulary")
    }
  }
}
