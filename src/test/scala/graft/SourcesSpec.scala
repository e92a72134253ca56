package graft

import graft.sources.{AnnIndex, Sources}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.H: csv + json round-trips preserve values under an
  * explicit schema, and partitioned parquet writes produce scans
  * that partition-prune.
  */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(s"graft-$name").toString

  test("csv round-trip preserves nation rows exactly") {
    val nation = Tables(spark, sf, "nation")
    val dir = tmp("csv")
    Sources.writeCsv(nation, dir)
    val back = Sources.readCsv(spark, dir, nation.schema)
    assert(back.schema == nation.schema)
    assert(back.exceptAll(nation).isEmpty && nation.exceptAll(back).isEmpty)
  }

  test("json-lines round-trip preserves order rows exactly") {
    val orders = Tables(spark, sf, "orders").limit(500)
    val dir = tmp("json")
    Sources.writeJsonLines(orders, dir)
    val back = Sources.readJsonLines(spark, dir, orders.schema)
    assert(back.count() == 500)
    assert(back.exceptAll(orders).isEmpty)
  }

  test("orc round-trip preserves lineitem rows and pushes filters to the scan") {
    val li = Tables(spark, sf, "lineitem").limit(1000)
    val dir = tmp("orc")
    Sources.writeOrc(li, dir)
    val back = Sources.readOrc(spark, dir)
    assert(back.count() == 1000)
    assert(back.exceptAll(li).isEmpty)
    val filtered = Sources.readOrc(spark, dir).filter(col("l_quantity") > 25.0)
    val scan = filtered.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_quantity"),
      s"filter not pushed to ORC scan: $scan")
  }

  test("bench-scale (sf0.1) orc round-trip: exact values, pushdown + pruning at volume") {
    // the format surface's perf datapoint: full sf0.1 lineitem through
    // ORC, with the q06-style filter pushed to the scan and the
    // projection pruned — the shapes that matter at 100 TB, asserted
    // at the largest local SF instead of the 0.001 smoke corpus
    val dir01 = "/root/testdata/sf0.1"
    val li = Tables(spark, dir01, "lineitem")
    val dir = tmp("orc01")
    val t0 = System.nanoTime()
    Sources.writeOrc(li, dir)
    val back = Sources.readOrc(spark, dir)
    val nRows = back.count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(nRows == li.count())
    val probe = back
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.07)
      .select(sum(operators.ops.cents(col("l_extendedprice"))).as("cents"),
        count(lit(1)).as("n"))
    val scan = probe.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_discount"),
      s"filter not pushed to sf0.1 ORC scan: $scan")
    // projection pruning: the scan must not read all 16 columns
    assert(scan.contains("l_extendedprice") && !scan.contains("l_comment"),
      s"projection not pruned on sf0.1 ORC scan: $scan")
    // exact parity with the same aggregate over the parquet original
    val viaOrc = probe.collect()(0)
    val viaParquet = li
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.07)
      .select(sum(operators.ops.cents(col("l_extendedprice"))).as("cents"),
        count(lit(1)).as("n")).collect()(0)
    assert(viaOrc == viaParquet)
    info(f"sf0.1 ORC write+count: $nRows rows in $secs%.1f s")
  }

  test("partitioned parquet write prunes partitions on read") {
    val ev = Tables(spark, sf, "events")
    val dir = tmp("part")
    Sources.writePartitioned(ev, dir, "event_type")
    val pruned = Sources.readParquet(spark, dir).filter(col("event_type") === "purchase")
    // the partition filter must reach the scan, not a post-scan Filter
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("event_type"))
    val expected = ev.filter(col("event_type") === "purchase").count()
    assert(pruned.count() == expected)
  }

  test("persisted ANN index: disk probe equals q52 exactly and prunes to the probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx").toString
    val cents = AnnIndex.write(spark, sf, dir)
    // layout: one hive directory per OCCUPIED cell (an empty Lloyd
    // cell keeps its centroid but writes no residents)
    val cellDirs = new java.io.File(dir).listFiles().count(_.getName.startsWith("cid="))
    val occupied = Sources.readParquet(spark, dir).select("cid").distinct().count()
    assert(cellDirs.toLong == occupied && cellDirs > 1 && cellDirs <= cents.length,
      s"$cellDirs cell directories, $occupied occupied cells, ${cents.length} centroids")
    val queries = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 20).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val fromDisk = AnnIndex.probe(spark, dir, cents, queries, nprobe = 4, k = 5)
    // the scan must carry a cid PARTITION filter (the probe reads only
    // probed directories — the pruning that makes this an index)...
    val scan = fromDisk.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("parquet")).get
    assert(scan.contains("PartitionFilters") && scan.contains("cid"),
      "probe scan lost its cid partition filter")
    // ...and the probed result is ROW-FOR-ROW the in-memory q52
    val q52 = operators.Similarity.q52(spark, sf)
    assert(fromDisk.exceptAll(q52).count() == 0 && q52.exceptAll(fromDisk).count() == 0,
      "disk probe diverges from the in-memory operator")

    // FILTERED probe: neighbors restricted to a metadata predicate.
    // Pre-scoring filter semantics: equals brute-force filtered top-k
    // restricted to the SAME probed cells (the recall trade is the
    // cell probe, never the filter)
    val meta = Tables(spark, sf, "embeddings").select("vec_id", "label")
    val filtered = AnnIndex.probeWhere(spark, dir, cents, queries,
      nprobe = 4, k = 5, meta, col("label") === 1)
    assert(filtered.count() > 0)
    val labels = filtered.join(meta, filtered("neighbor_id") === meta("vec_id"))
      .filter(col("label") =!= 1)
    assert(labels.count() == 0, "filtered probe returned a non-matching neighbor")
    // every returned neighbor list is the exact filtered ranking of
    // the unfiltered candidate set: rebuild from the unfiltered probe
    // at large k and compare prefixes
    val wide = AnnIndex.probe(spark, dir, cents, queries, nprobe = 4, k = 500)
    val keep = meta.filter(col("label") === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val want = wide.collect().groupBy(_.getLong(0)).view.mapValues(
      _.sortBy(_.getInt(2)).map(_.getLong(1)).filter(keep).take(5).toSeq).toMap
    val got = filtered.collect().groupBy(_.getLong(0)).view.mapValues(
      _.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq).toMap
    assert(got == want.filter(_._2.nonEmpty), "filtered probe is not the filtered ranking")
  }

  test("ANN index incremental append: frozen placement, immediate visibility, drift-gated refit") {
    val dir = tmp("annappend")
    val cents = AnnIndex.write(spark, sf, dir)
    val base = Tables(spark, sf, "embeddings")
    val n0 = spark.read.parquet(dir).count()
    // batch = planted twins: 50 resident vectors re-keyed to new ids
    val batch = base.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    AnnIndex.append(spark, dir, cents, batch)
    val idx = spark.read.parquet(dir)
    assert(idx.count() == n0 + 50, "append changed the resident rows")
    // placement: appended rows sit EXACTLY where the frozen quantizer
    // assigns them (no refit happened)
    val placed = idx.filter(col("vec_id") >= 100000L).select("vec_id", "cid")
    val want = operators.Similarity.assignCells(spark, batch, cents).select("vec_id", "cid")
    assert(placed.exceptAll(want).count() == 0 && want.exceptAll(placed).count() == 0,
      "appended rows landed in cells the frozen quantizer does not assign")
    // visibility: probing an original query now finds its exact twin
    // (cosine r6 = 1.0) without any index rebuild — and the twin
    // shares the query's cell by construction, so nprobe=1 suffices
    val queries = base.filter(col("vec_id") < 20).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val probe = AnnIndex.probe(spark, dir, cents, queries, nprobe = 4, k = 5)
      .localCheckpoint(false)
    val twins = probe.filter(col("neighbor_id") === col("query_id") + 100000L)
    assert(twins.count() == queries.length, "a planted twin is missing from its query's top-5")
    assert(twins.filter(col("cosine") =!= 1.0).count() == 0, "twin cosine is not 1.0")
    // pruning survives the append (still a directory-partitioned
    // scan) — read the plan off an UNcheckpointed probe: the
    // checkpoint above replaced `probe`'s leaves with its RDD scan
    val scan = AnnIndex.probe(spark, dir, cents, queries, nprobe = 4, k = 5)
      .queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("parquet")).get
    assert(scan.contains("PartitionFilters") && scan.contains("cid"),
      "append broke the cid partition pruning")
    // refit gate: a same-geometry batch appends...
    val same = AnnIndex.refitGate(spark, dir, cents, batch).collect()(0)
    assert(!same.getAs[Boolean]("refit"),
      s"same-distribution batch tripped the refit gate: $same")
    // ...a drifted batch (shifted off the quantizer's region) rebuilds
    val shifted = batch.withColumn("embedding",
      expr("transform(embedding, x -> CAST(x + 5.0 AS FLOAT))"))
    val drifted = AnnIndex.refitGate(spark, dir, cents, shifted).collect()(0)
    assert(drifted.getAs[Boolean]("refit"), s"drifted batch passed the gate: $drifted")
    assert(drifted.getAs[Double]("batch_mse") > drifted.getAs[Double]("index_mse"))
  }

  /** Write a lexical index over `dir`'s documents under `path` and
    * probe it with q160's query contract: distinct (query_id, tok)
    * pairs of the docs with doc_id < 20 (the doc_id ≡ vec_id QueryMax
    * rule). Asserts the probe equals the in-memory lexical branch
    * row-for-row and that the root holds postings only. */
  private def lexProbeEqualsInMemory(dir: String, path: String) = {
    val stats = sources.LexIndex.write(spark, dir, path)
    // skip the local filesystem's hidden .crc checksum files
    val entries = new java.io.File(path).list().toSeq.filterNot(_.startsWith("."))
    assert(entries.exists(_.startsWith("tb=")) &&
      entries.forall(e => e.matches("tb=\\d+") || e == "_SUCCESS"),
      s"lexical index root holds more than tb=* postings and _SUCCESS: ${entries.sorted}")
    val qtok = Tables(spark, dir, "documents").filter(col("doc_id") < 20)
      .select(col("doc_id").as("query_id"),
        explode(expr(operators.Dedup.tokensExpr)).as("tok")).distinct()
    val got = sources.LexIndex.probe(spark, path, stats, qtok, 10)
      .localCheckpoint(false)
    val want = operators.Similarity.lexRank(spark, dir)
    assert(got.count() > 0, s"probe over $dir returned nothing: vacuous")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      s"persisted-index probe over $dir diverges from the in-memory lexical branch")
    (stats, qtok, got)
  }

  test("persisted lexical index: bucket-pruned probe equals the in-memory BM25 branch row-for-row") {
    TestSpark.withTmpDir("lexindex") { root =>
      // a natural (zipf) vocabulary: real stopwords df-capped out, a
      // mid-frequency body and a long rare tail — the driver corpus's
      // tiny vocabulary has almost none of that structure
      val zipf = s"$root/zipf"
      GenData.generate(spark, zipf, 3000, 100, vocabMode = "zipf")
      lexProbeEqualsInMemory(zipf, s"$root/zipflex")
      val path = s"$root/lex"
      val (stats, qtok, got) = lexProbeEqualsInMemory(sf, path)
      // the probe's posting scan prunes on the tb bucket directories
      // (read off a FRESH probe — the checkpoint above swallowed the
      // plan leaves)
      val scan = sources.LexIndex.probe(spark, path, stats, qtok, 10)
        .queryExecution.executedPlan.collectLeaves()
        .map(_.toString).find(_.contains("parquet")).get
      assert(scan.contains("PartitionFilters") && scan.contains("tb"),
        s"posting scan is not bucket-pruned: $scan")
      // a backfill-sized query batch (> ProbeTokMax distinct tokens)
      // must NOT inline a driver-collected token list into the plan
      // (the r8 ADVICE fix) — and must return the same rows: the
      // junk tokens have no postings, and the token restriction
      // happens in the scoring join either way
      import spark.implicits._
      val junk = spark.range(sources.LexIndex.ProbeTokMax + 200L)
        .select(lit(0L).as("query_id"),
          concat(lit("zzqjunk"), col("id")).as("tok"))
      val big = sources.LexIndex.probe(spark, path, stats, qtok.unionByName(junk), 10)
      assert(big.exceptAll(got).count() == 0 && got.exceptAll(big).count() == 0,
        "over-cap probe diverges from the bounded probe on the same real tokens")
      val bigDelta = sources.LexIndex.probeWithDelta(spark, path, s"$root/nodelta",
        stats, qtok.unionByName(junk), 10)
      assert(bigDelta.exceptAll(got).count() == 0 && got.exceptAll(bigDelta).count() == 0,
        "over-cap delta probe diverges from the bounded probe")
      // and the over-cap plan keeps the tb partition filter but does
      // NOT inline the collected token list into the scan
      val bigScan = sources.LexIndex.probe(spark, path, stats, qtok.unionByName(junk), 10)
        .queryExecution.executedPlan.collectLeaves()
        .map(_.toString).find(_.contains("parquet")).get
      assert(bigScan.contains("PartitionFilters") && bigScan.contains("tb"),
        s"over-cap probe lost the bucket pruning: $bigScan")
      assert(!bigScan.contains("zzqjunk"),
        "over-cap probe inlined the driver-collected token list into the plan")
    }
  }

  test("lexical delta: frozen-vocab probe scores the grown corpus exactly; coverage gate trips on drift") {
    TestSpark.withTmpDir("lexdelta") { root =>
      val base = s"$root/base"; val delta = s"$root/delta"
      val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      // base = queries + the tail half; delta batch = the rest
      val baseDocs = docs.filter(col("doc_id") < 20 || col("doc_id") % 2 === 0)
      val deltaDocs = docs.filter(col("doc_id") >= 20 && col("doc_id") % 2 === 1)
      val st0 = sources.LexIndex.writeFrom(spark, baseDocs, base)
      val d1 = sources.LexIndex.appendDelta(spark, delta, deltaDocs, batchId = 0L)
      assert(d1.nDocs == deltaDocs.count(), "delta stats miscounted")
      val stats = sources.LexIndex.LexStats(st0.nDocs + d1.nDocs, st0.sumDl + d1.sumDl)
      val qtok = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("query_id"),
          explode(expr(operators.Dedup.tokensExpr)).as("tok")).distinct()
      val got = sources.LexIndex.probeWithDelta(spark, base, delta, stats, qtok, 10)
      // reference: the SAME scoring tree over an independently-built
      // full-corpus posting frame restricted to the base-kept vocab,
      // with the grown stats and slice-exact dfs — what a probe of
      // the grown corpus under the frozen vocabulary must return
      val tkE = operators.Dedup.tokensExpr
      val post = docs.select(col("doc_id"),
          expr(s"size($tkE)").cast("double").as("dl"), explode(expr(tkE)).as("tok"))
        .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).cast("double").as("tf"))
      val baseVocab = spark.read.parquet(base).select("tok").distinct()
      val covered = post.join(baseVocab, Seq("tok"), "left_semi")
      val dfNow = covered.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
      val want = operators.Similarity.lexRankOf(
        covered.join(dfNow, "tok")
          .join(qtok.select("query_id", "tok"), "tok")
          .filter(col("doc_id") =!= col("query_id"))
          .withColumn("c_u", operators.Similarity.bm25CU(
            lit(stats.nDocs.toDouble), lit(stats.sumDl.toDouble),
            col("df"), col("tf"), col("dl"))), 10)
      assert(got.count() > 0, "delta probe returned nothing: vacuous")
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        "frozen-vocab delta probe diverges from the grown-corpus reference")
      // delta rows actually participate (a doc only in the delta ranks)
      val deltaIds = deltaDocs.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got.collect().exists(r => deltaIds.contains(r.getLong(1))),
        "no delta document ever ranked: the delta path is vacuous")
      // replaying the same batch id leaves the delta identical
      val before = spark.read.parquet(delta).collect().map(_.toString).sorted
      sources.LexIndex.appendDelta(spark, delta, deltaDocs, batchId = 0L)
      val after = spark.read.parquet(delta).collect().map(_.toString).sorted
      assert(after.sameElements(before), "replayed delta batch changed the index")
      // coverage gate (RELATIVE to the index's own coverage — the df
      // cap legitimately drops most occurrences of this corpus's
      // stopword-class vocab): same-domain batch reads ratio ≈ 1 and
      // passes; an all-novel-vocab batch collapses to 0 and trips
      val sameG = sources.LexIndex.coverageGate(spark, base, st0, deltaDocs).collect()(0)
      assert(!sameG.getAs[Boolean]("rebuild"),
        s"same-domain batch tripped the coverage gate: $sameG")
      import spark.implicits._
      val novel = Seq((900000L, (1 to 50).map(i => s"zz$i").mkString(" ")))
        .toDF("doc_id", "text")
      val novelG = sources.LexIndex.coverageGate(spark, base, st0, novel).collect()(0)
      assert(novelG.getAs[Boolean]("rebuild") &&
        novelG.getAs[Long]("cov_ppm_batch") == 0L,
        s"novel-vocab batch passed the coverage gate: $novelG")
    }
  }

  test("refit gate comparison is exact DECIMAL at the RefitRatio boundary, beyond 2^53, and mirrors the streaming gate") {
    import spark.implicits._
    // moments past 2^53 where a double product rounds: e_b·n_i sits
    // EXACTLY at RefitRatio·e_i·n_b → strictly-greater says NO refit;
    // one micro-unit more on the batch side flips it. The same rows
    // go through the streaming gate's scalar twin — the two gates
    // must agree on the boundary.
    val eI = (1L << 54) + 1L // not a double-representable long; ≡ 0 (mod 5)
    val nB = 1000L; val nI = 5L
    assert(eI % nI == 0, "test arithmetic must be exact")
    val eBBoundary = eI / nI * nB * 2L // e_b·n_i == 2·e_i·n_b exactly, no long overflow
    val rows = Seq(
      ("boundary", eBBoundary, nB, eI, nI),
      ("over", eBBoundary + 1L, nB, eI, nI),
      ("under", eBBoundary - 1L, nB, eI, nI)).toDF("tag", "eB", "nB", "eI", "nI")
    val got = rows.select(col("tag"),
        AnnIndex.refitCmp(col("eB"), col("nB"), col("eI"), col("nI")).as("refit"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got == Map("boundary" -> false, "over" -> true, "under" -> false),
      s"DECIMAL gate wrong at the exact boundary: $got")
    for ((tag, eB) <- Seq(("boundary", eBBoundary), ("over", eBBoundary + 1L),
        ("under", eBBoundary - 1L)))
      assert(AnnIndex.refitExceeds(eB, nB, eI, nI) == got(tag),
        s"streaming gate disagrees with the DECIMAL gate on $tag")
  }

  test("manifest is layout-invariant and its diff pinpoints exactly the edited bucket") {
    val docs = Tables(spark, sf, "documents")
    val m1 = Sources.manifest(docs).localCheckpoint(false)
    // invariant under any partitioning / row order
    val m2 = Sources.manifest(docs.repartition(7).sortWithinPartitions("lang"))
    assert(Sources.diffManifest(m1, m2).count() == 0, "manifest depends on layout")
    // identical-table diff is empty; a single-row edit flags >= 1
    // bucket (the edited row moved out of one bucket, into another —
    // 1 bucket if it lands back in the same one)
    val edited = docs.withColumn("text",
      when(col("doc_id") === 7L, concat(col("text"), lit(" EDITED"))).otherwise(col("text")))
    val d = Sources.diffManifest(m1, Sources.manifest(edited))
    val n = d.count()
    assert(n >= 1 && n <= 2, s"single-row edit flagged $n buckets")
    // a dropped row perturbs exactly its own bucket's count
    val dropped = Sources.diffManifest(m1, Sources.manifest(docs.filter(col("doc_id") =!= 7L)))
    assert(dropped.count() == 1)
    assert(dropped.collect()(0).getAs[Long]("n_rows_a") ==
      dropped.collect()(0).getAs[Long]("n_rows_b") + 1L)
  }

  test("compaction rewrites a fragmented table into few files with identical rows") {
    val frag = tmp("frag")
    val li = Tables(spark, sf, "lineitem")
    li.repartition(64).write.mode("overwrite").parquet(frag) // 64 tiny files
    val nFrag = new java.io.File(frag).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFrag >= 60, s"fragmentation setup produced only $nFrag files")
    val dst = tmp("compacted")
    val planned = Sources.compact(spark, frag, dst)
    val nOut = new java.io.File(dst).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nOut.toLong == planned && nOut < nFrag / 8,
      s"compaction left $nOut files (planned $planned) from $nFrag")
    val back = Sources.readParquet(spark, dst)
    assert(back.count() == li.count())
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
  }

  test("upsert keeps the highest version per key and honors tombstones") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a", 1L, false),                                             // untouched
      (2L, "b", 1L, false), (2L, "b2", 2L, false),                      // updated
      (3L, "c", 1L, false), (3L, null, 2L, true),                       // deleted
      (4L, "d", 1L, false), (4L, null, 2L, true), (4L, "d3", 3L, false), // resurrected
      (5L, "e", 2L, true)                                               // born dead
    ).toDF("k", "v", "version", "deleted")
    val out = Sources.upsert(rows, Seq("k"), "version", Some("deleted"))
    assert(out.columns.toSeq == Seq("k", "v", "version"))
    val got = out.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "a", 1L), (2L, "b2", 2L), (4L, "d3", 3L)))
    // without a tombstone column the winners simply survive, deleted and all
    val all = Sources.upsert(rows, Seq("k"), "version")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(all == Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 3L), (5L, 2L)))
  }

  /** Rows the scan node actually emitted (post row-group/page skip) —
    * the observable that min/max statistics skipping worked. The
    * filter-only plan has no exchange, so it is never adaptive and
    * the scan leaf is directly in executedPlan. */
  private def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.queryExecution.executedPlan.executeCollect()
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec leaf"))
    scan.metrics("numOutputRows").value
  }

  test("sorted write clusters key ranges so a selective scan skips most rows") {
    val li = Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_shipdate", "l_extendedprice")
    val sorted = tmp("sorted"); val unsorted = tmp("unsorted")
    // cluster by order key: a pushdown-supported type (timestamp_ntz
    // predicates are not pushed to parquet as of Spark 4.1)
    Sources.writeSorted(li, sorted, 8, "l_orderkey")
    li.repartition(8).write.mode("overwrite").parquet(unsorted)
    // a narrow key range — the point-range query against the cluster key
    val lo = li.agg(min("l_orderkey")).collect()(0).getLong(0)
    def probe(dir: String) =
      spark.read.parquet(dir).filter(col("l_orderkey") <= lit(lo + 64L))
    // identical answers from both layouts
    val a = probe(sorted); val b = probe(unsorted)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty && a.count() > 0)
    // the sorted layout's footer stats confine the read to ~one file's
    // row groups; round-robin spreads the key across every file so
    // nothing skips. 4x is a deliberately loose floor.
    val sortedRows = scanOutputRows(probe(sorted))
    val unsortedRows = scanOutputRows(probe(unsorted))
    assert(sortedRows * 4 <= unsortedRows,
      s"no skipping: sorted scan emitted $sortedRows vs unsorted $unsortedRows")
  }

  test("z-ordered write skips on BOTH dimensions where a single-key sort cannot") {
    val li = Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_extendedprice")
    val zdir = tmp("zorder"); val adir = tmp("asorted")
    Sources.writeZOrdered(li, zdir, 16, "l_orderkey", "l_partkey")
    Sources.writeSorted(li, adir, 16, "l_orderkey")
    val (aMin, aMax, bMin, bMax) = {
      val r = li.agg(min("l_orderkey"), max("l_orderkey"),
        min("l_partkey"), max("l_partkey")).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // a point-range probe in BOTH dimensions (~1/8 of each domain)
    def probe(dir: String) = spark.read.parquet(dir)
      .filter(col("l_orderkey") <= lit(aMin + (aMax - aMin) / 8) &&
        col("l_partkey") <= lit(bMin + (bMax - bMin) / 8))
    val a = probe(zdir); val b = probe(adir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty && a.count() > 0)
    // the single-key layout prunes on l_orderkey but reads every
    // matching file in full for the l_partkey cut; the z-layout's
    // files are narrow in both dims. 2x is a loose floor (Morton
    // boxes overlap query rectangles).
    val zRows = scanOutputRows(probe(zdir))
    val aRows = scanOutputRows(probe(adir))
    assert(zRows * 2 <= aRows,
      s"no 2-D skipping: z-ordered scan emitted $zRows vs single-key $aRows")
  }

  // ---- persisted near-dup signature index (DupIndex) ----

  /** In-memory exact reference for DupIndex.probe's contract:
    * base-frozen cap, exact Jaccard, min qualifying partner. A
    * different substrate (Scala collections) than the index path. */
  private def dupRef(base: Seq[(Long, String)], batch: Seq[(Long, String)],
      excludeSelf: Boolean = false): Map[Long, Option[(Long, Double)]] = {
    def shingles(text: String): Set[String] = {
      val tk = text.split(' ').filter(_.nonEmpty)
      if (tk.length >= 3) tk.sliding(3).map(_.mkString(" ")).toSet else Set.empty
    }
    val baseSets = base.map { case (id, t) => id -> shingles(t) }
    val df = baseSets.flatMap(_._2).groupBy(identity).map { case (s, xs) => s -> xs.size }
    val hot = df.filter(_._2 > operators.Dedup.DfCap).keySet
    val cap = baseSets.map { case (id, s) => id -> (s -- hot) }
    batch.map { case (bid, t) =>
      val bs = shingles(t) -- hot
      val hits = cap.iterator
        .filter { case (oid, _) => !excludeSelf || oid != bid }
        .map { case (oid, os) =>
          val c = (bs & os).size
          val j = if (bs.isEmpty && os.isEmpty) 0.0
                  else c.toDouble / (bs.size + os.size - c)
          (oid, j)
        }
        .filter(_._2 >= operators.Dedup.JaccThr.toDouble).toSeq
      bid -> hits.sortBy(_._1).headOption
    }.toMap
  }

  test("dup index probe equals the exact frozen-cap Jaccard reference on the corpus split") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) === 7 // q138's batch split
    val base = docs.filter(!isNew)
    val batch = docs.filter(isNew)
    val dir = tmp("dupidx")
    sources.DupIndex.writeFrom(spark, base, dir)
    val got = sources.DupIndex.probe(spark, dir, batch).collect()
    val ref = dupRef(base.as[(Long, String)].collect().toSeq,
      batch.as[(Long, String)].collect().toSeq)
    assert(got.length == ref.size)
    var dups = 0
    got.foreach { r =>
      val id = r.getLong(0)
      ref(id) match {
        case Some((partner, j)) =>
          dups += 1
          assert(r.getString(1) == "dup_of_corpus" && r.getLong(2) == partner,
            s"doc $id: got (${r.getString(1)}, ${r.get(2)}), want dup_of_corpus/$partner")
          assert(math.abs(r.getDouble(3) - j) < 1e-6, s"doc $id jaccard ${r.getDouble(3)} vs $j")
        case None =>
          assert(r.getString(1) == "novel" && r.isNullAt(2), s"doc $id: false dup ${r.get(2)}")
      }
    }
    assert(dups > 0, "vacuous: no dup_of_corpus verdicts in the corpus split")
  }

  test("dup index delta: probe sees appended batches, replay is idempotent, cross-delta dups surface") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val base = docs.filter(_._1 < 400)
    val d1 = docs.filter(d => d._1 >= 400 && d._1 < 450)
    // batch 2 contains a shuffled near-copy of a batch-1 doc: dup
    // must surface across DELTAS, not just against base
    val twinOf = d1.head
    val twinText = { val w = twinOf._2.split(' '); (w.take(3) ++ w).mkString(" ") }
    val d2 = docs.filter(d => d._1 >= 450 && d._1 < 470) :+ (90000L, twinText)
    val dir = tmp("dupbase"); val delta = tmp("dupdelta")
    sources.DupIndex.writeFrom(spark, base.toDF("doc_id", "text"), dir)
    sources.DupIndex.appendDelta(spark, dir, delta, d1.toDF("doc_id", "text"), 1L)
    sources.DupIndex.appendDelta(spark, dir, delta, d2.toDF("doc_id", "text"), 2L)
    val probe1 = sources.DupIndex.probe(spark, dir,
      d2.toDF("doc_id", "text"), Some(delta)).collect()
    // the planted twin is caught (self-match excluded even though
    // batch 2 already sits in the delta); its partner is whatever
    // the exact reference says the min qualifying resident is — the
    // batch-1 original, or a smaller-id near-dup of it in base
    val twin = probe1.find(_.getLong(0) == 90000L).get
    assert(twin.getString(1) == "dup_of_corpus", s"twin missed: ${twin.mkString(",")}")
    // replayed trigger (same batch id) leaves the probe identical
    sources.DupIndex.appendDelta(spark, dir, delta, d2.toDF("doc_id", "text"), 2L)
    val probe2 = sources.DupIndex.probe(spark, dir,
      d2.toDF("doc_id", "text"), Some(delta)).collect()
    assert(probe1.map(_.toString).sorted.sameElements(probe2.map(_.toString).sorted),
      "replayed delta batch changed probe output")
    // and the delta probe agrees with the exact reference over
    // base + both deltas as the resident set
    val ref = dupRef(base ++ d1 ++ d2, d2, excludeSelf = true)
    probe1.foreach { r =>
      val id = r.getLong(0)
      (ref(id), r.getString(1)) match {
        case (Some((p, _)), v) => assert(v == "dup_of_corpus" && r.getLong(2) == p,
          s"doc $id: got $v/${r.get(2)}, want $p")
        case (None, v) => assert(v == "novel", s"doc $id: false dup")
      }
    }
  }

  test("dup index hot gate trips on an accumulated template and compaction equals a rebuild") {
    import spark.implicits._
    // base: 600 docs sharing a template shingle (df 600 <= cap, so
    // NOT hot at build); delta: 1100 more with the same template
    // (delta-side df 1100 > cap -> gate trips; union df 1700 -> the
    // shingle must go hot at compaction)
    def mk(id: Long) =
      (id, s"tpl aa bb cc u${id}x u${id}y u${id}z w${id}a w${id}b")
    val base = (0L until 600L).map(mk)
    val delta = (1000L until 2100L).map(mk)
    val bdir = tmp("hotbase"); val ddir = tmp("hotdelta")
    val cdir = tmp("compacted"); val rdir = tmp("rebuilt")
    sources.DupIndex.writeFrom(spark, base.toDF("doc_id", "text"), bdir)
    val sbs1 = sources.DupIndex.appendDelta(spark, bdir, ddir,
      delta.toDF("doc_id", "text"), 1L)
    // priced once per root, the production discipline
    val bdf = Some(sources.DupIndex.baseDf(spark, bdir))
    val gate = sources.DupIndex.hotGate(spark, ddir, bdf).collect()(0)
    assert(gate.getAs[Boolean]("rebuild") && gate.getAs[Long]("n_newly_hot") >= 1L,
      s"gate missed the accumulated template: $gate")
    assert(gate.getAs[Long]("n_delta_rows") > 0L, "gate cost metric missing")
    // the TRIGGER-SCOPED gate (the streaming face's form): scoping to
    // the batch's own delta-partition buckets still trips — the
    // crossing occurrence lives in those buckets by construction.
    // appendDelta's returned footprint is the batch partition's own
    // bucket set on disk
    val onDisk = spark.read.parquet(ddir).filter(col("batch") === 1L)
      .select("sb").distinct().as[Long].collect().sorted.toSeq
    assert(sbs1.nonEmpty && sbs1 == onDisk,
      s"appendDelta footprint $sbs1 differs from the written partition's buckets $onDisk")
    val scoped = sources.DupIndex.hotGate(spark, ddir, bdf, Some(sbs1)).collect()(0)
    assert(scoped.getAs[Boolean]("rebuild") &&
      scoped.getAs[Long]("n_newly_hot") == gate.getAs[Long]("n_newly_hot"),
      s"trigger-scoped gate missed the crossing its own trigger caused: $scoped")
    // a scope disjoint from the delta's buckets reads a clean row
    // (and proves the scope is a real partition filter, not a no-op)
    val other = (0L until sources.DupIndex.NBuckets).filterNot(sbs1.contains)
    val off = sources.DupIndex.hotGate(spark, ddir, bdf, Some(other)).collect()(0)
    assert(!off.getAs[Boolean]("rebuild") && off.getAs[Long]("n_delta_rows") == 0L,
      s"disjoint-bucket scope still read delta rows: $off")
    // a clean tail batch does not trip
    val clean = (5000L until 5050L).map(mk). map { case (id, t) => (id, t.replace("tpl aa bb cc", s"p$id q$id r$id")) }
    val cdelta = tmp("cleandelta")
    sources.DupIndex.appendDelta(spark, bdir, cdelta, clean.toDF("doc_id", "text"), 1L)
    assert(!sources.DupIndex.hotGate(spark, cdelta, bdf).collect()(0)
      .getAs[Boolean]("rebuild"))
    // the gate counts UNION df: a template at 995 in base (under the
    // 1000 cap, so in postings) + 50 in the delta is hot at 1045 —
    // the delta-local statistic alone (the old blind spot) reads 50
    // and stays silent
    val nbase = (0L until 995L).map(mk)
    val ndelta = (3000L until 3050L).map(mk)
    val nbdir = tmp("nearbase"); val nddir = tmp("neardelta")
    sources.DupIndex.writeFrom(spark, nbase.toDF("doc_id", "text"), nbdir)
    sources.DupIndex.appendDelta(spark, nbdir, nddir, ndelta.toDF("doc_id", "text"), 1L)
    val ng = sources.DupIndex.hotGate(spark, nddir, Some(sources.DupIndex.baseDf(spark, nbdir))).collect()(0)
    assert(ng.getAs[Boolean]("rebuild") && ng.getAs[Long]("max_df") == 1045L,
      s"union-df gate missed the near-cap template: $ng")
    assert(!sources.DupIndex.hotGate(spark, nddir).collect()(0).getAs[Boolean]("rebuild"),
      "delta-local statistic unexpectedly tripped: the union test is vacuous")
    // compaction == from-scratch rebuild, postings and hot list both
    sources.DupIndex.compact(spark, bdir, ddir, cdir)
    sources.DupIndex.writeFrom(spark, (base ++ delta).toDF("doc_id", "text"), rdir)
    def postRows(d: String) = spark.read.parquet(s"$d/post")
      .select("sb", "s", "doc_id", "n")
    def hotRows(d: String) = spark.read.parquet(s"$d/hot").select("sb", "s")
    assert(postRows(cdir).exceptAll(postRows(rdir)).isEmpty &&
      postRows(rdir).exceptAll(postRows(cdir)).isEmpty,
      "compacted postings differ from rebuild")
    assert(hotRows(cdir).exceptAll(hotRows(rdir)).isEmpty &&
      hotRows(rdir).exceptAll(hotRows(cdir)).isEmpty,
      "compacted hot list differs from rebuild")
    // the template went hot: it appears in the compacted hot list
    assert(spark.read.parquet(s"$cdir/hot").filter(col("s") === "tpl aa bb").count() == 1)
    // r13: the persisted base-df artifact follows the same law —
    // compaction's df/ is row-identical to the rebuild's
    def dfRows(d: String) = spark.read.parquet(s"$d/df")
      .select("sb", "s", "df_base")
    assert(dfRows(cdir).exceptAll(dfRows(rdir)).isEmpty &&
      dfRows(rdir).exceptAll(dfRows(cdir)).isEmpty,
      "compacted df artifact differs from rebuild")
  }

  test("base-df artifact equals the postings aggregation") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, s"alpha bravo charlie d${i % 7} e${i % 3} f$i common tail one two"))
    val dir = tmp("dfart")
    sources.DupIndex.writeFrom(spark, docs.toDF("doc_id", "text"), dir)
    assert(new java.io.File(s"$dir/df").isDirectory, "writeFrom shipped no df/ artifact")
    val art = sources.DupIndex.baseDf(spark, dir)
      .select("sb", "s", "df_base")
    val agg = spark.read.parquet(s"$dir/post")
      .groupBy("sb", "s").agg(count(lit(1)).as("df_base"))
      .select("sb", "s", "df_base")
    assert(art.exceptAll(agg).isEmpty && agg.exceptAll(art).isEmpty,
      "df artifact differs from the postings aggregation")
  }

  test("a dup index root without df/ is rejected: probe and baseDf ask for a writeFrom rebuild") {
    import spark.implicits._
    // a root from before the current layout lacks df/ (pre-r13) and
    // maybe the stored sh (pre-r12); reading it must fail, not admit
    val docs = (0L until 40L).map(i =>
      (i, s"alpha bravo charlie d${i % 7} e${i % 3} f$i common tail one two"))
    val dir = tmp("nodf")
    sources.DupIndex.writeFrom(spark, docs.toDF("doc_id", "text"), dir)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/df"))
    def rejected(what: String)(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("rebuild it with DupIndex.writeFrom"),
        s"$what: unexpected rejection message: ${e.getMessage}")
    }
    rejected("probe")(sources.DupIndex.probe(spark, dir,
      docs.take(5).toDF("doc_id", "text")).collect())
    rejected("baseDf")(sources.DupIndex.baseDf(spark, dir))
  }
}
