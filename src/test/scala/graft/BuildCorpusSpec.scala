package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
import org.apache.spark.sql.functions._

/** The composed corpus-build job's contract: every artifact it ships
  * is ROW-IDENTICAL to the operator chain applied stepwise against an
  * independently staged copy of the same corpus — composition adds
  * plumbing, never semantics.
  */
class BuildCorpusSpec extends AnyFunSuite {
  import TestSpark.{spark, sf, withTmpDir}

  private def eq(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
      what: String): Unit = {
    val cols = a.columns.toSeq.sorted.map(col)
    val (x, y) = (a.select(cols: _*), b.select(cols: _*))
    assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, s"$what differs")
  }

  test("composed artifact equals the operator chain applied stepwise") {
    withTmpDir("buildcorpus") { root =>
      val out = s"$root/out"; val mine = s"$root/mine"
      val log = BuildCorpus.run(spark, sf, out).collect()
        .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap

      // ---- stepwise staging (the q85 normalize step, by hand) ----
      val norm = operators.TextOps.q85(spark, sf)
      Tables(spark, sf, "documents").select("doc_id", "lang", "source")
        .join(norm.select(col("doc_id"), col("text_norm").as("text")), "doc_id")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$mine/documents.parquet")
      Tables(spark, sf, "embeddings").write.parquet(s"$mine/embeddings.parquet")
      eq(spark.read.parquet(s"$out/staged/documents.parquet"),
        spark.read.parquet(s"$mine/documents.parquet"), "staged corpus")

      // ---- stepwise chain over MY staging dir ----
      val drop = operators.Sampling.q69(spark, mine)
        .filter(col("contaminated")).select("doc_id")
        .unionByName(operators.Sampling.q86(spark, mine)
          .filter(col("contaminated")).select("doc_id"))
        .distinct()
      val packed = operators.Sampling.assembleWith(spark, mine, drop)
        .localCheckpoint(false)
      val myDocs = spark.read.parquet(s"$mine/documents.parquet")
      val shippedRef = myDocs.join(packed, "doc_id")
        .withColumn("shard", expr(operators.Sampling.ShardExpr).cast("long"))
        .localCheckpoint(false)

      // shards: the shipped training set
      val shards = spark.read.parquet(s"$out/shards")
        .withColumn("shard", col("shard").cast("long"))
      eq(shards.select("shard", "doc_id", "text", "lang", "source",
          "n_tokens", "bin_id", "bin_offset"),
        shippedRef.select("shard", "doc_id", "text", "lang", "source",
          "n_tokens", "bin_id", "bin_offset"), "shards")

      // manifest: q170's aggregation over exactly the shipped rows
      eq(spark.read.parquet(s"$out/manifest.parquet"),
        operators.Sampling.manifestOf(shippedRef.select(col("shard"),
          col("n_tokens"), octet_length(col("text")).cast("long").as("n_bytes"))),
        "manifest")

      // card: q79 over a corpus dir built from MY shipped docs
      shippedRef.select(col("doc_id"), col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
        .write.parquet(s"$root/mycorpus/documents.parquet")
      eq(spark.read.parquet(s"$out/card.parquet"),
        operators.TextOps.q79(spark, s"$root/mycorpus"), "data card")

      // decision log: counts agree with the stepwise stages
      val nDocs = Tables(spark, sf, "documents").count()
      assert(log("intake")._1 == nDocs)
      val gateTrain = operators.Sampling.q68(spark, mine)
        .filter(col("split") === "train").select("doc_id")
      assert(log("gate_keep")._2 == gateTrain.count(), "gate_keep count drifted")
      val nDropped = gateTrain.join(drop, Seq("doc_id"), "left_semi").count()
      assert(log("decontaminate") == ((gateTrain.count(), gateTrain.count() - nDropped)),
        "decontaminate counts drifted")
      assert(nDropped > 0, "no contaminated gate-kept docs: the decon stage is vacuous here")
      assert(log("mix_pack")._2 == packed.count(), "packed count drifted")
      assert(log("mix_pack")._2 < log("decontaminate")._2,
        "mixture admitted everything: the budget stage is vacuous here")
    }
  }

  test("dirty intake: repairable rows are normalized through, unrepairable rows quarantine with reasons") {
    import spark.implicits._
    withTmpDir("buildcorpus-dirty") { root =>
      val in = s"$root/in"; val out = s"$root/out"
      def words(seed: Int) = {
        val r = new scala.util.Random(seed * 2654435761L + 17)
        (0 until 45).map(_ => s"w${r.nextInt(40)}").mkString(" ")
      }
      val good = (0L until 60L).map(i => (Some(i), Some(words(i.toInt)), Some("en"), "src1"))
      val dirty = Seq(
        (Some(100L), Some("CTRL\u0001\u0002 " + words(7)), Some("en"), "src2"), // repairable
        (Some(101L), None: Option[String], Some("en"), "src2"),                  // null_text
        (Some(102L), Some(""), Some("en"), "src2"),                              // empty
        (Some(103L), Some("  "), Some("en"), "src2"),                // -> empty_after_normalize
        (Some(104L), Some(words(9)), None: Option[String], "src2"),              // null_lang
        (Some(105L), Some(words(11)), Some("en"), "src2"),                       // dup_id pair
        (Some(105L), Some(words(12)), Some("en"), "src2"),
        (None: Option[Long], Some(words(13)), Some("en"), "src2"))               // null_id
      (good ++ dirty).toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$in/documents.parquet")
      (0L until 40L).map(i => (i, Seq.fill(64)((i % 7).toFloat / 7f + 0.1f)))
        .toDF("vec_id", "embedding")
        .write.parquet(s"$in/embeddings.parquet")

      val log = BuildCorpus.run(spark, in, out).collect()
        .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      // the intake audit saw everything; the staged corpus holds the
      // 60 clean docs + the one REPAIRED (control-byte) doc
      assert(log("intake")._1 == 68L)
      assert(log("normalize") == ((68L, 61L)), s"normalize row: ${log("normalize")}")
      val staged = spark.read.parquet(s"$out/staged/documents.parquet")
      assert(staged.count() == 61L)
      val repaired = staged.filter(col("doc_id") === 100L).collect()
      assert(repaired.length == 1 && repaired(0).getAs[String]("text").startsWith("ctrl w"),
        s"control-byte doc not repaired: ${repaired.toSeq}")
      // staged output satisfies its own intake contract
      val re = operators.TextOps.validateDocs(staged).collect()(0)
      assert(re.getAs[Long]("n_clean") == 61L, s"staged corpus fails its own intake: $re")
      // quarantine: exactly the unrepairable rows, each with its reason
      val quar = spark.read.parquet(s"$out/quarantine")
        .select("doc_id", "quarantine_reason").collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1))
      assert(quar.length == 7, s"quarantine: ${quar.toSeq}")
      val byReason = quar.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
      assert(byReason("null_text") == Set(101L))
      assert(byReason("empty_after_normalize") == Set(102L, 103L))
      assert(byReason("null_lang") == Set(104L))
      assert(byReason("dup_id") == Set(105L))
      assert(byReason("null_id") == Set(-1L))
      // and the pipeline still completes end-to-end on the survivors
      assert(spark.read.parquet(s"$out/shards").count() > 0)
      assert(log("shards")._1 > 0)
    }
  }

  test("dup-id broadcast gate: past the ceiling the join side drops the broadcast hint; verdicts identical either way (r14)") {
    import spark.implicits._
    withTmpDir("buildcorpus-dupgate") { root =>
      val in = s"$root/in"
      // an adversarial intake: 30 rows over 10 tripled ids + 5 unique
      val rows = (0L until 30L).map(i => (i % 10, s"body $i", "en", "s")) ++
        (100L until 105L).map(i => (i, s"uniq $i", "en", "s"))
      rows.toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$in/documents.parquet")
      val raw = Tables(spark, in, "documents")
      def joined(side: org.apache.spark.sql.DataFrame) =
        raw.join(side, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("is_dup"), lit(false)).as("is_dup"))
      // all three gate branches: shallow (raw count fits), deep-pass
      // (raw count over, actual dup ids fit), deep-fallback (dup ids
      // over the ceiling — the adversarial branch, unreachable at any
      // healthy scale, driven here directly via maxBcast)
      val shallow = joined(BuildCorpus.dupIdSide(spark, in, raw))
      val deepBc = joined(BuildCorpus.dupIdSide(spark, in, raw, maxBcast = 20L))
      val fallback = joined(BuildCorpus.dupIdSide(spark, in, raw, maxBcast = 3L))
      // the hint node itself, not a plan-string grep (a column or path
      // named "broadcast" would satisfy that)
      def bcastHinted(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.exists {
        case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
        case _ => false
      }
      assert(bcastHinted(shallow), "healthy intake lost its broadcast hint")
      assert(bcastHinted(deepBc), "small dup set past the raw-count gate lost its broadcast hint")
      assert(!bcastHinted(fallback), "adversarial dup set still carries a broadcast hint")
      this.eq(shallow, fallback, "dup verdicts across join strategies")
      this.eq(shallow, deepBc, "dup verdicts across gate branches")
      assert(shallow.filter(col("is_dup")).select("doc_id").distinct().count() == 10L,
        "planted dup ids not all flagged")
    }
  }

  test("a failing build stops its side threads before the exception escapes") {
    withTmpDir("buildcorpus-fail") { root =>
      val in = s"$root/in"
      GenData.generate(spark, in, 400, 100)
      // an unreadable media table: the main thread fails at the media
      // gate, after the dup-index and embedding-audit threads started
      java.nio.file.Files.write(java.nio.file.Paths.get(Tables.rawPath(in, "media")),
        "not parquet".getBytes)
      val err = intercept[Throwable](BuildCorpus.run(spark, in, s"$root/out"))
      assert(String.valueOf(err.getMessage).contains("media.parquet"), s"failed elsewhere: $err")
      val alive = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
        .filter(t => t.isAlive && Set("graft-dupindex", "graft-embaudit")(t.getName))
      assert(alive.isEmpty, s"side threads outlived the failed build: ${alive.map(_.getName).toSeq}")

      // the build's side threads may have finished before the media
      // gate failed; the mechanism itself, timing-independent: a side
      // thread INSIDE a long job is cancelled, not waited out
      val tag = "buildcorpus-spec-side"
      val side = BuildCorpus.sideThread(spark, tag, "graft-spec-side") {
        spark.sparkContext.setInterruptOnCancel(true)
        try spark.sparkContext.parallelize(Seq(1), 1).foreach(_ => Thread.sleep(120000))
        catch { case _: Throwable => }
      }
      while (spark.sparkContext.statusTracker.getJobIdsForTag(tag).isEmpty) Thread.sleep(20)
      val t0 = System.nanoTime
      intercept[IllegalStateException](BuildCorpus.stopSidesOnFailure(spark, tag, side) {
        throw new IllegalStateException("main-thread stage failed")
      })
      assert(!side.isAlive && System.nanoTime - t0 < 60e9, "side job waited out, not cancelled")
    }
  }

  test("media-aware build: cross-modal gate + image-family canonical keep are ledgered; planted twins do not ship") {
    import spark.implicits._
    withTmpDir("buildcorpus-media") { root =>
      val in = s"$root/in"; val out = s"$root/out"
      // GenData media mode: real PNGs at id%3==0 with planted twin /
      // chain families, stub blobs (jpeg stub class), real WAVs
      GenData.generate(spark, in, 400, 100, None, 0.3, "salad", Some(300))
      val log = BuildCorpus.run(spark, in, out).collect()
        .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap

      // ---- the gate, recomputed stepwise over the same inputs ----
      val pl = spark.read.parquet(s"$in/media.parquet")
        .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      val meta = operators.Multimodal.decodeDs(pl)
        .filter(col("format").isin("png", "jpeg"))
        .select("doc_id", "width", "height")
      val cap = operators.TextOps.q60(spark, s"$out/staged")
        .select(col("doc_id"), col("quality_score"))
      val kept = meta.join(cap, Seq("doc_id"), "left")
        .filter(coalesce(col("quality_score") >=
            operators.Multimodal.CapQual.toDouble, lit(false)) &&
          least(col("width"), col("height")) >= operators.Multimodal.MinDim)
        .select("doc_id").localCheckpoint(false)
      assert(log("media_gate")._1 == meta.count(), "media_gate n_in drifted")
      assert(log("media_gate")._2 == kept.count(), "media_gate n_out drifted")
      assert(log("media_gate")._2 < log("media_gate")._1,
        "media gate admitted everything: the gate is vacuous here")

      // ---- families over the admitted images; non-canonical members
      // must not ship (the planted-twin drop) ----
      val fams = operators.Multimodal.q171Of(
        pl.toDF("doc_id", "payload").join(kept, "doc_id").as[(Long, Array[Byte])])
        .localCheckpoint(false)
      assert(log("image_families") ==
        ((fams.count(), fams.filter(col("is_canonical")).count())),
        "image_families counts drifted")
      val multi = fams.filter(col("family_size") > 1)
      assert(multi.select("family_id").distinct().count() >= 2,
        "no multi-member image families: the planted twins are vacuous here")
      val nonCanon = fams.filter(!col("is_canonical")).select("doc_id")
      assert(nonCanon.count() > 0, "no non-canonical members planted")
      val shipped = spark.read.parquet(s"$out/shards").select("doc_id")
      assert(shipped.join(nonCanon, Seq("doc_id"), "left_semi").count() == 0,
        "a non-canonical image-family member shipped")
      // gate-failing media docs do not ship either
      val gateFail = meta.select("doc_id").join(kept, Seq("doc_id"), "left_anti")
      assert(shipped.join(gateFail, Seq("doc_id"), "left_semi").count() == 0,
        "a media-gate-failing doc shipped")

      // ---- shipped media == payloads of shipped docs (the corpus
      // dir is itself multimodal) ----
      val shippedMedia = spark.read.parquet(s"$out/corpus/media.parquet")
      val want = pl.toDF("doc_id", "payload").join(shipped, "doc_id")
      assert(shippedMedia.count() == want.count() &&
        shippedMedia.select("doc_id").exceptAll(want.select("doc_id")).count() == 0,
        "shipped media differs from shipped docs' payloads")
      // and canonical members of multi-families DID ship when their
      // text survived: the keep is a dedup, not a family wipe-out
      val canonShipped = shipped.join(
        fams.filter(col("is_canonical") && col("family_size") > 1)
          .select("doc_id"), Seq("doc_id"), "left_semi").count()
      assert(canonShipped > 0, "every canonical family member was wiped out — keep broken?")
    }
  }

  test("incremental build: admission against the previous build, eval-slice decon, fresh bins, replay, chaining") {
    import spark.implicits._
    withTmpDir("buildcorpus-inc") { root =>
      // previous build = the even half of the driver corpus
      val baseIn = s"$root/base"; val prev = s"$root/prev"
      val docs = Tables(spark, sf, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .write.parquet(s"$baseIn/documents.parquet")
      Tables(spark, sf, "embeddings").write.parquet(s"$baseIn/embeddings.parquet")
      BuildCorpus.run(spark, baseIn, prev)
      // mixture-drift gate, no increments yet: the base's own shipped
      // mixture IS q72's admission, so drift is the ≤1-doc overshoot
      val calm = BuildCorpus.mixtureGate(spark, prev).collect()(0)
      assert(!calm.getAs[Boolean]("rebuild"),
        s"the freshly built base tripped its own mixture gate: $calm")

      // plant: an exact copy, a near-dup, and an eval-quoting doc
      val base = spark.read.parquet(s"$prev/staged/documents.parquet")
        .withColumn("b", expr(operators.Sampling.BucketExpr))
        .withColumn("ntk", size(split(col("text"), " ")))
        .select("doc_id", "text", "b", "ntk").collect()
      val copySrc = base.find(_.getInt(3) >= 20).get
      val ndSrc = base.find(r => r.getInt(3) >= 30 && r.getLong(0) != copySrc.getLong(0)).get
      val ndText = ndSrc.getString(1).split(" ").zipWithIndex
        .map { case (t, i) => if (i % 20 == 19) s"zz$i" else t }.mkString(" ")
      val evalSrc = base.find(r => r.getLong(2) >= operators.Sampling.TrainLt && r.getInt(3) >= 20).get
      val quoted = evalSrc.getString(1).split(" ").slice(3, 11).mkString(" ")
      def bucketOf(t: String): Long = Seq(t).toDF("text")
        .select(expr(operators.Sampling.BucketExpr)).collect()(0).getLong(0)
      val contText = (0 to 20).iterator
        .map(k => (0 until 45).map(j => s"inc${j}k$k").mkString(" ") + " " + quoted)
        .find(t => bucketOf(t) < operators.Sampling.TrainLt)
        .getOrElse(fail("no train-bucket contamination candidate in 21 tries"))

      val in1 = s"$root/in1"; val out1 = s"$root/out1"
      val odd = docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "lang", "source", "n_chars")
      odd.unionByName(Seq(
          (900001L, copySrc.getString(1), "en", "srcX"),
          (900002L, ndText, "en", "srcX"),
          (900003L, contText, "en", "srcX"))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars"))
        .write.parquet(s"$in1/documents.parquet")
      BuildCorpus.incremental(spark, in1, prev, out1, incId = 1L)

      val verdicts = spark.read.parquet(s"$out1/verdicts")
        .select("doc_id", "verdict", "partner_id").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      // exact copy and near-dup are dups OF THE PRIOR CORPUS with the
      // right partners; the contamination doc is novel
      assert(verdicts(900001L) == (("dup_of_corpus", copySrc.getLong(0))), s"${verdicts(900001L)}")
      assert(verdicts(900002L) == (("dup_of_corpus", ndSrc.getLong(0))), s"${verdicts(900002L)}")
      assert(verdicts(900003L)._1 == "novel", s"${verdicts(900003L)}")
      // ...and train-gate-kept, so its exclusion below is the DECON's doing
      val g = operators.Sampling.q68(spark, s"$out1/staged")
        .filter(col("doc_id") === 900003L).collect()
      assert(g.length == 1 && g(0).getString(1) == "train",
        s"contamination plant not train-gate-kept: ${g.toSeq} — decon assertion vacuous")
      val shipped1 = spark.read.parquet(s"$out1/shards")
      val ids1 = shipped1.select("doc_id").as[Long].collect().toSet
      assert(!ids1(900001L) && !ids1(900002L), "a corpus duplicate shipped")
      assert(!ids1(900003L), "the eval-quoting doc shipped past decontamination")
      assert(ids1.nonEmpty, "increment shipped nothing: assertions vacuous")
      // fresh bins strictly after the previous build's last bin
      val prevMax = spark.read.parquet(s"$prev/shards")
        .agg(max("bin_id")).collect()(0).getLong(0)
      assert(shipped1.agg(min("bin_id")).collect()(0).getLong(0) > prevMax,
        "increment bins overlap the previous build's")

      // replay of the SAME increment against the same prior state is
      // byte-identical (probe excludes its own delta partition)
      val out1b = s"$root/out1b"
      BuildCorpus.incremental(spark, in1, prev, out1b, incId = 1L)
      def snap(p: String) = spark.read.parquet(p).collect().map(_.toString).sorted
      assert(snap(s"$out1b/shards").sameElements(snap(s"$out1/shards")),
        "replayed increment changed the shipped shards")
      assert(snap(s"$out1b/verdicts").sameElements(snap(s"$out1/verdicts")),
        "replayed increment changed the verdicts")

      // chaining: increment 2 dedups against increment 1's ADMISSIONS
      // on BOTH axes — near-dup via the shared dupdelta, and the
      // sub-shingle exact class via the persisted md5delta (a 2-token
      // doc the shingle index cannot see: its inc-2 copy must fall to
      // the exact_dup stage even though its verdict reads novel)
      val adm = shipped1.select("doc_id", "text")
        .filter(size(split(col("text"), " ")) >= 30).collect()(0)
      val nd2 = adm.getString(1).split(" ").zipWithIndex
        .map { case (t, i) => if (i % 20 == 7) s"yy$i" else t }.mkString(" ")
      val shortText = "uqx uqy"
      val in1b = s"$root/in1short"; val out1c = s"$root/out1short"
      Seq((905001L, shortText, "en", "srcX"))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$in1b/documents.parquet")
      // run the short doc through as part of increment 1's replay
      // surface won't do — it needs its OWN increment so the md5delta
      // chain (not same-batch dedup) is what catches the inc-3 copy
      BuildCorpus.incremental(spark, in1b, prev, out1c, incId = 2L)

      // MID-CHAIN CRASH REPLAY: the orchestrator lost increment 2's
      // done-marker AFTER its side state landed under prev, and
      // re-runs the whole increment before starting increment 3. The
      // re-run must be a pure function of pre-trigger state: the
      // shipped artifact is byte-identical, every batch-partitioned
      // side artifact under prev (md5delta, dupdelta, nextbin,
      // mixdelta) is unchanged (dynamic overwrite rewrites exactly
      // batch=2 with the same rows), and the mixture gate reads the
      // same — so the chain continues as if the crash never happened
      // and increment 3's assertions below double as the proof.
      def sideSnap(): Map[String, Array[String]] =
        Seq("md5delta", "dupdelta", "nextbin", "mixdelta")
          .map(a => a -> snap(s"$prev/$a")).toMap
      val sidePre = sideSnap()
      val gatePre = BuildCorpus.mixtureGate(spark, prev).collect()(0).toString
      val out1cr = s"$root/out1short-replay"
      BuildCorpus.incremental(spark, in1b, prev, out1cr, incId = 2L)
      val sidePost = sideSnap()
      sidePre.keys.foreach { a =>
        assert(sidePost(a).sameElements(sidePre(a)),
          s"crash replay of increment 2 mutated prev/$a")
      }
      // increment 2's shipment is empty (its one doc is 2 tokens —
      // quality-dropped): the partitioned shards dir holds only
      // _SUCCESS, so the comparison needs the explicit shipped schema
      val shipSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
          "n_tokens BIGINT, bin_id BIGINT, bin_offset BIGINT, shard BIGINT")
      def snapShip(p: String) = spark.read.schema(shipSchema).parquet(p)
        .collect().map(_.toString).sorted
      assert(snapShip(s"$out1cr/shards").sameElements(snapShip(s"$out1c/shards")),
        "crash-replayed increment 2 changed its shipped shards")
      assert(BuildCorpus.mixtureGate(spark, prev).collect()(0).toString == gatePre,
        "crash replay of increment 2 moved the mixture gate")

      val in2 = s"$root/in2"; val out2 = s"$root/out2"
      // fresh doc pinned to a TRAIN bucket so increment 2 ships ≥1 row
      // (the bin-monotonicity check below must not go vacuous)
      val freshText = (0 to 20).iterator
        .map(k => (0 until 45).map(j => s"fresh${j}k$k").mkString(" "))
        .find(t => bucketOf(t) < operators.Sampling.TrainLt)
        .getOrElse(fail("no train-bucket fresh candidate in 21 tries"))
      Seq((910001L, nd2, "en", "srcY"),
          (910002L, freshText, "en", "srcY"),
          (910003L, shortText, "en", "srcY"))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$in2/documents.parquet")
      val log2 = BuildCorpus.incremental(spark, in2, prev, out2, incId = 3L).collect()
        .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      val v2 = spark.read.parquet(s"$out2/verdicts")
        .select("doc_id", "verdict", "partner_id").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      assert(v2(910001L) == (("dup_of_corpus", adm.getLong(0))),
        s"increment 2 did not dedup against increment 1's admission: ${v2(910001L)}")
      assert(v2(910002L)._1 == "novel")
      // the exact axis: the short copy's verdict IS novel (no
      // shingles), so only the md5 chain can drop it
      assert(v2(910003L)._1 == "novel", s"${v2(910003L)}")
      assert(log2("exact_dup_vs_corpus") == ((3L, 2L)),
        s"inc-2's short exact dup of inc-1 not caught by the md5 chain: ${log2("exact_dup_vs_corpus")}")
      // explicit schema: an empty increment's partitioned shards dir
      // holds only _SUCCESS — nothing to infer from
      val shSchema = org.apache.spark.sql.types.StructType
        .fromDDL("doc_id BIGINT, bin_id BIGINT")
      assert(!spark.read.schema(shSchema).parquet(s"$out2/shards")
        .select("doc_id").as[Long].collect().contains(910003L),
        "a chained short exact duplicate shipped")

      // chained bin coordinates never collide: every later increment's
      // bins sit strictly above every earlier one's (nextbin markers)
      def binRange(p: String): Option[(Long, Long)] = {
        val r = spark.read.schema(shSchema).parquet(s"$p/shards")
          .agg(min("bin_id"), max("bin_id")).collect()(0)
        if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
      }
      val ranges = Seq(s"$prev", s"$out1", s"$out1c", s"$out2").flatMap(binRange)
      assert(ranges.length >= 3, s"too many empty increments for the bin check: $ranges")
      ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
        assert(lo > hi, s"chained increments' bins overlap: $ranges")
      case _ => }

      // mixture-drift gate after the chain: the odd-half increment
      // already doubled the corpus WITHOUT mixture re-admission (at
      // this tiny SF its per-language noise is real drift — exactly
      // what the gate exists to surface), so no calm assertion here;
      // an all-one-language flood must push the drift FURTHER and
      // trip the rebuild signal with that language as the worst
      val preFlood = BuildCorpus.mixtureGate(spark, prev).collect()(0)
        .getAs[Long]("drift_ppm")
      val flood = (0 until 400).iterator.flatMap { i =>
        val t = (0 until 45).map(j => s"flood${i}w$j").mkString(" ")
        if (bucketOf(t) < operators.Sampling.TrainLt) Some((920000L + i, t)) else None
      }.take(200).toSeq
      assert(flood.length >= 100, "not enough train-bucket flood docs generated")
      val in3 = s"$root/in3"; val out3 = s"$root/out3"
      flood.toDF("doc_id", "text")
        .withColumn("lang", lit("de")).withColumn("source", lit("srcF"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$in3/documents.parquet")
      val log3 = BuildCorpus.incremental(spark, in3, prev, out3, incId = 4L).collect()
        .map(r => r.getString(1) -> r.getString(4)).toMap
      val tripped = BuildCorpus.mixtureGate(spark, prev).collect()(0)
      assert(tripped.getAs[Boolean]("rebuild"),
        s"the one-language flood did not trip the mixture gate: $tripped")
      assert(tripped.getAs[Long]("drift_ppm") > BuildCorpus.MixDriftPpm)
      assert(tripped.getAs[Long]("drift_ppm") > preFlood,
        s"flood did not worsen the drift: $preFlood -> $tripped")
      assert(tripped.getAs[String]("worst_lang") == "de",
        s"flood language is not the worst drift: $tripped")
      assert(log3("mixture_drift").contains("rebuild=true"),
        s"increment decision log missed the drift: ${log3("mixture_drift")}")

      // COMPACTION OVER THE CHAINED LINEAGE == FRESH FULL BUILD:
      // fold all four increments' dupdelta batches (incl. the
      // crash-replayed batch 2) into a fresh base and prove it
      // row-identical — postings AND hot list — to writeFrom over
      // the union corpus the chain actually admitted (base staged +
      // every increment's NOVEL staged docs). This is Maintenance's
      // reconcile action exercised over real chained BuildCorpus
      // lineage, so the serving tier can swap roots blind after any
      // chain length.
      val unionDocs = spark.read.parquet(s"$prev/staged/documents.parquet")
        .select("doc_id", "text")
        .unionByName(Seq(out1, out1c, out2, out3).map { o =>
          spark.read.parquet(s"$o/staged/documents.parquet")
            .join(spark.read.parquet(s"$o/verdicts")
              .filter(col("verdict") === "novel").select("doc_id"),
              Seq("doc_id"), "left_semi")
            .select("doc_id", "text")
        }.reduce(_ unionByName _))
      graft.sources.DupIndex.compact(spark, s"$prev/dupindex",
        s"$prev/dupdelta", s"$root/compacted")
      graft.sources.DupIndex.writeFrom(spark, unionDocs, s"$root/rebuilt")
      assert(snap(s"$root/compacted/post").sameElements(snap(s"$root/rebuilt/post")),
        "chained compaction's postings differ from a fresh full build")
      // hot roots can be empty partitioned writes — explicit schema
      def snapHot(p: String) = spark.read.schema(
          org.apache.spark.sql.types.StructType.fromDDL("s STRING, sb BIGINT"))
        .parquet(p).collect().map(_.toString).sorted
      assert(snapHot(s"$root/compacted/hot").sameElements(snapHot(s"$root/rebuilt/hot")),
        "chained compaction's hot list differs from a fresh full build")
    }
  }

  test("media-aware incremental: family admission vs base + prior increments, replay pure") {
    import spark.implicits._
    import operators.Multimodal.{phash64, PhashHam}
    withTmpDir("buildcorpus-incmedia") { root =>
      // real-PNG synthesis (the MultimodalSpec recipe): header + body
      def pngBytes(w: Int, h: Int): Array[Byte] = {
        val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
        val ihdr = Array[Byte](0, 0, 0, 13, 'I', 'H', 'D', 'R',
          (w >> 24).toByte, (w >> 16).toByte, (w >> 8).toByte, w.toByte,
          (h >> 24).toByte, (h >> 16).toByte, (h >> 8).toByte, h.toByte,
          8, 6, 0, 0, 0)
        sig ++ ihdr
      }
      def png(seed: Long, w: Int = 640, h: Int = 480): Array[Byte] = {
        val r = new scala.util.Random(seed)
        pngBytes(w, h) ++ Array.fill(2048)(r.nextInt(256).toByte)
      }
      // a hamming-close twin: search flip seeds until the 3-byte flip
      // provably lands within the cutoff (the assertion would go
      // vacuous if the distortion blew past it)
      def twinOf(b: Array[Byte]): Array[Byte] =
        (0 until 50).iterator.map { t =>
          val c = b.clone(); val r = new scala.util.Random(31 * t + 7)
          (0 until 3).foreach(_ => c(33 + r.nextInt(c.length - 33)) = r.nextInt(256).toByte)
          c
        }.find(c => java.lang.Long.bitCount(phash64(c) ^ phash64(b)) <= PhashHam)
          .getOrElse(fail("no hamming-close 3-flip twin in 50 seeds"))
      // train-bucket caption of 60 stopword-free tokens: quality =
      // min(1, 60/100) = 0.6 >= CapQual, and the q68 gate keeps it
      def bucketOf(t: String): Long = Seq(t).toDF("text")
        .select(expr(operators.Sampling.BucketExpr)).collect()(0).getLong(0)
      def caption(tag: String): String = (0 to 20).iterator
        .map(k => (0 until 60).map(j => s"${tag}k${k}w$j").mkString(" "))
        .find(t => bucketOf(t) < operators.Sampling.TrainLt)
        .getOrElse(fail(s"no train-bucket caption for $tag in 21 tries"))

      // base: a GenData media corpus, fully built -> persisted phashes
      val baseIn = s"$root/base"; val prev = s"$root/prev"
      GenData.generate(spark, baseIn, 400, 100, None, 0.3, "salad", Some(300))
      BuildCorpus.run(spark, baseIn, prev)
      val basePh = spark.read.parquet(s"$prev/phashes").localCheckpoint(false)
      assert(basePh.count() > 0, "base build persisted no admitted-image hashes")

      // the planted cross-increment twin source: a base ADMITTED image
      val srcRow = spark.read.parquet(s"$baseIn/media.parquet")
        .join(basePh.select("doc_id"), "doc_id")
        .orderBy("doc_id").limit(1)
        .select("doc_id", "payload").as[(Long, Array[Byte])].collect()(0)

      // increment 1: A twin-of-base, B fresh, C fresh + D twin-of-C
      // (intra-increment family), E gate-failing dims, T text-only
      val Seq(a, bId, cId, dId, e, t) =
        Seq(700001L, 700002L, 700003L, 700004L, 700005L, 700006L)
      val freshB = png(4001L)
      val freshC = png(4002L)
      val media1 = Seq(
        a -> twinOf(srcRow._2), bId -> freshB, cId -> freshC,
        dId -> twinOf(freshC), e -> png(4003L, 64, 64))
      val in1 = s"$root/in1"; val out1 = s"$root/out1"
      Seq(a, bId, cId, dId, e, t).map(id => (id, caption(s"m$id"), "en", "srcM"))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$in1/documents.parquet")
      media1.toDF("doc_id", "payload").write.parquet(s"$in1/media.parquet")
      val log1 = BuildCorpus.incremental(spark, in1, prev, out1, incId = 1L)
        .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap

      // gate: A-D admitted (twins carry valid headers + good captions),
      // E fails on dims; families: A drops as a RESIDENT dup, D as the
      // intra-increment non-canonical, B and C (canonicals) survive
      assert(log1("media_gate")._1 == 5L && log1("media_gate")._2 == 4L,
        s"media_gate row: ${log1("media_gate")}")
      assert(log1("image_families")._3.contains("resident_dups=1"),
        s"cross-increment twin not caught: ${log1("image_families")}")
      val ids1 = spark.read.parquet(s"$out1/shards").select("doc_id")
        .as[Long].collect().toSet
      assert(ids1(bId) && ids1(cId) && ids1(t),
        s"fresh/canonical/text-only docs missing from the shipment: $ids1")
      assert(!ids1(a), "the cross-increment image twin shipped")
      assert(!ids1(dId), "an intra-increment non-canonical family member shipped")
      assert(!ids1(e), "a gate-failing image doc shipped")
      // survivors' hashes (B, C, D — admitted family members, the
      // base-build convention) landed for the NEXT increment
      val deltaPh = spark.read.parquet(s"$prev/phashdelta")
        .select("doc_id").as[Long].collect().toSet
      assert(deltaPh == Set(bId, cId, dId), s"phashdelta: $deltaPh")
      // the increment's corpus dir is itself multimodal: exactly the
      // shipped docs' payloads
      val shipMedia = spark.read.parquet(s"$out1/corpus/media.parquet")
        .select("doc_id").as[Long].collect().toSet
      assert(shipMedia == Set(bId, cId), s"shipped media: $shipMedia")

      // crash replay of increment 1 is pure: same shipment, same
      // phashdelta (probe excluded its own batch)
      def snap(p: String) = spark.read.parquet(p).collect().map(_.toString).sorted
      val phPre = snap(s"$prev/phashdelta")
      val out1b = s"$root/out1b"
      BuildCorpus.incremental(spark, in1, prev, out1b, incId = 1L)
      assert(snap(s"$out1b/shards").sameElements(snap(s"$out1/shards")),
        "replayed media increment changed the shipped shards")
      assert(snap(s"$prev/phashdelta").sameElements(phPre),
        "replayed media increment mutated the phash delta")

      // increment 2 chains: F twin of INCREMENT 1's admitted B drops
      // (via phashdelta), fresh G ships
      val Seq(f, g2) = Seq(710001L, 710002L)
      val in2 = s"$root/in2"; val out2 = s"$root/out2"
      Seq(f, g2).map(id => (id, caption(s"m$id"), "en", "srcM"))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$in2/documents.parquet")
      Seq(f -> twinOf(freshB), g2 -> png(4004L))
        .toDF("doc_id", "payload").write.parquet(s"$in2/media.parquet")
      val log2 = BuildCorpus.incremental(spark, in2, prev, out2, incId = 2L)
        .collect().map(r => r.getString(1) -> r.getString(4)).toMap
      assert(log2("image_families").contains("resident_dups=1"),
        s"chained twin not caught: ${log2("image_families")}")
      val ids2 = spark.read.parquet(s"$out2/shards").select("doc_id")
        .as[Long].collect().toSet
      assert(!ids2(f), "a twin of a prior increment's admitted image shipped")
      assert(ids2(g2), "the fresh image doc did not ship: assertions vacuous")
    }
  }
}
