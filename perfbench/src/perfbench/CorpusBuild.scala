package perfbench

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{BuildCorpus, Tables}
import graft.sources.DupIndex

/** One compute-heavy composed job: `BuildCorpus.run` builds the base
  * corpus into a fresh directory, then `BuildCorpus.incremental` adds
  * the held-out delta against it. One cycle of (base, increment) runs
  * per 60 of the run's seconds (at least one), each in fresh
  * directories, so no `Memo` cache is ever reused. The seed picks which ~10% of ids are
  * held out; embeddings and media follow their ids. */
object CorpusBuild extends Workload {
  val InputTables = Seq("documents", "embeddings", "media")
  private val idCol = Map("documents" -> "doc_id", "embeddings" -> "vec_id", "media" -> "doc_id")

  private def base(ctx: Ctx) = s"${ctx.work}/in/base"
  private def delta(ctx: Ctx) = s"${ctx.work}/in/delta"
  /** Per cycle: (base wall, base ledger, increment wall, increment ledger, dirs). */
  private val cycles = scala.collection.mutable.ArrayBuffer.empty[
    (Double, Seq[Row], Double, Seq[Row], String)]

  def prepare(ctx: Ctx): Unit = InputTables.foreach { t =>
    val df = ctx.spark.read.parquet(Tables.rawPath(ctx.data, t))
    val held = pmod(xxhash64(col(idCol(t)), lit(ctx.seed)), lit(10)) === 0
    df.filter(!held).coalesce(1).write.parquet(Tables.rawPath(base(ctx), t))
    df.filter(held).coalesce(1).write.parquet(Tables.rawPath(delta(ctx), t))
  }

  private def timedLedger(ctx: Ctx, name: String)(f: => DataFrame): (Double, Seq[Row]) = {
    val t0 = System.nanoTime
    val rows = ctx.trace.span(name)(f.collect().toSeq)
    ((System.nanoTime - t0) / 1e9, rows)
  }

  def run(ctx: Ctx): Unit = {
    val n = math.max(1, (ctx.seconds / 60).toInt)
    while (cycles.size < n && !ctx.pastDeadline) {
      val out = ctx.dir(s"build${cycles.size}")
      val b = ctx.op("BuildCorpus.run")(timedLedger(ctx, "BuildCorpus.run")(
        BuildCorpus.run(ctx.spark, base(ctx), s"$out/base")))
      val i = b.flatMap(_ => ctx.op("BuildCorpus.incremental")(
        timedLedger(ctx, "BuildCorpus.incremental")(
          BuildCorpus.incremental(ctx.spark, delta(ctx), s"$out/base", s"$out/inc", 1L))))
      (b, i) match {
        case (Some((bs, bl)), Some((is, il))) => cycles += ((bs, bl, is, il, out))
        case _ => return
      }
    }
    ctx.e2e("cold_s") = Stats.median(cycles.map(_._1).toSeq)
    ctx.e2e("warm_s") = Stats.median(cycles.map(_._3).toSeq)
    val (bs, bl, _, il, _) = cycles.head
    ctx.detail ++= Seq("build_s" -> ctx.e2e("cold_s"), "incremental_s" -> ctx.e2e("warm_s"),
      "cycles" -> cycles.size, "base_ledger" -> bl.map(_.toSeq),
      "inc_ledger" -> il.map(_.toSeq))
    if (ctx.trace.on) {
      bl.foreach(r => ctx.layer(s"build.stage_s.${r.getString(1)}") = r.getDouble(5))
      il.foreach(r => ctx.layer(s"build.inc_stage_s.${r.getString(1)}") = r.getDouble(5))
      ctx.layer("build.overlap") = bl.map(_.getDouble(5)).sum / bs
    }
  }

  /** Ledger invariants of one build: no stage outputs more than it
    * took in, along the text chain no stage takes in more than the
    * previous one shipped, and the shipped rows equal the shard,
    * manifest and corpus-directory totals. */
  private def ledgerChecks(ctx: Ctx, name: String, ledger: Seq[Row], out: String,
      packStage: String): Unit = {
    val byStage = ledger.map(r => r.getString(1) -> r).toMap
    def nIn(st: String) = byStage(st).getLong(2)
    def nOut(st: String) = byStage(st).getLong(3)
    val grows = ledger.filter(r => !Set("dup_index", "mixture_drift", "shards")
        .contains(r.getString(1)) && r.getLong(3) > r.getLong(2))
      .map(r => s"${r.getString(1)}:${r.getLong(2)}->${r.getLong(3)}")
    val chain = Seq("intake", "normalize", "gate_keep", "decontaminate", packStage)
    val chainGrows = chain.sliding(2).collect {
      case Seq(a, b) if nIn(b) > nOut(a) => s"$a.out=${nOut(a)}<$b.in=${nIn(b)}"
    }
    val bad = grows ++ chainGrows
    ctx.check(s"$name.counts_never_grow", bad.isEmpty, bad.mkString(" "))
    val spark = ctx.spark
    val shards = spark.read.parquet(s"$out/shards").count()
    val manifest = spark.read.parquet(s"$out/manifest.parquet")
    val m = manifest.agg(coalesce(sum("n_docs"), lit(0L)), count(lit(1))).collect()(0)
    val corpus = spark.read.parquet(s"$out/corpus/documents.parquet").count()
    val shipped = nOut(packStage)
    ctx.check(s"$name.shipped_totals", shipped == shards && shards == m.getLong(0) &&
        shards == corpus && nOut("shards") == m.getLong(1),
      s"ledger=$shipped shards=$shards manifest=${m.getLong(0)} corpus=$corpus " +
        s"shard_files=${nOut("shards")} manifest_rows=${m.getLong(1)}")
  }

  def verify(ctx: Ctx): Unit = cycles.foreach { case (_, bl, _, il, out) =>
    ledgerChecks(ctx, "base", bl, s"$out/base", "mix_pack")
    ledgerChecks(ctx, "inc", il, s"$out/inc", "pack")
  }

  def probe(ctx: Ctx): Unit = {
    Probes.tables(ctx, base(ctx), InputTables)
    Probes.functions(ctx, base(ctx))
    val spark = ctx.spark
    val idx = s"${ctx.dir("probe")}/dupindex"
    val baseDocs = Tables(spark, base(ctx), "documents").select("doc_id", "text")
    val deltaDocs = Tables(spark, delta(ctx), "documents").select("doc_id", "text")
    val (w, _) = Probes.timed(ctx, "sources.DupIndex.writeFrom")(
      DupIndex.writeFrom(spark, baseDocs, idx))
    val (p, _) = Probes.timed(ctx, "sources.DupIndex.probe")(
      DupIndex.probe(spark, idx, deltaDocs).write.format("noop").mode("overwrite").save())
    val (a, _) = Probes.timed(ctx, "sources.DupIndex.appendDelta")(
      DupIndex.appendDelta(spark, idx, s"$idx-delta", deltaDocs, 1L))
    val inBytes = baseDocs.agg(sum(octet_length(col("text")))).collect()(0).getLong(0)
    ctx.layer("sources.dupindex.write_s") = w
    ctx.layer("sources.dupindex.probe_s") = p
    ctx.layer("sources.dupindex.append_s") = a
    ctx.layer("sources.dupindex.bytes_per_input_byte") = FileUtils.sizeOfDirectory(new java.io.File(idx)) / inBytes.toDouble
  }
}
