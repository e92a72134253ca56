package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{BandOps, MinHashSig, SimHashOps, TopK, VectorOps}

/** Per-layer probes of a traced run: each times one public call of a
  * layer on the workload's own data, under its own span, after the
  * measured part of the run. */
object Probes {
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Seconds and Spark counts of `body`, run under span `name`. */
  def timed(ctx: Ctx, name: String)(body: => Unit): (Double, Counts) = {
    val t0 = System.nanoTime
    ctx.trace.span(name)(body)
    val s = (System.nanoTime - t0) / 1e9
    val span = ctx.trace.spans.filter(_.name == name).maxBy(_.start)
    (s, ctx.trace.inclusive(span.id, ctx.trace.counts()))
  }

  private def exists(dir: String, t: String) =
    new java.io.File(Tables.rawPath(dir, t)).exists

  /** tables.scan_s.<t> / tables.partitions.<t>: a noop scan of `Tables`. */
  def tables(ctx: Ctx, dir: String, names: Seq[String]): Unit =
    names.filter(exists(dir, _)).foreach { t =>
      var parts = 0
      val (s, _) = timed(ctx, s"tables.$t") {
        val df = Tables(ctx.spark, dir, t)
        parts = df.rdd.getNumPartitions
        noop(df)
      }
      ctx.layer(s"tables.scan_s.$t") = s
      ctx.layer(s"tables.partitions.$t") = parts
    }

  /** ops.<fn>.s / ops.<fn>.jobs: each call materialized through noop. */
  def ops(ctx: Ctx, calls: Seq[(String, () => DataFrame)]): Unit = calls.foreach {
    case (fn, call) =>
      val (s, c) = timed(ctx, s"ops.$fn")(noop(call()))
      ctx.layer(s"ops.$fn.s") = s
      ctx.layer(s"ops.$fn.jobs") = c.jobs.toDouble
  }

  /** Row-wise inputs are replicated to at least this many rows so the
    * expression, not job launch, dominates the probe. */
  private val MinRows = 200000L

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.localCheckpoint(true)
    (c, c.count())
  }

  private def widened(df: DataFrame, n: Long): DataFrame = {
    val copies = math.max(1L, (MinRows + n - 1) / math.max(n, 1L))
    df.crossJoin(broadcast(df.sparkSession.range(copies).toDF("_copy"))).drop("_copy")
  }

  /** functions.<expr>.rows_per_s over the workload's documents and
    * embeddings; inputs are checkpointed first, so only the
    * expression or aggregate is timed. */
  def functions(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    def rate(name: String, rows: Long)(df: DataFrame): Unit = {
      val (s, _) = timed(ctx, s"functions.$name")(noop(df))
      ctx.layer(s"functions.$name.rows_per_s") = rows / s
    }
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), expr(graft.operators.Dedup.tokensExpr).as("tks"))
    val (tks, nDocs) = cached(docs)
    val (wide, nWide) = cached(widened(tks, nDocs))
    rate("simhash64", nWide)(wide.select(SimHashOps.simhash64(col("tks"))))

    val (elems, nElems) = cached(tks.select(col("doc_id"), explode(col("tks")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h")))
    val (sigs, _) = cached(elems.groupBy("doc_id")
      .agg(MinHashSig.minhashSig(64)(col("h")).as("sig")))
    rate("minhashSig", nElems)(elems.groupBy("doc_id")
      .agg(MinHashSig.minhashSig(64)(col("h")).as("sig")))

    // pairs of packed 16-band x 16-bit signatures (4 longs each)
    val packed = sigs.select(col("doc_id"), slice(col("sig"), 1, 4).as("p"))
    val (pairs, nPairs) = cached(widened(packed.as("x").join(packed.as("y"),
        col("y.doc_id") === col("x.doc_id") + 1)
      .select(col("x.p").as("px"), col("y.p").as("py")), nDocs))
    rate("firstSharedBand", nPairs)(pairs.select(
      BandOps.firstSharedBand(col("px"), col("py"), 16, 16)))

    val (vecs, nVecs) = cached(widened(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding")), 0L + spark.read
      .parquet(Tables.rawPath(dir, "embeddings")).count()))
    rate("dotp", nVecs)(vecs.select(VectorOps.dotp(col("embedding"), col("embedding"))))
    rate("topk", nVecs)(vecs.groupBy("label").agg(TopK.topk(10)(
      VectorOps.dotp(col("embedding"), col("embedding")), col("vec_id"))))
    Seq(tks, wide, elems, sigs, pairs, vecs).foreach(_.unpersist())
  }
}
