package perfbench

import org.apache.spark.sql.functions.col

import graft.{Q, SparkEntry, Tables}
import graft.operators.ops

/** Many short analytic queries, closed loop, one client, fresh
  * session: one cold pass, then one warm pass per 10 of the run's
  * seconds (at least two). The pass count follows `--seconds`, not the
  * clock: later passes run faster as the JIT warms, so a clock-driven
  * count would move the median with the host's speed. The seed
  * permutes the query order.
  *
  * The mix keeps the reference platform's batch analytics (q20 hourly
  * revenue, q22 LTV) and the queries the scheduling-bound open items
  * act on: the `ops` two-phase core (q30, q123), the mix's most
  * job-heavy query (q171, 16 jobs per pass on sf0.01), and Memo-backed
  * fits paid only by the cold pass (q30, q42). It is six queries, not
  * more, so that a run with its set-up and checks stays near a minute
  * on 4 cores. */
object QueryMix extends Workload {
  val Mix = Seq("q20_hourly_revenue", "q22_customer_ltv", "q30_rfm_segments",
    "q123_exact_percentiles", "q42_minhash_lsh", "q171_image_families")
  /** Queries whose first call in a session fits a `graft.Memo` cache. */
  val MemoBacked = Set("q30_rfm_segments", "q42_minhash_lsh")

  /** Operator module of each query, the `operators.<Family>` layer name. */
  private lazy val family: Map[String, String] = {
    import graft.operators._
    Seq("Relational" -> Relational.qs, "Events" -> Events.qs, "MlOps" -> MlOps.qs,
      "Dedup" -> Dedup.qs, "Similarity" -> Similarity.qs, "TextOps" -> TextOps.qs,
      "Sampling" -> Sampling.qs, "Multimodal" -> Multimodal.qs, "Tokenizer" -> Tokenizer.qs)
      .flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap
  }

  private var order: Seq[Q] = Nil
  /** Per pass: (query, wall seconds) of each query that succeeded. */
  private val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]

  def prepare(ctx: Ctx): Unit = {
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    order = new scala.util.Random(ctx.seed).shuffle(Mix).map(byName)
  }

  private def spanName(q: Q) = s"operators.${family(q.name)}.${q.name}"

  def run(ctx: Ctx): Unit = {
    val warmPasses = math.max(2, (ctx.seconds / 10).toInt)
    while (passes.size <= warmPasses && !ctx.pastDeadline) {
      val p = passes.size
      val walls = ctx.trace.span(s"pass.$p") {
        order.flatMap { q =>
          val a = System.nanoTime
          ctx.op(q.name)(ctx.trace.span(spanName(q)) {
            q.fn(ctx.spark, ctx.data).write.format("noop").mode("overwrite").save()
          }).map(_ => q.name -> (System.nanoTime - a) / 1e9)
        }
      }
      passes += walls
    }
    val passS = passes.map(_.map(_._2).sum)
    ctx.e2e("cold_s") = passS.head
    ctx.e2e("warm_s") = Stats.median(passS.tail.toSeq)
    val warm = passes.tail.flatten.groupMap(_._1)(_._2).map { case (k, v) => k -> Stats.median(v.toSeq) }
    val cold = passes.head.toMap
    ctx.detail ++= Seq("cold_pass_s" -> passS.head, "warm_pass_s" -> ctx.e2e("warm_s"),
      "warm_passes" -> (passes.size - 1), "query_cold_s" -> cold, "query_warm_s" -> warm,
      "order" -> order.map(_.name))
    if (ctx.trace.on) {
      ctx.layer("memo.fit_s") = MemoBacked.toSeq.flatMap(q =>
        for (c <- cold.get(q); w <- warm.get(q)) yield c - w).sum
      perPassFamilies(ctx)
    }
  }

  /** operators.<Family>.{s,jobs,tasks}: per warm pass, median over passes. */
  private def perPassFamilies(ctx: Ctx): Unit = {
    val spans = ctx.trace.spans
    val own = ctx.trace.counts()
    val warmPasses = spans.filter(s => s.name.startsWith("pass.") && s.name != "pass.0")
    Mix.map(family).distinct.foreach { f =>
      val per = warmPasses.map { p =>
        val qs = spans.filter(s => s.parent == p.id && s.name.startsWith(s"operators.$f."))
        val c = new Counts
        qs.foreach(s => c += ctx.trace.inclusive(s.id, own))
        (qs.map(s => (s.end - s.start) / 1e9).sum, c.jobs.toDouble, c.tasks.toDouble)
      }
      ctx.layer(s"operators.$f.s") = Stats.median(per.map(_._1))
      ctx.layer(s"operators.$f.jobs") = Stats.median(per.map(_._2))
      ctx.layer(s"operators.$f.tasks") = Stats.median(per.map(_._3))
    }
  }

  def verify(ctx: Ctx): Unit = order.foreach { q =>
    q.oracle match {
      case Some(sql) =>
        // compared against DuckDB by the launcher
        val out = s"${ctx.dir("oracle")}/${q.name}"
        ctx.op(s"${q.name} output")(q.fn(ctx.spark, ctx.data).coalesce(1)
          .write.mode("overwrite").parquet(out))
        ctx.oracle += Map("name" -> q.name, "sql" -> sql, "out" -> out)
      case None =>
        ctx.op(s"${q.name} output")(q.fn(ctx.spark, ctx.data).count()).foreach { n =>
          ctx.check(s"${q.name}.rows", n > 0, s"rows=$n")
        }
    }
  }

  val ProbeTables = Seq("events", "lineitem", "orders", "documents", "embeddings")

  /** Traced runs add the `Tables` and `ops` probes on this workload's
    * tables, and a short paced stream over its events for the
    * streaming layer (see [[StreamEnrich.probeFrom]]). */
  def probe(ctx: Ctx): Unit = {
    Probes.tables(ctx, ctx.data, ProbeTables)
    val li = Tables(ctx.spark, ctx.data, "lineitem")
    val price = col("l_extendedprice")
    val key = Seq(col("l_orderkey"), col("l_linenumber"))
    Probes.ops(ctx, Seq(
      "groupedGlobalRank" -> (() => ops.groupedGlobalRank(li, "l_returnflag", "rk", price +: key: _*)),
      "groupedGlobalCumsumN" -> (() => ops.groupedGlobalCumsumN(li, "l_returnflag",
        Seq((col("l_quantity"), "cq", Some("tq"))), key: _*)),
      "globalNtile" -> (() => ops.globalNtile(li, 10, "nt", price +: key: _*)),
      "groupedGlobalNtile" -> (() => ops.groupedGlobalNtile(li, "l_returnflag", 10, "nt",
        price +: key: _*))))
    StreamEnrich.probeFrom(ctx)
  }
}
