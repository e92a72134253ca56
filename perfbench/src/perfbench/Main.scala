package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the inputs, and what the
  * run has measured and checked so far. */
final class Ctx(val spark: SparkSession, val trace: Trace, val cores: Int,
    val seed: Long, val seconds: Double, val data: String, val work: String,
    deadlineNs: Long) {
  /** End-to-end metrics, by their BENCHMARK.json names. */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer metrics (traced runs only). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's own figures under the names the workload defines. */
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val oracle = mutable.ArrayBuffer.empty[Map[String, Any]]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** Runs one operation of the workload; a throw is logged and
    * counted as a failure instead of ending the run. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) =>
      failed += 1
      errors += s"$what: $e"
      System.err.println(s"[perfbench] $what failed: $e")
      e.printStackTrace()
      None
    }
  }

  /** Records an output check; a failed check is a failed operation. */
  def check(name: String, ok: Boolean, msg: String): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += Map("name" -> name, "ok" -> ok, "detail" -> msg)
    System.err.println(s"[perfbench] check $name: ${if (ok) "ok" else "FAILED"} $msg")
  }

  def pastDeadline: Boolean = System.nanoTime > deadlineNs

  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getPath
  }
}

/** One workload: seeded inputs (untimed), the measured run, and the
  * output checks and per-layer probes that follow it (untimed). */
trait Workload {
  def prepare(ctx: Ctx): Unit
  def run(ctx: Ctx): Unit
  def verify(ctx: Ctx): Unit
  def probe(ctx: Ctx): Unit
}

/** Entry point of the benchmark JVM.
  *
  *   gen corpus <outDir> <docs> <vectors> <media>
  *   run <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir>
  *       <resultJson> <traceJson> <budgetSeconds>
  */
object Main {
  val workloads: Map[String, Workload] = Map(
    "query_mix" -> QueryMix, "corpus_build" -> CorpusBuild, "stream_enrich" -> StreamEnrich)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: String, v: Any): Unit = json.writeValue(new java.io.File(path), v)

  private def cores: Int = Runtime.getRuntime.availableProcessors

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: "corpus" :: out :: docs :: vecs :: media :: Nil =>
      val spark = graft.GraftSession.local(cores)
      graft.GenData.generate(spark, out, docs.toInt, vecs.toInt, nMediaOpt = Some(media.toInt))
      spark.stop()
    case "run" :: wl :: seed :: seconds :: tr :: data :: work :: result :: traceOut :: budget :: Nil =>
      run(workloads(wl), seed.toLong, seconds.toDouble, tr == "1", data, work, result,
        traceOut, budget.toDouble)
      sys.exit(0)
    case _ =>
      System.err.println("usage: gen corpus <out> <docs> <vectors> <media> | run <workload> <seed> <seconds> " +
        "<trace> <data> <work> <result> <traceOut> <budget>")
      sys.exit(2)
  }

  /** Warms the engine the way a long-lived application would have
    * been warmed: a shuffle job through codegen and the noop sink. */
  private def warmUp(spark: SparkSession): Unit =
    spark.range(0, 1000000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v").write.format("noop").mode("overwrite").save()

  private def run(wl: Workload, seed: Long, seconds: Double, traced: Boolean,
      data: String, work: String, result: String, traceOut: String, budget: Double): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val deadline = System.nanoTime + (budget * 1e9).toLong
    val spark = graft.GraftSession.local(cores)
    warmUp(spark)
    val setupS = (System.currentTimeMillis - jvmStartMs) / 1000.0
    val origin = System.nanoTime
    val ctx = new Ctx(spark, new Trace(traced, spark.sparkContext), cores, seed, seconds,
      data, work, deadline)
    ctx.e2e("setup_s") = setupS
    ctx.op("prepare")(wl.prepare(ctx))
    if (ctx.failed == 0) {
      val t0 = System.nanoTime
      ctx.op("run")(ctx.trace.span("run")(wl.run(ctx)))
      if (traced) {
        val run = ctx.trace.spans.find(_.name == "run").get
        ctx.trace.inclusive(run.id, ctx.trace.counts())
          .fields((System.nanoTime - t0) / 1e9, cores)
          .foreach { case (k, v) => ctx.layer(s"spark.$k") = v }
        ctx.op("probe")(wl.probe(ctx))
      }
      ctx.op("verify")(wl.verify(ctx))
    }
    if (ctx.pastDeadline) {
      ctx.failed += 1
      ctx.errors += "the run overran its time guard"
    }
    if (traced) {
      val spans = ctx.trace.dump(origin, cores)
      write(traceOut, spans)
    }
    val out = Map[String, Any]("attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "e2e" -> ctx.e2e, "layer" -> ctx.layer, "detail" -> ctx.detail,
      "checks" -> ctx.checks, "oracle" -> ctx.oracle, "errors" -> ctx.errors)
    write(result, out)
    spark.stop()
  }
}
