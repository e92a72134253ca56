package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The scenario harness end to end: every scenario runs on one tiny
  * GenData corpus (two chunks), and each emitted JSON record holds the
  * invariant its counts must satisfy. Plus the drain's contract: it
  * counts every trigger whatever the session's progress retention. */
class ScenarioSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark.{spark, withTmpDir}

  private val mapper = new ObjectMapper()

  private val corpusDir = java.nio.file.Files.createTempDirectory("graft-scenario-corpus")
  private lazy val corpus: String = {
    GenData.generate(spark, corpusDir.toString, 300, 300, Some(600), nMediaOpt = Some(120))
    corpusDir.toString
  }
  override def afterAll(): Unit = FileUtils.deleteDirectory(corpusDir.toFile)

  private def run(name: String, args: String*): Seq[JsonNode] =
    Scenario.run(spark, name, corpus +: args).map(mapper.readTree)

  test("admit: every streamed doc is novel or a dup") {
    val Seq(r) = run("admit", "2")
    assert(r.get("rows").asLong == 30L && r.get("batches").asInt == 2, r)
    assert(r.get("n_novel").asLong + r.get("n_dup").asLong == r.get("rows").asLong, r)
    assert(r.get("trigger_secs").size == 2, r)
  }

  test("lex: ingest takes exactly the 10% split, retrieve every query") {
    val Seq(r) = run("lex", "2", "2")
    val split = Tables(spark, corpus, "documents")
      .filter(pmod(col("doc_id"), lit(10)) === 7).count()
    assert(r.get("ingest_rows").asLong == split && r.get("ingest_batches").asInt == 2, r)
    assert(r.get("queries").asLong == 2L * Scenario.QPerTrigger, r)
    assert(r.get("admitted").asLong <= split, r)
  }

  test("stream: every pipeline reads the whole spool and holds state within its bound") {
    val recs = run("stream", "2")
    assert(recs.map(_.get("pipeline").asText) ==
      Seq("ltv_stateful", "sessions", "rolling_active", "session_paths", "season"))
    recs.foreach { r =>
      assert(r.get("rows").asLong == 600L && r.get("batches").asInt == 2, r)
      assert(r.get("max_state_rows").asLong <= r.get("state_bound").asLong, r)
    }
  }

  test("drift: one record per sweep chunk, each chunk one trigger") {
    val Seq(r) = run("drift", "40")
    assert(r.get("chunks").size == 8, r)
    (0 until 8).foreach(i => assert(r.get("chunks").get(i).get("rows").asLong == 40L, r))
    assert(r.get("chunk_rows").asInt == 40 && r.get("base_vecs").asLong == 300L, r)
  }

  test("scope: scoping never adds pairs") {
    val Seq(r) = run("scope", "4", "1")
    assert(r.get("scoped_pairs").asLong <= r.get("unscoped_pairs").asLong, r)
  }

  test("fit: the sampled/full error ratio is finite") {
    val Seq(r) = run("fit", "1")
    val ratio = r.get("mse_ratio")
    assert(ratio.isNumber && !ratio.asDouble.isNaN && !ratio.asDouble.isInfinite, r)
    assert(r.get("n").asLong == 300L, r)
  }

  test("drain counts every trigger past the progress retention") {
    withTmpDir("drain") { dir =>
      val spool = Scenario.spool(spark.range(50).withColumn("_chunk", col("id") % 5), 5, dir)
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2")
      try {
        val d = Scenario.drain(spark)(spark.readStream.schema("id BIGINT")
          .option("maxFilesPerTrigger", 1).parquet(spool)
          .writeStream.format("noop").start())
        assert(d.batches == 5 && d.rows == 50L && d.triggerSecs.length == 5, d)
      } finally spark.conf.unset("spark.sql.streaming.numRecentProgressUpdates")
    }
  }
}
