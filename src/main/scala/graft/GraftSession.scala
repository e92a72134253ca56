package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * `local(threads)` is the single-JVM harness used by Bench/Verify
  * and tests. `tune` applies the same SQL confs to any builder, so a
  * cluster deployment does
  * `GraftSession.tune(SparkSession.builder()...).getOrCreate()` and
  * sizes executors/shuffle partitions for its topology (rule of
  * thumb at 100 TB: shuffle partitions ≈ 2-3× total executor cores,
  * with AQE coalescing the rest).
  *
  * The codegen class cache is capped at [[CodegenCacheEntries]]
  * because Spark's default of 100 classes is smaller than any of
  * graft's working sets, so every repeated plan was compiled by
  * Janino again. The cap is a static conf read once, when
  * `CodeGenerator` first loads: a SparkContext made before `tune`
  * (or any codegen run before it) keeps 100 for the life of the JVM.
  */
object GraftSession {

  /** Compiled classes kept per JVM. Measured working sets on
    * `local[4]`: one `query_mix` pass ~230 distinct classes, one
    * `BuildCorpus` build ~480, all 166 `SparkEntry` queries at sf0.01
    * 2,709. The cache keys on the generated source, so a hit reuses a
    * class identical to a fresh compile. */
  val CodegenCacheEntries = 4096

  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    // UTC everywhere: event-time arithmetic must not depend on host tz.
    .config("spark.sql.session.timeZone", "UTC")
    // AQE: runtime re-plan — join-strategy switch on real sizes,
    // skew-join splitting, post-shuffle partition coalescing.
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // events.parquet carries TIMESTAMP(NANOS); see Tables.events.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    // custom SQL functions (dot_product, l2_norm). withExtensions
    // (not just the static conf) so registration also works when a
    // SparkContext already exists — static confs are ignored then.
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .withExtensions(new GraftExtensions())

  def local(threads: Int): SparkSession = {
    val s = tune(SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
