package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared numeric helpers for oracle-parity.
  *
  * Spark's `round(double, n)` goes through `BigDecimal.valueOf`
  * (shortest-decimal-string of the double) while DuckDB rounds the
  * binary value directly — they disagree on e.g. 36639.504999999997.
  * `floor(x*10^n + 0.5)/10^n` is pure IEEE arithmetic and evaluates
  * bit-identically in both engines, so every rounded output column
  * uses it (Spark side here, `floor(x*100+0.5)/100` in oracle SQL).
  */
object ops {
  def r2(c: Column): Column = floor(c * 100.0 + 0.5) / 100.0
  def r4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0
  def r6(c: Column): Column = floor(c * 1000000.0 + 0.5) / 1000000.0

  /** Oracle-SQL fragment equivalents. */
  def R2(e: String): String = s"floor(($e)*100.0 + 0.5)/100.0"
  def R4(e: String): String = s"floor(($e)*10000.0 + 0.5)/10000.0"
  def R6(e: String): String = s"floor(($e)*1000000.0 + 0.5)/1000000.0"

  /** Money-exact aggregation, retiring the r2(sum(double)) risk class
    * (the q09 lesson): round each ROW to integer cents — one
    * deterministic FP multiply, bit-identical cross-engine — sum
    * longs (order-independent), divide once at the end. `r2(sum(x))`
    * instead rounds a shuffled double sum whose accumulation order
    * differs from the oracle's, and with enough groups one lands on a
    * floor boundary where an ulp flips the cent. DuckDB `/` on
    * integer operands is float division returning DOUBLE, so
    * `sum(cents)/100.0` is the same IEEE divide in both engines. */
  def cents(c: Column): Column = floor(c * 100.0 + 0.5).cast("long")
  def sumMoney(c: Column): Column = sum(cents(c)) / 100.0
  def avgMoney4(c: Column): Column = r4(sum(cents(c)) / (lit(100.0) * count(lit(1))))
  def Cents(e: String): String = s"CAST(floor(($e)*100.0 + 0.5) AS BIGINT)"

  /** Oracle-side event-time micros. The explicit `::TIMESTAMP` cast
    * keeps the fragment generation-robust: on the TIMESTAMP(NANOS)
    * testdata generation DuckDB reads TIMESTAMP_NS and a bare
    * `epoch_us(ts)` would rely on implicit-cast truncation, while the
    * cast pins micros precision before the epoch extraction (the
    * defensive spelling sessCte established; shared here so every
    * event-time oracle inherits it). */
  def EpochUs(e: String): String = s"epoch_us(($e)::TIMESTAMP)"
  def SumMoney(e: String): String = s"sum(${Cents(e)})/100.0"
  def AvgMoney4(e: String): String = R4(s"sum(${Cents(e)}) / (100.0*count(*))")

  /** Salted equi-join for skewed keys: the big side scatters each row
    * into one of `salt` sub-keys; the other side replicates `salt`
    * times; joining on (key, salt) spreads one hot key over `salt`
    * tasks. AQE's skew-join split handles most batch cases at
    * runtime — explicit salting remains for deterministic layouts and
    * stream-stream joins where AQE cannot re-plan. `key` must exist
    * on both sides (rename before calling); the replicated side's
    * size must tolerate ×salt duplication (dims, not facts).
    */
  def saltedJoin(big: DataFrame, replicated: DataFrame, key: String, salt: Int): DataFrame = {
    val b = big.withColumn("_salt",
      pmod(hash(monotonically_increasing_id()), lit(salt)))
    val r = replicated.withColumn("_salt",
      explode(array((0 until salt).map(lit): _*)))
    b.join(r, Seq(key, "_salt")).drop("_salt")
  }

  /** Exact ranged prefix aggregates: the ONE two-phase core behind
    * every global rank, cumulative sum and ntile below, so none of them
    * degenerates to `Window.orderBy(...)` (one task for the whole
    * frame) or `Window.partitionBy(grp)` (one task per group).
    *
    *  1. Range-partition on (grp, sort…): each group's rows lie in
    *     order across contiguous partitions.
    *  2. Per-(partition, group) partial aggregates → exclusive offsets
    *     and optional group totals, windows over a tiny frame (≤ nPart
    *     + #groups rows) broadcast back.
    *  3. Local running aggregate per (partition, group) + offset.
    *
    * Each `aggs` entry is (additive aggregate, out, optional total
    * out). The local frame is the default RANGE one, so `sort` must be
    * a strict total order within the group (ties would merge); `grp`
    * must be bounded-cardinality (the broadcast). Output: `grp` (the
    * join key), the other input columns, totals, prefixes.
    *
    * The ranged frame is checkpointed locally: RangePartitioner
    * boundaries come from sampling seeded per execution, and the
    * offset table and the ranked rows MUST see the same boundaries;
    * exchange reuse would make correctness depend on an optimizer
    * heuristic. Losing a checkpoint block fails the job
    * (correct-or-fail, never silently wrong). */
  private def rangedPrefix(df: DataFrame, grp: String,
      aggs: Seq[(Column, String, Option[String])], sort: Seq[Column]): DataFrame = {
    val nPart = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val ranged = df.repartitionByRange(nPart, (col(grp) +: sort): _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(false)
    val ix = aggs.indices
    val parts = ranged.groupBy(col("_pid"), col(grp))
      .agg(aggs.head._1.as("_s0"), ix.tail.map(i => aggs(i)._1.as(s"_s$i")): _*)
    val wOff = Window.partitionBy(grp).orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = parts.select(col("_pid") +: col(grp) +:
      (ix.map(i => coalesce(sum(s"_s$i").over(wOff), lit(0L)).as(s"_off$i")) ++
        ix.flatMap(i => aggs(i)._3.map(sum(s"_s$i").over(Window.partitionBy(grp)).as(_)))): _*)
    val wLoc = Window.partitionBy(col("_pid"), col(grp)).orderBy(sort: _*)
    val local = ranged.select(col("*") +: ix.map(i => aggs(i)._1.over(wLoc).as(s"_loc$i")): _*)
    ix.foldLeft(local.join(broadcast(offs), Seq("_pid", grp))) { (f, i) =>
      f.withColumn(aggs(i)._2, col(s"_loc$i") + col(s"_off$i"))
    }.drop("_pid" +: ix.flatMap(i => Seq(s"_loc$i", s"_off$i")): _*)
  }

  /** Exact per-group global rank (1..n_g within each group): the
    * running count of [[rangedPrefix]]. `count`, not `sum(1)`, keeps
    * the rank column non-null. */
  def groupedGlobalRank(df: DataFrame, grp: String, out: String, sort: Column*): DataFrame =
    rangedPrefix(df, grp, Seq((count(lit(1)), out, None)), sort)

  /** Per-group cumulative sum of `value` plus the group total (q123). */
  def groupedGlobalCumsum(df: DataFrame, grp: String, value: Column, out: String,
      totOut: String, sort: Column*): DataFrame =
    groupedGlobalCumsumN(df, grp, Seq((value, out, Some(totOut))), sort: _*)

  /** N-value [[groupedGlobalCumsum]] over ONE range partitioning and
    * ONE checkpoint (q174 needs cum_docs and cum_uq). Each entry is
    * (value, cumOut, optional group-total out). */
  def groupedGlobalCumsumN(df: DataFrame, grp: String,
      vals: Seq[(Column, String, Option[String])], sort: Column*): DataFrame =
    rangedPrefix(df, grp, vals.map { case (v, o, t) => (sum(v), o, t) }, sort)

  /** Ungrouped [[groupedGlobalCumsum]] over one constant group
    * (q125/q141/q145/q148's percentile selections). */
  def globalCumsum(df: DataFrame, value: Column, out: String, totOut: String,
      sort: Column*): DataFrame =
    groupedGlobalCumsum(df.withColumn("_g", lit(1)), "_g", value, out, totOut, sort: _*)
      .drop("_g")

  /** Ungrouped [[groupedGlobalCumsumN]]. */
  def globalCumsumN(df: DataFrame, vals: Seq[(Column, String, Option[String])],
      sort: Column*): DataFrame =
    groupedGlobalCumsumN(df.withColumn("_g", lit(1)), "_g", vals, sort: _*)
      .drop("_g")

  /** Exact global `ntile(k)`: [[groupedGlobalNtile]], one group. */
  def globalNtile(df: DataFrame, k: Int, out: String, sort: Column*): DataFrame =
    groupedGlobalNtile(df.withColumn("_g", lit(1)), "_g", k, out, sort: _*).drop("_g")

  /** Per-group exact ntile(k): running count `_rn` and group total `_n`
    * through SQL ntile arithmetic (first `_n % k` buckets one row
    * larger). Melted (key, grp, value) rows tile several metrics over
    * one partitioning (q30's r/f/m quartiles). */
  def groupedGlobalNtile(df: DataFrame, grp: String, k: Int, out: String,
      sort: Column*): DataFrame =
    rangedPrefix(df, grp, Seq((count(lit(1)), "_rn", Some("_n"))), sort)
      .withColumn(out, expr(
        s"""CASE WHEN _rn <= (_n % $k) * (_n div $k + 1)
                 THEN CAST((_rn - 1) div (_n div $k + 1) + 1 AS INT)
                 ELSE CAST((_n % $k) + (_rn - (_n % $k) * (_n div $k + 1) - 1) div (_n div $k) + 1 AS INT)
            END"""))
      .drop("_rn", "_n")
}
