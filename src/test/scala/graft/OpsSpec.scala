package graft

import graft.operators.ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** Multiset row equality in both directions, plus the entry point's
    * full output schema — names, order, types AND nullability (a
    * running `sum(1)` in place of a count would turn a non-null rank
    * nullable without changing a single row). */
  private def same(actual: DataFrame, expected: DataFrame, schema: StructType): Unit = {
    assert(actual.schema == schema, s"schema drifted: ${actual.schema.treeString}")
    assert(actual.exceptAll(expected).count() == 0, "unexpected rows")
    assert(expected.exceptAll(actual).count() == 0, "expected rows missing")
  }

  /** The entry point over an empty input: no rows, same schema. */
  private def emptyKeeps(op: DataFrame => DataFrame, in: DataFrame, schema: StructType): Unit = {
    val out = op(in.where(lit(false)))
    assert(out.schema == schema, s"empty-input schema drifted: ${out.schema.treeString}")
    assert(out.count() == 0)
  }

  test("saltedJoin returns exactly the rows of the plain join") {
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_partkey").as("k"), col("l_orderkey"), col("l_linenumber"))
    val part = Tables(spark, sf, "part")
      .select(col("p_partkey").as("k"), col("p_name"))
    val plain = li.join(part, "k")
    val salted = ops.saltedJoin(li, part, "k", 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("globalNtile matches the single-partition window ntile exactly") {
    val spend = Tables(spark, sf, "orders")
      .groupBy("o_custkey").agg(sum("o_totalprice").as("spend"))
    val expected = spend.withColumn("b",
      ntile(7).over(Window.orderBy(col("spend").desc, col("o_custkey"))))
    val op = (df: DataFrame) => ops.globalNtile(df, 7, "b", col("spend").desc, col("o_custkey"))
    val schema = spend.schema.add("b", IntegerType, nullable = true)
    same(op(spend), expected, schema)
    emptyKeeps(op, spend, schema)
  }

  test("groupedGlobalNtile matches the per-group window ntile exactly (r14)") {
    // uneven group sizes + a k that does not divide any of them —
    // exercises the remainder arms of the shared ntile CASE
    val spend = Tables(spark, sf, "orders")
      .select(col("o_orderpriority").as("g"), col("o_custkey"),
        col("o_totalprice"), col("o_orderkey"))
    val expected = spend.withColumn("b",
      ntile(7).over(Window.partitionBy("g")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
    val op = (df: DataFrame) => ops.groupedGlobalNtile(df, "g", 7, "b",
      col("o_totalprice").desc, col("o_orderkey"))
    val schema = spend.schema.add("b", IntegerType, nullable = true)
    same(op(spend), expected, schema)
    emptyKeeps(op, spend, schema)
  }

  test("groupedGlobalRank matches the per-group window row_number exactly") {
    val spend = Tables(spark, sf, "orders")
      .select(col("o_orderpriority").as("g"), col("o_custkey"), col("o_totalprice"),
        col("o_orderkey"))
    val expected = spend.withColumn("r",
      row_number().over(Window.partitionBy("g")
        .orderBy(col("o_totalprice"), col("o_custkey"), col("o_orderkey"))).cast("long"))
    val op = (df: DataFrame) => ops.groupedGlobalRank(df, "g", "r",
      col("o_totalprice"), col("o_custkey"), col("o_orderkey"))
    val schema = spend.schema.add("r", LongType, nullable = false)
    same(op(spend), expected, schema)
    emptyKeeps(op, spend, schema)
  }

  test("groupedGlobalCumsum matches the per-group window cumulative sum and total exactly") {
    // a grouped histogram (unique sort key per group by construction
    // — the primitive's documented contract)
    val hist = Tables(spark, sf, "orders")
      .groupBy(col("o_orderpriority").as("g"),
        ops.cents(col("o_totalprice")).as("k"))
      .agg(count(lit(1)).as("v"))
    val w = Window.partitionBy("g")
    // the primitive appends totals before cumulatives
    val expected = hist
      .withColumn("tot", sum("v").over(w))
      .withColumn("cum", sum("v").over(w.orderBy("k")))
    val op = (df: DataFrame) => ops.groupedGlobalCumsum(df, "g", col("v"), "cum", "tot", col("k"))
    val schema = hist.schema.add("tot", LongType, nullable = true)
      .add("cum", LongType, nullable = true)
    same(op(hist), expected, schema)
    emptyKeeps(op, hist, schema)

    // N values over one partitioning, one of them without a total
    // (q174's shape)
    val expectedN = expected.withColumn("cumk", sum("k").over(w.orderBy("k")))
    val opN = (df: DataFrame) => ops.groupedGlobalCumsumN(df, "g",
      Seq((col("v"), "cum", Some("tot")), (col("k"), "cumk", None)), col("k"))
    val schemaN = schema.add("cumk", LongType, nullable = true)
    same(opN(hist), expectedN, schemaN)
    emptyKeeps(opN, hist, schemaN)

    // ungrouped: one global order over the whole histogram
    val flat = hist.groupBy("k").agg(sum("v").as("v"))
    val expectedFlat = flat
      .withColumn("tot", sum("v").over(Window.partitionBy()))
      .withColumn("cum", sum("v").over(Window.orderBy("k")))
    val opFlat = (df: DataFrame) => ops.globalCumsum(df, col("v"), "cum", "tot", col("k"))
    val schemaFlat = flat.schema.add("tot", LongType, nullable = true)
      .add("cum", LongType, nullable = true)
    same(opFlat(flat), expectedFlat, schemaFlat)
    emptyKeeps(opFlat, flat, schemaFlat)
  }
}
