package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch source/sink surface (SURVEY §2.H). The reference's
  * ingestion loads retail CSV and emits JSON events
  * (data_loader.py, event_simulator.py); Kafka/Mongo/Snowflake are
  * deployment adapters out of scope in a zero-egress build. Here:
  * schema-explicit CSV/JSON-lines readers (never infer on a 100 TB
  * read — inference is a full extra pass), and partitioned parquet
  * writes so downstream scans partition-prune.
  */
object Sources {

  /** Whether `path` exists, resolved through Hadoop's FileSystem —
    * on a remote Hadoop-compatible FS (the 100 TB deployments) a
    * java.io.File check would silently report the path absent. */
  def exists(s: SparkSession, path: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** CSV with explicit schema + header. PERMISSIVE keeps bad rows
    * null-padded rather than failing a 1000-executor job hours in;
    * pair with a quality-gate filter (Relational.q12) downstream. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").option("mode", "PERMISSIVE").csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** JSON-lines with explicit schema (same no-inference rule). */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC — the other columnar format Spark ships natively; same
    * predicate-pushdown/column-pruning behavior as parquet, so a
    * warehouse standardized on ORC plugs in without a conversion
    * pass. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Hive-style partitioned parquet: scans filtered on `parts`
    * columns read only matching directories (partition pruning —
    * visible as PartitionFilters in the scan node). */
  def writePartitioned(df: DataFrame, path: String, parts: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(parts: _*).parquet(path)

  /** REPLAY-IDEMPOTENT BATCH WRITE: partitioned by `parts` (the batch
    * column first) with DYNAMIC partition overwrite, so a write
    * replaces only the partitions its rows fall in. A replayed
    * micro-batch or increment rewrites exactly its own partition and
    * never duplicates rows or touches another batch's. */
  def overwriteBatch(df: DataFrame, path: String, parts: Seq[String] = Seq("batch")): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(parts: _*)
      .option("partitionOverwriteMode", "dynamic").parquet(path)

  /** LATEST-WINS CDC APPLY — the MERGE INTO of a lakehouse, without
    * requiring a table format: `rows` is the union of a base
    * snapshot and any number of change batches, every row carrying a
    * `versionCol` (monotone per key — a CDC log sequence number;
    * MUST be distinct within a key, ties are the caller's bug) and
    * optionally a boolean tombstone column. Per key the
    * highest-version row wins; a winning tombstone deletes the key.
    *
    * Shape chosen for 100 TB: `groupBy(key).agg(max_by(struct, v))`,
    * NOT a row_number window — the aggregate runs map-side partials
    * (each input partition reduces to its local winners before the
    * shuffle), so a change batch that is 0.1 % of the snapshot moves
    * ~one winner per key, while a window would sort entire
    * partitions. One hash shuffle by key — the minimum any keyed
    * merge needs; bucket the snapshot by key and even that collapses
    * to a co-located merge (BucketingSpec pattern). */
  def upsert(rows: DataFrame, keys: Seq[String], versionCol: String,
      tombstoneCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val winner = rows.groupBy(keys.map(col): _*)
      .agg(max_by(struct(rows.columns.map(col): _*), col(versionCol)).as("__w"))
      .select(col("__w.*"))
    val alive = tombstoneCol.fold(winner)(t =>
      winner.filter(!coalesce(col(t), lit(false))).drop(t))
    alive
  }

  /** SMALL-FILE COMPACTION — the table-maintenance pass every
    * long-running 100 TB pipeline needs: streaming sinks and
    * per-trigger appends accrete thousands of tiny files, and scan
    * cost becomes file-open-bound (one task per file, footer reads,
    * driver listing) instead of byte-bound. Rewrites `src` into
    * ⌈bytes/targetBytes⌉ files at `dst`, sized from the ACTUAL
    * on-disk bytes (via the relation's own size statistic, so
    * compression ratios carry over), then round-robin repartitioned —
    * contents identical, file count right-sized. Runs as one
    * read+shuffle+write; safe to run incrementally per partition
    * directory on a live table. */
  def compact(spark: SparkSession, src: String, dst: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val df = spark.read.parquet(src)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = math.max(1L, math.ceil(
      bytes.toDouble / targetBytes.toDouble).toLong).toInt
    df.repartition(files).write.mode(SaveMode.Overwrite).parquet(dst)
    files.toLong
  }

  /** SORTED (clustered) WRITE — the data-layout lever behind every
    * "zone map" / min-max skip index: range-partition the rows by the
    * cluster key and sort within each partition before writing, so
    * each parquet file (and row group) covers a NARROW key range and
    * its footer min/max statistics let a selective scan skip whole
    * files without opening them. At 100 TB this is the difference
    * between a point-range query touching a handful of files and
    * touching every file in the table; it composes with
    * writePartitioned (partition pruning first, stats skip within).
    * `nFiles` sizes output explicitly (the compact() concern). */
  def writeSorted(df: DataFrame, path: String, nFiles: Int, sortCols: String*): Unit =
    tiled(df, nFiles, sortCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** `df` in `nFiles` partitions, partition i holding the i-th range of
    * `key`, sorted within. An exact [[graft.operators.ops.globalNtile]]
    * over `key` places every row (equal keys share a tile), so the
    * layout is a function of the data alone. `repartitionByRange`
    * would place rows by a sample that Spark seeds with the RDD id, so
    * file ranges, and what a probe skips, moved with whatever ran
    * before. */
  private def tiled(df: DataFrame, nFiles: Int, key: Column*): DataFrame = {
    val withTile = graft.operators.ops.globalNtile(df, nFiles, "_tile", key: _*)
    val tile = withTile.schema.fieldIndex("_tile")
    // HashPartitioner sends Int key i (0 <= i < nFiles) to partition i
    val placed = withTile.rdd.keyBy(_.getInt(tile) - 1)
      .partitionBy(new org.apache.spark.HashPartitioner(nFiles)).values
    df.sparkSession.createDataFrame(placed, withTile.schema)
      .sortWithinPartitions(key: _*).drop("_tile")
  }

  /** Interleave the low 16 bits of `x` with zeros (Morton spread):
    * bit i of x lands at bit 2i. The classic mask cascade — five
    * shift/mask ops, all codegen'd integer arithmetic. */
  private def spread16(x: Column): Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft}
    val a = x.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val c = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val d = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-ORDER (Morton-curve) clustered write — the 2-D generalization
    * of [[writeSorted]]'s zone-map layout: writeSorted clusters ONE
    * key, so a probe filtering a second dimension still reads every
    * file; interleaving the bits of two keys gives every file a
    * narrow range in BOTH dimensions, and parquet footer min/max on
    * both columns lets a 2-D point-range probe skip most files (the
    * Delta/Iceberg OPTIMIZE ZORDER lever, built from plain Spark
    * primitives). Each key is min-max normalized to 16 bits via one
    * tiny stats agg (broadcast crossJoin of a 1-row frame computed
    * from the input itself — never empty when df is non-empty; skew
    * in a dimension costs skip efficiency, not correctness), the
    * Morton code is five shift/mask ops per key (codegen'd), and
    * rows tile + sort by the code ([[tiled]]). The z column is
    * dropped before writing — layout, not schema. */
  def writeZOrdered(df: DataFrame, path: String, nFiles: Int,
      colA: String, colB: String): Unit = {
    import org.apache.spark.sql.functions._
    val stats = df.agg(
      min(col(colA)).as("_amin"), max(col(colA)).as("_amax"),
      min(col(colB)).as("_bmin"), max(col(colB)).as("_bmax"))
    def norm16(c: Column, lo: Column, hi: Column): Column =
      when(hi === lo, lit(0L)).otherwise(
        ((c - lo).cast("double") / (hi - lo).cast("double") * 65535.0).cast("long"))
    val zed = df.crossJoin(broadcast(stats))
      .withColumn("_z",
        spread16(norm16(col(colA), col("_amin"), col("_amax")))
          .bitwiseOR(shiftleft(spread16(norm16(col(colB), col("_bmin"), col("_bmax"))), 1)))
      .drop("_amin", "_amax", "_bmin", "_bmax")
    tiled(zed, nFiles, col("_z")).drop("_z").write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** CORPUS MANIFEST — the Merkle-style reproducibility artifact a
    * data card cites: every row hashed over ALL columns in one
    * canonical (name-sorted) order, bucketed by hash, per bucket a
    * row count + wrapping hash sum (order-free commutative fold, so
    * the manifest is IDENTICAL under any partitioning, file layout,
    * or row order). Fixed `buckets` rows regardless of corpus size —
    * the whole artifact broadcasts. Two snapshots of a 100 TB table
    * compare in `buckets` rows; [[diffManifest]] pinpoints which
    * hash ranges changed so only those need a row-level drill-down
    * (count/sum collisions need a coordinated pair of edits inside
    * one bucket — the standard Merkle caveat, documented not hidden).
    * NULL-safe: xxhash64 folds null columns deterministically. */
  def manifest(df: DataFrame, buckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).as("_h"))
      .groupBy(pmod(col("_h"), lit(buckets.toLong)).as("bucket"))
      // DECIMAL(38,0) fold: exact and order-free up to ~10^19 rows
      // per bucket (a plain long sum overflow-throws under ANSI)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("_h").cast("decimal(38,0)")).as("hash_sum"))
  }

  /** Bucket-level diff of two manifests: rows only for buckets whose
    * (count, sum) disagree; empty ⇔ manifests identical. */
  def diffManifest(a: DataFrame, b: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    a.toDF("bucket", "n_rows_a", "hash_sum_a")
      .join(b.toDF("bucket", "n_rows_b", "hash_sum_b"), Seq("bucket"), "full_outer")
      .filter(
        coalesce(col("n_rows_a"), lit(-1L)) =!= coalesce(col("n_rows_b"), lit(-1L)) ||
          coalesce(col("hash_sum_a"), lit(0L)) =!= coalesce(col("hash_sum_b"), lit(0L)))
  }
}
