package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sources & sinks (SURVEY §2.6 scans row — absent in the reference,
  * first-class here): the readers and writers that add something to
  * `spark.read` / `df.write` — schema evolution, FAILFAST csv, bucketed,
  * z-ordered and manifested layouts, compaction, binary blobs. Plain
  * parquet, json, orc and text go through Spark's own reader and writer,
  * the same DataFrame boundary, so every operator upstream is
  * format-agnostic.
  */
object GraftIO {

  /** Schema-evolution read: union the schemas of every file footer
    * (columns added by newer producers surface as NULL in older files).
    * Costs a footer pass per file — off by default in Spark for that
    * reason, so keep it an explicit opt-in entry point, not the
    * default read path.
    */
  def readParquetEvolving(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Schema-explicit CSV read (never infer at scale: inference is a
    * full extra pass over 100 TB).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("mode", "FAILFAST")
      .schema(schema)
      .csv(path)

  /** Bucketed parquet table write — the shuffle-elimination primitive
    * for RECURRING joins at scale: write both sides of a repeated join
    * bucketed on the join key with the same bucket count, and every
    * subsequent join reads back pre-partitioned (the bucketed scan
    * reports HashPartitioning(key, n)), planning ZERO exchanges on the
    * fact tables (GraftIOSpec asserts the plan). The up-front
    * `repartition(n, key)` makes each bucket exactly ONE file (bucketBy
    * alone writes one file per task per bucket), which is also what
    * lets the `sortBy` metadata feed sorted scans.
    */
  def writeBucketed(df: DataFrame, tableName: String, key: String,
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    // reclaim stale state: Overwrite replaces a table the CATALOG
    // knows, but a fresh in-memory-catalog session refuses to create a
    // managed table over an orphaned location a previous JVM left in
    // the warehouse dir — drop both the entry and the directory
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tableName.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.repartition(buckets, df(key))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(tableName)
  }

  /** Z-order-clustered parquet write: compute the Morton key of
    * `zCols` ([[graft.functions.ZOrder]]), range-partition into
    * `nFiles` splits on it, sort within each split, drop the key,
    * write. Every output file then covers a narrow range of EVERY
    * zCol — min-max stats (parquet row-group pruning, table-format
    * file skipping) become selective in all clustered dimensions, not
    * just a sort prefix. The shuffle is ONE range exchange on a LONG —
    * the same cost as any global sort-write at 100 TB.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    bits: Int = 16, nFiles: Int = 8): Unit = {
    val z = graft.functions.ZOrder.zValue(zCols.map(df.col), bits)
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Small-file compaction — the table-maintenance primitive every
    * long-running ingest needs at scale: streaming micro-batches and
    * per-task writers accumulate thousands of KB-sized files whose
    * metadata (footers, listings, driver split planning) eventually
    * costs more than the data. Rewrites `src` into ceil(bytes /
    * targetFileBytes) files at `dest` (total size from ONE driver-side
    * recursive listing — no data pass), optionally re-sorted on
    * `sortCols` to restore clustering that interleaved appends
    * destroyed. Round-robin repartition (not coalesce: coalesce merges
    * partitions without a shuffle, so parent skew survives into the
    * output files; a compaction's whole point is evenly-sized files).
    * In-place rewrite (src == dest) is refused — Spark cannot read and
    * overwrite the same location in one job; write to a new location
    * and swap, which is also what makes production compaction safely
    * atomic.
    */
  def compact(spark: SparkSession, src: String, dest: String,
              targetFileBytes: Long = 128L << 20,
              sortCols: Seq[String] = Nil): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(new org.apache.hadoop.fs.Path(src).toUri.getPath !=
      new org.apache.hadoop.fs.Path(dest).toUri.getPath,
      "in-place compaction is unsafe (read+overwrite of one location); " +
        "write to a new path and swap")
    val p = new org.apache.hadoop.fs.Path(src)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(src)
    val out =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nFiles, sortCols.map(df.col): _*)
          .sortWithinPartitions(sortCols.map(df.col): _*)
      else df.repartition(nFiles)
    out.write.mode(SaveMode.Overwrite).parquet(dest)
    nFiles
  }

  /** Range-clustered write + file-level min/max MANIFEST — the
    * data-skipping primitive behind every modern table format: a query
    * with a key-range predicate consults the (tiny) manifest and opens
    * only the files whose [lo, hi] intersects the range, instead of
    * footer-probing every file of a 100 TB table. Files are
    * range-partitioned and sorted on the key so per-file ranges are
    * tight and disjoint; the manifest is built by ONE aggregation over
    * the written files (input_file_name groupBy — nFiles rows) and
    * stored as parquet under `_manifest`, which underscore-prefix
    * hides from normal reads (same convention as _SUCCESS).
    */
  def writeWithManifest(df: DataFrame, path: String, keyCol: String,
                        nFiles: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    df.repartitionByRange(nFiles, df.col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode(SaveMode.Overwrite).parquet(path)
    val spark = df.sparkSession
    spark.read.parquet(path)
      .select(input_file_name().as("file"), col(keyCol))
      .groupBy("file")
      .agg(min(keyCol).as("lo"), max(keyCol).as("hi"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/_manifest")
  }

  /** Files of a manifested table whose [lo, hi] range intersects
    * [lo, hi] — the driver-side skip decision (manifest is nFiles
    * rows; the collect is file names, never data).
    */
  def prunedFiles(spark: SparkSession, path: String,
                  lo: Long, hi: Long): Seq[String] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    spark.read.parquet(s"$path/_manifest")
      .filter(col("hi") >= lo && col("lo") <= hi)
      .select("file").as[String].collect().toSeq
  }

  /** Manifest-pruned range read: scans ONLY the intersecting files,
    * then applies the exact predicate — result-identical to a full
    * scan with the same filter, minus the skipped I/O.
    */
  def readPruned(spark: SparkSession, path: String, keyCol: String,
                 lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val files = prunedFiles(spark, path, lo, hi)
    val base =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(files: _*)
    base.filter(col(keyCol) >= lo && col(keyCol) <= hi)
  }

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  /** Binary-file read — the ingestion entry point for MULTIMODAL blobs
    * (`path`, `modificationTime`, `length`, `content`): feed `content`
    * straight into [[graft.operators.Multimodal]]'s partition-batched
    * decoders. `pathGlob` filters by filename (e.g. "*.png");
    * `maxBytes` guards against a single oversized blob blowing an
    * executor (binaryFile loads each file as ONE row — shard huge
    * media upstream).
    */
  def readBinaryFiles(spark: SparkSession, path: String,
                      pathGlob: String = "*",
                      maxBytes: Long = 512L * 1024 * 1024): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", pathGlob)
      .load(path)
      .where(org.apache.spark.sql.functions.col("length") <= maxBytes)
}
