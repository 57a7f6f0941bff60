package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sources and sinks (SURVEY §2.1, S1-S7).
  *
  * The reference inferred every JSON schema (12 call sites, sc:15-378) —
  * a full extra pass over each input. We require an explicit StructType:
  * deterministic types, no inference job, and corrupt-record capture when
  * the schema declares the column. Parquet takes an optional StructType:
  * without one the schema comes from the file footers, read by a driver
  * job before the scan plans.
  */
object Sources {

  /** S1 — newline-delimited JSON scan with explicit schema, PERMISSIVE.
    * A malformed line lands in `columnNameOfCorruptRecord` only when
    * `schema` declares that column (see `quarantine`); otherwise it reads
    * back as an all-null row.
    */
  def json(spark: SparkSession, path: String, schema: StructType,
           columnNameOfCorruptRecord: String = "_corrupt_record"): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", columnNameOfCorruptRecord)
      .json(path)

  /** Ingest quarantine: split a PERMISSIVE scan into (clean, quarantined)
    * — the production JSONL-ingest pattern: clean rows flow on with the
    * corrupt column dropped; quarantined rows keep the RAW malformed line
    * for replay/audit. The parsed frame must be cached first: Spark
    * refuses a query whose referenced columns are ONLY the internal
    * corrupt-record column on an uncached scan (it would need a second
    * parse to reconstruct the raw line), so the cache here is a
    * correctness requirement, not an optimization. Caller unpersists the
    * returned handle when both sides are consumed.
    */
  def quarantine(df: DataFrame,
                 corruptCol: String = "_corrupt_record")
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val cached = df.cache()
    val clean = cached.where(col(corruptCol).isNull).drop(corruptCol)
    val bad = cached.where(col(corruptCol).isNotNull)
      .select(col(corruptCol).as("raw_line"))
    (clean, bad, cached)
  }

  /** S2/S3 — parquet scan; Hadoop glob patterns in `path` expand natively.
    * With a `schema` the scan skips the footer schema-inference job and
    * reads the named columns by name.
    */
  def parquet(spark: SparkSession, path: String,
              schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(path)

  /** CSV scan with explicit schema (no inference pass; header optional).
    * `multiLine` parses quoted fields containing embedded newlines
    * correctly at the cost of per-file (non-split) parsing — required
    * whenever the writer may have quoted record-internal newlines; leave
    * false only for data known to be single-line.
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true, delimiter: String = ",",
          multiLine: Boolean = false): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("multiLine", multiLine.toString)
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** ORC scan (vectorized, footer schema — parquet's sibling). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** CSV sink. */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)

  /** ORC sink. */
  def writeOrc(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** S6 — optional source: presence of the path switches pipeline mode
    * (whitelist pattern, sc:377-378).
    */
  def optionalJson(spark: SparkSession, path: Option[String],
                   schema: StructType): Option[DataFrame] =
    path.filter(_.nonEmpty).map(p => json(spark, p, schema))

  /** S4 — parquet sink; `partitionBy` buys partition pruning for downstream
    * readers (the reference wrote a single unpartitioned directory, sc:476).
    */
  def writeParquet(df: DataFrame, path: String,
                   partitionBy: Seq[String] = Nil,
                   mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** S5 — JSON-lines sink (nested arrays/structs serialize to JSON, sc:511). */
  def writeJson(df: DataFrame, path: String,
                mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** Schema-evolution read: parquet directories written at different
    * schema versions scan as ONE frame — mergeSchema unions the footers
    * (missing columns null-fill), the columnar equivalent of unionByName
    * with allowMissingColumns. Footer merging is a driver-side pass over
    * file metadata only; at 100 TB prefer a fixed read schema once it is
    * known, since that skips the footer sweep entirely.
    */
  def parquetMerged(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes / targetFileBytes) files. The operational answer to the
    * accumulating-small-files problem every long-lived 100 TB table has
    * (each file costs a task + a footer read + catalog pressure;
    * streaming sinks and partitioned appends produce thousands).
    * Returns the rewritten frame's file count. Size estimation reads ONLY
    * filesystem metadata; the rewrite is one coalesce — a narrow,
    * shuffle-free re-bin of existing partitions.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    import org.apache.hadoop.fs.Path
    // Path.getFileSystem resolves scheme + authority from the path itself
    // (relative paths resolve against the default FS) — hand-building a
    // URI mis-parsed relative inPaths (first segment became the authority).
    val in = new Path(inPath)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(in).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inPath).coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    // coalesce cannot INCREASE partition count (and empty partitions write
    // no file), so the requested bin count is an upper bound — report the
    // file count actually on disk.
    val out = new Path(outPath)
    val outFs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    outFs.listStatus(out).count { st =>
      val n = st.getPath.getName
      st.isFile && n.startsWith("part-")
    }
  }
}
