package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the harness star schema (TESTDATA.md).
  *
  * The reference ingests CSV with header+inferSchema
  * (`app/AE_model.py:25-29`) and Iceberg/Glue tables (`app/main.py:16-22`,
  * `lib/connector.py:34-61`). Here the canonical source is parquet; CSV and
  * generic-format readers are provided for capability parity. All readers
  * return lazy DataFrames — Catalyst pushes filters/projections into the
  * scan, so callers should filter/select as early as possible.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // some testdata generations write events.ts as TIMESTAMP(NANOS), which
    // Spark's reader rejects by default; read those as LongType nanos
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // DuckDB's epoch_us() interprets naive timestamps as UTC; pin the
    // session the same way so timestamp→epoch math is engine-identical
    // regardless of which entry point built the session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // graft's native expressions (graft_dot, graft_strhash) ride every
    // query path; registration is idempotent
    graft.sim.GraftFunctions.register(spark)
    // the schema comes from the footer AFTER the confs above, so
    // nanosAsLong shapes it exactly as it shapes Spark's own inference
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(footerSchema(spark, path)).parquet(path)
    if (name == "events") withNanosTs(df) else df
  }

  /** The schema `spark.read.parquet(path)` infers, read without a job.
    * Spark's inference reads the same one footer, but inside a one-task
    * job (`mergeSchemasInParallel`) that costs a job floor per load;
    * with the schema given, a load plans without launching a job. For a
    * directory it reads the file Spark's inference reads: the first
    * non-hidden data file by path (summary `_metadata` files, which
    * Spark's writers no longer produce, are not consulted). A missing
    * path fails here with a FileNotFoundException naming it.
    */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val file = firstDataFile(root.getFileSystem(conf), root).getOrElse(
      throw new IllegalArgumentException(s"no Parquet data file under $path"))
    val options = ParquetReadOptions.builder()
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf), options)
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Spark's file-index rule for names it skips: `_`/`.` prefixes
    * (a `_` partition directory such as `_k=v` stays) and in-flight
    * copies. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def firstDataFile(fs: FileSystem, p: Path): Option[Path] =
    if (!fs.getFileStatus(p).isDirectory) Some(p)
    else fs.listStatus(p).map(_.getPath).filterNot(c => hidden(c.getName))
      .sortBy(_.toString).iterator.flatMap(firstDataFile(fs, _)).nextOption()

  /** Harness generations have shipped `events.ts` both as
    * TIMESTAMP(NANOS) (surfaced as LongType nanos under nanosAsLong) and
    * as timestamp[us] (surfaced as TIMESTAMP_NTZ). Normalize to LongType
    * epoch-nanoseconds at the scan so every downstream consumer
    * (`ts div 1000` micro bucketing, Resample's integer-exact nanos path)
    * sees one shape whichever generation wrote the file. Values stay
    * within Long range until 2262, same bound as the nanos encoding.
    */
  def withNanosTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      case Some(other) =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected long nanos or timestamp")
    }

  /** CSV scan with header + schema inference — parity with the reference's
    * `spark.read.csv(..., header=True, inferSchema=True)`
    * (`app/AE_model.py:25-29`). At 100 TB inference costs an extra pass:
    * prefer an explicit schema via `csvWithSchema`.
    */
  def csvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  def csvWithSchema(spark: SparkSession, path: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** CSV sink — parity with the reference's anomaly-table export
    * (`app/AE_model.py:288-290`). Distributed write, no driver collect.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.option("header", "true").mode("overwrite").csv(path)

  /** Register every harness table as a temp view so the SQL entry
    * surface works (`spark.sql("SELECT … FROM lineitem")`) — parity
    * with the reference's SQL-on-catalog entry point
    * (`app/main.py:16-22`; here the "catalog" is the harness dir).
    * Views are lazy metadata: no data is read until a query runs.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach(t => load(spark, dir, t).createOrReplaceTempView(t))

  def dropViews(spark: SparkSession): Unit =
    all.foreach(t => spark.catalog.dropTempView(t))

  /** Managed-table sink + lifecycle — parity with the reference's
    * Iceberg `writeTo(...).createOrReplace()` ingest and
    * `DROP TABLE ... PURGE` (`app/main.py:13-14,25`); here the catalog
    * is Spark's session catalog (swap in an Iceberg catalog config for
    * the lakehouse deployment — the API shape is identical).
    */
  def writeManagedTable(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").saveAsTable(name)

  def dropTable(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $name")
}
