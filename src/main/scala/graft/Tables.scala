package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{date_format, date_trunc, expr, timestamp_millis}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Every query in the engine takes `(SparkSession, sfDir)` and pulls its
  * inputs through here, so the scan always goes through the parquet
  * datasource V2 path (column pruning + predicate pushdown land in the
  * FileScan — see `.explain("formatted")`: `PushedFilters`/`ReadSchema`).
  *
  * `documents` is read with its declared schema ([[DocumentsSchema]]),
  * so `spark.read.parquet` launches no schema-inference job. A declared
  * schema alone would read a missing column as nulls, so each file's
  * footer is first checked against it in the Spark driver (no Spark
  * job), and a missing or mistyped column fails the load, naming it.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case "documents" => documents(spark, sfDir)
    case _           => spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** FIXTURES.md's `documents` columns, in file column order. */
  val DocumentsSchema: StructType =
    StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  /** `path` read with `schema`, after a footer check, in the Spark
    * driver, of every data file under it (names starting `_` or `.` are
    * skipped, as the parquet source skips them): each declared column
    * must be in the file with the declared type. Extra file columns are
    * not read.
    */
  private def readDeclared(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val files = root.getFileSystem(conf).listFiles(root, true)
    val converter = new ParquetToSparkSchemaConverter(SQLConf.get)
    while (files.hasNext) {
      val file = files.next().getPath
      if (!file.getName.startsWith("_") && !file.getName.startsWith(".")) {
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
        val found = try converter.convert(reader.getFooter.getFileMetaData.getSchema)
          finally reader.close()
        schema.foreach { f =>
          found.find(_.name == f.name) match {
            case None => throw new IllegalArgumentException(
              s"$file: column `${f.name}` is missing (declared ${schema.toDDL})")
            case Some(g) if g.dataType != f.dataType => throw new IllegalArgumentException(
              s"$file: column `${f.name}` is ${g.dataType.sql}, declared ${f.dataType.sql}")
            case _ =>
          }
        }
      }
    }
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The engine-internal `events.ts` contract is nanos-since-epoch
    * LONG ([[graft.operators.EventsOps]] does all time math on
    * integers, so no precision is lost vs the DuckDB oracle's native
    * timestamp functions). The fixture's physical type has varied
    * across driver regenerations — TIMESTAMP(NANOS) (readable only as
    * Long via `nanosAsLong`) and TIMESTAMP(MICROS) (read as NTZ) —
    * so [[normalizeEventsTs]] maps whatever the reader produced onto
    * the contract instead of assuming one physical layout. The NTZ
    * branch interprets wall time as UTC (the session timezone every
    * entry point pins), matching DuckDB's naive-timestamp read of the
    * same file.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(cast(ts as timestamp)) * 1000"))
      case TimestampType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000"))
      case other => sys.error(s"unexpected events.ts type: $other")
    }
  }

  /** The events clock: the epoch-ms floor of the nanos `ts` contract
    * above. Every events operator, streaming sink and partitioned
    * layout maps `ts` onto time through it and the two definitions
    * below. Integer `div`, so the DuckDB oracles' `epoch_ms` sees the
    * same grid, with no float rounding and no sub-ms ordering.
    */
  def eventMs: Column = expr("ts div 1000000")

  /** [[eventMs]] as an event-time TIMESTAMP (the watermark column). */
  def eventTime: Column = timestamp_millis(eventMs)

  /** The UTC day of [[eventMs]] as a `yyyy-MM-dd` string: the day key
    * the streamed day-partition writer and the pruning readers share.
    */
  def eventDay: Column = date_format(date_trunc("day", eventTime), "yyyy-MM-dd")

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // UTC is pinned by every entry point (TestSpark / Verify / Bench /
    // SparkEntry); the NTZ branch of normalizeEventsTs reads the session
    // TZ lazily at execution, so assert the contract here rather than
    // re-mutating global state as a table-load side effect.
    require(s.conf.get("spark.sql.session.timeZone") == "UTC",
      "events requires spark.sql.session.timeZone=UTC (pinned by entry points)")
    normalizeEventsTs(load(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame  =
    readDeclared(s, s"$d/documents.parquet", DocumentsSchema)
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
