package graft.sources

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Avro container-file ingestion — the one mainstream event-pipeline
  * format the scan matrix (parquet/CSV/JSONL/ORC/text/gzip/binary)
  * was missing. This runtime has no `spark-avro` connector jar, so
  * the source is built directly on the Avro Hadoop input/output
  * formats that ARE on every Spark classpath (`avro-mapred`):
  *
  *  - '''write''': each task serializes its partition through
  *    `AvroKeyOutputFormat` — a fully distributed write, one
  *    container file per partition, schema embedded in each file's
  *    header (self-describing, the property Avro exists for);
  *  - '''read''': `newAPIHadoopFile` with `AvroKeyInputFormat`,
  *    which splits on Avro SYNC MARKERS — so one huge container
  *    file still fans out across tasks, unlike a whole-file decode.
  *    Records are converted to `Row`s inside the partition iterator
  *    (the input format REUSES its key object, so fields must be
  *    extracted before `next()` — the classic Hadoop-record pitfall).
  *
  * Timestamps travel as epoch MICROS longs (Avro's own
  * timestamp-micros logical representation): the NTZ source column
  * hops through the session zone to micros on write and back on
  * read — the same session (zone pinned UTC engine-wide) applies the
  * exact inverse, so the round trip is lossless integer arithmetic.
  *
  * The RDD hop is confined to the codec seam, exactly like the
  * multimodal binary decoders: everything downstream of the typed
  * `DataFrame` this returns is ordinary Catalyst territory.
  */
object AvroSource {

  /** Writer/reader schema of the orders Avro fixture. */
  val OrdersAvroSchemaJson: String =
    """{"type":"record","name":"OrderRow","namespace":"graft","fields":[
      |{"name":"o_orderkey","type":"long"},
      |{"name":"o_orderstatus","type":"string"},
      |{"name":"o_totalprice","type":"double"},
      |{"name":"o_orderdate_us","type":"long"}]}""".stripMargin

  /** Distributed Avro write of the projected orders columns: one
    * container file per input partition via the Hadoop committer
    * (whose `_SUCCESS` doubles as the fixture-complete marker).
    */
  /** The NTZ↔micros hop below rides the session zone; the engine pins
    * it UTC everywhere, but a future entry point building a non-UTC
    * session would silently shift every timestamp through this file.
    * Fail loudly instead.
    */
  private def requireUtcSession(spark: SparkSession): Unit = {
    val zone = spark.conf.get("spark.sql.session.timeZone")
    // accept any spelling of UTC ("UTC", "Etc/UTC", "+00:00", "Z") —
    // the NTZ round-trip is correct under every alias of offset zero;
    // normalized() folds fixed-offset-zero region ids onto ZoneOffset
    val isUtc =
      try java.time.ZoneId.of(zone).normalized() == java.time.ZoneOffset.UTC
      catch { case _: java.time.DateTimeException => false }
    require(isUtc,
      s"Avro orders fixture requires a UTC session (timestamp_ntz " +
        s"round-trips through the session zone); got '$zone'")
  }

  def writeOrdersAvro(orders: DataFrame, path: String): Unit = {
    requireUtcSession(orders.sparkSession)
    // saveAsNewAPIHadoopFile refuses an existing dir; a partial
    // previous attempt (no _SUCCESS) must be wiped, not appended to
    Fixtures.deleteTree(java.nio.file.Paths.get(path))
    val pairs = orders
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        // orders' o_orderdate is TIMESTAMP_NTZ: hop through the session
        // zone (pinned UTC engine-wide) for the micros conversion; the
        // read side applies the exact inverse in the same session
        unix_micros(col("o_orderdate").cast("timestamp"))
          .as("o_orderdate_us"))
      .rdd.mapPartitions { it =>
        // Schema is not serializable: parse per partition, not in the
        // driver closure
        val schema = new Schema.Parser().parse(OrdersAvroSchemaJson)
        it.map { r =>
          val rec = new GenericData.Record(schema)
          rec.put("o_orderkey", r.getLong(0))
          rec.put("o_orderstatus", r.getString(1))
          rec.put("o_totalprice", r.getDouble(2))
          rec.put("o_orderdate_us", r.getLong(3))
          (new AvroKey[GenericRecord](rec), NullWritable.get())
        }
      }
    val job = Job.getInstance(
      orders.sparkSession.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job,
      new Schema.Parser().parse(OrdersAvroSchemaJson))
    pairs.saveAsNewAPIHadoopFile(path,
      classOf[AvroKey[GenericRecord]], classOf[NullWritable],
      classOf[AvroKeyOutputFormat[GenericRecord]], job.getConfiguration)
  }

  private val readSchema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderdate_us", LongType, nullable = false)))

  /** Sync-marker-splittable Avro scan → typed orders DataFrame. */
  def readOrdersAvro(spark: SparkSession, path: String): DataFrame = {
    requireUtcSession(spark)
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    AvroJob.setInputKeySchema(job,
      new Schema.Parser().parse(OrdersAvroSchemaJson))
    val rdd = spark.sparkContext.newAPIHadoopFile(path,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]], classOf[NullWritable],
        job.getConfiguration)
      .mapPartitions(_.map { case (k, _) =>
        val rec = k.datum() // extract NOW: the input format reuses k
        Row(rec.get("o_orderkey").asInstanceOf[Long],
          rec.get("o_orderstatus").toString, // Utf8 → String
          rec.get("o_totalprice").asInstanceOf[Double],
          rec.get("o_orderdate_us").asInstanceOf[Long])
      })
    spark.createDataFrame(rdd, readSchema)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        timestamp_micros(col("o_orderdate_us")).cast("timestamp_ntz")
          .as("o_orderdate"))
  }

  /** Write-once Avro fixture of the projected orders table. */
  def ordersAvroDir(orders: DataFrame, sfDir: String): String =
    Fixtures.ensure("ordersavro", sfDir, Seq(s"$sfDir/orders.parquet")) { p =>
      writeOrdersAvro(orders, p)
    }
}
