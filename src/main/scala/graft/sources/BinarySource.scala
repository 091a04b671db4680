package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-blob directory ingestion via Spark's `binaryFile` source —
  * the front door for an image/audio/video corpus that arrives as
  * FILES rather than parquet binary columns (the form
  * [[graft.operators.MultimodalOps]] consumes). `binaryFile` is a
  * real FileFormat: listing and reads distribute across the cluster,
  * each file lands as one (path, modificationTime, length, content)
  * row, and `pathGlobFilter`/partition pruning apply as usual — so a
  * 100 TB blob store ingests with the same scan machinery as any
  * table. The gated query reduces each blob to its exact byte count
  * and a base64-md5 digest, which the DuckDB oracle RE-DERIVES from
  * the documents table the fixture was written from (the oracles-
  * re-derive-inline convention): a file written with wrong bytes,
  * dropped, or double-written reds the hash.
  */
object BinarySource {

  /** Every `doc_id % SampleMod == 0` document becomes one blob file
    * (shared with the oracle's WHERE clause).
    */
  val SampleMod = 50L

  /** Write-once blob-directory fixture: one `doc_<id>.bin` file per
    * sampled document, bytes = UTF-8 text. Files are written from
    * the EXECUTOR side (foreachPartition) — nothing corpus-sized
    * reaches the driver; on a cluster the same job targets a shared
    * filesystem.
    */
  def blobDir(spark: SparkSession, sfDir: String): String =
    Fixtures.ensure("blobdir", sfDir, Seq(s"$sfDir/documents.parquet")) { path =>
      Fixtures.cleanBuild(path, Seq("_SUCCESS")) {
        graft.Tables.documents(spark, sfDir)
          .where(pmod(col("doc_id"), lit(SampleMod)) === 0)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"))
          .foreachPartition { rows: Iterator[Row] =>
            rows.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(path, s"doc_${r.getLong(0)}.bin"),
                r.getAs[Array[Byte]](1))
            }
          }
      }
    }

  /** The gated inventory: doc id (from the file name), exact byte
    * count, and a hex-md5 content digest per blob file (hex, not base64: Spark's
    * base64 is MIME-chunked with line breaks; hex is canonical and
    * uppercase in both engines).
    */
  def binaryInventory(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(blobDir(spark, sfDir))
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(hex(col("content"))).as("content_md5"))
      .orderBy("doc_id")
}
