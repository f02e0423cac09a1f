package org.apache.spark.sql.graft

import java.util.concurrent.CompletableFuture

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormat, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.ThreadUtils

/** Bridge into Spark's package-private Column↔Expression conversions
  * (Spark 4 moved `Column` to sql-api; constructing one from a Catalyst
  * `Expression` goes through `org.apache.spark.sql.classic.ExpressionUtils`,
  * which is `private[sql]` — hence this file lives under the spark package,
  * the standard pattern used by Spark-native libraries). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  private lazy val writers = ThreadUtils.newDaemonCachedThreadPool("graft-write")

  /** Run `body` on a pooled daemon thread that carries the calling
    * thread's active session and local properties (job group, streaming
    * query tags, scheduler pool) — Spark's own capture for the
    * concurrent jobs of one logical operation. */
  def async[T](spark: SparkSession)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      writers)(body)

  /** The data schema Spark's Parquet schema inference derives from one
    * file's footer — its row-schema JSON when the file carries one, else
    * the converted Parquet schema — made nullable as a file-source
    * relation makes it. Driver-side; no job. */
  def footerSchema(spark: SparkSession, file: Path,
                   footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable

  /** Every Parquet file of the table at `dir` with its partition values
    * and the table's partition schema, as Spark's file index lists and
    * infers them (hidden files skipped, `_name=value` directories kept).
    * Driver-side; no job below Spark's parallel-listing threshold. */
  def listTable(spark: SparkSession,
                dir: String): (Seq[(InternalRow, FileStatus)], StructType) = {
    val index = new InMemoryFileIndex(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Seq(new Path(dir)), Map.empty, None)
    (index.listFiles(Nil, Nil)
      .flatMap(p => p.files.map(f => (p.values, f.fileStatus))),
      index.partitionSchema)
  }

  /** Decode `files` on the driver with Spark's own Parquet reader — the
    * reader a scan task runs, under the session's settings — into rows
    * of `dataSchema` followed by `partSchema`. Meant for tables of a
    * bounded handful of rows: every row is materialized. */
  def decodeLocal(spark: SparkSession,
                  files: Seq[(InternalRow, FileStatus)],
                  dataSchema: StructType, partSchema: StructType): Seq[Row] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      session, dataSchema, partSchema, dataSchema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      session.sessionState.newHadoopConf())
    val toRow = ExpressionEncoder(StructType(dataSchema ++ partSchema))
      .resolveAndBind().createDeserializer()
    // each row is decoded before the reader advances: the reader reuses
    // its row object
    files.flatMap { case (values, f) =>
      read(PartitionedFile(values, SparkPath.fromFileStatus(f), 0L, f.getLen,
        Array.empty, f.getModificationTime, f.getLen)).map(toRow).toVector
    }
  }
}
