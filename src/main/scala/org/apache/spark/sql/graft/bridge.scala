package org.apache.spark.sql.graft

import java.util.concurrent.CompletableFuture

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.input.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{Footer, ParquetInputFormat, ParquetRecordReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, JoinedRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFilters, ParquetOptions, ParquetReadSupport, ParquetToSparkSchemaConverter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
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

  /** Drop what `df` pins: its cached plan, and the checkpointed RDD
    * of a `localCheckpoint`ed frame, which `unpersist` alone keeps
    * registered (and its blocks held) until the RDD is collected. */
  def release(df: org.apache.spark.sql.DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

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

  /** Decode `files` (each with its already-read footer) on the driver
    * with Spark's own Parquet row reader into rows of `dataSchema`
    * followed by `partSchema`: the `ParquetReadSupport` a
    * non-vectorized scan task runs, given the requested schema, the
    * session's schema-conversion settings and each footer's datetime
    * rebase specs, as `ParquetFileFormat` sets them. Rows convert
    * through `CatalystTypeConverters`: no broadcast of the Hadoop conf
    * and no generated code. `filter`, when given, is converted by
    * Spark's `ParquetFilters` and applied to row groups and to records,
    * so only matching rows are decoded; a filter Parquet cannot express
    * is refused. Decoding stops after `limit` rows: every row is
    * materialized, so the read is meant for a bounded handful. */
  def decodeLocal(spark: SparkSession,
                  files: Seq[(InternalRow, FileStatus, ParquetMetadata)],
                  dataSchema: StructType, partSchema: StructType,
                  filter: Option[Filter], limit: Long): Seq[Row] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val sqlConf = state.conf
    val conf = state.newHadoopConf()
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, dataSchema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, dataSchema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    Seq(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED -> sqlConf.nestedSchemaPruningEnabled,
      SQLConf.CASE_SENSITIVE -> sqlConf.caseSensitiveAnalysis,
      SQLConf.PARQUET_BINARY_AS_STRING -> sqlConf.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> sqlConf.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED ->
        sqlConf.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> sqlConf.legacyParquetNanosAsLong,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION ->
        sqlConf.parquetReaderRespectUnknownTypeAnnotation
    ).foreach { case (k, v) => conf.setBoolean(k.key, v) }
    val opts = new ParquetOptions(Map.empty[String, String], sqlConf)
    val toRow = CatalystTypeConverters
      .createToScalaConverter(StructType(dataSchema ++ partSchema))
    val out = Vector.newBuilder[Row]
    var n = 0L
    files.foreach { case (values, f, footer) =>
      val fileMeta = footer.getFileMetaData
      val kv = fileMeta.getKeyValueMetaData
      val rebase = DataSourceUtils.datetimeRebaseSpec(kv.get,
        opts.datetimeRebaseModeInRead)
      val convertTz =
        if (sqlConf.isParquetINT96TimestampConversion &&
            !fileMeta.getCreatedBy.startsWith("parquet-mr"))
          Some(DateTimeUtils.getZoneId(sqlConf.sessionLocalTimeZone))
        else None
      val support = new ParquetReadSupport(convertTz,
        enableVectorizedReader = false, rebase,
        DataSourceUtils.int96RebaseSpec(kv.get, opts.int96RebaseModeInRead))
      // the conf is this call's own: a file's pushed predicate replaces
      // the previous file's
      val context = new TaskAttemptContextImpl(conf,
        new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
      val pushed = filter.map { fl =>
        new ParquetFilters(fileMeta.getSchema, sqlConf.parquetFilterPushDownDate,
          sqlConf.parquetFilterPushDownTimestamp,
          sqlConf.parquetFilterPushDownDecimal,
          sqlConf.parquetFilterPushDownStringPredicate,
          // one exact equality per IN value, never a min/max range
          Int.MaxValue, sqlConf.caseSensitiveAnalysis, rebase)
          .createFilter(fl).getOrElse(throw new IllegalArgumentException(
            s"Parquet cannot push the filter $fl to ${f.getPath}"))
      }
      val reader = pushed match {
        case Some(p) =>
          ParquetInputFormat.setFilterPredicate(context.getConfiguration, p)
          new ParquetRecordReader[InternalRow](support, FilterCompat.get(p, null))
        case None => new ParquetRecordReader[InternalRow](support)
      }
      try {
        reader.initialize(new FileSplit(f.getPath, 0L, f.getLen, Array.empty[String]),
          context)
        // each row converts before the reader advances: the reader
        // reuses its row object
        while (n < limit && reader.nextKeyValue()) {
          n += 1
          out += toRow(new JoinedRow(reader.getCurrentValue, values))
            .asInstanceOf[Row]
        }
      } finally reader.close()
    }
    out.result()
  }
}
