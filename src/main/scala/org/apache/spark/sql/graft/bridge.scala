package org.apache.spark.sql.graft

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.arrow.ArrowConverters
import org.apache.spark.sql.types.StructType

/** Visibility bridge for the one `private[sql]` call a V1 streaming Source
  * needs: re-tagging a batch DataFrame as streaming. `Source.getBatch` must
  * return a plan with `isStreaming=true`, and the only constructor for that
  * is `SparkSession.internalCreateDataFrame(..., isStreaming = true)` — the
  * exact call Spark's own FileStreamSource makes (FileStreamSource.scala,
  * "dataPlan ... isStreaming = true"). No behavior is reimplemented here;
  * this object only lives in the `org.apache.spark.sql` namespace to
  * satisfy the access qualifier — the standard pattern for out-of-tree V1
  * connectors. */
object StreamingDataFrame {

  /** The same logical result as `df`, tagged as a streaming batch. The
    * input plan keeps its pushdown/pruning; `toRdd` defers execution. */
  def asStreaming(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val spark = cdf.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(cdf.queryExecution.toRdd, cdf.schema, isStreaming = true)
  }
}

/** Arrow interchange (the reference's OUTPUT CONTRACT is Arrow `Block`s —
  * DeltaRecordHandler.scala:4,150): serialize a DataFrame's partitions as
  * Arrow IPC record-batch payloads without collecting rows on the driver,
  * and rebuild a DataFrame from such payloads. Uses Spark's own
  * `ArrowConverters` (the machinery behind `toPandas`/SparkR) via the
  * namespace bridge — no re-implementation of the columnar encoding. */
object ArrowInterop {

  /** One Arrow IPC record-batch payload per ≤`maxRecordsPerBatch` rows,
    * produced DISTRIBUTED (an `RDD[Array[Byte]]` — each partition encodes
    * its own rows; nothing is driver-collected until the caller decides
    * to). The plan keeps its pushdown/pruning through `toRdd`. */
  def toArrowBatches(df: DataFrame, maxRecordsPerBatch: Long = 10000L): RDD[Array[Byte]] = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val schema = cdf.schema
    val tz = cdf.sparkSession.sessionState.conf.sessionLocalTimeZone
    cdf.queryExecution.toRdd.mapPartitions { it =>
      ArrowConverters.toBatchIterator(it, schema, maxRecordsPerBatch, tz,
        true, false, TaskContext.get())
    }
  }

  /** Rebuild a DataFrame from Arrow IPC record-batch payloads (the inverse
    * of [[toArrowBatches]] — e.g. blocks received from an external Arrow
    * producer). Decoding runs distributed over the payload partitions. */
  def fromArrowBatches(spark: SparkSession, batches: RDD[Array[Byte]],
                       schema: StructType): DataFrame = {
    val cspark = spark.asInstanceOf[classic.SparkSession]
    val tz = cspark.sessionState.conf.sessionLocalTimeZone
    val rows = batches.mapPartitions { it =>
      ArrowConverters.fromBatchIterator(it, schema, tz, true, false,
        TaskContext.get()).map(_.copy())
    }
    cspark.internalCreateDataFrame(rows, schema)
  }
}

/** Visibility bridge for `SparkSession.internalCreateDataFrame`: a
  * DataFrame over rows already in Catalyst's internal form, so a
  * distributed Delta log replay that reduces `InternalRow`s never converts
  * them to external [[Row]]s and back. */
object InternalRows {

  def toDataFrame(spark: SparkSession,
                  rows: RDD[org.apache.spark.sql.catalyst.InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}

/** Parquet writes through Spark's `FileFormatWriter` with a caller's
  * `FileCommitProtocol`, the call delta-spark's `TransactionalWrite` makes:
  * `df.write.parquet` runs the same writer under Hadoop's staging
  * `FileOutputCommitter`. Partition columns are checked as
  * `DataFrameWriter.partitionBy` checks them. */
object FileWrites {

  def write(df: DataFrame, outputPath: String, partitionColumns: Seq[String],
            committer: org.apache.spark.internal.io.FileCommitProtocol): Unit = {
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.{FileFormatWriter, PartitioningUtils}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val conf = spark.sessionState.conf
    PartitioningUtils.validatePartitionColumn(ds.schema, partitionColumns, conf.caseSensitiveAnalysis)
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("write data files")) {
      val plan = qe.executedPlan
      val partitionAttrs = partitionColumns.map(c => plan.output.find(a => conf.resolver(a.name, c)).get)
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(outputPath, Map.empty, plan.output),
        spark.sessionState.newHadoopConf(), partitionAttrs, None, Nil, Map.empty)
    }
  }
}
