package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Thin bridge into Spark's classic (non-Connect) internals, needed because
  * Spark 4 made the Column(Expression) constructor and Dataset.ofRows
  * private[sql]. Everything here is a one-line delegation to public Spark
  * source (sql/core: columnNodeSupport.scala, classic/Dataset.scala).
  */
object GraftBridge {
  /** Wrap a raw Catalyst expression as a user-facing Column. */
  def col(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a Column back to its Catalyst expression. */
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Execute an already-built logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A one-partition scan over rows held on the driver. Unlike a
    * `LocalRelation`, the optimizer does not evaluate a query's
    * projections and filters over its rows while planning: its task does.
    * Its size estimate is a `LocalRelation`'s. */
  def rowScan(spark: SparkSession, output: Seq[catalyst.expressions.Attribute],
      rows: Seq[catalyst.InternalRow]): execution.LogicalRDD = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val size = output.map(_.dataType.defaultSize.toLong).sum * rows.length
    execution.LogicalRDD(output, s.sparkContext.parallelize(rows, 1))(s,
      Some(catalyst.plans.logical.Statistics(BigInt(math.max(1L, size)))))
  }

  /** The analyzed logical plan behind a DataFrame. */
  def plan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Serialize a DataFrame's result as one complete Arrow IPC stream
    * (schema message, record-batch messages, end-of-stream marker) — the
    * payload format any Arrow reader (pyarrow, arrow-rs, arrow-vector)
    * consumes directly. Batch encoding delegates to Spark's own
    * ArrowConverters (the code path PySpark's toPandas rides), so type
    * mapping and timezone handling match Spark exactly. */
  def toArrowStream(df: DataFrame, timeZoneId: String = "UTC",
      maxRecordsPerBatch: Long = 10000L): Array[Byte] = {
    import org.apache.arrow.vector.ipc.WriteChannel
    import org.apache.arrow.vector.ipc.message.{IpcOption, MessageSerializer}
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val schema = ds.schema
    val rows = ds.queryExecution.executedPlan.executeCollect().iterator
    val batches = execution.arrow.ArrowConverters.toBatchIterator(
      rows, schema, maxRecordsPerBatch, timeZoneId,
      true /* errorOnDuplicatedFieldNames */, false /* largeVarTypes */,
      null /* TaskContext: driver-side */)
    val out = new java.io.ByteArrayOutputStream()
    val ch = new WriteChannel(java.nio.channels.Channels.newChannel(out))
    MessageSerializer.serialize(ch,
      util.ArrowUtils.toArrowSchema(schema, timeZoneId, true, false))
    batches.foreach(b => ch.write(b))
    org.apache.arrow.vector.ipc.ArrowStreamWriter
      .writeEndOfStream(ch, IpcOption.DEFAULT)
    out.toByteArray
  }

  /** Like [[toArrowStream]] but one SELF-CONTAINED IPC stream (schema +
    * one record batch + EOS) per `maxRecordsPerBatch` rows — the shape a
    * server-streaming RPC emits, where every streamed message must decode
    * independently (the reference's stream_sql_query builds one complete
    * payload per RecordBatch, proxy/src/grpc/sql_query.rs:190-209). */
  def toArrowStreams(df: DataFrame, timeZoneId: String = "UTC",
      maxRecordsPerBatch: Long = 4096L): Seq[Array[Byte]] = {
    import org.apache.arrow.vector.ipc.WriteChannel
    import org.apache.arrow.vector.ipc.message.{IpcOption, MessageSerializer}
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val schema = ds.schema
    val rows = ds.queryExecution.executedPlan.executeCollect().iterator
    val batches = execution.arrow.ArrowConverters.toBatchIterator(
      rows, schema, maxRecordsPerBatch, timeZoneId, true, false, null)
    batches.map { b =>
      val out = new java.io.ByteArrayOutputStream()
      val ch = new WriteChannel(java.nio.channels.Channels.newChannel(out))
      MessageSerializer.serialize(ch,
        util.ArrowUtils.toArrowSchema(schema, timeZoneId, true, false))
      ch.write(b)
      org.apache.arrow.vector.ipc.ArrowStreamWriter
        .writeEndOfStream(ch, IpcOption.DEFAULT)
      out.toByteArray
    }.toSeq
  }

  /** Inverse of [[toArrowStream]]: decode one complete Arrow IPC stream
    * back into a local DataFrame (wire-client/spec tooling — rows are
    * materialized driver-side by construction). */
  def fromArrowStream(spark: SparkSession, bytes: Array[Byte]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val schema = util.ArrowUtils.fromArrowSchema(root.getSchema)
      val conv = catalyst.CatalystTypeConverters.createToScalaConverter(schema)
      val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
      while (reader.loadNextBatch()) {
        val cols = root.getFieldVectors.asScala
          .map(v => new vectorized.ArrowColumnVector(v): vectorized.ColumnVector)
          .toArray
        val batch = new vectorized.ColumnarBatch(cols, root.getRowCount)
        batch.rowIterator().asScala.foreach(ir =>
          rows += conv(ir.copy()).asInstanceOf[Row])
      }
      spark.createDataFrame(rows.asJava, schema)
    } finally { reader.close(); alloc.close() }
  }
}
