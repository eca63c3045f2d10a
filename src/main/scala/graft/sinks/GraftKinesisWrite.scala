package graft.sinks

import graft.config.ProducerConf
import graft.models.ProducerEvent
import graft.sources.ShardServiceRegistry
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** DataSource V2 write path for `graft-kinesis` — the sink twin of the
  * source, so egress is a first-class `df.writeStream.format(...)` /
  * `df.write.format(...)` target (the reference's `Kinesis.sink`
  * surface, main/stream/Kinesis.scala:169-202) instead of only the
  * `ForeachWriter` facade.
  *
  * Rows must carry `partitionKey` (string) and `data` (binary); extra
  * columns are ignored, and an optional dedup-id column (producer conf
  * `idempotency-column`) feeds the opt-in idempotent transport. Each
  * task writer runs the [[ProducerTask]] core it shares with
  * [[GraftSinkWriter]] (S9–S11): semaphore backpressure, fail-fast on
  * the first failed ack, drain-before-commit, discard on abort.
  *
  * Commit protocol: `DataWriter.commit()` drains outstanding acks, so a
  * task only reports success once everything it sent is acked (the
  * reference's "materialized future completes when all acked",
  * main/stream/KinesisSinkGraphStage.scala:84-95). Task retry after a
  * mid-write failure re-sends the partition — at-least-once, as the
  * reference; the idempotency column upgrades that to effective
  * exactly-once at the transport.
  */
object GraftKinesisWriteSupport {

  final class GraftWriteBuilder(info: LogicalWriteInfo,
      props: Map[String, String]) extends WriteBuilder {
    override def build(): Write = new Write {
      private val options =
        props ++ {
          import scala.jdk.CollectionConverters._
          info.options().asCaseSensitiveMap().asScala
        }
      // ACCEPT_ANY_SCHEMA skips the engine's schema check, so validate
      // the producer-record shape here — at analysis, not on executors
      locally {
        val s = info.schema()
        def req(name: String, t: org.apache.spark.sql.types.DataType): Unit = {
          require(s.fieldNames.contains(name),
            s"graft-kinesis write requires a '$name' column; got ${s.simpleString}")
          require(s(name).dataType == t,
            s"column '$name' must be $t; got ${s(name).dataType}")
        }
        req("partitionKey", org.apache.spark.sql.types.StringType)
        req("data", org.apache.spark.sql.types.BinaryType)
        // dedup ids ride the idempotent transport as strings; a non-string
        // column would pass here but CCE on executors, so pin the type now
        confFromOptions(options).idempotencyColumn.foreach(c =>
          req(c, org.apache.spark.sql.types.StringType))
      }
      override def toBatch: BatchWrite =
        new GraftBatchWrite(options, info.schema())
      override def toStreaming: StreamingWrite =
        new GraftStreamingWrite(options, info.schema())
    }
  }

  // derive the transport from the parsed ProducerConf so this path honors
  // the same aggregation config (aggregation-enabled / aggregation-max-count
  // / producer-conf defaults) as the ForeachWriter facade
  private def factoryFromOptions(options: Map[String, String])
      : AsyncRecordClientFactory = {
    // `endpoint` (without service.id) selects the wire transport: each
    // partition writer builds an HttpRecordClient honoring the KPL
    // aggregation and collection config — the cluster deployment shape,
    // no JVM-local registry involved. This runs on the driver, so with
    // aggregation on, the open-shard snapshot every task routes by costs
    // one ListShards listing per write (per epoch when streaming)
    options.get("service.id") match {
      case Some(serviceId) =>
        ShardServiceAsyncClient.factoryFor(confFromOptions(options),
          serviceId)
      case None =>
        require(options.contains("endpoint"),
          "option service.id (or endpoint + stream-name) required")
        // resolveId requires stream-name alongside endpoint (round-9
        // advice: no silent "graft" default on the wire) and encodes
        // retry backoff + the SigV4 signing block into the id, so the
        // write path signs exactly like the read path
        graft.transport.HttpRecordClient.factoryFor(
          confFromOptions(options), ShardServiceRegistry.resolveId(options))
    }
  }

  private def confFromOptions(options: Map[String, String]): ProducerConf =
    ProducerConf.fromOptions(
      options.map { case (k, v) => s"producer.default.$k" -> v } +
        ("producer.default.stream-name" ->
          options.getOrElse("stream-name", "graft")), "default")

  final class GraftBatchWrite(options: Map[String, String],
      schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo)
        : DataWriterFactory = new DataWriterFactory {
      private val f = factoryFromOptions(options)
      private val conf = confFromOptions(options)
      private val s = schema
      override def createWriter(partitionId: Int, taskId: Long)
          : DataWriter[InternalRow] = new GraftDataWriter(f, conf, s)
    }
    override def commit(messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  final class GraftStreamingWrite(options: Map[String, String],
      schema: StructType) extends StreamingWrite {
    override def createStreamingWriterFactory(info: PhysicalWriteInfo)
        : StreamingDataWriterFactory = new StreamingDataWriterFactory {
      private val f = factoryFromOptions(options)
      private val conf = confFromOptions(options)
      private val s = schema
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        new GraftDataWriter(f, conf, s)
    }
    override def commit(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit = ()
  }

  private case object Committed extends WriterCommitMessage

  /** One task's writer on the InternalRow path: reads the producer
    * record by ordinal and hands it to the shared [[ProducerTask]]. */
  final class GraftDataWriter(factory: AsyncRecordClientFactory,
      conf: ProducerConf, schema: StructType)
      extends DataWriter[InternalRow] {

    private val keyOrd = schema.fieldIndex("partitionKey")
    private val dataOrd = schema.fieldIndex("data")
    private val dedupOrd = conf.idempotencyColumn.map(schema.fieldIndex)
    private val task = new ProducerTask(factory, conf)

    override def write(row: InternalRow): Unit =
      task.send(ProducerEvent(
        row.getUTF8String(keyOrd).toString,
        row.getBinary(dataOrd),
        dedupOrd.map { i =>
          if (row.isNullAt(i)) throw new IllegalArgumentException(
            s"idempotency column '${conf.idempotencyColumn.get}' is null; " +
              "idempotent produce requires a non-null string id per record")
          row.getUTF8String(i).toString
        }))

    // the task succeeds only once every send is acked
    override def commit(): WriterCommitMessage = {
      task.commit()
      Committed
    }

    override def abort(): Unit = task.abort()
    override def close(): Unit = ()
  }
}
