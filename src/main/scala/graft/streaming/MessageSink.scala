package graft.streaming

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

import graft.model.Message

/** DSv2 write path for `format("graft-messages")` — the publish
  * pipeline of SURVEY.md §3.1 mapped onto Spark's write protocol:
  * `Dataset[Message] -> WriteToDataSourceV2Exec -> DataWriter per
  * partition on executors`. Each writer resolves its topic (or log)
  * once and publishes 500-message batches through one [[Producer]]:
  * partitionKey validation, partition-seeded monotonic ULIDs (the
  * reference's per-producer guarantee), key routing and the per-shard
  * throttle retry all live there.
  *
  * Used for both batch `df.write` and `df.writeStream` (streaming
  * epochs map to commit calls; the shard log is append-only so
  * at-least-once on task retry, exactly like the reference).
  */
final class MessageWriteBuilder(topicName: Option[String], logName: Option[String])
    extends WriteBuilder {

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        new MessageWriterFactory(topicName, logName)
      override def commit(messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
    override def toStreaming: StreamingWrite = new StreamingWrite {
      override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
        new MessageWriterFactory(topicName, logName)
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

final case class MessageCommit(count: Long) extends WriterCommitMessage

final class MessageWriterFactory(topicName: Option[String], logName: Option[String])
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new MessageDataWriter(topicName, logName, partitionId)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new MessageDataWriter(topicName, logName, partitionId)
}

final class MessageDataWriter(topicName: Option[String], logName: Option[String],
                              partitionId: Int) extends DataWriter[InternalRow] {

  private val deserialize = ExpressionEncoder(
    Message.encoder.asInstanceOf[AgnosticEncoder[Message]]).resolveAndBind().createDeserializer()
  // partition-seeded ULIDs: a re-run of this partition assigns the same ones
  private val seed = 42L ^ (partitionId.toLong * 0x9e3779b97f4a7c15L)
  private val producer = topicName match {
    case Some(t) => Topics.get(t)
      .getOrElse(throw new IllegalArgumentException(s"unknown topic '$t' — create it with Topics.create"))
      .producer(seed)
    case None => new Producer(ShardLog.getOrCreate(logName.get), seed = seed)
  }
  private val buffer = new scala.collection.mutable.ArrayBuffer[Message]()
  private var written = 0L

  override def write(row: InternalRow): Unit = {
    buffer += deserialize(row)
    if (buffer.size >= 500) flush()
  }

  private def flush(): Unit = {
    producer.publish(buffer.toSeq: _*)
    written += buffer.size
    buffer.clear()
  }

  override def commit(): WriterCommitMessage = { flush(); MessageCommit(written) }
  override def abort(): Unit = buffer.clear()
  override def close(): Unit = ()
}
