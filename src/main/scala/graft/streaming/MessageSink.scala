package graft.streaming

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

import graft.model.{Message, UlidGenerator}

/** DSv2 write path for `format("graft-messages")` — the publish
  * pipeline of SURVEY.md §3.1 mapped onto Spark's write protocol:
  * `Dataset[Message] -> WriteToDataSourceV2Exec -> DataWriter per
  * partition on executors`. Each writer validates partitionKey,
  * assigns per-writer monotonic ULIDs (the reference's per-producer
  * guarantee), routes each message to its key's shard, and flushes in
  * batches with the retry-only-failures loop (throttle -> backoff,
  * like `KinesisMessiProducer.java:103-160`).
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

  private lazy val deserialize = MessageReaderFactory.deserializer()
  private val ulids = new UlidGenerator(seed = 42L ^ (partitionId.toLong * 0x9e3779b97f4a7c15L))
  private val buffer = new scala.collection.mutable.ArrayBuffer[Message]()
  private var written = 0L

  private def shardFor(m: Message): ShardLog = topicName match {
    case Some(t) => Topics.get(t)
      .getOrElse(throw new IllegalArgumentException(s"unknown topic '$t' — create it with Topics.create"))
      .shardFor(m.partitionKey)
    case None => ShardLog.getOrCreate(logName.get)
  }

  override def write(row: InternalRow): Unit = {
    val m0 = deserialize(row)
    require(m0.partitionKey != null && m0.partitionKey.nonEmpty,
      "partitionKey is required to publish")
    buffer += (if (m0.ulid.isDefined) m0 else m0.copy(ulid = Some(ulids.next())))
    if (buffer.size >= 500) flush()
  }

  private def flush(): Unit = {
    buffer.groupBy(shardFor).foreach { case (shard, batch) =>
      var pending: Seq[Message] = batch.toSeq
      while (pending.nonEmpty) {
        try { shard.putRecords(pending); pending = Nil }
        catch { case _: ThrottledException => Thread.sleep(5) }
      }
    }
    written += buffer.size
    buffer.clear()
  }

  override def commit(): WriterCommitMessage = { flush(); MessageCommit(written) }
  override def abort(): Unit = buffer.clear()
  override def close(): Unit = ()
}
