package graft.streaming

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Cursor, Message}

/** A topic: one named stream of N shards. The reference multiplexes
  * topics within a single configured stream and routes records to
  * shards by partition key (`KinesisMessiTopic.java:60-66`,
  * `KinesisMessiProducer.java:82-88`); here the md5(partitionKey) mod N
  * routing reproduces Kinesis's hash-range assignment, so per-key
  * ordering holds while shards scale out — the exact partitioning
  * story a 1000-executor cluster needs.
  */
final class Topic private[streaming] (val name: String, val numShards: Int) {
  /** Registry names of the shard logs — the only place the `topic#i`
    * naming is spelled; the DSv2 source addresses shards by these. */
  val logNames: IndexedSeq[String] = (0 until numShards).map(i => s"$name#$i")
  val shards: IndexedSeq[ShardLog] =
    logNames.indices.map(i => ShardLog.getOrCreate(logNames(i), f"shardId-$i%012d"))

  @volatile private var closed = false
  def isClosed: Boolean = closed
  def close(): Unit = closed = true

  def shardIds: Seq[String] = shards.map(_.shardId)
  def firstShard: ShardLog = shards.head
  def shardOf(shardId: String): ShardLog =
    shards.find(_.shardId == shardId)
      .getOrElse(throw new IllegalArgumentException(s"no shard $shardId in topic $name"))

  /** Kinesis hash-range routing: the full 128-bit md5 of the partition
    * key, placed into one of N evenly-split hash ranges
    * [i*2^128/N, (i+1)*2^128/N) — the same shard a real Kinesis stream
    * with an even N-way split would pick for this key.
    */
  def shardFor(partitionKey: String): ShardLog = {
    val d = MessageDigest.getInstance("MD5").digest(partitionKey.getBytes("UTF-8"))
    val h = new java.math.BigInteger(1, d) // unsigned 128-bit
    val idx = h.multiply(java.math.BigInteger.valueOf(numShards))
      .shiftRight(128).intValueExact()
    shards(idx)
  }

  /** Key-routed [[Producer]]; publishing fails once the topic closes. */
  def producer(seed: Long = System.nanoTime()): Producer = {
    require(!closed, "topic is closed")
    new Producer(m => {
      if (closed) throw new IllegalStateException("topic is closed")
      shardFor(m.partitionKey)
    }, pollIntervalMs = 10, seed)
  }

  def consumer(cursor: Cursor): ShardConsumer = {
    require(!closed, "topic is closed")
    new ShardConsumer(shardOf(cursor.shardId), cursor)
  }

  /** Batch view of the whole topic (all shards, provider-enriched). */
  def toDF(spark: SparkSession): DataFrame =
    spark.read.format("graft-messages").option("topic", name).load()

  /** The reference throws UnsupportedOperation for lastMessage
    * (`KinesisMessiClient.java:49-51`); in Spark batch it's trivial —
    * latest provider timestamp, ties broken by shard/sequence.
    */
  def lastMessage(spark: SparkSession): Option[Message] = {
    import graft.model.Message.encoder
    toDF(spark)
      .orderBy(col("provider.publishedTimestamp").desc,
               col("provider.shardId").desc, col("provider.sequenceNumber").desc)
      .limit(1).as[Message](encoder).collect().headOption
  }
}

/** Stream admin (§2A-17: listStreams / createStream / create-if-absent). */
object Topics {
  private val topics = new java.util.concurrent.ConcurrentHashMap[String, Topic]()

  def create(name: String, numShards: Int): Topic = {
    val t = topics.computeIfAbsent(name, n => new Topic(n, math.max(numShards, 1)))
    require(t.numShards == numShards || numShards <= 0,
      s"topic $name already exists with ${t.numShards} shards")
    t
  }

  /** Create-if-absent; numShards <= 0 means "whatever exists" (1 when new). */
  def getOrCreate(name: String, numShards: Int = 0): Topic = create(name, numShards)
  def get(name: String): Option[Topic] = Option(topics.get(name))
  def list(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    topics.keys().asScala.toSeq.sorted
  }
}
