package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Dedup-at-ingest TCK: the streaming LSH collision detector flags a
  * near-duplicate ARRIVING LATER than its original, across micro-batch
  * boundaries, with keep-first-by-id determinism — and the per-doc
  * rollup over the collision stream yields the doc verdicts the batch
  * path would.
  */
class IngestDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("near-dup arriving in a later batch collides; distinct docs stay clean") {
    val a = "the quick brown fox jumps over the lazy dog while the rain " +
      "falls softly on the quiet village roofs tonight"
    val aEdit = a.replace("tonight", "today") // same shingles except the tail
    val b = "completely different content about spark catalyst optimizer " +
      "rules and distributed shuffle exchange planning strategies"

    val in = MemoryStream[(Long, String)](spark)
    val q = IngestDedup.bandCollisions(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("ingest_hits").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString)
      .start()
    in.addData((1L, a), (2L, b))   // batch 1: both first-seen
    q.processAllAvailable()
    in.addData((3L, aEdit))        // batch 2: near-dup of doc 1
    q.processAllAvailable()
    q.stop()

    // per-doc rollup over the collision stream (the downstream hop)
    val verdicts = spark.table("ingest_hits")
      .groupBy("doc_id").agg(max(col("dup")).as("is_dup"))
      .as[(Long, Boolean)].collect().toMap
    assert(verdicts(1L) == false, "bucket owner must stay clean")
    assert(verdicts(2L) == false, "distinct doc must stay clean")
    assert(verdicts(3L) == true, "near-dup must collide on at least one band")
    // every doc emitted all 16 band records
    val counts = spark.table("ingest_hits").groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    assert(counts.values.forall(_ == 16L))
  }

  test("TTL horizon: bucket state expires; a post-horizon duplicate is first-seen again") {
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp((min + 100) * 60000L) // offset: epoch-0 events are late vs the initial watermark
    val text = "identical payload text repeated verbatim across the docs " +
      "so every band signature matches exactly between the copies"
    val in = MemoryStream[(Timestamp, Long, String)](spark)
    val q = IngestDedup.bandCollisionsTtl(
        in.toDF().toDF("ts", "doc_id", "text").withWatermark("ts", "1 minute"),
        horizonMs = 10 * 60000L)
      .writeStream.format("memory").queryName("ingest_ttl").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString)
      .start()
    in.addData((ts(0), 1L, text))         // owner at t=0
    q.processAllAvailable()
    in.addData((ts(5), 2L, text))         // inside the 10-min horizon -> dup
    q.processAllAvailable()
    // advance the watermark far past t=5 + 10min so the buckets expire
    in.addData((ts(60), 50L, "unrelated filler content advancing the watermark clock forward"))
    q.processAllAvailable()
    in.addData((ts(61), 3L, text))        // post-horizon copy -> state forgotten
    q.processAllAvailable()
    q.stop()
    val verdicts = spark.table("ingest_ttl")
      .groupBy("doc_id").agg(max(col("dup")).as("is_dup"))
      .as[(Long, Boolean)].collect().toMap
    assert(verdicts(1L) == false)
    assert(verdicts(2L) == true, s"in-horizon duplicate must collide: $verdicts")
    assert(verdicts(3L) == false,
      s"post-horizon duplicate must be first-seen after state expiry: $verdicts")
  }

  test("RocksDB provider: state survives a query restart and TTL eviction still fires") {
    // The 100 TB posture says "at scale the state store is
    // RocksDB-backed" — prove the claim instead of arguing it: the
    // same TTL pipeline runs under RocksDBStateStoreProvider (ships in
    // the Spark distro), with a RESTART from the checkpoint between
    // the owner and its duplicate. A collision after the restart means
    // the bucket owner was recovered from RocksDB state, not JVM
    // memory; the post-horizon copy being first-seen means event-time
    // eviction fires under RocksDB exactly as under the default
    // HDFS-backed provider (same assertions as the TTL test above).
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp((min + 100) * 60000L)
    val text = "identical payload text repeated verbatim across the docs " +
      "so every band signature matches exactly between the copies"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = Files.createTempDirectory("g").toString
      val in = MemoryStream[(Timestamp, Long, String)](spark)
      // memory sink can't recover from a checkpoint — collect via a
      // static foreachBatch sink (the T8/T9c restart pattern)
      IngestDedupSpec.rocksHits.clear()
      def start() = IngestDedup.bandCollisionsTtl(
          in.toDF().toDF("ts", "doc_id", "text").withWatermark("ts", "1 minute"),
          horizonMs = 10 * 60000L)
        .writeStream.outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[IngestDedup.BandHit], _: Long) =>
          df.collect().foreach(h => IngestDedupSpec.rocksHits.add(h.doc_id -> h.dup))
        }
        .option("checkpointLocation", ckpt)
        .start()
      val q1 = start()
      in.addData((ts(0), 1L, text))       // owner, processed before the restart
      q1.processAllAvailable()
      q1.stop()
      val q2 = start()                    // restart from the same checkpoint
      in.addData((ts(5), 2L, text))       // in-horizon dup of the PRE-restart owner
      q2.processAllAvailable()
      in.addData((ts(60), 50L, "unrelated filler content advancing the watermark clock forward"))
      q2.processAllAvailable()
      in.addData((ts(61), 3L, text))      // post-horizon copy
      q2.processAllAvailable()
      q2.stop()
      import scala.jdk.CollectionConverters._
      val verdicts = IngestDedupSpec.rocksHits.asScala
        .groupBy(_._1).map { case (d, hs) => d -> hs.exists(_._2) }
      assert(verdicts(2L) == true,
        s"duplicate after restart must collide with the RocksDB-recovered owner: $verdicts")
      assert(verdicts(3L) == false,
        s"post-horizon duplicate must be first-seen after RocksDB TTL eviction: $verdicts")
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v)
                   case None    => spark.conf.unset(key) }
    }
  }

  test("same-batch race resolves keep-first by doc_id, not arrival order") {
    val text = "identical payload text repeated verbatim across both docs " +
      "so every band signature matches exactly between the pair"
    val in = MemoryStream[(Long, String)](spark)
    val q = IngestDedup.bandCollisions(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("ingest_race").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString)
      .start()
    in.addData((9L, text), (4L, text)) // one batch, higher id added first
    q.processAllAvailable()
    q.stop()
    val verdicts = spark.table("ingest_race")
      .groupBy("doc_id").agg(max(col("dup")).as("is_dup"))
      .as[(Long, Boolean)].collect().toMap
    assert(verdicts(4L) == false && verdicts(9L) == true,
      s"min doc_id must own every bucket: $verdicts")
  }

  test("a smaller doc_id in a LATER batch does not revise the earlier verdict") {
    // The stated limit of the determinism contract: verdicts match the
    // batch min(doc_id) reference only if no smaller doc_id of a bucket
    // arrives in a later micro-batch. Doc 2 owns the bucket when it
    // lands; doc 1 then finds only a larger owner in state — both stay
    // first-seen, where the batch reference would flag doc 2.
    val text = "identical payload text repeated verbatim across both docs " +
      "so every band signature matches exactly between the pair"
    val in = MemoryStream[(Long, String)](spark)
    val q = IngestDedup.bandCollisions(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("ingest_late_min").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString)
      .start()
    in.addData((2L, text))
    q.processAllAvailable()
    in.addData((1L, text))
    q.processAllAvailable()
    q.stop()
    val verdicts = spark.table("ingest_late_min")
      .groupBy("doc_id").agg(max(col("dup")).as("is_dup"))
      .as[(Long, Boolean)].collect().toMap
    assert(verdicts == Map(2L -> false, 1L -> false), s"verdicts: $verdicts")
  }
}

/** Static sink so the RocksDB restart test's foreachBatch closure
  * survives the query restart (the StreamingTckSpec pattern). */
object IngestDedupSpec {
  val rocksHits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean)]()
}
