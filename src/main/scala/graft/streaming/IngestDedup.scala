package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Near-dup detection AT INGEST — the dedup a 100 TB pipeline wants to
  * run BEFORE paying to store a document: MinHash-LSH banding applied
  * to the arriving stream, with each band bucket's first-seen owner
  * held in keyed streaming state.
  *
  * Shape: signatures are row-local (the same native `shingle_sha60` +
  * `minhash_sig` kernels as batch `l2_minhash_lsh`, 16 bands × 4
  * rows); the only shuffle keys by band bucket, where a
  * `flatMapGroupsWithState` keeps min(doc_id) seen per bucket. The
  * emitted stream is one record per (doc, band) with its collision
  * verdict — collision events are tiny (candidate-sized, not
  * corpus-sized), and the per-doc rollup (`dup = ANY band collided`,
  * an LSH candidate in the batch path's sense) composes downstream: a
  * second hop over the message bus, or a batch rollup over the sink
  * (IngestDedupSpec drives both the stream and the rollup).
  *
  * Determinism: keep-first is by doc_id within a micro-batch — a
  * batch's verdicts depend only on min(doc_id) across state ∪ batch,
  * so two docs of one micro-batch race deterministically (smaller id
  * owns the bucket) and a replay of the same checkpointed batches
  * reproduces identical verdicts. Across micro-batches an emitted
  * verdict is never revised, so a verdict matches the batch reference
  * (min(doc_id) per bucket over the whole stream) only if no smaller
  * doc_id of that bucket arrives in a later micro-batch. The source
  * can break that under backlog: its per-shard admission cap may
  * deliver a larger doc_id from one shard a micro-batch before a
  * smaller one from another, and then both stay first-seen
  * (IngestDedupSpec pins this).
  *
  * State size: one long per live band bucket. At scale the state store
  * is RocksDB-backed and the bucket space is bounded by distinct band
  * signatures seen; with a bounded dedup horizon, [[bandCollisionsTtl]]
  * ages buckets out by EVENT-TIME timeout, so live state is bounded by
  * the horizon's bucket arrivals, not the stream's lifetime.
  */
object IngestDedup {

  /** (doc_id, band, dup) per arriving (doc_id, band) — `dup` iff the
    * bucket has (or this batch contains) a smaller doc_id. */
  final case class BandHit(doc_id: Long, band: Int, dup: Boolean)

  def bandCollisions(docs: DataFrame, nBands: Int = 16, rowsPerBand: Int = 4): Dataset[BandHit] = {
    implicit val hitEnc = Encoders.product[BandHit]
    implicit val stateEnc = Encoders.scalaLong
    bucketStream(docs, nBands, rowsPerBand)
      .groupByKey { case (_, band, bsig, _) => s"$band|$bsig" }(Encoders.STRING)
      .flatMapGroupsWithState[Long, BandHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(Long, Int, String, java.sql.Timestamp)], state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val batch = rows.toVector
          val batchMin = batch.iterator.map(_._1).min
          val seenMin = state.getOption.fold(batchMin)(math.min(_, batchMin))
          state.update(seenMin)
          batch.iterator.map { case (d, band, _, _) => BandHit(d, band, d > seenMin) }
      }
  }

  /** [[bandCollisions]] with a bounded dedup horizon: bucket state ages
    * out once the watermark passes last-arrival + `horizonMs` — a
    * duplicate arriving after the horizon BUT AHEAD of the watermark is
    * treated as first-seen (by then the original has been
    * curated/compacted; unbounded keep-first needs the batch dedup pass
    * anyway). Caller must supply an event time column `ts` WITH a
    * watermark (the timeout clock IS the watermark). Live state is
    * bounded by distinct buckets per horizon.
    *
    * Late data: a row whose event time is already BEHIND the current
    * watermark is dropped by Spark's EventTimeTimeout late-data filter
    * before it reaches the state function — it emits NO BandHit verdict
    * at all (not a first-seen one), so downstream rollups see the doc
    * vanish. A caller that needs a verdict for every doc must bound
    * arrival lateness via the watermark delay (or run the unbounded
    * [[bandCollisions]], which carries no event-time filter).
    */
  def bandCollisionsTtl(docs: DataFrame, horizonMs: Long,
                        nBands: Int = 16, rowsPerBand: Int = 4): Dataset[BandHit] = {
    implicit val hitEnc = Encoders.product[BandHit]
    implicit val stateEnc = Encoders.scalaLong
    bucketStream(docs, nBands, rowsPerBand)
      .groupByKey { case (_, band, bsig, _) => s"$band|$bsig" }(Encoders.STRING)
      .flatMapGroupsWithState[Long, BandHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[(Long, Int, String, java.sql.Timestamp)], state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector
            val batchMin = batch.iterator.map(_._1).min
            val seenMin = state.getOption.fold(batchMin)(math.min(_, batchMin))
            state.update(seenMin)
            state.setTimeoutTimestamp(batch.iterator.map(_._4.getTime).max + horizonMs)
            batch.iterator.map { case (d, band, _, _) => BandHit(d, band, d > seenMin) }
          }
      }
  }

  /** (doc_id, band, bsig, event time) bucket stream — signatures
    * row-local, one record per (doc, band). The event-time COLUMN rides
    * through the projection so the upstream watermark attribute (the
    * TTL path's timeout clock) survives; `ts` defaults to epoch 0 when
    * the input carries no event time (the unbounded path). */
  private def bucketStream(docs: DataFrame, nBands: Int, rowsPerBand: Int) = {
    val withTs = if (docs.columns.contains("ts")) docs
      else docs.withColumn("ts", lit(new java.sql.Timestamp(0L)))
    val sigs = withTs.select(col("doc_id"), col("ts"),
        graft.functions.MinHashExprs.minhash_sig(
          graft.functions.ShingleExprs.shingle_sha60(col("text"))).as("sig"))
    val bands = (0 until nBands).map(bd => struct(
      lit(bd).as("band"),
      concat_ws(",", (0 until rowsPerBand).map(r => col("sig")(bd * rowsPerBand + r)): _*).as("bsig")))
    implicit val tupleEnc =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.STRING, Encoders.TIMESTAMP)
    sigs.select(col("doc_id"), col("ts"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bsig").as("bsig"), col("ts"))
      .as[(Long, Int, String, java.sql.Timestamp)]
  }
}
