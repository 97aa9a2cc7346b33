package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** Streaming-ingest near-duplicate detection: the stateful counterpart of
  * [[graft.operators.Dedup.minhashCandidates]] for a 100 TB/day document
  * firehose, where batch LSH over the full corpus is not an option.
  *
  * Shape: each arriving document is minhash-signed map-side (same kernel
  * as the batch path), exploded to its LSH band keys, and grouped by
  * (band, bucket); per-bucket `flatMapGroupsWithState` state holds the
  * signatures seen in that bucket, so a new arrival compares against ONLY
  * its bucket's history — the streaming analog of the within-bucket
  * self-join, with identical candidate semantics. State is bounded by
  * `maxPerBucket` (oldest evicted — the same skew-cap philosophy as the
  * batch `capBuckets`: a degenerate boilerplate bucket must not grow
  * without bound).
  *
  * State growth: `maxPerBucket` bounds each bucket, but the NUMBER of
  * distinct (band, bucket) states grows with distinct content — on a
  * continuous firehose the state store grows without bound unless a TTL
  * is set. `stateTtlMs > 0` turns on `ProcessingTimeTimeout`: a bucket
  * untouched for the TTL is dropped whole by the engine, and entries
  * older than the TTL are evicted on arrival (so an expired entry stops
  * matching even when its bucket key stays hot). Deployments sizing for
  * the advertised scale should set the TTL to their dedup horizon (e.g.
  * 7 days); the default (-1) keeps state forever — exact against all
  * history, appropriate for bounded backfills only.
  *
  * The same function runs in batch mode (flatMapGroupsWithState over a
  * bounded Dataset executes with empty initial state), which is how the
  * spec cross-checks it against the batch LSH operator. In batch mode a
  * TTL never expires anything: the whole input is one "instant", so
  * batch replays stay deterministic.
  */
object StreamingDedup {

  /** Bucket history: parallel seqs of doc ids, their signatures, and the
    * processing-time ms each was admitted (used only when a TTL is set;
    * 0 otherwise).
    */
  final case class BucketState(ids: Seq[Long], sigs: Seq[Seq[Long]],
      admitted: Seq[Long])

  /** Near-dup candidate pairs (id_a < id_b, est_jaccard = signature
    * agreement ≥ threshold) between each arriving document and the
    * bucket history at its arrival. A pair matching in several bands is
    * emitted once per matching band — distinct downstream if needed
    * (the batch operator's dropDuplicates step).
    *
    * `stateTtlMs`: per-bucket state retention in processing-time ms;
    * ≤ 0 (default -1) retains forever. See the object doc for the
    * state-growth characteristics.
    *
    * Operational note: with a TTL the engine schedules timeout-check
    * batches indefinitely, so `processAllAvailable()` never observes a
    * no-new-data quiesce and blocks forever — synchronize tests and
    * drains on query progress (`recentProgress`/listener) instead, and
    * prefer an explicit `Trigger.ProcessingTime` so the timeout churn is
    * paced rather than busy-looping.
    */
  def nearDupCandidates(spark: SparkSession, docs: DataFrame,
      numHashes: Int = 32, rowsPerBand: Int = 4, k: Int = 5,
      threshold: Double = 0.5, maxPerBucket: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      stateTtlMs: Long = -1L): DataFrame = {
    import spark.implicits._
    val num = numHashes
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val sigU = udf((t: String) =>
      graft.functions.Hashing.minhashSignature(t, k, num).toSeq)
    val banded = docs
      .select(col(idCol).cast("long").as("id"), sigU(col(textCol)).as("sig"))
      .select(col("id"), col("sig"),
        explode(Dedup.bandKeys(col("sig"), num, rowsPerBand)).as("bk"))
      .select(col("bk.band"), col("bk.bucket"), col("id"), col("sig"))
      .as[(Int, Long, Long, Seq[Long])]
    banded
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (_: (Int, Long), rows: Iterator[(Int, Long, Long, Seq[Long])],
         state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            // cold bucket: the engine fires this with no data once the
            // TTL elapses — drop the whole state entry
            state.remove()
            Iterator.empty
          } else {
            val now =
              if (stateTtlMs > 0) state.getCurrentProcessingTimeMs() else 0L
            val prev = state.getOption.getOrElse(BucketState(Nil, Nil, Nil))
            // age out expired entries even when the bucket key stays hot:
            // the engine-level timeout only catches buckets with NO
            // arrivals, so eviction-on-arrival is what makes an expired
            // entry stop matching
            var (ids, sigs, adm) =
              if (stateTtlMs > 0) {
                val keep = prev.admitted.map(t => now - t <= stateTtlMs)
                ((prev.ids zip keep).collect { case (v, true) => v },
                 (prev.sigs zip keep).collect { case (v, true) => v },
                 (prev.admitted zip keep).collect { case (v, true) => v })
              } else (prev.ids, prev.sigs, prev.admitted)
            val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
            // within-batch arrivals processed in id order → deterministic
            // output regardless of partition/iterator order
            rows.toSeq.sortBy(_._3).foreach { case (_, _, id, sig) =>
              if (!ids.contains(id)) {
                ids.iterator.zip(sigs.iterator).foreach { case (oid, osig) =>
                  var agree = 0
                  var i = 0
                  while (i < num) { if (osig(i) == sig(i)) agree += 1; i += 1 }
                  val est = agree.toDouble / num
                  if (est >= threshold)
                    out += ((math.min(oid, id), math.max(oid, id), est))
                }
                ids = ids :+ id
                sigs = sigs :+ sig
                adm = adm :+ now
                if (ids.length > maxPerBucket) { // evict oldest
                  ids = ids.drop(1); sigs = sigs.drop(1); adm = adm.drop(1)
                }
              }
            }
            state.update(BucketState(ids, sigs, adm))
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            out.iterator
          }
      }
      .toDF("id_a", "id_b", "est_jaccard")
  }

  /** Streaming fuzzy decontamination: each arriving document is
    * minhash-signed map-side, band-exploded, and joined against a
    * STATIC benchmark signature index ([[Dedup.minhashIndex]]) — the
    * stream-static shape of [[Dedup.fuzzyDecontaminate]]'s band join
    * (the benchmark is fixed for a training run; the corpus is the
    * firehose). Emits per matched doc: distinct benchmark-match count
    * and max estimated Jaccard ≥ `threshold`; unmatched docs simply
    * never appear (the caller's readout left-joins the roster and
    * fills zeros — the q208 tail). Aggregation runs in Complete mode
    * over ≤ |matched docs| keys of bounded state.
    */
  def decontaminateStream(spark: SparkSession, incoming: DataFrame,
      benchIndex: DataFrame, numHashes: Int = 32, rowsPerBand: Int = 4,
      k: Int = 5, threshold: Double = 0.3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val num = numHashes
    val sigU = udf((t: String) =>
      graft.functions.Hashing.minhashSignature(t, k, num).toSeq)
    val banded = incoming
      .select(col(idCol).cast("long").as("id"), sigU(col(textCol)).as("sig"))
      .select(col("id"), col("sig"),
        explode(Dedup.bandKeys(col("sig"), num, rowsPerBand)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"),
        col("bk.bucket").as("bucket"))
    banded.join(benchIndex
        .select(col("band"), col("bucket"), col("id").as("bench_id"),
          col("sig").as("bsig")),
        Seq("band", "bucket"))
      .filter(col("id") =!= col("bench_id"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig"), col("bsig"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / num)
      .filter(col("est_jaccard") >= threshold)
      .groupBy(col("id").as(idCol))
      .agg(size(collect_set(col("bench_id"))).cast("long")
          .as("n_bench_matches"),
        max("est_jaccard").as("max_est_jaccard"))
  }
}
