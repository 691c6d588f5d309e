package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessorHandle, TimeMode, TimerValues}

import graft.api.{KStream, Rec}

/** STREAMING near-duplicate detection — "dedup the crawl as it arrives".
  * The live twin of the batch banded-SimHash pairing
  * (`queries/LlmPipeline.simhashBandPairs`): each document's 60-bit
  * SimHash fingerprint splits into 4×15-bit chunks (pigeonhole: any pair
  * within hamming 3 shares a chunk); arriving docs meet prior docs in
  * per-(band, chunk) bucket state and emit `(doc_a, doc_b, hamming)`
  * pairs the moment the second member arrives.
  *
  * State shape (the scale story): one `MapState` ENTRY per admitted
  * bucket member — an insert touches only its own entry, never a
  * per-bucket blob — with at most `maxBucket` entries per bucket plus
  * one void marker, and one boolean per emitted pair (stage 2's
  * exactly-once cut, the same role as the batch `.distinct()`).
  *
  * Retention (the reference's store-retention bound —
  * `kstream/internals/WindowingDefaults.java` DEFAULT_RETENTION_MS = 24 h,
  * `state/Stores.java:85-315` retention params): every state element
  * carries its event time and ages out `retentionMs` past the watermark —
  * bucket members stop matching, void markers decay (a flooded bucket
  * revives once the flood is older than the horizon), and the pair-once
  * booleans are reclaimed by an event-time timer. The CONTRACT this buys:
  * pair emission is exactly-once within one retention window and
  * at-least-once across windows (a duplicate pair straddling the horizon
  * re-emits) — the same stance the reference takes between commit points.
  * `retentionMs = NoRetention` disables expiry entirely (the pre-KIP
  * unbounded store; state then grows with distinct buckets/pairs for the
  * stream's lifetime).
  *
  * Bucket cut parity: the batch path drops buckets whose FINAL size
  * falls outside 2..maxBucket before pairing. Replayed in one batch the
  * live cut is identical (the processor sees the whole bucket at once).
  * Across batches a bucket that OVERFLOWS maxBucket stops admitting and
  * emits nothing further (until the flood ages out of the retention
  * horizon), but pairs already emitted stand — detection can't be
  * retracted once forwarded.
  */
object StreamingNearDup {

  private val Bands = 4
  private val ChunkBits = 15

  /** Disable state expiry (unbounded store). */
  val NoRetention: Long = Long.MaxValue

  /** Reference default: `WindowingDefaults.DEFAULT_RETENTION_MS` (24 h). */
  val DefaultRetentionMs: Long = 24L * 60 * 60 * 1000

  /** Live banded-SimHash near-dup pairs. `docs`: key = doc id, value =
    * the 60-bit fingerprint (compute it with
    * `DedupFunctions.simhash64(text)` upstream — a pure column map).
    * Emits each qualifying pair exactly once per retention window,
    * ordered (doc_a < doc_b), with its exact hamming distance. Two
    * chained stateful stages (bucket pairing, cross-band pair dedup) —
    * requires the RocksDB provider like every ProcessorApi topology. */
  def simhashPairs(docs: KStream[Long, Long], maxBucket: Int = 50,
      maxHamming: Int = 5,
      retentionMs: Long = DefaultRetentionMs): Dataset[(Long, Long, Int, Timestamp)] = {
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    implicit val intEnc: Encoder[Int] = Encoders.scalaInt
    implicit val memberEnc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    implicit val pairEnc: Encoder[(Long, Long, Int, Timestamp)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaInt, Encoders.TIMESTAMP)

    // stage 1: explode each fingerprint to its 4 (band, chunk) buckets —
    // a pure 1→4 column map, shuffled once on the compact bucket id
    val df = docs.toDF
    val bands = df
      .select(col(Rec.KeyCol).as("doc_id"), col(Rec.ValueCol).as("h"),
        col(Rec.TsCol).as("ts"),
        explode(sequence(lit(0), lit(Bands - 1))).as("band"))
      .select(
        (col("band").cast("long") * (1L << ChunkBits) +
          expr(s"shiftright(h, band * $ChunkBits)")
            .bitwiseAND(lit((1L << ChunkBits) - 1))).as(Rec.KeyCol),
        struct(col("doc_id"), col("h")).as(Rec.ValueCol), col("ts").as(Rec.TsCol))
    val bucketed = new KStream[Long, (Long, Long)](bands)
    val candidates = chained(bucketed,
      new SimhashBucketProcessor(maxBucket, maxHamming, retentionMs),
      retentionMs, tsCol = "_4")

    // stage 2: a pair within hamming range can share several chunks (and
    // so arrive from several buckets) — emit it exactly once, keyed by
    // the ordered pair (the live `.distinct()`)
    val keyed = new KStream[(Long, Long), Int](candidates
      .select(struct(col("_1"), col("_2")).as(Rec.KeyCol),
        col("_3").as(Rec.ValueCol), col("_4").as(Rec.TsCol)))
    ProcessorApi.process(keyed, new PairOnceProcessor(retentionMs),
      pairTimeMode(retentionMs), OutputMode.Append, watermark = false)
  }

  /** Live MinHash-LSH candidate pairing — the signature-banding twin of
    * [[simhashPairs]], mirroring the batch `q_dedup_minhash_lsh` shape
    * (reference lineage: the same banded-LSH family; here docs meeting
    * in a per-(band, bandhash) bucket ARE the output, no distance
    * rescore). `sigs`: key = doc id, value = the k-element MinHash
    * signature (compute it upstream from the text column with
    * `DedupFunctions.minhashSignature(text, k)`, one codegen'd pass per
    * row). Each band's hash and index pack into one compact long
    * bucket id (bandhash is 60-bit, band < 8 — no collision across
    * bands), so stage 1 shuffles once on a long key exactly like the
    * SimHash twin; the same once-only stage collapses pairs that meet
    * in several bands (the live `.distinct()`), and the same 2..maxBucket
    * overflow cut voids flooded buckets. */
  def minhashPairs(sigs: KStream[Long, Seq[Long]], bands: Int = 4,
      rowsPerBand: Int = 4, maxBucket: Int = 50,
      retentionMs: Long = DefaultRetentionMs): Dataset[(Long, Long, Timestamp)] = {
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    implicit val intEnc: Encoder[Int] = Encoders.scalaInt
    implicit val pairKeyEnc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    implicit val pairEnc: Encoder[(Long, Long, Int, Timestamp)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaInt, Encoders.TIMESTAMP)
    implicit val candEnc: Encoder[(Long, Long, Timestamp)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.TIMESTAMP)

    val bandRows = sigs.toDF
      .select(col(Rec.KeyCol).as("doc_id"), col(Rec.TsCol).as("ts"),
        explode(graft.functions.DedupFunctions.bandKeys(
          col(Rec.ValueCol), bands, rowsPerBand)).as("bk"))
      .select(
        (col("bk.band").cast("long") * lit(1L << 60) + col("bk.bandhash")).as(Rec.KeyCol),
        struct(col("doc_id"), lit(0L).as("pad")).as(Rec.ValueCol), col("ts").as(Rec.TsCol))
    val bucketed = new KStream[Long, (Long, Long)](bandRows)
    val candidates = chained(bucketed, new MinhashBucketProcessor(maxBucket, retentionMs),
      retentionMs, tsCol = "_3")

    val keyed = new KStream[(Long, Long), Int](candidates
      .select(struct(col("_1"), col("_2")).as(Rec.KeyCol),
        lit(0).as(Rec.ValueCol), col("_3").as(Rec.TsCol)))
    ProcessorApi.process(keyed, new PairOnceProcessor(retentionMs),
      pairTimeMode(retentionMs), OutputMode.Append, watermark = false)
      .map(p => (p._1, p._2, p._4))
  }

  /** Live embedding-cosine near-dup pairs — the vector-space member of
    * the live dedup family (batch twin: `q_dedup_embedding`'s sign-bucket
    * LSH). `vecs`: key = vec id, value = the embedding. Each vector lands
    * in exactly ONE sign bucket (the first `bucketBits` dimensions'
    * signs), so a pair can meet at most once and no cross-band once-only
    * stage is needed; the processor stores the full vector as the bucket
    * payload and emits both members' vectors, and the exact cosine
    * rescore runs DOWNSTREAM on the same codegen'd `cosineF32` column
    * kernel as the batch query (bit-identical similarity values). Same
    * 2..maxBucket overflow cut and retention horizon as the text twins.
    * Returns (vec_a, vec_b, sim, ts) with vec_a < vec_b, sim rounded to
    * 4 dp and > simThreshold. */
  def embeddingPairs(vecs: KStream[Long, Seq[Float]], bucketBits: Int = 12,
      maxBucket: Int = 50, simThreshold: Double = 0.2,
      retentionMs: Long = DefaultRetentionMs): DataFrame = {
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    implicit val vecEnc: Encoder[Seq[Float]] = Rec.seqEnc(Encoders.scalaFloat)
    implicit val memberEnc: Encoder[(Long, Seq[Float])] =
      Encoders.tuple(Encoders.scalaLong, vecEnc)
    implicit val outEnc: Encoder[(Long, Long, Seq[Float], Seq[Float], Timestamp)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, vecEnc, vecEnc,
        Encoders.TIMESTAMP)

    val df = vecs.toDF
    val bucketRows = df.select(
      graft.functions.VectorFunctions.signBucket(
        col(Rec.ValueCol), 0 until bucketBits).as("bucket"),
      struct(col(Rec.KeyCol).as("vec_id"), col(Rec.ValueCol).as("emb")).as("member"),
      col(Rec.TsCol).as("arrival"))
      .select(col("bucket").as(Rec.KeyCol), col("member").as(Rec.ValueCol),
        col("arrival").as(Rec.TsCol))
    val bucketed = new KStream[Long, (Long, Seq[Float])](bucketRows)
    val pairs =
      if (retentionMs == NoRetention)
        ProcessorApi.process(bucketed, new EmbeddingBucketProcessor(maxBucket, retentionMs),
          TimeMode.None(), OutputMode.Append)
      else
        ProcessorApi.process(bucketed, new EmbeddingBucketProcessor(maxBucket, retentionMs),
          TimeMode.EventTime(), OutputMode.Append)
    pairs.toDF("vec_a", "vec_b", "ea", "eb", "ts")
      .select(col("vec_a"), col("vec_b"),
        round(graft.functions.VectorFunctions.cosine(col("ea"), col("eb")), 4).as("sim"),
        col("ts"))
      .filter(col("sim") > simThreshold)
  }

  /** Stage-1 invocation: with a retention horizon the stage runs in
    * event-time mode and DECLARES its output ts column as the new event
    * time, so the chained pair-once stage can run event-time timers of
    * its own (watermark propagation — Spark forbids re-`withWatermark`
    * mid-chain). Without retention, the legacy clockless path. */
  private def chained[K: Encoder, V: Encoder, OUT: Encoder](
      in: KStream[K, V], proc: ProcessorApi.Processor[K, V, OUT],
      retentionMs: Long, tsCol: String): Dataset[OUT] =
    if (retentionMs == NoRetention)
      ProcessorApi.process(in, proc, TimeMode.None(), OutputMode.Append)
    else
      ProcessorApi.process(in, proc, TimeMode.EventTime(), OutputMode.Append,
        eventTimeCol = Some(tsCol))

  private def pairTimeMode(retentionMs: Long): TimeMode =
    if (retentionMs == NoRetention) TimeMode.None() else TimeMode.EventTime()
}

/** Test probe: tracks the worst flood-guard OVERSHOOT — how far past its
  * maxBucket+1 bound any bucket processor's arrival buffer grew. The
  * guard's invariant is overshoot <= 0 for every processor at every
  * maxBucket, so the assertion is safe under parallel suites. */
private[streaming] object NearDupProbe {
  val maxOvershoot = new java.util.concurrent.atomic.AtomicInteger(0)
  def observe(overshoot: Int): Unit = {
    var c = maxOvershoot.get()
    while (overshoot > c && !maxOvershoot.compareAndSet(c, overshoot)) c = maxOvershoot.get()
  }
  def reset(): Unit = maxOvershoot.set(0)
}

/** Shared bucket store for every live near-dup family. State per bucket:
  * one MapState entry per admitted member (id → (payload, event ms)), a
  * void marker for overflowed buckets, and one re-armed event-time timer
  * that ages state out `retentionMs` past the watermark.
  *
  * Flood guard: the per-batch arrival list is NEVER materialized beyond
  * maxBucket+1 rows — anything larger is already an overflow, so the rest
  * of the iterator is only counted. Bounds transient memory to
  * O(maxBucket) per task however large a single-batch flood is.
  */
private[streaming] abstract class BucketedPairProcessor[P, OUT](
    maxBucket: Int, retentionMs: Long, pEnc: Encoder[P])
    extends ProcessorApi.Processor[Long, (Long, P), OUT] {
  import org.apache.spark.sql.streaming.{MapState, TTLConfig, ValueState}

  @transient private var members: MapState[Long, (P, Long)] = _
  @transient private var voidTs: ValueState[Long] = _
  @transient private var lastTimer: ValueState[Long] = _

  /** Build the output row for a candidate pair (unordered), or None. */
  protected def emitPair(aId: Long, aP: P, bId: Long, bP: P,
      ts: Timestamp): Option[OUT]

  private def hasRetention = retentionMs != StreamingNearDup.NoRetention

  override def init(handle: StatefulProcessorHandle): Unit = {
    members = handle.getMapState[Long, (P, Long)]("members",
      Encoders.scalaLong, Encoders.tuple(pEnc, Encoders.scalaLong), TTLConfig.NONE)
    voidTs = handle.getValueState[Long]("voidTs", Encoders.scalaLong, TTLConfig.NONE)
    lastTimer = handle.getValueState[Long]("lastTimer", Encoders.scalaLong,
      TTLConfig.NONE)
  }

  final override def process(bucket: Long,
      rows: Iterator[((Long, P), Timestamp)],
      handle: StatefulProcessorHandle,
      timers: TimerValues): Iterator[OUT] = {
    val cutoff =
      if (!hasRetention) Long.MinValue
      else timers.getCurrentWatermarkInMs() - retentionMs
    // bounded intake (flood guard): buffer at most maxBucket+1 arrivals,
    // count the rest — a bigger batch is an overflow regardless of order
    val buf = scala.collection.mutable.ArrayBuffer.empty[((Long, P), Timestamp)]
    var count = 0L
    var maxTsMs = Long.MinValue
    rows.foreach { r =>
      count += 1
      val t = r._2.getTime
      if (t > maxTsMs) maxTsMs = t
      if (buf.length <= maxBucket) buf += r
    }
    NearDupProbe.observe(buf.length - (maxBucket + 1))
    // a voided bucket stays dead while its flood is inside the horizon
    // (forever without retention); fresh arrivals extend the flood
    if (voidTs.exists()) {
      if (!hasRetention || voidTs.get() >= cutoff) {
        voidTs.update(math.max(voidTs.get(), maxTsMs))
        armTimer(handle, timers, maxTsMs)
        return Iterator.empty
      }
      voidTs.clear() // flood aged out: the bucket starts fresh
    }
    // age out members past the horizon, count the live ones
    var live = 0L
    if (hasRetention) {
      val expired = scala.collection.mutable.ArrayBuffer.empty[Long]
      members.iterator().foreach { case (id, (_, ts)) =>
        if (ts < cutoff) expired += id else live += 1
      }
      expired.foreach(members.removeKey)
    } else {
      members.iterator().foreach(_ => live += 1)
    }
    if (live + count > maxBucket) {
      // overflow: the batch twin voids this bucket — stop admitting and
      // emitting; reclaim the member entries (the marker keeps it dead)
      members.clear()
      voidTs.update(maxTsMs)
      armTimer(handle, timers, maxTsMs)
      return Iterator.empty
    }
    // id-sorted for a deterministic emission set at equal timestamps
    val out = Seq.newBuilder[OUT]
    buf.sortBy(_._1._1).foreach { case ((id, p), ts) =>
      members.iterator().foreach { case (oid, (op, _)) =>
        if (oid != id) emitPair(id, p, oid, op, ts).foreach(out += _)
      }
      members.updateValue(id, (p, ts.getTime))
    }
    armTimer(handle, timers, maxTsMs)
    out.result().iterator
  }

  /** One pending timer per bucket at (newest state ts + retention + 1):
    * when it fires the watermark has passed everything the bucket holds,
    * so the whole entry — members, void marker, timer — is reclaimed. */
  private def armTimer(handle: StatefulProcessorHandle, timers: TimerValues,
      maxTsMs: Long): Unit =
    if (hasRetention && maxTsMs != Long.MinValue) {
      val at = math.max(timers.getCurrentWatermarkInMs() + 1L,
        maxTsMs + retentionMs + 1L)
      val prev = if (lastTimer.exists()) lastTimer.get() else Long.MinValue
      if (prev != at) {
        if (prev != Long.MinValue) handle.deleteTimer(prev)
        handle.registerTimer(at)
        lastTimer.update(at)
      }
    }

  final override def onTimer(bucket: Long, info: ExpiredTimerInfo,
      handle: StatefulProcessorHandle,
      timers: TimerValues): Iterator[OUT] = {
    val cutoff = timers.getCurrentWatermarkInMs() - retentionMs
    if (voidTs.exists() && voidTs.get() < cutoff) voidTs.clear()
    var maxLive = Long.MinValue
    val expired = scala.collection.mutable.ArrayBuffer.empty[Long]
    members.iterator().foreach { case (id, (_, ts)) =>
      if (ts < cutoff) expired += id else if (ts > maxLive) maxLive = ts
    }
    expired.foreach(members.removeKey)
    lastTimer.clear()
    // anything still inside the horizon re-arms; a fully-aged bucket
    // leaves zero state behind
    if (maxLive != Long.MinValue) armTimer(handle, timers, maxLive)
    else if (voidTs.exists()) armTimer(handle, timers, voidTs.get())
    Iterator.empty
  }
}

/** SimHash stage 1 — per-(band, chunk) buckets, payload = the 60-bit
  * fingerprint; pairs are hamming-filtered at emission. */
private final class SimhashBucketProcessor(maxBucket: Int, maxHamming: Int,
    retentionMs: Long)
    extends BucketedPairProcessor[Long, (Long, Long, Int, Timestamp)](
      maxBucket, retentionMs, Encoders.scalaLong) {
  override protected def emitPair(aId: Long, aP: Long, bId: Long, bP: Long,
      ts: Timestamp): Option[(Long, Long, Int, Timestamp)] = {
    val ham = java.lang.Long.bitCount(aP ^ bP)
    if (ham > maxHamming) None
    else Some(if (aId < bId) (aId, bId, ham, ts) else (bId, aId, ham, ts))
  }
}

/** MinHash stage 1 — per-(band, bandhash) buckets; membership alone
  * qualifies a pair (banded LSH candidates ARE the output, no rescore).
  * The payload slot is unused padding. */
private final class MinhashBucketProcessor(maxBucket: Int, retentionMs: Long)
    extends BucketedPairProcessor[Long, (Long, Long, Timestamp)](
      maxBucket, retentionMs, Encoders.scalaLong) {
  override protected def emitPair(aId: Long, aP: Long, bId: Long, bP: Long,
      ts: Timestamp): Option[(Long, Long, Timestamp)] =
    Some(if (aId < bId) (aId, bId, ts) else (bId, aId, ts))
}

/** Embedding stage 1 — one sign bucket per vector, payload = the full
  * embedding; the exact cosine rescore runs downstream on the batch
  * query's codegen'd column kernel, so this emits both vectors. */
private final class EmbeddingBucketProcessor(maxBucket: Int, retentionMs: Long)
    extends BucketedPairProcessor[Seq[Float], (Long, Long, Seq[Float], Seq[Float], Timestamp)](
      maxBucket, retentionMs, Rec.seqEnc(Encoders.scalaFloat)) {
  override protected def emitPair(aId: Long, aP: Seq[Float], bId: Long,
      bP: Seq[Float], ts: Timestamp): Option[(Long, Long, Seq[Float], Seq[Float], Timestamp)] =
    Some(if (aId < bId) (aId, bId, aP, bP, ts) else (bId, aId, bP, aP, ts))
}

/** Stage 2 — emit each ordered pair once across bands AND batches within
  * one retention window; an event-time timer reclaims the boolean
  * `retentionMs` past the emission, after which a re-arriving pair
  * re-emits (at-least-once across windows — the documented contract). */
private final class PairOnceProcessor(retentionMs: Long)
    extends ProcessorApi.Processor[(Long, Long), Int, (Long, Long, Int, Timestamp)] {
  import org.apache.spark.sql.streaming.{TTLConfig, ValueState}

  @transient private var emitted: ValueState[Boolean] = _

  override def init(handle: StatefulProcessorHandle): Unit =
    emitted = handle.getValueState[Boolean]("emitted",
      Encoders.scalaBoolean, TTLConfig.NONE)

  override def process(pair: (Long, Long),
      rows: Iterator[(Int, Timestamp)],
      handle: StatefulProcessorHandle,
      timers: TimerValues): Iterator[(Long, Long, Int, Timestamp)] = {
    val first = rows.next() // at least one row or the group wouldn't fire
    if (emitted.exists()) Iterator.empty
    else {
      emitted.update(true)
      // the dedup window anchors at the FIRST emission: one timer per
      // pair, self-cleaning — timer count tracks pairs inside the window
      if (retentionMs != StreamingNearDup.NoRetention)
        handle.registerTimer(math.max(timers.getCurrentWatermarkInMs() + 1L,
          first._2.getTime + retentionMs + 1L))
      Iterator.single((pair._1, pair._2, first._1, first._2))
    }
  }

  override def onTimer(pair: (Long, Long), info: ExpiredTimerInfo,
      handle: StatefulProcessorHandle,
      timers: TimerValues): Iterator[(Long, Long, Int, Timestamp)] = {
    emitted.clear()
    Iterator.empty
  }
}
