package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Structured Streaming surface (SURVEY §2.8 T1-T5). The reference has no
 * streaming at all; these are the batch window plans of
 * graft.queries.Events re-declared over an unbounded source — the same
 * Spark plan runs in either mode, which is the point of declaring windows
 * with `window()`/`session_window()` rather than hand-rolled bucketing.
 *
 * Inputs are expected to carry an event-time `ts` TimestampType column
 * (for the harness's nanos-long events, convert with timestamp_micros —
 * see queries.Q.tsCol). Watermarks bound state: at 100 TB/day the state
 * store only retains windows newer than the watermark horizon.
 */
object Streams {
  // the shared ingress dimension guard — same raise_error expression as
  // Ann --build/--append/--search (hoisted r15, one definition to rule
  // every quantizer ingress)
  private def requireDim(vec: org.apache.spark.sql.Column, dim: Int,
      what: String): org.apache.spark.sql.Column =
    graft.functions.VectorOps.requireDim(vec, dim, what)

  /** T1 — tumbling 5-minute counts per event type, 10-minute watermark. */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n_events"))

  /** T2 — sliding 10/5-minute counts with watermark. */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n_events"))

  /** T3 — 30-minute-gap sessions per user (stateful merge under watermark). */
  def sessions(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"))

  /** A closed session emitted by [[sessionsCustomState]]. */
  case class ClosedSession(user_id: Long, start_sec: Long, end_sec: Long,
      n_events: Long)

  /**
   * Custom stateful sessionization via flatMapGroupsWithState — the
   * arbitrary-state API for semantics session_window can't express (e.g.
   * emitting a session ONLY once it closes, carrying custom per-session
   * accumulators). State per user is O(1): the open session's bounds and
   * count; event-time timeout closes idle sessions when the watermark
   * passes gap seconds beyond the last event.
   *
   * Input: a streaming Dataset of (user_id, event_ts) pairs whose timestamp
   * column carries the watermark (event-time timeout requires the
   * watermarked column to reach the stateful operator).
   */
  def sessionsCustomState(
      events: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp)],
      gapSec: Long): org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val stateEnc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    implicit val outEnc: Encoder[ClosedSession] = Encoders.product[ClosedSession]
    events.groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, Long, Long), ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (start, end, n) = state.get
            state.remove()
            Iterator.single(ClosedSession(user, start, end, n))
          } else {
            val ts = rows.map(_._2.getTime / 1000).toSeq.sorted
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                case Some((s, e, n)) if t - e < gapSec => cur = Some((s, t, n + 1))
                case Some((s, e, n)) =>
                  closed ::= ClosedSession(user, s, e, n)
                  cur = Some((t, t, 1L))
                case None => cur = Some((t, t, 1L))
              }
            }
            cur.foreach { c =>
              state.update(c)
              state.setTimeoutTimestamp(c._2 * 1000 + gapSec * 1000)
            }
            closed.reverseIterator
          }
      }
  }

  case class FunnelHit(user_id: Long, stage: Int, at_sec: Long)

  /**
   * Streaming funnel: a per-user milestone state machine (view → click →
   * purchase) over an unbounded stream — the streaming twin of the batch
   * `q_funnel`. State per user is O(1): (stage reached, its timestamp); a
   * stage advances only on the next milestone type arriving strictly after
   * the previous stage's hit, and each advance emits one FunnelHit row.
   * NoTimeout: funnel progress persists for the life of the stream.
   */
  def funnelProgress(
      events: org.apache.spark.sql.Dataset[(Long, String, java.sql.Timestamp)],
      milestones: Seq[String] = Seq("view", "click", "purchase"))
      : org.apache.spark.sql.Dataset[FunnelHit] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
    implicit val outEnc = Encoders.product[FunnelHit]
    val nextStage = milestones.zipWithIndex.map { case (m, i) => m -> (i + 1) }.toMap
    events.groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[(Int, Long), FunnelHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String, java.sql.Timestamp)],
         state: GroupState[(Int, Long)]) =>
          // state carries millis so sub-second stage progressions are not
          // lost to truncation (the batch q_funnel compares raw nanos)
          var (stage, lastMs) = state.getOption.getOrElse((0, Long.MinValue))
          val hits = scala.collection.mutable.ListBuffer.empty[FunnelHit]
          rows.toSeq.sortBy(_._3.getTime).foreach { case (_, et, ts) =>
            val t = ts.getTime
            if (nextStage.get(et).contains(stage + 1) && t > lastMs) {
              stage += 1; lastMs = t
              hits += FunnelHit(user, stage, t / 1000)
            }
          }
          state.update((stage, lastMs))
          hits.iterator
      }
  }

  case class WindowPiece(source: String, window_id: Long, doc_id: Long,
      w_start: Long, n_in_window: Long)

  /**
   * Streaming fixed-length training-window emission — the unbounded twin
   * of the batch `q_token_windows`: per source the state is ONE long (the
   * stream's running token offset), each arriving doc is appended at that
   * offset and immediately emits its window pieces (a doc crossing a
   * 128-token boundary CONTINUES in the next window). Docs lay out in
   * doc_id order WITHIN each micro-batch (the batch query's order);
   * across batches the layout is arrival order — the streaming contract,
   * since a stream cannot re-order history. State stays O(1) per source
   * at any volume; NoTimeout because the offset must persist for the
   * life of the stream. StreamsSpec pins streamed ≡ batch on an ordered
   * feed.
   */
  def tokenWindows(docs: org.apache.spark.sql.Dataset[(String, Long, Long)],
      windowLen: Long = 128L)
      : org.apache.spark.sql.Dataset[WindowPiece] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[WindowPiece]
    docs.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[Long, WindowPiece](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[Long]) =>
          var off = state.getOption.getOrElse(0L)
          val out = scala.collection.mutable.ListBuffer.empty[WindowPiece]
          rows.toSeq.sortBy(_._2).foreach { case (_, docId, nTok) =>
            if (nTok > 0) {
              val st = off
              var w = st / windowLen
              val lastW = (st + nTok - 1) / windowLen
              while (w <= lastW) {
                val lo = math.max(st, w * windowLen)
                val hi = math.min(st + nTok, (w + 1) * windowLen)
                out += WindowPiece(source, w, docId, lo - w * windowLen, hi - lo)
                w += 1
              }
            }
            off += nTok
          }
          state.update(off)
          out.iterator
      }
  }

  /**
   * Streaming shard layout — the unbounded twin of the batch
   * [[graft.operators.Sampling.shuffleShards]]: a row's SHARD is the
   * identical stable function (60-bit prefix of md5(salt|key) mod
   * nShards, via the shared [[graft.operators.Sampling.shardOfHash]], so
   * batch and stream can never disagree on where a doc lives); its
   * POSITION is append order within the shard — state per shard is ONE
   * long (the rows appended so far), the [[tokenWindows]] shape. Within a
   * micro-batch rows lay out in (hash, key) order — the batch query's
   * order — so feeding the whole corpus as one batch reproduces
   * `shuffleShards` exactly; across batches positions are arrival-ordered
   * (a stream cannot re-rank history — same contract as tokenWindows).
   * Hash-uniform shard assignment means the nShards state keys balance
   * and the per-batch sort touches |batch|/nShards rows per group.
   * Output: the input columns (minus nothing) plus (shard, pos).
   * NoTimeout: shard offsets persist for the life of the stream.
   */
  def shardAppend(docs: DataFrame, keyCol: String, salt: String,
      nShards: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val hashed = docs
      .withColumn("__h",
        graft.operators.Sampling.hashHexFull(col(keyCol), salt))
      .withColumn("shard",
        graft.operators.Sampling.shardOfHash(col("__h"), nShards))
    val hIdx = hashed.schema.fieldIndex("__h")
    val outSchema = org.apache.spark.sql.types.StructType(
      hashed.schema.fields.patch(hIdx, Nil, 1))
      .add("pos", org.apache.spark.sql.types.LongType, nullable = false)
    implicit val outEnc: org.apache.spark.sql.Encoder[Row] =
      Encoders.row(outSchema)
    implicit val stateEnc: org.apache.spark.sql.Encoder[Long] =
      Encoders.scalaLong
    hashed.groupByKey(_.getAs[Long]("shard"))(Encoders.scalaLong)
      .flatMapGroupsWithState[Long, Row](OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[Row], state: GroupState[Long]) =>
          var off = state.getOption.getOrElse(0L)
          // (hash, key-as-string) mirrors shuffleShards' (__h, key) sort;
          // the string form only decides genuine md5-collision ties, and
          // equal keys hash equal anyway
          val out = rows.toSeq
            .sortBy(r => (r.getString(hIdx),
              String.valueOf(r.getAs[Any](keyCol))))
            .map { r =>
              off += 1
              Row.fromSeq(r.toSeq.patch(hIdx, Nil, 1) :+ off)
            }
          state.update(off)
          out.iterator
      }
  }

  /**
   * Streaming sequence packing — the unbounded twin of
   * [[graft.operators.Sampling.packSequences]] (the [[shardAppend]]
   * pattern): each arriving document is bucketed (the SHARED
   * [[graft.operators.Sampling.pow2Bucket]] cascade — batch and stream
   * can never disagree) and appended to its (shard, bucket) group's
   * running position, from which seq_id/slot derive by the same integer
   * arithmetic. State is ONE long per (shard, bucket) — ≤
   * nShards·(log2 capacity + 1) counters however long the stream runs.
   *
   * Exactness: uniform slot widths make sequence COUNT and total
   * padding order-INdependent (⌈n/perSeq⌉ sequences whatever the
   * arrival order), so the per-group aggregate report is ≡ batch after
   * every epoch under ANY batching — the spec pins it. Row-level
   * assignments match batch exactly for a single-batch feed (the
   * in-batch sort mirrors packSequences' (tokens desc, key) order);
   * across batches the stream packs in arrival order, the streaming
   * trade shardAppend documents.
   */
  def packAppend(docs: DataFrame, keyCol: String, tokenCol: String,
      salt: String, nShards: Int, capacity: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val bucketed = docs
      .filter(col(tokenCol) >= 1 && col(tokenCol) <= capacity)
      .withColumn("shard", graft.operators.Sampling.shardOfHash(
        graft.operators.Sampling.hashHexFull(col(keyCol), salt), nShards))
      .withColumn("bucket",
        graft.operators.Sampling.pow2Bucket(col(tokenCol), capacity))
    val outSchema = bucketed.schema
      .add("seq_id", org.apache.spark.sql.types.LongType, nullable = false)
      .add("slot", org.apache.spark.sql.types.LongType, nullable = false)
    implicit val outEnc: org.apache.spark.sql.Encoder[Row] =
      Encoders.row(outSchema)
    implicit val stateEnc: org.apache.spark.sql.Encoder[Long] =
      Encoders.scalaLong
    val tokIdx = bucketed.schema.fieldIndex(tokenCol)
    val bktIdx = bucketed.schema.fieldIndex("bucket")
    bucketed.groupByKey(r =>
        (r.getAs[Long]("shard"), r.getAs[Int]("bucket")))(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt))
      .flatMapGroupsWithState[Long, Row](OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: (Long, Int), rows: Iterator[Row], state: GroupState[Long]) =>
          var off = state.getOption.getOrElse(0L)
          // in-batch order mirrors packSequences' (tokens desc, key) —
          // the key tie-break must use the column's NATIVE Spark ordering:
          // numerics numerically (strings would put "119" < "17"), strings
          // as UNSIGNED UTF-8 BYTES (UTF8String — Java's UTF-16 char '<'
          // diverges on supplementary planes), everything else (date,
          // decimal, timestamp) via its own Comparable
          def keyLt(a: Any, b: Any): Boolean = (a, b) match {
            case (x: Number, y: Number) =>
              if (x.longValue() != y.longValue())
                x.longValue() < y.longValue()
              else x.doubleValue() < y.doubleValue()
            case (x: String, y: String) =>
              org.apache.spark.unsafe.types.UTF8String.fromString(x)
                .compareTo(
                  org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
            case (x: Comparable[_], y) if x.getClass == y.getClass =>
              x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
            case (x, y) => String.valueOf(x) < String.valueOf(y)
          }
          val out = rows.toSeq
            .sortWith { (x, y) =>
              val tx = x.getAs[Number](tokIdx).longValue()
              val ty = y.getAs[Number](tokIdx).longValue()
              if (tx != ty) tx > ty
              else keyLt(x.getAs[Any](keyCol), y.getAs[Any](keyCol))
            }
            .map { r =>
              val b = r.getInt(bktIdx).toLong
              val seq = off * b / capacity
              val slot = off % (capacity / b)
              off += 1
              Row.fromSeq(r.toSeq :+ seq :+ slot)
            }
          state.update(off)
          out.iterator
      }
  }

  case class KmvUpdate(source: String, n_seen: Long, sketch: Seq[Long],
      est: Double)
  case class KmvSt(sketch: Seq[Long], n: Long)

  /**
   * Streaming KMV sketch maintenance — the unbounded twin of the batch
   * [[graft.operators.Sketch.kmv]]: per group the state is the ascending
   * ≤ k sketch (k longs, bounded at ANY volume) plus a row counter.
   * Arriving hashes fold in by sorted-merge-dedup, which preserves the
   * invariant "the k smallest DISTINCT values seen" with no
   * distinct-tracking state: a duplicate of a value still in the sketch
   * dedups against it, and a duplicate of an EVICTED value is ≥ the
   * current k-th minimum, so it cannot re-enter. The KMV merge is
   * commutative and idempotent, so the streamed sketch equals the batch
   * sketch under ANY arrival order, chunking, or duplication — a
   * stronger streamed ≡ batch contract than [[tokenWindows]] /
   * [[shardAppend]], which pin ordered feeds only (StreamsSpec feeds
   * shuffled duplicated chunks and still pins equality). Emits one row
   * per touched group per micro-batch with the running count, the
   * sketch, and the same (k−1)·2⁶⁰/h₍ₖ₎ estimate the batch column
   * computes ([[graft.operators.Sketch.estimateScalar]] — shared
   * rounding, bit-identical). NoTimeout: a distinct sketch must remember
   * the stream's whole life.
   */
  def kmvSketch(hashes: org.apache.spark.sql.Dataset[(String, Long)],
      k: Int): org.apache.spark.sql.Dataset[KmvUpdate] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    require(k > 0, s"k must be positive: $k")
    implicit val stateEnc = Encoders.product[KmvSt]
    implicit val outEnc = Encoders.product[KmvUpdate]
    hashes.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[KmvSt, KmvUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[(String, Long)],
         state: GroupState[KmvSt]) =>
          val st = state.getOption.getOrElse(KmvSt(Nil, 0L))
          val incoming = rows.map(_._2).toSeq
          val sketch = (st.sketch ++ incoming).distinct.sorted.take(k)
          val n = st.n + incoming.size
          state.update(KmvSt(sketch, n))
          Iterator.single(KmvUpdate(source, n, sketch,
            graft.operators.Sketch.estimateScalar(sketch, k)))
      }
  }

  /**
   * Running per-user event totals via transformWithState — Spark 4's
   * arbitrary-state API (typed ValueState in the RocksDB state store; the
   * successor to flatMapGroupsWithState). One emitted row per input event,
   * carrying the cumulative count. Requires
   * `spark.sql.streaming.stateStore.providerClass` =
   * RocksDBStateStoreProvider on the session.
   */
  class RunningCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, java.sql.Timestamp), (Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues}
    import org.apache.spark.sql.Encoders
    @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timers: TimerValues): Iterator[(Long, Long)] = {
      val n = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(n)
      Iterator.single(key -> n)
    }
  }

  def runningCounts(
      events: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp)])
      : org.apache.spark.sql.Dataset[(Long, Long)] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val outEnc: org.apache.spark.sql.Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    events.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new RunningCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /**
   * T5 — stateful stream dedup by key within the watermark horizon: exact
   * duplicates arriving late (but inside the watermark) are dropped, and
   * state for keys older than the horizon is evicted — bounded memory on an
   * unbounded stream.
   */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /**
   * Stream-static enrichment join: each micro-batch of the stream joins a
   * bounded dimension. The static side is broadcast, so the stream never
   * shuffles — per-batch cost is the batch's rows, with no streaming state
   * at all (unlike stream-stream joins). This is the 100 TB shape for
   * attaching dimensions to an event firehose.
   */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /**
   * Streaming curation gate — the continuous-ingestion twin of the Curate
   * CLI's delta mode: each micro-batch of incoming documents is
   * quality-gated, PII-scrubbed, fingerprinted, and anti-joined against
   * the fingerprint set of the existing corpus (exact delta dedup,
   * stream-side). Entirely STATELESS — filter + projection + anti join —
   * so per-batch cost is the batch's rows, no watermark, no state store;
   * at 100 TB the only growing piece is the corpus fingerprint set, one
   * md5 per historical doc. The near-dup (MinHash) layer stays a batch
   * pass over admitted docs, exactly as `Curate.runDelta` runs it.
   *
   * `corpusFingerprints` must be a one-column `fp` frame computed with
   * [[graft.operators.Dedup.fingerprint]] over the corpus text —
   * fingerprints are taken AFTER redaction on the stream side, so corpus
   * text must be fingerprinted in its stored (already-scrubbed) form.
   * Output carries (…, text redacted, fp) for the downstream appender.
   *
   * `hintBroadcast` FORCES the fingerprint set executor-resident — right
   * when it is known small (a per-tenant corpus, a recent-window set).
   * The default leaves the strategy to the planner: a 100 TB corpus has
   * billions of fingerprints, and force-broadcasting that set is the
   * classic stream-side OOM — unhinted, each micro-batch runs a shuffled
   * anti join against the (bucketable) fingerprint table instead.
   */
  def curateGate(docs: DataFrame, corpusFingerprints: DataFrame,
      minQuality: Double, hintBroadcast: Boolean = false): DataFrame = {
    import graft.operators.{Dedup, TextAnalysis => TA}
    val corpus =
      if (hintBroadcast) org.apache.spark.sql.functions.broadcast(corpusFingerprints)
      else corpusFingerprints
    docs.filter(col("text").isNotNull)
      .filter(TA.qualityScore(col("text")) >= minQuality)
      .withColumn("text", TA.redactPii(col("text")))
      .withColumn("fp", Dedup.fingerprint(col("text")))
      .join(corpus, Seq("fp"), "left_anti")
  }

  /**
   * Streaming SEMANTIC contamination gate — [[curateGate]]'s
   * embedding-space twin (the ingest shape of
   * [[graft.operators.Curation.semanticContamination]]): each arriving
   * embedded row scores its max cosine against the BROADCAST benchmark
   * embedding set and is admitted only below `tau` — eval-suite leakage
   * (verbatim OR paraphrased, whatever produced a near-identical
   * embedding) never reaches the sink. Entirely STATELESS: one
   * broadcast nested-loop scan + a scan-local max per batch, no
   * watermark, no state store, no shuffle — the benchmark embeddings
   * become PLAN LITERALS (the Bloom-bitmap / centroid driver-bounded
   * pattern: an eval suite is metadata-scale by construction) and the
   * per-row max folds inside the scan via `array_max(transform(...))`.
   * Streamed ≡ batch per row — the cosine is the same order-free
   * expression the oracle-checked q_decontaminate_funnel runs, and
   * StreamsSpec pins a chunked feed against the batch
   * [[graft.operators.Curation.semanticContamination]] filter
   * bit-for-bit. Returns the admitted rows with their `max_cos`
   * (an empty benchmark admits everything at max_cos null — nothing to
   * leak from).
   */
  def semanticGate(docs: DataFrame, bench: Seq[Seq[Double]], tau: Double,
      embCol: String = "emb"): DataFrame = {
    val in = docs.filter(col(embCol).isNotNull)
    if (bench.isEmpty)
      in.withColumn("max_cos", lit(null).cast("double"))
    else
      in.withColumn("max_cos",
          array_max(transform(typedlit(bench), b =>
            graft.functions.VectorOps.cosine(col(embCol), b))))
        .filter(col("max_cos") < tau)
  }

  /**
   * Streaming image-ingest gate — [[curateGate]]'s perceptual twin: each
   * micro-batch of media payloads is dHashed
   * ([[graft.operators.Multimodal.dHash]] — undecodable payloads drop at
   * the gate) and anti-joined against the CORPUS's banded hash set, so
   * an incoming image near-duplicating any stored one (Hamming ≤
   * `maxDist` over the 56-bit perceptual hash) never reaches the sink.
   * Entirely STATELESS: band explode + equi join + anti join per batch,
   * no watermark, no state store; the only growing piece is the corpus
   * hash set — 8 bytes per stored image, the same growth class as
   * curateGate's fingerprints, and bucketable on (band, key) for the
   * 100 TB case. Exact for maxDist ≤ 3 (the 4-band pigeonhole).
   *
   * `corpusHashes` must be a one-column `dhash` frame from
   * [[graft.operators.Multimodal.dHash]] over the stored corpus.
   * `hintBroadcast` forces the banded corpus set executor-resident when
   * known small; unhinted the planner decides (the curateGate OOM
   * argument). Returns the admitted rows of `media` with their `dhash`.
   */
  def imageGate(media: DataFrame, corpusHashes: DataFrame, maxDist: Int = 3,
      idCol: String = "media_id", payloadCol: String = "payload",
      hintBroadcast: Boolean = false): DataFrame = {
    import graft.operators.Multimodal
    require(maxDist >= 0 && maxDist <= 3,
      s"4-band bucketing is exact only for maxDist <= 3, got $maxDist")
    def bandKey(h: org.apache.spark.sql.Column, b: Int) =
      shiftright(h, b * 14).bitwiseAND(lit(0x3fffL))
    // STATIC side: one (band, key) → [corpus hashes] index (aggregating
    // the static frame is legal under any stream output mode; the array
    // per bucket is bounded by the corpus's own near-dup multiplicity).
    val corpusIdx = corpusHashes
      .select(col("dhash").as("__ch"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), bandKey(col("dhash"), b).as("key"))): _*))
        .as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.key").as("key"))
      .agg(collect_list(col("__ch")).as("__chs"))
    // STREAM side stays one row per media end to end (no explode, no
    // stream aggregation, no stream-stream join — the hash attaches
    // in-row via mapPartitions and each band is its own stream-static
    // LEFT join, so the plan is append-mode legal and stateless): a
    // probe misses ⇒ NULL array ⇒ exists() is false.
    val outSchema = media.schema
      .add("dhash", org.apache.spark.sql.types.LongType, nullable = false)
    val pIdx = media.schema.fieldIndex(payloadCol)
    implicit val rowEnc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val hashed = media.mapPartitions { rows =>
      rows.flatMap { r =>
        Multimodal.dHash56Bytes(Option(r.getAs[Array[Byte]](pIdx))
            .getOrElse(Array.emptyByteArray))
          .map(h => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ h)).iterator
      }
    }
    val probed = (0 until 4).foldLeft(hashed) { (cur, b) =>
      val idx = corpusIdx.filter(col("band") === b)
        .select(col("key").as(s"__k$b"), col("__chs").as(s"__chs$b"))
      val side = if (hintBroadcast)
        org.apache.spark.sql.functions.broadcast(idx) else idx
      cur.join(side, bandKey(col("dhash"), b) === col(s"__k$b"), "left")
    }
    val matched = (0 until 4).map(b =>
        coalesce(exists(col(s"__chs$b"),
          c => bit_count(col("dhash").bitwiseXOR(c)) <= maxDist),
          lit(false)))
      .reduce(_ || _)
    probed.filter(!matched)
      .drop((0 until 4).flatMap(b => Seq(s"__k$b", s"__chs$b")): _*)
  }

  /**
   * Streaming A/V CONTAINER gate — the ingest twin of
   * [[graft.operators.Multimodal.mediaInfo]]: each arriving payload's
   * container metadata (FLAC STREAMINFO / MP4 mvhd / MP3 frame walk,
   * real byte-level parses, no codec) is attached in-row and rows outside the
   * [minMs, maxMs] duration window — or that fail to parse at all —
   * are dropped before any downstream decode spends a cycle. Drop policy
   * is conservative: an unparseable payload is dropped, never
   * mis-reported (MP3 parsing tolerates an ID3v1 'TAG' trailer; other
   * trailing junk still parses as unknown → drop). Stateless
   * and shuffle-free (one mapPartitions, no aggregation, no join), so
   * the plan is append-mode legal with no watermark; streamed ≡ batch
   * is spec-pinned (StreamsSpec), the [[semanticGate]] convention.
   * Returns the admitted rows with (container, duration_ms) attached.
   */
  def mediaGate(media: DataFrame, minMs: Long, maxMs: Long,
      payloadCol: String = "payload"): DataFrame = {
    import graft.operators.Multimodal
    require(minMs >= 0 && maxMs >= minMs,
      s"need 0 <= minMs <= maxMs, got [$minMs, $maxMs]")
    val outSchema = media.schema
      .add("container", org.apache.spark.sql.types.StringType,
        nullable = false)
      .add("duration_ms", org.apache.spark.sql.types.LongType,
        nullable = false)
    val pIdx = media.schema.fieldIndex(payloadCol)
    implicit val rowEnc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = Option(r.getAs[Array[Byte]](pIdx))
          .getOrElse(Array.emptyByteArray)
        val parsed = Multimodal.parseFlacStreamInfo(bytes) match {
          case Some((rate, _, total)) =>
            Some(("flac", if (rate > 0) total * 1000L / rate else 0L))
          case None => Multimodal.parseMp4Mvhd(bytes) match {
            case Some((ts, dur)) =>
              Some(("mp4", if (ts > 0) dur * 1000L / ts else 0L))
            case None => Multimodal.parseMp3(bytes).map {
              case (rate, _, total) =>
                ("mp3", if (rate > 0) total * 1000L / rate else 0L)
            }
          }
        }
        parsed.collect {
          case (c, ms) if ms >= minMs && ms <= maxMs =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ c :+ ms)
        }.iterator
      }
    }
  }

  /**
   * Streaming Count-Min maintenance: the sketch build is a plain
   * (row, bucket) groupBy-count, which Structured Streaming maintains
   * incrementally — the SAME [[graft.operators.CountMin.sketch]] plan runs
   * over an unbounded source under complete/update output. Total streaming
   * state is ≤ d·w cells REGARDLESS of stream volume (the sketch's whole
   * point): frequency monitoring over a firehose in constant memory, with
   * the emitted cell table mergeable into batch sketches via
   * [[graft.operators.CountMin.merge]] — one sketch lineage across batch
   * history and the live stream.
   */
  def frequencySketch(events: DataFrame,
      key: org.apache.spark.sql.Column): DataFrame =
    graft.operators.CountMin.sketch(events, key)

  /**
   * Streaming heavy hitters: the Misra-Gries summary
   * ([[graft.functions.FreqItemsAgg]]) maintained over an unbounded
   * stream — TOTAL state is one k-bounded counter map at any volume,
   * the frequent-ITEMS twin of [[frequencySketch]]'s ≤ d·w cells
   * (CMS answers "how often is x", this answers "which x are hot"
   * with no candidate set). MG's bounds are merge-order theorems, so
   * however Structured Streaming folds micro-batch partials into the
   * state, the emitted summary obeys est ≤ true ≤ est + N/(k+1) and
   * contains every key above N/(k+1) — StreamsSpec asserts exactly
   * those against the stream's exact counts.
   */
  def heavyHitters(events: DataFrame, key: org.apache.spark.sql.Column,
      k: Int): DataFrame =
    events.select(key.cast("string").as("__k"))
      .agg(org.apache.spark.sql.functions
        .udaf(new graft.functions.FreqItemsAgg(k))
        .apply(col("__k")).as("heavy"))

  /**
   * Streaming seasonal-cell maintenance — the unbounded twin of
   * q_anomaly's cell build: (event_type, day, hour) counts over a
   * timestamp column, maintained incrementally by Structured Streaming
   * (plain groupBy under complete/update output). State is the cell
   * table: ≤ |types| · days · 24 rows regardless of stream volume. The
   * anomaly verdict itself is a second-level aggregate (slot means), so
   * it runs as a batch pass over the emitted cells —
   * [[graft.operators.Quality.seasonalAnomalyFromCells]], the same
   * verdict lineage the batch query uses (cells/verdict seam, exactly
   * like frequencySketch → CountMin.merge).
   */
  def seasonalCells(events: DataFrame, tsName: String = "ts"): DataFrame =
    events.select(col("event_type"),
      expr(s"unix_timestamp($tsName) div 86400").as("day"),
      expr(s"(unix_timestamp($tsName) % 86400) div 3600").as("hour"))
      .groupBy("event_type", "day", "hour")
      .agg(count(lit(1)).as("n"))

  /**
   * Stream-stream interval join: pair each left event with the right-side
   * events for the same key that land within [leftTs, leftTs + within].
   * Both sides carry watermarks and the join condition bounds the time
   * range in BOTH directions, so Spark can size and EVICT the buffered
   * state — without the interval bound, stream-stream join state grows
   * forever. Column names must be disjoint apart from `key`.
   */
  def correlate(left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String, key: String,
      within: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
      .withColumnRenamed(key, "__rkey")
    l.join(r, col(key) === col("__rkey") &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"))
      .drop("__rkey")
  }

  /**
   * Streaming drift monitor — the observability twin of
   * [[graft.operators.Quality.driftTvd]]: each micro-batch's
   * (group, bin) counts fold into a maintained cell table via
   * [[graft.operators.Scale.mergeCounts]] — state is ≤ groups×bins COUNT
   * rows however long the stream runs, localCheckpointed one delta deep —
   * and the per-group total-variation report recomputes from cells only
   * (never the raw stream). Count merging is associative and commutative,
   * so the maintained report is bit-identical to the batch report over
   * everything seen, under ANY batching — the spec pins it. `onUpdate`
   * receives (tvd report, epoch) after every batch: the alerting hook.
   */
  def driftMonitor(events: DataFrame, groupCol: String,
      bin: org.apache.spark.sql.Column)(onUpdate: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var cells: Option[DataFrame] = None
    events.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          epoch: Long) =>
        val b = batch.groupBy(col(groupCol), bin.as("__bin"))
          .agg(count(lit(1)).as("__c"))
        cells = Some((cells match {
          case Some(c) => graft.operators.Scale
            .mergeCounts(c, b, Seq(groupCol, "__bin"), "__c")
          case None => b
        }).localCheckpoint())
        onUpdate(graft.operators.Quality
          .driftTvdFromCells(cells.get, groupCol), epoch)
    }
  }

  /**
   * Streaming ANN ingest — the vector-index twin of [[indexMaintain]] and
   * the `graft.Ann --append` shape over a stream, for every codec: each
   * micro-batch of an APPEND-ONLY embedding stream is dimension-checked
   * against `frozen.dim`, moved into code space (`frozen.space` — a JL
   * index projects, every other codec keeps the vector), assigned its IVF
   * cell against the FROZEN `centroids`, and encoded by the frozen codec
   * state ([[graft.IndexCodec.Frozen.encode]], the encode `Ann.append`
   * runs: PQ codebooks and SQ8 scales as plan literals), then folded into
   * the maintained codes frame. A new vector becomes searchable without
   * re-encoding the corpus; nothing corpus-scale runs per batch.
   *
   * Exactness contract (the [[indexMaintain]] convention): with the
   * quantizers frozen, encoding is per-row pure, so the maintained frame
   * is bit-identical to encoding everything seen in one batch. For the
   * fixed PQ codebook that means `Pq.buildIndex` re-run over the union,
   * PROVIDED its seed rows (ids 0..k−1) live in the `initial` corpus,
   * i.e. streamed ids are appended after the build (the monotone-id
   * convention). StreamsSpec pins streamed ≡ one-shot after every epoch,
   * per codec.
   *
   * `initial` is the codes frame of an existing index ((idCol, cell,
   * `frozen.codeCols`…), e.g. `graft.Ann`'s codes.parquet); between
   * batches the state is the codes frame itself, localCheckpointed one
   * delta deep. A wrong-dimension vector fails its batch before the
   * state moves. After every batch `onUpdate` receives (codes, epoch) —
   * write it under the index directory, swap the serving pointer.
   */
  def indexAppend(vectors: DataFrame, idCol: String, embCol: String,
      centroids: Seq[Seq[Double]], frozen: graft.IndexCodec.Frozen,
      initial: DataFrame)(onUpdate: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val coarse = graft.IndexCodec.Coarse(centroids)
    var codes = initial.select((idCol +: "cell" +: frozen.codeCols).map(col): _*)
    vectors.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          epoch: Long) =>
        val clean = batch.select(col(idCol), col(embCol))
          .filter(col(embCol).isNotNull && size(col(embCol)) > 0)
          .withColumn(embCol, frozen.space(
            requireDim(col(embCol), frozen.dim, "Streams.indexAppend")))
        val fresh = frozen.encode(coarse.assign(clean, idCol, embCol),
          idCol, embCol, coarse)
        codes = codes.unionByName(fresh).localCheckpoint()
        onUpdate(codes, epoch)
    }
  }

  /**
   * Streaming inverted-index maintenance — the retrieval twin of
   * [[shardAppend]]'s layout family: each micro-batch of an APPEND-ONLY
   * document stream folds into a maintained index via
   * [[graft.operators.TextAnalysis.indexDelta]], so the corpus is
   * tokenized exactly once, batch by batch, and the serving index is
   * always ≤ maxPostings rows per term plus stats. Inherits indexDelta's
   * exactness contract: batch doc ids must be larger than all already
   * indexed ids (the append-only monotone-id convention), under which the
   * maintained index is bit-identical to a full rebuild — the spec pins
   * streamed ≡ batch.
   *
   * Between batches the state is the index frame itself,
   * `localCheckpoint`ed so lineage stays one delta deep instead of
   * growing with the stream. After every batch the maintained frame and
   * the epoch id are handed to `onUpdate` (write it to the serving store,
   * swap a pointer). Returns the writer — caller starts/stops the query.
   */
  def indexMaintain(docs: DataFrame, idCol: String, textCol: String,
      maxPostings: Int)(onUpdate: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.types._
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("term", StringType), StructField("df", LongType),
      StructField("total_tf", LongType),
      StructField(idCol, docs.schema(idCol).dataType),
      StructField("tf", LongType), StructField("rn", LongType)))
    var index = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          epoch: Long) =>
        index = graft.operators.TextAnalysis
          .indexDelta(index, batch, idCol, textCol, maxPostings)
          .localCheckpoint()
        onUpdate(index, epoch)
    }
  }
}
