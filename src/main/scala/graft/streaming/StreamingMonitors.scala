package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import scala.util.{Failure, Try}

/** Streaming-native forms of the monitoring operators:
  *
  *  - a watermarked tumbling-window aggregate (event-time, late data
  *    bounded by the watermark) — the windowed-stats surface;
  *  - the A6 delta/rate detector as keyed state via
  *    flatMapGroupsWithState: per-station last-observation state, emitting
  *    a delta record per event (the streaming equivalent of the batch
  *    `lag()` form in Monitoring.deltaRate).
  *
  * State is per-key and O(1) per station — at cluster scale the state
  * store shards by key, so a million stations cost a million tiny rows of
  * state, not driver memory.
  *
  * The `*StateSink`s keep VERSIONED parquet state under one layout:
  * `v<batchId>` holds a micro-batch's version (latest-wins sinks) or
  * segment (the ANN index and SemDeDup logs), `c<k>` a compaction base
  * folding segments up to k, and `b<batchId>` a score sink's per-batch
  * output; a dir counts once its `_SUCCESS` exists, and a batch merges
  * against the newest committed version BELOW its id, so a replayed
  * batch rewrites only its own dir. Private helpers hold the layout:
  * `startBatches` (the one foreachBatch writer), `mergeStateSink` /
  * `partialStateSink` / `sumByKey` (latest-wins merges),
  * `committedStateDirs` (the one listing), `segmentState` (the one
  * segment reader, retrying on a vanished path), `compactSegments` and
  * `deleteQuietly`.
  */
object StreamingMonitors {

  /** `ts` carries the watermarked event-time attribute through to the
    * flatMapGroupsWithState child — EventTimeTimeout requires it present
    * in the child output, not merely below it in the plan. */
  final case class StationEvent(event_type: String, event_id: Long, value: Double,
                                ts_us: Long, ts: java.sql.Timestamp)
  final case class StationState(lastValue: Double, lastTsUs: Long)
  final case class DeltaRecord(event_type: String, event_id: Long, value: Double,
                               prev_value: Double, delta: Double,
                               rate_per_sec: Option[Double])
  final case class FunnelEvent(user_id: Long, event_id: Long, event_type: String,
                               ts_us: Long, ts: java.sql.Timestamp)
  final case class DisorderState(maxTsUs: Long, n: Long, nLate: Long, maxLateUs: Long)
  final case class DisorderRow(event_type: String, n: Long, n_late: Long,
                               max_late_us: Long, late_rate: Double)
  /** Completed-stage timestamps, in order — k = stageTs.length. */
  /** `lastActivityUs` carries the key's true last event time across
    * batches so the TTL timeout is monotone: a late batch of OLDER events
    * must never re-arm the eviction earlier than activity already seen
    * (the statefulDeltaRate pattern). */
  final case class FunnelProgress(stageTs: Seq[Long], lastActivityUs: Long = 0L)
  final case class FunnelAdvance(user_id: Long, stage_reached: Int, t_us: Long)

  /** Watermarked tumbling-window stats per station: counts and extrema
    * per hour of event time, tolerating 10 minutes of lateness. */
  def windowedStationStats(stream: DataFrame,
                           windowLength: String = "1 hour",
                           lateness: String = "10 minutes"): DataFrame =
    stream
      .withWatermark("ts", lateness)
      .groupBy(col("event_type"), window(col("ts"), windowLength))
      .agg(
        count(lit(1)).as("n_obs"),
        min("value").as("min_value"),
        max("value").as("max_value"))
      .select(
        col("event_type"),
        col("window.start").as("window_start"),
        col("n_obs"), col("min_value"), col("max_value"))

  /** Streaming-native sessionization via `session_window` — the event-time
    * twin of the batch form (Monitoring.sessionIntervals): same gap, same
    * counts/bounds per (user, session), with state bounded by the
    * watermark (closed sessions finalize and evict; the batch window form
    * can't run on a stream because an unbounded-preceding sum has no
    * eviction point). The +1µs on the gap aligns the two boundary rules:
    * session_window merges on diff < gap (exclusive) where the batch
    * sessionizer keeps diff <= gap (inclusive). */
  def sessionStats(stream: DataFrame, gapMinutes: Int = 30,
                   lateness: String = "10 minutes"): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L + 1L
    stream
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapUs microseconds"))
      .agg(count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"), max("ts_us").as("end_us"))
      .select(col("user_id"), col("start_us"), col("n_events"),
        ((col("end_us") - col("start_us")) / lit(1000000L)).cast("double").as("duration_sec"))
  }

  /** Streaming exact dedup: drop re-deliveries of the same event within
    * the watermark horizon — the at-least-once-source companion. Must use
    * dropDuplicatesWithinWatermark: plain dropDuplicates on a non-event-
    * time key never GCs its state (one row per distinct id forever). */
  def dedupStream(stream: DataFrame, lateness: String = "1 hour"): DataFrame =
    stream.withWatermark("ts", lateness).dropDuplicatesWithinWatermark("event_id")

  /** Streaming incremental exact dedup — the streaming face of
    * ops/Dedup.exactIncrement: each micro-batch anti-joined on the
    * portable md5 against a STATIC seen corpus (the nightly-refreshed
    * accumulated hash set), composed with within-watermark in-stream
    * dedup so re-deliveries and same-stream copies also collapse. The
    * stream-static anti join is STATELESS per micro-batch (the seen side
    * broadcasts when small, shuffles per batch otherwise); the only
    * streaming state is the watermark-bounded dedup store on the hash.
    * Online semantics: the FIRST-ARRIVED copy of a new text survives
    * (the batch form keeps min doc_id — on in-order delivery they agree;
    * the spec pins the surviving hash set equal either way). Null text
    * is dropped on both sides, same rule as the batch op. */
  def dedupIncrementStream(stream: DataFrame, seen: DataFrame,
                           lateness: String = "1 hour"): DataFrame = {
    val seenH = seen.filter(col("text").isNotNull).select(md5(col("text")).as("h"))
    stream
      .filter(col("text").isNotNull)
      .withColumn("h", md5(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("h")
      .join(seenH, Seq("h"), "left_anti")
  }

  /** Streaming incremental NEAR-dup — the streaming face of
    * ops/Dedup.minhashIncrement (the nightly rolling-ingest shape, online):
    * each arriving doc is banded-MinHash-matched against the STATIC seen
    * corpus's stored band table and exact-Jaccard verified, emitting
    * (batch_id, seen_id, jaccard) pairs above the threshold.
    *
    * The stream side computes its signatures PER ROW — shingles via the
    * codegen'd kernel, each band row's minimum as an array_min over the
    * hashed shingle array — so there is no streaming aggregation in the
    * candidate path; the only stateful operator is the windowed max that
    * collapses multi-band hits of the same pair (append mode, finalized
    * by the watermark). The per-row HOF minima trade the batch form's
    * signature shuffle for interpreted lambdas, the right trade exactly
    * here: the stream side is the small side by construction (a
    * micro-batch vs the corpus), and the seen side's table is the SAME
    * deterministic xxhash64 band family as the batch op, so a persisted
    * nightly band table and this stream's probes are bit-compatible
    * (spec'd pair-set equal to minhashIncrement on the same data). */
  def nearDupIncrementStream(stream: DataFrame, seen: DataFrame,
                             threshold: Double = 0.8, n: Int = 3,
                             bands: Int = 16, rowsPerBand: Int = 4,
                             lateness: String = "10 minutes",
                             window: String = "1 hour"): DataFrame = {
    import graft.ops.Dedup
    val numHashes = bands * rowsPerBand
    val seenDocs = seen.filter(col("text").isNotNull)
    val seenSh = seenDocs.select(col("doc_id").as("seen_id"),
      Dedup.shingles(col("text"), n).as("__seen_sh"))
    val seenBands = Dedup.bandSigs(Dedup.postings(seenDocs, n), bands, rowsPerBand)
      .select(col("doc_id").as("seen_id"), col("band"), col("sig"))
    // all K row minima in ONE codegen'd pass over the shingle array
    // (graft_minhash_sigs) instead of K interpreted array_min/transform
    // lambdas; bit-compatible with the batch band table by kernel contract
    val bandCols = (0 until bands).map { b =>
      concat_ws(",",
        (0 until rowsPerBand).map(r => col("__sigs").getItem(b * rowsPerBand + r)): _*)
    }
    stream
      .withWatermark("ts", lateness)
      .filter(col("text").isNotNull)
      .select(col("doc_id").as("batch_id"), col("ts"),
        Dedup.shingles(col("text"), n).as("__sh"))
      .withColumn("__sigs",
        graft.functions.TextFunctions.minhashSigs(col("__sh"), numHashes))
      .select(col("batch_id"), col("ts"), col("__sh"), posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
      .join(seenBands, Seq("band", "sig")) // stream-static equi-join, stateless
      .join(seenSh, Seq("seen_id"))
      .withColumn("__inter", size(array_intersect(col("__sh"), col("__seen_sh"))))
      // shingles are DISTINCT by kernel contract, so set arithmetic is
      // exact Jaccard — same formula as the batch op's count-based verify
      .withColumn("jaccard", col("__inter").cast("double") /
        (size(col("__sh")) + size(col("__seen_sh")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("batch_id"), col("seen_id"),
        org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(max(col("jaccard")).as("jaccard"))
      .select("batch_id", "seen_id", "jaccard")
  }

  /** Streaming eval-set decontamination — the ingest-time face of
    * ops/Dedup.decontaminate, closing the one curation member that was
    * batch-only: each arriving TRAIN doc shingles per row and probes the
    * STATIC eval n-gram postings (the nightly-frozen benchmark set),
    * emitting (train_id, eval_id, containment) for every pair at or
    * above the threshold — the same asymmetric containment
    * |sh(train) ∩ sh(eval)| / |sh(eval)| as the batch op, so a long
    * arriving doc quoting a whole short eval doc still scores 1.0.
    *
    * Same architecture as [[nearDupIncrementStream]]: the postings probe
    * is a stream-static equi-join on the shingle key (STATELESS per
    * micro-batch; candidates only, never train×eval), the exact score is
    * computed per candidate row from the eval doc's full shingle array
    * (array_intersect over the codegen'd distinct-shingle kernel — the
    * identical set arithmetic the batch op expresses as a count), and
    * the only stateful operator is the windowed max that collapses the
    * per-shared-shingle copies of a pair (append mode, finalized by the
    * watermark; the copies carry identical scores, so max is collapse,
    * not choice). The eval set is bounded by construction (a benchmark
    * suite, not a corpus), so both eval-side frames broadcast. No df cap
    * on the streaming face: the batch op's optional maxDocFreq prunes
    * CORPUS-frequent shingles, a property of the accumulated train side
    * a single micro-batch cannot see — spec'd stream ≡ batch at the
    * uncapped default. */
  def decontaminateStream(stream: DataFrame, evalDocs: DataFrame,
                          threshold: Double = 0.5, n: Int = 3,
                          lateness: String = "10 minutes",
                          window: String = "1 hour"): DataFrame = {
    import graft.ops.Dedup
    val evalClean = evalDocs.filter(col("text").isNotNull)
    val evalSh = evalClean.select(col("doc_id").as("eval_id"),
      Dedup.shingles(col("text"), n).as("__eval_sh"))
    val evalPost = evalClean.select(col("doc_id").as("eval_id"),
      explode(Dedup.shingles(col("text"), n)).as("s"))
    stream
      .withWatermark("ts", lateness)
      .filter(col("text").isNotNull)
      .select(col("doc_id").as("train_id"), col("ts"),
        Dedup.shingles(col("text"), n).as("__sh"))
      .select(col("train_id"), col("ts"), col("__sh"),
        explode(col("__sh")).as("s"))
      .join(evalPost, Seq("s")) // stream-static equi-join, stateless
      .join(evalSh, Seq("eval_id"))
      .withColumn("containment",
        size(array_intersect(col("__sh"), col("__eval_sh"))).cast("double") /
          size(col("__eval_sh")))
      .filter(col("containment") >= threshold)
      .groupBy(col("train_id"), col("eval_id"),
        org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(max(col("containment")).as("containment"))
      .select("train_id", "eval_id", "containment")
  }

  /** Streaming drift monitor on the principal axis — the online face of
    * ops/Similarity.axisOutliers, completing the spectral family's
    * train→screen→stream arc: the axis (≤256 doubles) and the per-label
    * (median, MAD) cut points are STORED artifacts from the nightly
    * batch screen; each arriving embedding projects per row through the
    * same kernel dot, quantizes identically, and joins the broadcast
    * cut table (labels are a dimension — always bounded), and the only
    * stateful operator is the watermark-finalized per-(label, window)
    * count/outlier-count aggregate. A label whose windowed n_out share
    * rises is drifting along the corpus's dominant axis — visible
    * within a watermark delay of arrival instead of at the next nightly
    * run. The gate arithmetic is the batch op's exact-long discipline,
    * so a window's counts equal the batch screen run over the same rows
    * against the same stored cuts (spec-pinned). */
  def axisDriftStream(stream: DataFrame, axis: Seq[Double], cuts: DataFrame,
                      k: Long = 3L, lateness: String = "10 minutes",
                      window: String = "1 hour"): DataFrame = {
    require(k >= 1L, s"axisDriftStream: k=$k must be >= 1")
    require(axis.nonEmpty && axis.size <= 256,
      s"axisDriftStream: axis size ${axis.size} out of [1, 256]")
    import graft.ops.Similarity
    val score = graft.functions.VectorFunctions.dot(
      Similarity.toDouble(col("embedding")), typedLit(axis))
    stream
      .withWatermark("ts", lateness)
      .filter(col("label").isNotNull)
      .select(col("label"), col("ts"),
        floor(score * 1000000.0).cast("long").as("qv"))
      .join(broadcast(cuts.select(col("label"), col("med_q"), col("mad_q"))),
        Seq("label")) // stream-static, bounded dim
      .withColumn("dev", abs(col("qv") - col("med_q")))
      .groupBy(col("label"),
        org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(count(lit(1)).as("n"),
        sum(when(col("dev") > lit(k) * col("mad_q"), 1L).otherwise(0L)).as("n_out"))
      .select(col("label"), col("window.start").as("window_start"),
        col("n"), col("n_out"))
  }

  /** Streaming nearest-class-prototype attach — the similarity family's
    * streaming face: each arriving embedding is scored against the STATIC
    * per-label prototype table (ops/Similarity.labelPrototypes — bounded,
    * labels are a dimension, always broadcast) and emits its best label
    * once the watermark closes its window. The cross join is the bounded
    * labels×rows pass every belongs-to-class scorer pays (stateless); the
    * only stateful operator is the per-(vec, window) argmax the
    * watermark finalizes — the streamNearestView append chain. Tie rule
    * (greatest sim, then greatest label) is pinned stream ≡ batch. */
  def nearestPrototypeStream(stream: DataFrame, prototypes: DataFrame,
                             lateness: String = "10 minutes",
                             windowLen: String = "1 hour"): DataFrame =
    stream
      .withWatermark("ts", lateness)
      .select(col("vec_id"), col("ts"),
        graft.ops.Similarity.toDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(prototypes))
      .select(col("vec_id"), col("ts"), col("label"),
        graft.ops.Similarity.cosine(col("v"), col("cv")).as("sim"))
      .groupBy(col("vec_id"), window(col("ts"), windowLen))
      .agg(max_by(struct(col("label"), col("sim")),
        struct(col("sim"), col("label"))).as("best"))
      .select(col("vec_id"), col("best.label").as("predicted_label"),
        col("best.sim").as("prototype_sim"))

  /** Per-(key, bucket) running count for [[rateCapStream]]. */
  final case class CapState(n: Long)

  /** Streaming per-key rate cap — the online face of ops/Sampling.rateCap:
    * at most `cap` events pass per (key, epoch-aligned bucket); within a
    * batch events are walked in (ts_us, event_id) order, so on in-order
    * delivery the surviving set equals the batch op's earliest-N
    * (spec-pinned). Keyed state is ONE counter per active (key, bucket),
    * evicted by event-time timeout at bucket end + lateness — past that
    * point the watermark admits no more events for the bucket, so state
    * is O(keys × buckets-in-flight), never unbounded. */
  def rateCapStream(stream: DataFrame, cap: Int = 5,
                    bucketLen: java.time.Duration = java.time.Duration.ofDays(1),
                    lateness: java.time.Duration = java.time.Duration.ofHours(1),
                    keyCol: String = "user_id"): DataFrame = {
    require(cap > 0, "cap must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val bucketUs = bucketLen.toMillis * 1000L
    val latenessMs = lateness.toMillis
    stream
      .withWatermark("ts", s"$latenessMs milliseconds")
      .where(col("ts_us").isNotNull)
      .select(col(keyCol), col("event_id"), col("ts_us"), col("ts"),
        (col("ts_us") - pmod(col("ts_us"), lit(bucketUs))).as("bucket_us"))
      .as[(Long, Long, Long, java.sql.Timestamp, Long)]
      .groupByKey(r => (r._1, r._5))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), rows: Iterator[(Long, Long, Long, java.sql.Timestamp, Long)],
         state: GroupState[CapState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sofar = state.getOption.map(_.n).getOrElse(0L)
            val ordered = rows.toSeq.sortBy(r => (r._3, r._2))
            val room = math.max(0L, cap.toLong - sofar).toInt
            val kept = ordered.take(room)
            state.update(CapState(math.min(cap.toLong, sofar + ordered.length)))
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1,
                (key._2 + bucketUs) / 1000L + latenessMs))
            kept.map(r => (r._1, r._2, r._3)).iterator
          }
      }
      .toDF(keyCol, "event_id", "ts_us")
  }

  /** Streaming approximate distinct count — HLL inside a watermarked
    * tumbling window: distinct keys per window at O(registers) state per
    * window instead of O(distinct keys), the streaming face of the batch
    * HLL entry. HLL registers merge by max, so the estimate is
    * arrival-order-independent — stream ≡ batch exactly, not just
    * approximately (spec-pinned). */
  def approxDistinctStream(stream: DataFrame, windowLen: String = "1 hour",
                           lateness: String = "10 minutes",
                           keyCol: String = "user_id"): DataFrame =
    stream.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen))
      .agg(approx_count_distinct(col(keyCol)).as("n_approx"))
      .select(col("window.start").as("window_start"), col("n_approx"))

  /** Streaming as-of against a VERSIONED STATIC dimension — the streaming
    * form of ops/TimeSeries.asofJoin, and the closest analytics shape to
    * the reference's whole topology (attach the dimension state current at
    * event time to each event; WaterLevelProcessor holds that state in
    * memory record-at-a-time).
    *
    * Instead of a window over the union (not expressible on a stream), the
    * static side is rewritten into validity INTERVALS: version v of a key
    * is current on [v.ts, next_version.ts) — `lead()` over the versions,
    * computed batch-side. The join is then a STATELESS stream-static left
    * join on key + interval containment: each event matches at most one
    * version, so there is no post-join argmax, no streaming state, no
    * watermark requirement, and late or out-of-order events still attach
    * to the version current at THEIR event time. At scale the static side
    * broadcasts when small (the usual dim case) or shuffles once per
    * micro-batch otherwise.
    *
    * Semantics pinned to the batch form (StreamingMonitorsSpec asserts
    * stream ≡ batch on real data): inclusive `>=` at a version's start,
    * and among versions tied on (key, ts) the greatest `tieCol` wins —
    * ties are pre-reduced on the static side, payload carried as one
    * struct so columns can never tear. */
  def asofStreamStatic(
      stream: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieCol: String,
      payload: Seq[String],
      prefix: String = "asof_"): DataFrame = {
    require(keys.nonEmpty, "asofStreamStatic needs at least one key column")
    val carried = (payload ++ Seq(tsCol, tieCol)).distinct
    val tieW = Window.partitionBy((keys :+ tsCol).map(col): _*).orderBy(col(tieCol).desc)
    val validW = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val dimSide = dim
      .withColumn("__vrank", row_number().over(tieW)).filter(col("__vrank") === 1)
      .withColumn("__valid_to", lead(col(tsCol), 1).over(validW))
      .select(keys.map(c => col(c).as(s"__k_$c")) ++ Seq(
        col(tsCol).as("__valid_from"), col("__valid_to"),
        struct(carried.map(col): _*).as("__asof")): _*)
    val cond = keys.map(c => stream(c) === dimSide(s"__k_$c")).reduce(_ && _) &&
      stream(tsCol) >= dimSide("__valid_from") &&
      (dimSide("__valid_to").isNull || stream(tsCol) < dimSide("__valid_to"))
    stream.join(dimSide, cond, "left")
      .select(stream.columns.toSeq.map(stream(_)) ++
        carried.map(c => col("__asof").getField(c).as(s"$prefix$c")): _*)
  }

  /** Stream-stream interval join: purchases joined to the same user's
    * views from the trailing `lookback` window — BOTH sides unbounded
    * streams, the case stream-static can't cover (the dimension itself is
    * a stream). The time-range predicate plus per-side watermarks bound
    * the join state: a buffered view can be evicted once the watermark
    * passes its ts + lookback, so state is O(rate × lookback) per key
    * range, never unbounded. Inner join in append mode — each matched
    * pair emits exactly once, and the output equals the batch join with
    * the identical predicate (spec-asserted). */
  def streamStreamAttribution(purchases: DataFrame, views: DataFrame,
                              lookback: String = "1 hour",
                              lateness: String = "10 minutes"): DataFrame = {
    val p = purchases.select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("ts_us").as("p_ts_us"),
        col("value").as("purchase_value"))
      .withWatermark("p_ts", lateness)
    val v = views.select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts").as("v_ts"), col("ts_us").as("v_ts_us"))
      .withWatermark("v_ts", lateness)
    p.join(v,
        col("user_id") === col("v_user_id") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $lookback") &&
          col("v_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("user_id"), col("view_id"),
        col("purchase_value"), (col("p_ts_us") - col("v_ts_us")).as("lag_us"))
  }

  /** Streaming nearest-event: the bounded-lookback twin of
    * ops/TimeSeries.nearestJoin (the unbounded batch form is not
    * streamable — a nearer future view can arrive arbitrarily late, so
    * no finite watermark can finalize an unbounded pick). Candidates come
    * from ONE symmetric watermark-bounded interval join
    * (|Δt| <= lookback; state O(rate × lookback) per side, evicted by the
    * watermark), and the per-purchase pick is a downstream streaming
    * min_by aggregation keyed by (purchase, its event-time window) so the
    * watermark finalizes each purchase exactly once — the
    * multi-stateful-operator append pipeline. Purchases with no view in
    * the window emit nothing (inner-join semantics, matching the batch
    * candidate restriction). Tie policy matches nearestJoin: minimum
    * (|Δt|, view_id). */
  def streamNearestView(purchases: DataFrame, views: DataFrame,
                        lookback: String = "1 hour",
                        lateness: String = "10 minutes"): DataFrame = {
    val p = purchases.select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("ts_us").as("p_ts_us"))
      .withWatermark("p_ts", lateness)
    val v = views.select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts").as("v_ts"), col("ts_us").as("v_ts_us"))
      .withWatermark("v_ts", lateness)
    p.join(v,
        col("user_id") === col("v_user_id") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $lookback") &&
          col("v_ts") <= col("p_ts") + expr(s"INTERVAL $lookback"))
      .select(col("purchase_id"), col("user_id"), col("p_ts"), col("view_id"),
        abs(col("p_ts_us") - col("v_ts_us")).as("dist_us"))
      .groupBy(col("purchase_id"), col("user_id"), window(col("p_ts"), "1 hour"))
      .agg(min_by(struct(col("view_id"), col("dist_us")),
        struct(col("dist_us"), col("view_id"))).as("best"))
      .select(col("purchase_id"), col("user_id"),
        col("best.view_id").as("view_event_id"), col("best.dist_us").as("dist_us"))
  }

  /** Keyed-state delta/rate: remembers the last observation per station
    * across batches and emits one delta record per subsequent event.
    * Events inside a batch are processed in event-time order.
    *
    * State is BOUNDED: each key's state carries an event-time timeout of
    * `stateTtl` past its last observation, clocked by the watermark
    * (`lateness` behind max event time). A key silent for longer than the
    * TTL evicts — on a key-churning stream (user-keyed events) state is
    * O(active keys), not O(all keys ever seen). A revived key restarts
    * cleanly: its first event after eviction emits no delta (there is no
    * prev), exactly like a brand-new key; live keys (gaps < TTL) are
    * untouched, so the batch-equality contract holds on the live path.
    * The timeout timestamp is clamped above the current watermark — a
    * late-but-valid event (within `lateness`) whose ts+TTL would land at
    * or below the watermark must still get a strictly-future timeout or
    * the state store rejects it. */
  def statefulDeltaRate(stream: DataFrame,
                        lateness: String = "10 minutes",
                        stateTtl: java.time.Duration = java.time.Duration.ofHours(24)): Dataset[DeltaRecord] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val ttlMs = stateTtl.toMillis
    stream
      .withWatermark("ts", lateness)
      .select(col("event_type"), col("event_id"), col("value"), col("ts_us"), col("ts"))
      .as[StationEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, events: Iterator[StationEvent], state: GroupState[StationState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val ordered = events.toSeq.sortBy(e => (e.ts_us, e.event_id))
            val out = Seq.newBuilder[DeltaRecord]
            var cur = state.getOption
            ordered.foreach { e =>
              cur.foreach { prev =>
                val delta = e.value - prev.lastValue
                val gapSec = (e.ts_us - prev.lastTsUs) / 1.0e6
                // null (not NaN) on a zero gap — matches the batch lag() form
                val rate = if (gapSec == 0.0) None else Some(delta / gapSec)
                out += DeltaRecord(key, e.event_id, e.value, prev.lastValue, delta, rate)
              }
              cur = Some(StationState(e.value, e.ts_us))
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, st.lastTsUs / 1000L + ttlMs))
            }
            out.result().iterator
          }
      }
  }

  /** Streaming disorder audit — the online form of
    * ops/Monitoring.disorderAudit, so the watermark-sizing statistic is
    * itself measurable ON the stream it will configure: per-type keyed
    * state carries (running max ts, n, n_late, max_late) — a constant-
    * size monoid-ish record, O(#types) state total, so NoTimeout is
    * safe — and each micro-batch walks its events in event_id order
    * (the same arrival proxy as the batch op) and emits the updated
    * census row in Update mode. Equals the batch audit whenever files
    * deliver in id order across batches (the suite's in-order-delivery
    * contract); an out-of-order CROSS-batch split can only shift which
    * events count late — exactly the arrival-order dependence the
    * statistic measures. */
  def disorderStream(stream: DataFrame): Dataset[DisorderRow] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col("event_type"), col("event_id"), col("value"), col("ts_us"), col("ts"))
      .filter(col("event_type").isNotNull)
      .as[StationEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, events: Iterator[StationEvent], state: GroupState[DisorderState]) =>
          val ordered = events.toSeq.sortBy(_.event_id)
          var st = state.getOption.getOrElse(DisorderState(Long.MinValue, 0L, 0L, 0L))
          ordered.foreach { e =>
            val late = if (st.n > 0L && st.maxTsUs > e.ts_us) st.maxTsUs - e.ts_us else 0L
            st = DisorderState(math.max(st.maxTsUs, e.ts_us), st.n + 1L,
              st.nLate + (if (late > 0L) 1L else 0L), math.max(st.maxLateUs, late))
          }
          state.update(st)
          Iterator.single(DisorderRow(key, st.n, st.nLate, st.maxLateUs,
            st.nLate.toDouble / st.n))
      }
  }

  /** Streaming funnel — the online form of ops/Funnel.funnel: per-user
    * keyed state holds the completed-stage timestamp prefix; every event
    * that advances the funnel (matches stage k+1's type, strictly later
    * than the stage-k time) emits one FunnelAdvance record in append mode.
    * Within a batch events are walked in (ts_us, event_id) order, so the
    * stream equals the batch funnel whenever events arrive in event-time
    * order across batches (the spec's contract); a cross-batch
    * out-of-order event inside the lateness bound can only MISS a
    * conversion, never invent one — the online-funnel semantics.
    *
    * State is one short array per user and carries an event-time TTL past
    * the user's last activity — the conversion-window-style eviction that
    * keeps state O(active users) under key churn, same contract as
    * statefulDeltaRate. */
  def streamingFunnel(stream: DataFrame, stages: Seq[String],
                      lateness: String = "10 minutes",
                      stateTtl: java.time.Duration = java.time.Duration.ofHours(24)): Dataset[FunnelAdvance] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val spark = stream.sparkSession
    import spark.implicits._
    val n = stages.length
    val ttlMs = stateTtl.toMillis
    stream
      .withWatermark("ts", lateness)
      .where(col("ts_us").isNotNull) // same rule as the batch funnel
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[FunnelEvent], state: GroupState[FunnelProgress]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val ordered = events.toSeq.sortBy(e => (e.ts_us, e.event_id))
            val out = Seq.newBuilder[FunnelAdvance]
            // first-ever sight of this user: a stage-0 presence advance,
            // so the downstream rollup counts users the batch funnel
            // reports at stage 0 (activity but no stage-1 event). Emitted
            // once per state lifetime — a TTL-evicted user that revives
            // re-enters at stage 0, the statefulDeltaRate revival contract.
            if (!state.exists && ordered.nonEmpty)
              out += FunnelAdvance(user, 0, ordered.head.ts_us)
            var done = state.getOption.map(_.stageTs.toVector).getOrElse(Vector.empty)
            // seed from the stored last activity: the max over ALL batches,
            // not just this one, so out-of-order arrival can't shrink the TTL
            var lastTs = state.getOption.map(_.lastActivityUs).getOrElse(0L)
            ordered.foreach { e =>
              val k = done.length
              if (k < n && e.event_type == stages(k) &&
                  (k == 0 || e.ts_us > done(k - 1))) {
                done = done :+ e.ts_us
                out += FunnelAdvance(user, done.length, e.ts_us)
              }
              lastTs = math.max(lastTs, e.ts_us)
            }
            if (ordered.nonEmpty || state.exists) {
              state.update(FunnelProgress(done, lastTs))
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, lastTs / 1000L + ttlMs))
            }
            out.result().iterator
          }
      }
  }

  /** Open-bucket aggregate for [[streamingResampleFfill]]: count plus the
    * greatest-(ts, id) observation, the same last-value rule as the batch
    * resampler's max_by. */
  final case class BucketAgg(n: Long, lastTsUs: Long, lastId: Long, lastVal: Double)
  /** pending = open buckets (start-µs → agg); nextEmitUs = the first
    * unclosed bucket (MinValue until the key's first observation);
    * fillValue = last closed observed value (the forward-fill carry);
    * lastActivityUs = monotone max event time (the TTL clock — never
    * re-armed earlier by a late batch of older events). */
  final case class ResampleState(pending: Map[Long, BucketAgg], nextEmitUs: Long,
                                 fillValue: Option[Double], lastActivityUs: Long)
  final case class ResampleRow(event_type: String, bucket_us: Long, n_obs: Long,
                               filled_value: Option[Double])

  /** Streaming twin of ops/TimeSeries.resampleHourly: per-key hourly
    * buckets with count + last observation, gap buckets forward-filled —
    * emitted in APPEND mode as the watermark closes each bucket (bucket
    * end ≤ watermark means the watermark gate admits no more events for
    * it, so a closed bucket is final and stream ≡ batch holds for every
    * event that passes the gate; within-lateness out-of-order arrival
    * lands in the still-open bucket and reorders freely).
    *
    * Differences from the batch form are exactly the streaming-necessary
    * ones: the grid starts at each KEY's first observed bucket (a stream
    * has no corpus-global lo), and gap emission runs with the watermark
    * until the key has been silent for `stateTtl` — then the key evicts
    * and a later revival restarts the grid at its new first bucket (the
    * statefulDeltaRate contract). State per key is O(open buckets), i.e.
    * O(lateness/1h + 1), never the emitted history. */
  def streamingResampleFfill(stream: DataFrame,
                             lateness: String = "10 minutes",
                             stateTtl: java.time.Duration = java.time.Duration.ofHours(24)): Dataset[ResampleRow] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val hourUs = 3600L * 1000000L
    val ttlUs = stateTtl.toMillis * 1000L
    stream
      .withWatermark("ts", lateness)
      .where(col("ts_us").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"), col("ts_us"), col("ts"))
      .as[StationEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, events: Iterator[StationEvent], state: GroupState[ResampleState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val st0 = state.getOption.getOrElse(
            ResampleState(Map.empty, Long.MinValue, None, 0L))
          var pending = st0.pending
          var lastActivity = st0.lastActivityUs
          events.foreach { e =>
            val b = e.ts_us - java.lang.Math.floorMod(e.ts_us, hourUs)
            val merged = pending.get(b) match {
              case None => BucketAgg(1L, e.ts_us, e.event_id, e.value)
              case Some(a) =>
                val newer = e.ts_us > a.lastTsUs ||
                  (e.ts_us == a.lastTsUs && e.event_id > a.lastId)
                BucketAgg(a.n + 1L,
                  if (newer) e.ts_us else a.lastTsUs,
                  if (newer) e.event_id else a.lastId,
                  if (newer) e.value else a.lastVal)
            }
            pending += (b -> merged)
            lastActivity = math.max(lastActivity, e.ts_us)
          }
          var nextEmit =
            if (st0.nextEmitUs != Long.MinValue) st0.nextEmitUs
            else if (pending.nonEmpty) pending.keys.min
            else Long.MinValue
          var fill = st0.fillValue
          val out = Seq.newBuilder[ResampleRow]
          if (nextEmit != Long.MinValue) {
            // observed buckets always precede the TTL horizon (ttl >> 1h),
            // so the horizon only cuts off trailing GAP emission
            while (nextEmit + hourUs <= wmUs && nextEmit <= lastActivity + ttlUs) {
              pending.get(nextEmit) match {
                case Some(a) =>
                  fill = Some(a.lastVal)
                  out += ResampleRow(key, nextEmit, a.n, fill)
                  pending -= nextEmit
                case None =>
                  out += ResampleRow(key, nextEmit, 0L, fill)
              }
              nextEmit += hourUs
            }
          }
          val past = pending.isEmpty &&
            (nextEmit == Long.MinValue || nextEmit > lastActivity + ttlUs)
          if (past && state.exists) { state.remove(); out.result().iterator }
          else if (nextEmit == Long.MinValue) out.result().iterator
          else {
            state.update(ResampleState(pending, nextEmit, fill, lastActivity))
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1, (nextEmit + hourUs) / 1000L))
            out.result().iterator
          }
      }
  }

  /** One buffered observation for [[streamingResampleInterp]]. */
  final case class ObsP(tsUs: Long, id: Long, v: Double)
  /** pending = buffered observations not yet consumed as a left endpoint
    * (per-timestamp deduped to the greatest id — the batch tie rule);
    * prev = greatest (ts, id) observation at-or-before nextEmitUs;
    * nextEmitUs = next grid instant (MinValue until the first
    * observation); lastActivityUs = the monotone TTL clock. */
  final case class InterpState(pending: Seq[ObsP], prev: Option[ObsP],
                               nextEmitUs: Long, lastActivityUs: Long)
  final case class InterpRow(event_type: String, bucket_us: Long, interp_value: Double)

  /** Streaming twin of ops/TimeSeries.resampleHourlyInterp: per-key
    * hourly grid instants, each valued by LINEAR interpolation between
    * the bracketing observations (exact-time observation passes through;
    * greatest (ts, id) wins a timestamp tie) — emitted in APPEND mode.
    *
    * The finality argument is sharper than forward fill's: a grid
    * instant needs its NEXT observation, so it finalizes when the
    * watermark passes the earliest buffered observation at-or-after it —
    * past that point the gate admits nothing below that observation's
    * ts, so the bracket (and every observation between the last emitted
    * instant and it) is provably complete, and stream ≡ batch holds for
    * every event that passes the gate. The stream therefore emits
    * EXACTLY the batch resampler's non-null rows (no extrapolation
    * exists in either form: batch grid rows outside a key's observed
    * range are null, and the stream never reaches them — before the
    * first observation the grid starts late, after the last one no
    * bracket ever finalizes). State per key is the observation buffer
    * inside the lateness horizon plus one carried endpoint — O(rate ×
    * lateness), evicted whole after `stateTtl` of silence. */
  def streamingResampleInterp(stream: DataFrame,
                              lateness: String = "10 minutes",
                              stateTtl: java.time.Duration = java.time.Duration.ofHours(24)): Dataset[InterpRow] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val hourUs = 3600L * 1000000L
    val ttlUs = stateTtl.toMillis * 1000L
    stream
      .withWatermark("ts", lateness)
      .where(col("ts_us").isNotNull && col("event_type").isNotNull &&
        col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"), col("ts_us"), col("ts"))
      .as[StationEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, events: Iterator[StationEvent], state: GroupState[InterpState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val st0 = state.getOption.getOrElse(InterpState(Nil, None, Long.MinValue, 0L))
          var lastActivity = st0.lastActivityUs
          val incoming = events.map { e =>
            lastActivity = math.max(lastActivity, e.ts_us)
            ObsP(e.ts_us, e.event_id, e.value)
          }.toSeq
          // merge + per-timestamp dedupe to the greatest id (batch tie rule)
          var pending = (st0.pending ++ incoming)
            .groupBy(_.tsUs).map { case (_, os) => os.maxBy(_.id) }
            .toSeq.sortBy(o => o.tsUs)
          var prev = st0.prev
          var nextEmit =
            if (st0.nextEmitUs != Long.MinValue) st0.nextEmitUs
            else if (pending.nonEmpty) {
              val first = pending.head.tsUs
              first + java.lang.Math.floorMod(-first, hourUs) // ceil to the hour
            } else Long.MinValue
          val out = Seq.newBuilder[InterpRow]
          if (nextEmit != Long.MinValue) {
            var continue = true
            while (continue) {
              pending.find(o => o.tsUs >= nextEmit && o.tsUs <= wmUs) match {
                case Some(next) =>
                  // every observation below next.ts is final — consume the
                  // ones before this grid instant as the left endpoint
                  val (before, rest) = pending.partition(_.tsUs < nextEmit)
                  if (before.nonEmpty) prev = Some(before.maxBy(o => (o.tsUs, o.id)))
                  pending = rest
                  val value =
                    if (next.tsUs == nextEmit) Some(next.v)
                    else prev.map { p =>
                      p.v + (next.v - p.v) *
                        ((nextEmit - p.tsUs).toDouble / (next.tsUs - p.tsUs))
                    }
                  value.foreach(v => out += InterpRow(key, nextEmit, v))
                  nextEmit += hourUs
                case None => continue = false
              }
            }
          }
          val idle = lastActivity > 0L && wmUs > lastActivity + ttlUs
          if (idle && state.exists) { state.remove(); out.result().iterator }
          else if (nextEmit == Long.MinValue && !idle && pending.isEmpty && !state.exists) {
            out.result().iterator
          } else {
            state.update(InterpState(pending, prev, nextEmit, lastActivity))
            // the next emission fires when the watermark passes the
            // earliest buffered observation at-or-after the grid cursor;
            // with no such candidate, sleep until the TTL eviction point
            val wake = pending.find(_.tsUs >= nextEmit)
              .map(o => (o.tsUs + 999L) / 1000L)
              .getOrElse((lastActivity + ttlUs) / 1000L + 1L)
            state.setTimeoutTimestamp(math.max(state.getCurrentWatermarkMs() + 1, wake))
            out.result().iterator
          }
      }
  }

  /** Streaming twin of ops/Funnel.conversionRollup: per-stage CURRENT
    * user counts over the advance stream. Each FunnelAdvance(user, k)
    * means the user moved k-1 → k — a +1 at stage k and (for k > 1) a -1
    * at stage k-1; summing the deltas per stage is the changelog form of
    * the batch rollup's groupBy(stage_reached).count(), and Spark keeps
    * the running sums in the aggregation state (append-mode
    * flatMapGroupsWithState feeding one streaming aggregate — the
    * supported chain). Sink in update/complete mode.
    *
    * Covers ALL stages including 0: the funnel emits a one-time stage-0
    * presence advance on first sight of a user, so users with activity
    * but no stage-1 event are counted exactly as the batch rollup counts
    * them (spec'd stream ≡ batch over the full stage range).
    *
    * Requires `spark.sql.streaming.statefulOperator.checkCorrectness
    * .enabled=false` at query start: Spark's static checker flags ANY
    * stateful op downstream of flatMapGroupsWithState because the latter
    * can emit rows behind the watermark — but this aggregate is global
    * and watermark-free (complete/update mode, no eviction), so a late
    * advance is summed like any other and no row can be discarded. */
  def streamingConversionRollup(stream: DataFrame, stages: Seq[String],
                                lateness: String = "10 minutes",
                                stateTtl: java.time.Duration = java.time.Duration.ofHours(24)): DataFrame = {
    val adv = streamingFunnel(stream, stages, lateness, stateTtl).toDF()
    val enter = struct(col("stage_reached").cast("long").as("stage"), lit(1L).as("d"))
    val leave = struct((col("stage_reached") - 1).cast("long").as("stage"), lit(-1L).as("d"))
    adv
      // stage-0 presence rows enter with no leave; every real advance
      // k >= 1 leaves k-1 (incl. k = 1 now that stage 0 is occupied)
      .select(explode(when(col("stage_reached") >= 1, array(enter, leave))
        .otherwise(array(enter))).as("x"))
      .groupBy(col("x.stage").as("stage_reached"))
      .agg(sum(col("x.d")).as("n_users"))
  }

  /** Streaming maintenance of the basket-lift state
    * (ops/Incremental.partialBasketStats): each micro-batch folds into a
    * VERSIONED parquet state via one monoid merge in foreachBatch —
    * read latest state, merge the batch's partial, write `v<batchId>`.
    * Writing the version keyed by batchId makes replay IDEMPOTENT: a
    * restarted batch overwrites its own version, never double-merges
    * (spec'd), the same re-run contract as the K1 day archive. The
    * reader takes the highest committed version (`_SUCCESS` present —
    * Hadoop FS probe, works on object stores).
    *
    * The merge-law precondition travels here too: micro-batches must
    * carry WHOLE baskets (an order's lineitems split across batches
    * would sever pairs — ops/Incremental.partialBasketStats doc, spec'd
    * negative law). At scale that means the upstream producer keys its
    * commit unit on the order, which an order-atomic CDC feed or a
    * file-per-order-range drop gives naturally. */
  def basketStateSink(lineitemStream: DataFrame, stateDir: String,
                      checkpoint: Option[String] = None,
                      availableNow: Boolean = false): StreamingQuery =
    partialStateSink(lineitemStream, stateDir, checkpoint, availableNow)(
      graft.ops.Incremental.partialBasketStats)(graft.ops.Incremental.mergeBasketStats(_, _))

  /** Streaming maintenance of the heavy-hitter sketch
    * (ops/HeavyHitters): each micro-batch's Misra-Gries sketch and token
    * count fold into the stored state — the mergeable-summaries bound is
    * indifferent to the merge tree, so the cross-batch sketch keeps the
    * n/k undercount guarantee over the whole stream. Same versioned
    * idempotent-replay contract as [[basketStateSink]]. State rows are
    * (token, cnt) plus one (null, n) total row — ≤ k rows per version.
    * Serving verifies the stored candidates EXACTLY against the archived
    * corpus (ops/HeavyHitters.serveHeavyTokens): the stream proposes,
    * the archive disposes, and the guarantee makes the served set equal
    * to the batch computation (spec'd). */
  def heavySketchSink(docStream: DataFrame, stateDir: String, k: Int = 32,
                      checkpoint: Option[String] = None,
                      availableNow: Boolean = false): StreamingQuery =
    mergeStateSink(docStream, stateDir, checkpoint, availableNow) { (prev, batch) =>
      val spark = batch.sparkSession
      import spark.implicits._
      import graft.ops.HeavyHitters
      val (bs, bn) = HeavyHitters.tokensOf(batch).as[String]
        .select(new HeavyHitters.MisraGries(k).toColumn, count(lit(1)).as[Long])
        .head()
      val (ps, pn) = prev.fold((Map.empty[String, Long], 0L)) { p =>
        val rows = p.collect()
        val total = rows.find(_.isNullAt(0)).map(_.getLong(1)).getOrElse(0L)
        (rows.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r.getLong(1)).toMap, total)
      }
      val out = HeavyHitters.mergeSketches(ps, bs, k).toSeq
        .map { case (t, c) => (Option(t), c) } :+ ((None: Option[String], pn + bn))
      out.toDF("token", "cnt").repartition(1)
    }

  /** Streaming maintenance of the hourly CUSUM partials
    * (ops/TimeSeries.hourlyQuantized): per-(key, hour) sums merge by
    * plain addition — the grain is a single event, so micro-batch
    * boundaries can't sever anything (contrast the basket sink's
    * order-atomicity precondition) — and the ORDER-dependent statistic
    * is computed at serve time by the SAME two-window batch code over
    * the merged state (ops/TimeSeries.cusumServe). Streaming the
    * mergeable half and serving the sequential half is the general
    * recipe for prefix-dependent statistics; same versioned
    * idempotent-replay contract as the other state sinks. */
  def hourlyStateSink(eventStream: DataFrame, stateDir: String,
                      keyCol: String = "event_type",
                      checkpoint: Option[String] = None,
                      availableNow: Boolean = false): StreamingQuery =
    partialStateSink(eventStream, stateDir, checkpoint, availableNow)(
      graft.ops.TimeSeries.hourlyQuantized(_, keyCol))(
      sumByKey(Seq("key", "bucket_us"), Seq("swq", "n")))

  /** Streaming maintenance of the (day, hour-of-day, category) counts
    * frame (ops/Expectations.typeTimeCounts) — ONE state table serving
    * every daily-mix consumer: dailyDiversityServe (Gini-Simpson per
    * day) and Monitoring.diurnalServe (busiest hour per type). Counts
    * at single-event grain merge by plain addition, so micro-batch
    * straddles are harmless; same versioned idempotent-replay contract
    * as the other state sinks. */
  def typeTimeStateSink(eventStream: DataFrame, stateDir: String,
                        category: String = "event_type",
                        checkpoint: Option[String] = None,
                        availableNow: Boolean = false): StreamingQuery =
    partialStateSink(eventStream, stateDir, checkpoint, availableNow)(
      graft.ops.Expectations.typeTimeCounts(_, category))(
      sumByKey(Seq("day", "hour", category), Seq("c")))

  /** Streaming maintenance of the per-(source, lang) scorecard counters
    * (ops/TextAnalysis.scorecardPartials): doc counts, exact token
    * totals, and quality-floor passes all merge by plain addition at
    * single-document grain, and the serve half
    * (TextAnalysis.sourceScorecardServe) recomputes the dominant
    * language from the merged counters — the last batch-only member of
    * the monitoring scorecard family gains its streaming face through
    * the same versioned seam. */
  def scorecardStateSink(docStream: DataFrame, stateDir: String,
                         qualityFloor: Double = 0.5,
                         checkpoint: Option[String] = None,
                         availableNow: Boolean = false): StreamingQuery =
    partialStateSink(docStream, stateDir, checkpoint, availableNow)(
      graft.ops.TextAnalysis.scorecardPartials(_, qualityFloor))(
      sumByKey(Seq("source", "lang"), Seq("n_docs", "n_tokens_total", "n_quality_pass")))

  /** Streaming maintenance of the per-(source, token) counts frame
    * (ops/TextAnalysis.entropyPartials) — vocabulary-grain state, the
    * heaviest table in the family but corpus-size-independent; counts
    * merge by plain addition, and the serve half
    * (TextAnalysis.sourceEntropyServe) reads the merged counts into the
    * live per-source vocabulary-diversity score. Same versioned
    * idempotent-replay contract as the other state sinks. */
  def entropyStateSink(docStream: DataFrame, stateDir: String,
                       checkpoint: Option[String] = None,
                       availableNow: Boolean = false): StreamingQuery =
    partialStateSink(docStream, stateDir, checkpoint, availableNow)(
      graft.ops.TextAnalysis.entropyPartials)(sumByKey(Seq("source", "w"), Seq("cnt")))

  /** Streaming maintenance of the 21-bin quality-score histogram
    * (ops/TextAnalysis.calibrationPartials) — the cheapest state table
    * in the family (≤21 rows, ever): per-bin doc/token counts merge by
    * plain addition at single-document grain, and the serve half
    * (TextAnalysis.qualityCalibrationServe) reads the merged histogram
    * into the live floor-sweep — "what would floor X cost us in tokens
    * RIGHT NOW" over an unbounded document stream. Same versioned
    * idempotent-replay contract as the other state sinks. */
  def calibrationStateSink(docStream: DataFrame, stateDir: String,
                           checkpoint: Option[String] = None,
                           availableNow: Boolean = false): StreamingQuery =
    partialStateSink(docStream, stateDir, checkpoint, availableNow)(
      graft.ops.TextAnalysis.calibrationPartials)(
      sumByKey(Seq("b"), Seq("h_docs", "h_tokens")))

  /** Streaming maintenance of the HyperLogLog register table
    * (ops/Sketches.hllRegisters): registers merge by plain MAX — the
    * sketch's defining monoid — so the state is a ≤512-row frame that
    * answers "how many distinct values so far" at any moment via
    * Sketches.hllEstimate, with zero error added by the sharding. Same
    * versioned idempotent-replay contract as the other state sinks. */
  def hllStateSink(stream: DataFrame, stateDir: String,
                   valueCol: String = "user_id",
                   checkpoint: Option[String] = None,
                   availableNow: Boolean = false): StreamingQuery =
    partialStateSink(stream, stateDir, checkpoint, availableNow)(
      graft.ops.Sketches.hllRegisters(_, col(valueCol)))(graft.ops.Sketches.hllMerge)

  /** Streaming maintenance of the count-min cell table
    * (ops/Sketches.cmsCells): cells merge by plain SUM, so the ≤4096-row
    * state frame answers point-frequency probes at any moment via
    * Sketches.cmsEstimate with the batch-exact guarantees (never under
    * the true count). Same versioned idempotent-replay contract as the
    * other state sinks. */
  def cmsStateSink(docStream: DataFrame, stateDir: String,
                   checkpoint: Option[String] = None,
                   availableNow: Boolean = false): StreamingQuery =
    partialStateSink(docStream, stateDir, checkpoint, availableNow)(batch =>
      graft.ops.Sketches.cmsCells(batch
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))))(graft.ops.Sketches.cmsMerge)

  /** Streaming maintenance of the Bloom set-bit table
    * (ops/Sketches.bloomBits): positions merge by plain DISTINCT union,
    * so the ≤32768-row state frame is the always-current corpus
    * membership pre-filter — a new batch probes it
    * (Sketches.bloomProbe) BEFORE paying the exact anti-join. Same
    * versioned idempotent-replay contract as the other state sinks. */
  def bloomStateSink(docStream: DataFrame, stateDir: String,
                     valueCol: String = "text",
                     checkpoint: Option[String] = None,
                     availableNow: Boolean = false): StreamingQuery =
    partialStateSink(docStream, stateDir, checkpoint, availableNow)(
      graft.ops.Sketches.bloomBits(_, col(valueCol)))(_.unionByName(_).distinct())

  /** Streaming maintenance of the KMV distinct sketch
    * (ops/Sketches.kmvSketch): the k smallest value hashes merge by
    * union + dedup + re-bottom-k — the KMV monoid — so the ≤k-row state
    * answers "how many distinct so far" via Sketches.kmvEstimate and
    * composes into overlap estimates against other sketches. Same
    * versioned idempotent-replay contract as the other state sinks. */
  def kmvStateSink(stream: DataFrame, stateDir: String,
                   valueCol: String = "user_id",
                   checkpoint: Option[String] = None,
                   availableNow: Boolean = false): StreamingQuery =
    partialStateSink(stream, stateDir, checkpoint, availableNow)(
      graft.ops.Sketches.kmvSketch(_, col(valueCol)))(graft.ops.Sketches.kmvMerge(_, _))

  /** Streaming maintenance of the WARC corpus census
    * (ops/Multimodal.warcCensus): each micro-batch of documents is
    * framed, walked, and reduced to ONE summary row of pure sums —
    * record/type counts, malformed count, byte accounting — which
    * merges with the stored state by column-wise sum (the census
    * monoid, ops/Multimodal.warcCensusMerge). The face an archive-ingest
    * pipeline watches: records seen, types, bytes, and malformed files
    * COUNTED in-band. Same versioned idempotent-replay contract as the
    * other state sinks. */
  def warcStateSink(docStream: DataFrame, stateDir: String,
                    checkpoint: Option[String] = None,
                    availableNow: Boolean = false): StreamingQuery =
    partialStateSink(docStream, stateDir, checkpoint, availableNow)(b =>
      graft.ops.Multimodal.warcCensus(
        graft.ops.Multimodal.warcStats(graft.ops.Multimodal.warcFrame(b))))(
      graft.ops.Multimodal.warcCensusMerge)

  /** Streaming twin of the corpus-wide tar census
    * (ops/Multimodal.tarCensus): per micro-batch the shard census runs
    * on the batch alone, then merges into the stored one-row state by
    * column-wise sum — the same sum-monoid contract (and the same
    * warcCensusMerge: all three censuses share its column-wise-sum
    * shape) as [[warcStateSink]], versioned for idempotent replay. */
  def tarStateSink(docStream: DataFrame, stateDir: String,
                   checkpoint: Option[String] = None,
                   availableNow: Boolean = false): StreamingQuery =
    partialStateSink(docStream, stateDir, checkpoint, availableNow)(b =>
      graft.ops.Multimodal.tarCensus(
        graft.ops.Multimodal.tarStats(graft.ops.Multimodal.tarFrame(b))))(
      graft.ops.Multimodal.warcCensusMerge)

  /** Streaming twin of the corpus-wide zip census — same sum-monoid
    * contract over ops/Multimodal.zipCensus. */
  def zipStateSink(docStream: DataFrame, stateDir: String,
                   checkpoint: Option[String] = None,
                   availableNow: Boolean = false): StreamingQuery =
    partialStateSink(docStream, stateDir, checkpoint, availableNow)(b =>
      graft.ops.Multimodal.zipCensus(
        graft.ops.Multimodal.zipStats(graft.ops.Multimodal.zipFrame(b))))(
      graft.ops.Multimodal.warcCensusMerge)

  /** Streaming maintenance of the per-type quantile sample
    * (ops/Sketches.quantileSample): the k hash-smallest rows per key
    * merge by union + dedup + re-bottom-k — a monoid over disjoint row
    * sets (and idempotent under batch replay, the dedup absorbs it) —
    * so the ≤k-row-per-key state frame answers "where is the
    * distribution" at any moment via Sketches.quantilesFromSample with
    * the O(1/√k) rank bound. Same versioned idempotent-replay contract
    * as the other state sinks. */
  def quantileStateSink(eventStream: DataFrame, stateDir: String,
                        checkpoint: Option[String] = None,
                        availableNow: Boolean = false): StreamingQuery =
    partialStateSink(eventStream, stateDir, checkpoint, availableNow)(
      graft.ops.Sketches.quantileSample(_, Seq("event_type"), col("event_id"), col("value")))(
      graft.ops.Sketches.quantileSampleMerge(_, _, Seq("event_type")))

  /** Streaming maintenance of the per-(label, pos) centroid partials
    * (ops/Similarity.centroidPartials): quantized component sums and
    * member counts merge by plain addition at single-vector grain, so
    * micro-batch straddles are harmless. The serve half
    * (Similarity.centroidDriftFromPartials) compares the merged state
    * against a reference corpus's partials — live embedding-drift
    * monitoring ("is today's stream drifting from the train corpus?")
    * through the same versioned idempotent-replay seam. */
  def centroidStateSink(embStream: DataFrame, stateDir: String,
                        checkpoint: Option[String] = None,
                        availableNow: Boolean = false): StreamingQuery =
    partialStateSink(embStream, stateDir, checkpoint, availableNow)(
      graft.ops.Similarity.centroidPartials)(sumByKey(Seq("label", "pos"), Seq("csum", "n")))

  /** Streaming fluency scoring against a STORED bigram model — the LM
    * serving face (the scoring service a curation stream runs): each
    * micro-batch scores through ops/TextAnalysis.bigramScoreFrom —
    * stream-static joins against the vocabulary-sized model frame,
    * ZERO cross-batch state, because a doc's score depends only on its
    * own row and the fixed model — and lands as its own committed
    * per-batch output `b<batchId>`. Spec'd: the union of per-batch
    * outputs equals batch scoring of the union corpus exactly. */
  def bigramScoreSink(docsStream: DataFrame, model: DataFrame, outDir: String,
                      checkpoint: Option[String] = None,
                      availableNow: Boolean = false): StreamingQuery =
    startBatches(docsStream, checkpoint, availableNow) { (batch, batchId) =>
      writeBatchDir(graft.ops.TextAnalysis.bigramScoreFrom(batch, model), outDir, 'b', batchId)
    }

  /** Streaming language-ID routing against a STORED NB model — the
    * [[bigramScoreSink]] shape applied to the trained router
    * (ops/TextAnalysis.langIdScoreFrom): stream-static joins against
    * the (langs × char-bigram vocabulary)-sized model frame, ZERO
    * cross-batch state (a doc's label depends only on its own chars
    * and the fixed model), per-batch committed output. Spec'd: the
    * union of per-batch outputs equals batch scoring of the union. */
  def langIdScoreSink(docsStream: DataFrame, model: DataFrame, outDir: String,
                      checkpoint: Option[String] = None,
                      availableNow: Boolean = false): StreamingQuery =
    startBatches(docsStream, checkpoint, availableNow) { (batch, batchId) =>
      writeBatchDir(graft.ops.TextAnalysis.langIdScoreFrom(batch, model), outDir, 'b', batchId)
    }

  /** Streaming maintenance of the exact Gram sketch
    * (ops/Similarity.gramPartials) — the TRAIN face of the spectral
    * family over the versioned seam: each micro-batch's bounded partial
    * frame merges into the stored state (pair sums and the n sentinel
    * by SUM, the width sentinels by MIN/MAX per kind), and because the
    * Gram is an order-free integer monoid the state after any batch
    * split is bit-identical to one full corpus scan —
    * Similarity.principalDirectionFromState serves the axis with zero
    * corpus reads (spec'd streamed ≡ batch bit-for-bit). Same versioned
    * idempotent-replay contract as the other merge sinks. */
  def gramStateSink(embStream: DataFrame, stateDir: String,
                    checkpoint: Option[String] = None,
                    availableNow: Boolean = false): StreamingQuery =
    partialStateSink(embStream, stateDir, checkpoint, availableNow)(
      graft.ops.Similarity.gramPartials) { (prev, partial) =>
      prev.unionByName(partial)
        .groupBy("i", "j")
        .agg(sum("v").as("sv"), min("v").as("mnv"), max("v").as("mxv"))
        .select(col("i"), col("j"),
          when(col("i") === -2, col("mnv"))
            .when(col("i") === -3, col("mxv"))
            .otherwise(col("sv")).as("v"))
    }

  /** Streaming maintenance of the IVF-PQ serving index — the streaming
    * face of ops/Similarity.indexIncrement, completing the rolling-ingest
    * family (exact dedup, MinHash band table, and centroid partials all
    * have one; the ANN index was the missing member): each micro-batch is
    * assigned against the FIXED stored centroid/codebook models (a
    * broadcast ≤k·m rows — no retraining, no corpus-sized state touch)
    * and its (vec_id, cell, sub, code) rows are APPENDED to the versioned
    * index. Assignment is per-row, so the state after any prefix of
    * batches is bit-equal to a full [[graft.ops.Similarity.buildIndex]]
    * over the vectors seen so far (spec'd), and
    * [[graft.ops.Similarity.serveFromIndex]] serves top-k straight from
    * the maintained state.
    *
    * The versioning here differs from the merge sinks ON PURPOSE: their
    * state is BOUNDED (vocab/histogram/centroid grain) so rewriting it
    * per batch is cheap, but the ANN index is CORPUS-sized — rewriting
    * it per batch would be O(corpus) per micro-batch. Instead each
    * version dir holds ONLY its batch's appended rows (O(batch) written
    * per batch) and [[annIndexState]] reads the union of committed
    * segments — the log-structured shape a real index maintains, with
    * the same replay safety: a replayed batch overwrites its OWN keyed
    * segment, never a neighbor's. */
  def annIndexStateSink(embStream: DataFrame, stateDir: String,
                        centroids: DataFrame, books: DataFrame, m: Int = 4,
                        checkpoint: Option[String] = None,
                        availableNow: Boolean = false): StreamingQuery =
    startBatches(embStream, checkpoint, availableNow) { (batch, batchId) =>
      writeBatchDir(graft.ops.Similarity.indexIncrement(batch, centroids, books, m),
        stateDir, 'v', batchId)
    }

  /** Streaming maintenance of the near-dup components state — the
    * streaming face of ops/Graph.componentsIncrement, closing the loop on
    * the terminal dedup stage: each micro-batch of near-dup PAIRS (from
    * any generator — the stored-band-table probe of
    * `nearDupIncrementStream` is the natural upstream) merges into the
    * stored (id, comp) frame through the batch-bounded quotient closure,
    * so the corpus is never re-walked as pairs arrive. State is
    * node-bounded (paired nodes only) and versioned with the same
    * idempotent-replay contract as the other merge sinks: a replayed
    * batch merges against its ORIGINAL predecessor, never its own failed
    * output. Spec'd: state after any batch sequence ≡ one full
    * connectedComponents over all pairs seen (merge ≡ recompute). */
  def closureStateSink(pairStream: DataFrame, stateDir: String,
                       checkpoint: Option[String] = None,
                       availableNow: Boolean = false): StreamingQuery =
    mergeStateSink(pairStream, stateDir, checkpoint, availableNow) { (prev, batch) =>
      prev.fold(graft.ops.Graph.connectedComponents(batch))(
        graft.ops.Graph.componentsIncrement(_, batch))
    }

  /** Streaming face of the SemDeDup increment — the semantic-dedup
    * terminal's online maintenance (ops/Similarity.semanticDedupIncrement,
    * which is batch-only): arriving embeddings are pruned against the
    * corpus AS SERVED. The served state — the broadcast exemplar frame
    * and the stored KEPT rows (stored pruned docs never prune) — is
    * computed ONCE from the stored corpus and persisted across
    * micro-batches, never recomputed per batch; each batch is
    * additionally pruned against the EARLIER-ARRIVAL segments (any keep
    * status) and its own smaller-id cellmates, then appends its decision
    * rows (vec_id, center_id, pruned_by, keep, max_cos, v) as version
    * `v<batchId>` — the annIndexStateSink log-structured shape, O(batch)
    * written per batch, with the same replay contract: a replayed batch
    * prunes against segments strictly BELOW its id (its original
    * predecessors, never its own failed output) and overwrites only its
    * own segment.
    *
    * Under monotone id ingest (ids assigned at ingest time — the append
    * log's natural order) the accumulated state after any prefix of
    * batches is ROW-EQUAL to one batch semanticDedupIncrement over the
    * union of those batches (spec'd across straddles, including an
    * in-batch duplicate pair split across micro-batches); under
    * out-of-order ingest the in-flight rule degrades to
    * earlier-arrival-prunes-later, documented here. */
  def semanticDedupStateSink(embStream: DataFrame, stateDir: String,
                             stored: DataFrame, threshold: Double = 0.9,
                             k: Int = 8, checkpoint: Option[String] = None,
                             availableNow: Boolean = false): StreamingQuery = {
    import graft.ops.Similarity
    val centers = Similarity.semanticCenters(stored, k).persist()
    val storedKept = Similarity.semanticKeptOf(
      Similarity.assignToCenters(centers)(stored), threshold).persist()
    storedKept.count() // materialize the served state before batch 0
    startBatches(embStream, checkpoint, availableNow) { (batch, batchId) =>
      val earlier = semanticDedupState(batch.sparkSession, stateDir,
        beforeBatch = batchId).map(_.select("vec_id", "center_id", "v"))
      writeBatchDir(Similarity.semanticDedupIncrementAgainst(
        centers, storedKept, earlier, batch, threshold), stateDir, 'v', batchId)
    }
  }

  /** Union reader over the SemDeDup decision segments: the accumulated
    * (vec_id, center_id, pruned_by, keep, max_cos, v) frame for every
    * embedding that has arrived in batches strictly below `beforeBatch`
    * (tip by default). Reads the newest committed compaction base
    * `c<k>` (if [[compactSemanticDedupState]] has run) plus every
    * segment above it — still one multi-path parquet scan, no merge
    * logic. A `beforeBatch` at or below the base id would need rows the
    * fold can no longer separate — the compactor keeps the newest
    * segment live precisely so the one replayable batch stays above
    * the base, so that call is a contract violation and fails loudly.
    * Retries on vanished paths like [[annIndexState]]. */
  def semanticDedupState(spark: SparkSession, stateDir: String,
                         beforeBatch: Long = Long.MaxValue): Option[DataFrame] =
    segmentState(spark, stateDir, beforeBatch)

  /** Streaming maintenance of the BPE word-count state — the streaming
    * face of ops/Bpe.vocabIncrement, keeping the tokenizer's sufficient
    * statistic current as documents arrive: each micro-batch's word
    * counts merge into the stored (word, n) frame by the count-monoid
    * union + re-aggregate, versioned with the same idempotent-replay
    * contract as the other merge sinks (a replayed batch merges against
    * its ORIGINAL predecessor). A nightly trainFromCounts over the
    * latest state retrains the merge table with ZERO corpus reads —
    * training's input is exactly this state (spec'd: streamed state ≡
    * wordCounts over everything seen, so retrain-from-state ≡ full
    * retrain by the [[graft.ops.Bpe]] algebra). State is
    * distinct-word-bounded, not corpus-bounded. */
  def bpeVocabStateSink(docStream: DataFrame, stateDir: String,
                        checkpoint: Option[String] = None,
                        availableNow: Boolean = false): StreamingQuery =
    mergeStateSink(docStream, stateDir, checkpoint, availableNow) { (prev, batch) =>
      prev.fold(graft.ops.Bpe.wordCounts(batch))(graft.ops.Bpe.vocabIncrement(_, batch))
    }

  /** The maintained ANN index: the newest committed compaction base
    * (`c<k>`, if any) plus every segment committed after it (`v<i>`,
    * i > k) — one multi-path parquet read, so Spark plans ONE scan over
    * all live files, not a per-segment union. None when nothing has
    * committed yet. A reader racing a concurrent compaction re-lists
    * (see [[segmentState]]). */
  def annIndexState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    segmentState(spark, stateDir, Long.MaxValue)

  /** Compact the segmented index log: fold the current state (base +
    * live segments) into ONE consolidated base `c<maxSegmentId>`, then
    * best-effort delete the dirs it supersedes. Crash-safe by marker
    * ordering, never by rename tricks: a `c` dir only counts once its
    * `_SUCCESS` exists (a crash mid-write leaves an ignored partial);
    * until the old dirs are actually deleted readers take the NEWEST
    * base and only segments NEWER than it, so the overlap window reads
    * consistently; a crash mid-delete just leaves garbage the next
    * compaction removes. The stream keeps appending `v<batchId>` dirs
    * with monotone ids, which always sort after the base. At 100 TB
    * this is the nightly job that keeps the segment count — and the
    * reader's file listing — bounded. */
  def compactAnnIndexState(spark: SparkSession, stateDir: String): Unit =
    compactSegments(spark, stateDir, keepNewest = false)

  /** Retention for the ~15 latest-wins snapshot sinks (basket, heavy,
    * hourly, typeTime, scorecard, entropy, calibration, hll, cms,
    * bloom, kmv, warc/tar/zip, quantile, centroid, gram, bpeVocab …):
    * every micro-batch writes a full `v<batchId>` snapshot and only the
    * newest is ever read, so a long-running stream accumulates
    * superseded versions without bound. The sweep deletes committed
    * versions older than the newest `keep` — the ANN compaction's
    * delete discipline generalized to the latest-wins shape (no fold
    * needed: the newest snapshot IS the whole state).
    *
    * Safety, by the same marker-ordering argument as
    * [[compactAnnIndexState]]: readers take the newest committed
    * version, which is always kept; `keep >= 2` (enforced) covers the
    * reader that listed just before a newer version committed AND the
    * one replayable batch under the checkpoint contract (the last,
    * possibly uncommitted-in-checkpoint batch merges against its
    * ORIGINAL predecessor — the newest committed version below it,
    * inside the kept window by construction). Uncommitted dirs (no
    * `_SUCCESS` — an in-flight or crashed write) are never touched; a
    * failed delete is left for the next sweep. Idempotent. At 100 TB
    * this is the same nightly job slot as the index compaction. */
  def sweepVersionedState(spark: SparkSession, stateDir: String, keep: Int = 2): Unit = {
    require(keep >= 2,
      s"sweepVersionedState: keep=$keep < 2 breaks the reader-race and " +
        "replay-predecessor guarantees (see scaladoc)")
    deleteQuietly(spark, stateDir,
      committedStateDirs(spark, stateDir, 'v').dropRight(keep).map(_._2))
  }

  /** Compaction for the SemDeDup decision LOG — the one log-structured
    * state whose reader unions EVERY segment
    * ([[semanticDedupState]]), so an unbounded stream unboundedly
    * grows both the file listing and the per-batch predecessor read.
    * Folds all committed segments EXCEPT THE NEWEST into one base
    * `c<highestFoldedId>` (the state is a row union, so the fold is a
    * rewrite, not a merge), then deletes what the base supersedes.
    *
    * Replay-prunes-against-predecessors SURVIVES the fold: the newest
    * segment stays live because the only batch the checkpoint contract
    * can replay is the newest (or its successor), and a replayed batch
    * k must read strictly below k — with the newest segment unfolded,
    * the base id is always < k, so `beforeBatch = k` reads base + (no
    * newer committed segments below k) = exactly its original
    * predecessors. [[semanticDedupState]] enforces the contract with a
    * loud require. Crash-safe by the [[compactAnnIndexState]] marker
    * ordering. */
  def compactSemanticDedupState(spark: SparkSession, stateDir: String): Unit =
    compactSegments(spark, stateDir, keepNewest = true)

  /** Highest committed state version strictly BELOW `beforeBatch`
    * (so a replayed batch merges against its ORIGINAL predecessor, not
    * its own failed output). Pass Long.MaxValue to read the tip. Shared
    * by every versioned-merge sink (basket stats, heavy-hitter sketch). */
  def latestVersionedState(spark: SparkSession, stateDir: String,
                           beforeBatch: Long = Long.MaxValue): Option[DataFrame] =
    committedStateDirs(spark, stateDir, 'v', beforeBatch).lastOption
      .map(v => spark.read.parquet(v._2.toString))

  // ---- the versioned-state layout (see the object scaladoc) ----

  /** Start `stream` with `body` run on every micro-batch: the one
    * foreachBatch writer behind every sink above — append mode, the
    * optional checkpoint, and AvailableNow when asked. */
  private def startBatches(stream: DataFrame, checkpoint: Option[String],
                           availableNow: Boolean)
                          (body: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) => body(batch, batchId) }
    val ck = checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
    (if (availableNow) ck.trigger(Trigger.AvailableNow()) else ck).start()
  }

  /** The dir of state entry `id` under `dir`: `v<id>` versions and
    * segments, `c<id>` compaction bases, `b<id>` per-batch outputs. */
  private def stateEntry(dir: String, prefix: Char, id: Long): String = s"$dir/$prefix$id"

  /** Write `df` as entry `<prefix><batchId>`, replacing whatever a
    * failed earlier attempt of the same batch left there. */
  private def writeBatchDir(df: DataFrame, dir: String, prefix: Char, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(stateEntry(dir, prefix, batchId))

  /** The latest-wins merge sink: each micro-batch's new state is
    * `step(the newest committed version below the batch, batch)`,
    * written as `v<batchId>`. */
  private def mergeStateSink(stream: DataFrame, stateDir: String,
                             checkpoint: Option[String], availableNow: Boolean)
                            (step: (Option[DataFrame], DataFrame) => DataFrame): StreamingQuery =
    startBatches(stream, checkpoint, availableNow) { (batch, batchId) =>
      writeBatchDir(step(latestVersionedState(batch.sparkSession, stateDir, batchId), batch),
        stateDir, 'v', batchId)
    }

  /** [[mergeStateSink]] for a state that is a monoid over batch
    * partials: the first version is the batch's partial, later ones
    * `merge(prev, partial)`. */
  private def partialStateSink(stream: DataFrame, stateDir: String,
                               checkpoint: Option[String], availableNow: Boolean)
                              (partial: DataFrame => DataFrame)
                              (merge: (DataFrame, DataFrame) => DataFrame): StreamingQuery =
    mergeStateSink(stream, stateDir, checkpoint, availableNow) { (prev, batch) =>
      val p = partial(batch)
      prev.fold(p)(merge(_, p))
    }

  /** Merge by per-key sums: the `keys` columns, then each of `sums`
    * summed under its own name, in that order. */
  private def sumByKey(keys: Seq[String], sums: Seq[String])
                      (prev: DataFrame, partial: DataFrame): DataFrame =
    prev.unionByName(partial)
      .groupBy(keys.map(col): _*)
      .agg(sum(sums.head).as(sums.head), sums.tail.map(c => sum(c).as(c)): _*)

  /** The segmented state: the newest committed base `c<k>` (if any)
    * plus every committed segment `v<i>` with k < i < `beforeBatch`, as
    * one multi-path parquet read.
    *
    * Listing bases and segments are separate filesystem reads, so a
    * reader racing a concurrent compaction can observe the OLD listing
    * but plan AFTER the sweep deleted the folded dirs — read.parquet
    * then fails on a vanished path. The compaction committed a NEWER
    * consistent view before sweeping, so the right response is to
    * re-list and re-plan: the retry lands on the new base. Bounded
    * attempts; anything else (or persistent absence) propagates. */
  @scala.annotation.tailrec
  private def segmentState(spark: SparkSession, stateDir: String, beforeBatch: Long,
                           attempts: Int = 4): Option[DataFrame] =
    Try {
      val base = committedStateDirs(spark, stateDir, 'c').lastOption
      base.foreach { case (bid, _) =>
        require(beforeBatch > bid,
          s"semanticDedupState: beforeBatch=$beforeBatch is not above the " +
            s"compacted base c$bid — only batches newer than the base can " +
            "replay (compactSemanticDedupState keeps the newest segment " +
            "live to guarantee exactly that)")
      }
      val floor = base.fold(Long.MinValue)(_._1)
      val dirs = base.toSeq ++
        committedStateDirs(spark, stateDir, 'v', beforeBatch).filter(_._1 > floor)
      // read.parquet resolves the file listing eagerly, so a vanished
      // dir surfaces HERE (retryable), not at some later action
      if (dirs.isEmpty) None else Some(spark.read.parquet(dirs.map(_._2.toString): _*))
    } match {
      case Failure(e) if attempts > 1 && stateMissingPath(e) =>
        segmentState(spark, stateDir, beforeBatch, attempts - 1)
      case read => read.get
    }

  /** A vanished state dir (a reader racing a compaction/sweep delete)
    * anywhere in a throwable's cause chain — the retryable class the
    * segmented-state reader re-lists on. */
  private def stateMissingPath(e: Throwable): Boolean = e match {
    case null => false
    case _: java.io.FileNotFoundException => true
    case a: org.apache.spark.sql.AnalysisException
      if a.getMessage != null &&
         (a.getMessage.contains("PATH_NOT_FOUND") ||
          a.getMessage.contains("does not exist")) => true
    case other => stateMissingPath(other.getCause)
  }

  /** Fold the segmented log into one base `c<highest folded id>`, then
    * delete what the base supersedes, plus the garbage an interrupted
    * earlier compaction left (superseded bases, segments the current
    * base already folds in). `keepNewest` leaves the newest segment
    * live — SemDeDup's replay window. */
  private def compactSegments(spark: SparkSession, stateDir: String,
                              keepNewest: Boolean): Unit = {
    val bases = committedStateDirs(spark, stateDir, 'c')
    val base = bases.lastOption
    val floor = base.fold(Long.MinValue)(_._1)
    val (folded, segs) = committedStateDirs(spark, stateDir, 'v').partition(_._1 <= floor)
    val stale = (bases.dropRight(1) ++ folded).map(_._2)
    val foldable = if (keepNewest) segs.dropRight(1) else segs
    if (foldable.isEmpty) deleteQuietly(spark, stateDir, stale)
    else {
      val live = (base.toSeq ++ foldable).map(_._2)
      spark.read.parquet(live.map(_.toString): _*)
        .write.mode("overwrite").parquet(stateEntry(stateDir, 'c', foldable.last._1))
      // the new base is committed; everything it folded in is garbage
      deleteQuietly(spark, stateDir, live ++ stale)
    }
  }

  /** Best-effort recursive delete: a failed delete is left for the next
    * compaction or sweep. */
  private def deleteQuietly(spark: SparkSession, stateDir: String, paths: Seq[Path]): Unit = {
    val fs = new Path(stateDir).getFileSystem(spark.sessionState.newHadoopConf())
    paths.foreach { p =>
      try { fs.delete(p, true); () }
      catch { case _: java.io.IOException => () }
    }
  }

  /** All committed (`_SUCCESS`-marked) `<prefix><id>` dirs under
    * `stateDir` with id strictly below `beforeBatch`, ascending by id:
    * the one listing behind versions and segments (`v`) and compaction
    * bases (`c`). Hadoop-FS resolved, so it works wherever the state
    * lives (s3a/HDFS/local). */
  private def committedStateDirs(spark: SparkSession, stateDir: String, prefix: Char,
                                 beforeBatch: Long = Long.MaxValue): Seq[(Long, Path)] = {
    val path = new Path(stateDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .flatMap { p =>
        val id = p.getName.drop(1)
        // nonEmpty: a dir named bare "v" must not NumberFormatException
        // the whole state listing
        if (p.getName.startsWith(prefix.toString) && id.nonEmpty && id.forall(_.isDigit) &&
            fs.exists(new Path(p, "_SUCCESS")))
          Some(id.toLong -> p)
        else None
      }
      .filter(_._1 < beforeBatch)
      .sortBy(_._1)
  }
}
