package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.cdc.Change

/** Streaming operators that compose with the `cdc-log` source
  * ([[CdcLogSourceProvider]]): the typed change decode, the keyed
  * materialized view, the stateless m18 alignment filter, and the
  * foreachBatch stores that maintain a standing result across
  * micro-batches — the text and image near-dup closures (absorb
  * store) and the hourly delta rollup. Beside them, the
  * first-generation event and document twins: watermarked windows,
  * sessions and dedup, keyed latest-state and funnel state, the
  * stream-static and stream-stream joins, the LSH near-dup,
  * standing-index dedup and LM-score joins, and the stateless ingest
  * projections and sketches. All are plan-builders over unbounded
  * DataFrames (`readStream` inputs); they run identically on bounded
  * frames, which is how the specs pin them to their batch forms.
  *
  * Scale notes (100 TB): keyed state is keyed by a high-cardinality
  * column (primary key, user_id), so it distributes across executors;
  * watermarks bound windowed and join state; the stores are versioned
  * single-writer parquet directories whose per-batch work is
  * delta-sized.
  */
object StreamOps {

  /** Log rows (Change.logSchema) → typed change records: the micro-batch
    * engine's decode ([[Change.fromLog]]). */
  def changes(logRows: DataFrame, subsecTimestamps: Boolean = true): Dataset[Change] =
    Change.fromLog(logRows, subsecTimestamps)

  /** One row of the streaming materialized view: the newest change for
    * one primary key. `after` null (DELETE) means the row is gone.
    * `pk` is the canonical JSON encoding of the key tuple, e.g.
    * `{"a":"1","b":"23"}` — unambiguous for composite keys. */
  case class KeyState(pk: String, id: Long, operation: String,
      after: Option[String])

  /** Streaming materialized view of a monitored table (the streaming
    * twin of [[graft.cdc.ChangeViews.materialize]]): keyed state holds
    * the newest (by log id) change per primary key; each micro-batch
    * emits the keys it changed — an Update-mode current-state stream a
    * sink can upsert from. PK values are extracted from the JSON images
    * (after, else before for DELETEs), so this works on the raw log
    * stream without a typed decode. State is O(live keys), distributed
    * by key.
    *
    * CHECKPOINT COMPATIBILITY: the state key encoding changed from a
    * bare concat of pk values to the JSON tuple (the concat collapsed
    * composite keys). A query restarted from a checkpoint written by
    * the old encoding would carry both keyings side by side — stale
    * concat-keyed entries are never updated again while new rows key
    * under the JSON form. Restart such views from a fresh checkpoint
    * (replay the log; the view is deterministic from it).
    * @param pkCols primary-key column names inside the row images */
  def materializedView(logRows: DataFrame, table: String,
      pkCols: Seq[String]): Dataset[KeyState] = {
    require(pkCols.nonEmpty, "materializedView needs explicit pk columns")
    implicit val ke: org.apache.spark.sql.Encoder[KeyState] = Encoders.product[KeyState]
    implicit val sk: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    implicit val tk: org.apache.spark.sql.Encoder[(String, Long, String, Option[String])] =
      Encoders.product[(String, Long, String, Option[String])]
    val img = coalesce(col("after"), col("before"))
    // Key = to_json(struct(pk values)): a canonical, collision-free
    // encoding (concat-style keys collapse ("1","23") with ("12","3")).
    // A null/missing pk field can't be keyed -- the row would silently
    // merge into a wrong state entry -- so it fails the query loudly.
    val pk = to_json(struct(pkCols.map { c =>
      val v = get_json_object(img, s"$$.$c")
      when(v.isNull, raise_error(concat(
        lit(s"materializedView: null or missing pk field '$c' in image: "),
        coalesce(img, lit("null"))))).otherwise(v).as(c)
    }: _*))
    logRows.filter(col("tablename") === table)
      .select(pk.as("_1"), col("id").as("_2"), col("operation").as("_3"),
        col("after").as("_4"))
      .as[(String, Long, String, Option[String])]
      .groupByKey(_._1)
      .mapGroupsWithState[KeyState, KeyState](GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[(String, Long, String, Option[String])],
         state: GroupState[KeyState]) =>
          val newest = batch.maxBy(_._2)
          val cand = KeyState(key, newest._2, newest._3,
            if (newest._3 == graft.cdc.Operation.Delete.name) None else newest._4)
          val next = state.getOption match {
            case Some(c) if c.id >= cand.id => c // stale replay, keep newer
            case _ => cand
          }
          state.update(next)
          next
      }
  }

  /** Tumbling 1-hour event-time aggregation with a watermark (streaming
    * e1). Late rows beyond `lateness` are dropped and their window state
    * evicted — bounded state, unbounded stream. Exact COUNT DISTINCT is
    * unbounded-state on a stream, so the user count is
    * `approx_count_distinct` (HLL++) — the standard streaming trade; the
    * batch twin (Events.e1) stays exact. */
  def hourlyAgg(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("n_users"))
      .select(
        unix_timestamp(col("window.start")).as("hour_s"),
        col("event_type"), col("n_events"), col("n_users"))

  /** Session windows per user with a 30-min inactivity gap (streaming
    * e2) — `session_window` merges adjacent state natively; no
    * gaps-and-islands window pass needed on a stream. */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_timestamp(col("session_window.start")).as("start_s"),
        unix_timestamp(col("session_window.end")).as("end_s"),
        col("n_events"))

  /** Exact streaming dedup: first occurrence of each key wins; duplicate
    * state is evicted once the event time passes the watermark
    * (`dropDuplicatesWithinWatermark` — dedup with bounded state). */
  def dedupExact(rows: DataFrame, keyCols: Seq[String],
      tsCol: String = "ts", lateness: String = "1 hour"): DataFrame =
    rows.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Input/state/output records for [[latestState]]. */
  case class KeyedEvent(user_id: Long, event_id: Long, event_type: String,
      ts: java.sql.Timestamp)
  case class LatestState(user_id: Long, last_event_id: Long,
      last_event_type: String, last_s: Long)

  /** Event time in µs — the batch queries' `unix_micros`. Millis are not
    * enough: the corpus ships µs precision, so a millis sort key would
    * fold same-millisecond siblings out of batch order. */
  private[graft] def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Latest state per key as explicit keyed state (streaming e5 — the
    * CDC "current state" materialization, SURVEY.md §2.5):
    * `mapGroupsWithState` keeps one record per user and emits the
    * updated value each micro-batch. Use Update-mode sinks. */
  def latestState(events: Dataset[KeyedEvent]): Dataset[LatestState] = {
    implicit val le: org.apache.spark.sql.Encoder[LatestState] = Encoders.product[LatestState]
    implicit val lk: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[LatestState, LatestState](GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[KeyedEvent], state: GroupState[LatestState]) =>
          val newest = batch.maxBy(e => (e.ts.getTime, e.event_id))
          val cand = LatestState(user, newest.event_id, newest.event_type,
            newest.ts.getTime / 1000L)
          val next = state.getOption match {
            case Some(c) if c.last_s > cand.last_s ||
                (c.last_s == cand.last_s && c.last_event_id >= cand.last_event_id) => c
            case _ => cand
          }
          state.update(next)
          next
      }
  }

  /** Per-user funnel state for [[funnelStages]]. */
  case class FunnelState(t1: Long, t2: Long, t3: Long) // 0 = not reached
  case class StageReached(user_id: Long, stage: Int, at_s: Long)

  /** Streaming funnel (continuous e6): a per-user state machine over
    * `flatMapGroupsWithState` — the one stateful shape windows can't
    * express, because a stage transition depends on which stages
    * already fired. Emits one record per newly-reached stage (click →
    * view within 24h → purchase within 24h), zero or many outputs per
    * input batch — hence flatMap, not map. State is three epoch
    * seconds per user; at 100 TB state distributes by user_id and
    * stays O(users), not O(events). */
  def funnelStages(events: Dataset[KeyedEvent]): Dataset[StageReached] = {
    implicit val se: org.apache.spark.sql.Encoder[StageReached] =
      Encoders.product[StageReached]
    implicit val fe: org.apache.spark.sql.Encoder[FunnelState] =
      Encoders.product[FunnelState]
    implicit val ke: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    val h24 = 24L * 3600L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageReached](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[KeyedEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[StageReached]
          batch.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val ts = e.ts.getTime / 1000L
            e.event_type match {
              case "click" if st.t1 == 0L =>
                st = st.copy(t1 = ts); out += StageReached(user, 1, ts)
              case "view" if st.t1 > 0L && st.t2 == 0L &&
                  ts > st.t1 && ts <= st.t1 + h24 =>
                st = st.copy(t2 = ts); out += StageReached(user, 2, ts)
              case "purchase" if st.t2 > 0L && st.t3 == 0L &&
                  ts > st.t2 && ts <= st.t2 + h24 =>
                st = st.copy(t3 = ts); out += StageReached(user, 3, ts)
              case _ => ()
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Stream-static enrichment join (SURVEY.md §2.3): each change/event
    * enriched against a dimension table. The dimension is broadcast —
    * the streaming side never shuffles, so this scales with stream
    * parallelism alone. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join (streaming e4 — purchase attribution):
    * each purchase joined to the same user's clicks within the
    * preceding `window`. Both sides carry watermarks and the join
    * condition bounds click time relative to purchase time, so each
    * side's buffered state is evicted once the other side's watermark
    * passes the interval — bounded state over two unbounded streams.
    * Inner join → Append-mode sinks. At scale both streams shuffle on
    * user_id once; the interval predicate prunes state, not rows. */
  def attribute(clicks: DataFrame, purchases: DataFrame,
      window: String = "1 hour", lateness: String = "1 hour"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
      col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", lateness)
    val p = purchases.select(col("user_id").as("p_user"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", lateness)
    c.join(p,
      col("c_user") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $window"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"), col("click_ts"), col("purchase_ts"))
  }

  /** Streaming e12 — MULTI-TOUCH attribution over one event stream:
    * the clicks and purchases sides are two filters of the same
    * unbounded frame (a stream-stream SELF-join), each watermarked,
    * joined by the SHARED interval-join core
    * [[graft.operators.Events.attributionJoin]] — the identical
    * builder the batch e12 query runs, so batch ≡ stream is by
    * construction and the replay spec only pins that Spark's state
    * eviction didn't drop rows. The join condition bounds click time
    * both ways relative to purchase time, so both sides' buffered
    * state is evicted as watermarks advance. Inner join → Append. */
  def attributionStream(events: DataFrame, lateness: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", lateness)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", lateness)
    graft.operators.Events.attributionJoin(clicks, purchases)
  }

  /** Streaming near-dup candidate pairs (streaming d3): each arriving
    * document is MinHash-signed with the SAME staged pipeline the batch
    * dedup uses (TextOps kernels), exploded to LSH band keys, and
    * self-joined on band key — a watermarked stream-stream join, so a
    * new document pairs with every document that shared a band within
    * the `horizon`. Band-key state is evicted past the watermark:
    * unbounded corpus, bounded state. Emits (a, b, band) candidate
    * pairs; exact verification (Jaccard) is the consumer's rerank step,
    * as in the batch pipeline.
    *
    * Expects columns (doc_id, text, ts). At 100 TB horizon-scoped
    * near-dup is the standard streaming trade — full-corpus dedup runs
    * as the batch job; this catches arrivals near-duplicating recent
    * history (the common spam/boilerplate case). */
  def nearDupCandidates(docs: DataFrame, horizon: String = "1 hour"): DataFrame = {
    import graft.operators.TextOps
    def signed(side: String) = docs
      .select(col("doc_id"), col("ts"), TextOps.words(col("text")).as("ws"))
      .select(col("doc_id"), col("ts"), TextOps.shingles3(col("ws")).as("sh"))
      .select(col("doc_id"), col("ts"), TextOps.shingleHash32(col("sh")).as("hh"))
      // sig staged as an attribute: lshBands' lambda re-reads its
      // input per band, which must be a column, not the minhash kernel
      .select(col("doc_id"), col("ts"),
        TextOps.minhashFromHashes(col("hh"), 12).as("sig"))
      .select(col("doc_id"), col("ts"),
        TextOps.lshBands(col("sig"), 6, 2).as("bands"))
      .select(col("doc_id").as(s"${side}_id"), col("ts").as(s"${side}_ts"),
        explode(col("bands")).as(s"${side}_band"))
      .withWatermark(s"${side}_ts", horizon)
    signed("a").join(signed("b"),
      col("a_band") === col("b_band") &&
        col("a_id") < col("b_id") &&
        col("b_ts") >= col("a_ts") - expr(s"INTERVAL $horizon") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $horizon"))
      .select(col("a_id").as("a"), col("b_id").as("b"),
        col("a_band").as("band"))
    // NOTE: no distinct() — deduping pairs on an unbounded stream would
    // grow state forever; a pair agreeing on k bands emits k rows and
    // the consumer's rerank naturally collapses them.
  }

  /** Streaming incremental dedup (streaming d8): each arriving
    * document is MinHash-signed with the batch pipeline's constants and
    * joined against the STANDING corpus postings index
    * ([[graft.operators.Dedup.corpusPostings]], read back from storage)
    * — ingest-time duplicate admission against the full historical
    * corpus, the stream-static complement of [[nearDupCandidates]]'
    * within-horizon stream-stream join (which covers new×new; this
    * covers new×corpus). STATELESS: no watermark, no state store —
    * a stream-static inner join plus narrow projections, so corpus
    * size never touches stream state. A pair agreeing on k bands
    * emits k rows (no stream-side distinct — that would be unbounded
    * state); the consumer's rerank collapses them, as in batch.
    * Replay-equivalent to the batch d8 cross pairs (spec-pinned). */
  def incrementalDedupStream(docs: DataFrame, postings: DataFrame): DataFrame = {
    import graft.operators.{Dedup, TextOps}
    val signed = docs
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .select(col("doc_id"), TextOps.shingles3(col("ws")).as("sh"))
      .select(col("doc_id"), TextOps.shingleHash32(col("sh")).as("hh"))
      .select(col("doc_id"),
        TextOps.minhashFromHashes(col("hh"), Dedup.MinhashK).as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(TextOps.lshBands(col("sig"), Dedup.LshBandsN, Dedup.LshRows))
          .as(Seq("band_idx", "band_key")))
    signed.join(postings, Seq("band_idx", "band_key"))
      .select(col("doc_id").as("new_doc"), col("sig"),
        explode(col("docs")).as("dc"))
      .select(col("new_doc"), col("dc.doc_id").as("corpus_doc"),
        aggregate(zip_with(col("sig"), col("dc.sig"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("n_sig_match"))
  }

  /** Streaming LM scoring (streaming x13): each arriving document is
    * scored against a STATIC unigram model
    * ([[graft.operators.TextAnalysis.lmModel]], read back from storage)
    * — ingest-time fluency filtering with the same e4 fixed-point
    * Laplace log10-probabilities as the batch scorer, emitted when the
    * watermark closes the arrival window. Replay-equivalent to batch
    * [[graft.operators.TextAnalysis.lmScore]] per doc (spec-pinned).
    *
    * Scale notes: the model is vocabulary-sized — a stream-static LEFT
    * join Spark broadcasts per micro-batch (no join state); the only
    * state is the windowed per-doc aggregate, bounded by the watermark.
    * The totals (t, v) are aggregated once from the static model at
    * query build — one tiny driver job, not per-batch work. */
  def lmScoreStream(docs: DataFrame, model: DataFrame,
      window: String = "1 hour", lateness: String = "1 hour"): DataFrame = {
    import graft.operators.{TextAnalysis, TextOps}
    val Seq(t, v) = model
      .agg(coalesce(sum(col("c")), lit(0L)), count(lit(1))).collect()
      .headOption.map(r => Seq(r.getLong(0), r.getLong(1)))
      .getOrElse(Seq(0L, 0L))
    val tok = docs.select(col("doc_id"), col("ts"),
        explode(TextOps.words(col("text"))).as("w"))
      .withWatermark("ts", lateness)
    tok.join(broadcast(model), Seq("w"), "left")
      .withColumn("lp_e4", TextAnalysis.lpE4(col("c"), lit(t), lit(v)))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_oov"),
        TextOps.idiv(sum(col("lp_e4")), count(lit(1))).as("mean_lp_e4"))
      .select(col("doc_id"), col("n_tok"), col("n_oov"), col("mean_lp_e4"))
  }

  /** Streaming PII scan + scrub (streaming x12): every arriving
    * document gets the batch scorer's PII signal columns at ingest —
    * the scrub-before-store shape a privacy pipeline needs (the raw
    * text should never land in the lake unredacted). Literally the
    * batch library form applied to the stream:
    * [[graft.operators.TextAnalysis.piiSignals]] is a stateless narrow
    * projection, so it is valid on an unbounded frame with NO
    * watermark, NO state store, and per-row (not per-window) latency —
    * the cheapest class of streaming operator. Batch-stream equivalence
    * is definitional (same expression tree) and spec-pinned anyway. */
  def piiScrubStream(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.piiSignals(docs)

  /** Streaming x26: the Count-Min Sketch maintained CONTINUOUSLY over
    * an unbounded token stream — the canonical streaming use of a
    * mergeable sketch. The custom `TypedImperativeAggregate`
    * ([[graft.functions.CmsAggExpr]]) runs as a streaming global
    * aggregation: the state store persists exactly the serialized
    * 8 KB counter buffer, and each micro-batch's partial sketch is
    * MERGED into it — the same associative+commutative elementwise
    * sum that makes the batch result partitioning-independent makes
    * the streaming result replay-chunking-independent (batch ≡ stream
    * bit-for-bit, spec-pinned). Complete output mode; constant state
    * regardless of stream length or vocabulary growth — the property
    * that makes sketches THE frequency structure for streams (an
    * exact streaming groupBy(token) grows state with the vocabulary).
    * Counting sketches require exactly-once input (a redelivered
    * token double-counts): run behind the engine's ack/dedup front
    * ([[dedupExact]] / the CDC log's exactly-once absorption), the
    * same contract deltaAggStream documents. */
  def cmsStream(docs: DataFrame): DataFrame =
    docs
      .select(explode(graft.operators.TextOps.words(col("text"))).as("w"))
      .select(graft.operators.TextAnalysis.cmsHashes(col("w")).as("hs"))
      .groupBy()
      .agg(graft.functions.GraftFunctions.cms_sketch(col("hs"),
        graft.operators.TextAnalysis.CmsDepth,
        graft.operators.TextAnalysis.CmsWidth).as("cms"))

  /** Streaming x36: the HyperLogLog registers maintained CONTINUOUSLY
    * — per-source distinct-shingle cardinality over an unbounded doc
    * stream, the [[cmsStream]] shape (streaming grouped aggregation:
    * the state store persists exactly the serialized m-long register
    * buffer per source; each micro-batch's partial sketch merges in;
    * Complete mode; constant state regardless of vocabulary growth)
    * with the one property counting sketches cannot have: MAX-merge is
    * IDEMPOTENT, so at-least-once REDELIVERY leaves the registers
    * unchanged — this twin needs NO exactly-once fence at all
    * (spec-pinned by replaying chunks duplicated), where cmsStream
    * documents a mandatory dedup/ack front. */
  def hllStream(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        graft.operators.TextOps.words(col("text")).as("ws"))
      .select(col("source"),
        explode(graft.operators.TextOps.shingles3(col("ws"))).as("g"))
      .select(col("source"),
        graft.operators.TextAnalysis.hllHash(col("g")).as("h"))
      .groupBy(col("source"))
      .agg(graft.functions.GraftFunctions.hll_sketch(col("h"),
        graft.operators.TextAnalysis.HllM).as("regs"))

  /** Streaming x25: canonical normalization at INGEST — NFC (the
    * native expression), newline/control/whitespace canonicalization
    * the moment text lands, BEFORE any hash-addressed stage sees it
    * (the batch scaladoc's argument, applied at the door). Stateless
    * narrow projection: no watermark, no state store, per-row latency
    * — the piiScrubStream class; batch ≡ stream definitional (same
    * expression tree) and spec-pinned on bounded replay. */
  def normalizeStream(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.normalizeDocs(docs)

  /** Streaming x24: the Gopher rule battery at INGEST — every arriving
    * document gets its quality verdict before storage, so a
    * quality-gated topic can drop failures at the door instead of in
    * a nightly sweep. Same stateless class as [[normalizeStream]]. */
  def gopherStream(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.gopherRules(docs)

  /** Streaming x31: CONTEXT-WINDOW CHUNKING at ingest — each arriving
    * document splits into its stride-overlapped training windows the
    * moment it lands (the stage in front of a streaming embedder or a
    * chunk-grain store), with the batch geometry verbatim. Stateless
    * narrow generate ([[normalizeStream]]'s class): no watermark, no
    * state store — batch ≡ stream definitional and spec-pinned with
    * the zero-state assertion. */
  def chunkStream(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.chunkDocs(docs,
      graft.operators.TextAnalysis.ChunkWords,
      graft.operators.TextAnalysis.ChunkStride)


  /** Streaming m2: REAL media decode at INGEST — every arriving
    * document's payload is decoded (the javax.imageio PNG round-trip
    * of [[graft.operators.Multimodal.decodeFeatures]]) the moment it
    * lands, the decode-before-store shape a multimodal lake needs.
    * Same class as [[piiScrubStream]]: a stateless per-partition map —
    * valid on an unbounded frame with NO watermark, NO state store,
    * per-row latency; the per-partition codec init amortizes per
    * micro-batch task exactly as it does per batch task.
    * Batch-stream equivalence is definitional (same function) and
    * spec-pinned on bounded replay anyway. */
  def decodeStream(ids: org.apache.spark.sql.Dataset[Long]): DataFrame =
    graft.operators.Multimodal.decodeFeatures(ids)

  /** Streaming m5: the audio twin of [[decodeStream]] — the real WAV
    * codec ([[graft.operators.Multimodal.decodeAudioFeatures]]) run at
    * ingest. Same stateless per-partition-map class: no watermark, no
    * state store, batch ≡ stream by construction. */
  def audioDecodeStream(ids: org.apache.spark.sql.Dataset[Long]): DataFrame =
    graft.operators.Multimodal.decodeAudioFeatures(ids)

  /** Streaming m18: CLIP-score alignment filtering at INGEST — the
    * decode+histogram stage
    * ([[graft.operators.Multimodal.imgHistogram]], a stateless
    * per-partition codec map) joined stream-static against the
    * text-side fold (a narrow standing projection of the embedding
    * corpus, [[graft.operators.Multimodal.textFold]]). No watermark,
    * no state store — each arriving image's keep decision emits within
    * its micro-batch; batch ≡ stream pinned on chunked replay. */
  def alignFilterStream(ids: org.apache.spark.sql.Dataset[Long],
      txtFold: DataFrame): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.alignScores(Multimodal.imgHistogram(ids), txtFold)
  }

  /** Prefixed store directories `dir/<prefix>{batchId}`. */
  private def prefixedDirs(s: org.apache.spark.sql.SparkSession,
      dir: String, prefix: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Nil
    else fs.listStatus(path).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .flatMap(p => scala.util.Try(
        p.getName.drop(prefix.length).toLong).toOption.map(_ -> p))
  }

  /** Versioned single-writer store directories `dir/v{batchId}` —
    * the absorb stores' full bases and the delta-agg rollup. */
  private def versionDirs(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, org.apache.hadoop.fs.Path)] =
    prefixedDirs(s, dir, "v")

  /** Delete every base `dir/v<n>` with n < id except the newest: a
    * concurrent reader that listed that prior base must be able to
    * finish its lazy scan, so it keeps one cycle of grace. */
  private def prunePriorVersions(s: org.apache.spark.sql.SparkSession,
      dir: String, id: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    versionDirs(s, dir).filter(_._1 < id)
      .sortBy(_._1).dropRight(1)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** Streaming d6: the TEXT near-dup cluster resolution maintained
    * CONTINUOUSLY: because [[graft.operators.Components.absorb]]
    * does delta-sized work, EVERY batch writes an exact successor
    * resolution (no wholesale re-resolve, ever). Per micro-batch:
    *
    *  1. the batch's 32-bit SimHash signatures compute (the d5 sig
    *     stage, a narrow map + barrier);
    *  2. candidate pairs TOUCHING the batch generate against the
    *     standing signature log's identity keys
    *     ([[graft.operators.Dedup.simhashIncrementalPairs]] — the
    *     batch side carries the 33-key hamming balls, exact within
    *     hamming ≤ 1 by d5's pigeonhole);
    *  3. the pairs absorb into the prior version's (id, rep) closure
    *     — old-old connectivity is already encoded there, so the rep
    *     graph is batch-sized;
    *  4. the successor resolution writes as an immutable version
    *     (staged rename), signatures append to the standing log.
    *
    * Chunked in-order replay therefore reproduces batch d6 exactly
    * (spec-pinned), and [[textClusters]] reads d6's schema back at
    * any point. At warehouse scale the signature log is the standing
    * d8-style index (bucketed by identity key) and the resolution is
    * the `graft_textcomp` standing table this stream is the
    * maintainer of.
    *
    * Cost shape, stated honestly: the RESOLUTION work per batch is
    * delta-sized (absorb's contract) and the standing side is only
    * scanned (three broadcast probes + the remap, zero exchanges).
    * The WRITE amplification is the `compactEvery` knob
    * ([[absorbIntoStore]]): the default (1) rewrites the full base
    * per batch (~16 B/doc sequential, no shuffle — the remap feeds
    * the write directly); `> 1` writes DELTA-sized logs
    * ([[graft.operators.Components.absorbDelta]]'s changed ∪ fresh
    * rows) between full bases, trading the rewrite for a
    * newest-per-id fold at read time — the high-frequency warehouse
    * posture. Either way compaction is a PURE rewrite: the
    * resolution is never recomputed from pairs.
    *
    * Redelivery (at-least-once): a complete version is trusted and
    * never rebuilt; a crashed attempt re-reads the prior sig log
    * EXCLUDING its own re-appended ids and rebuilds identically. */
  def textDedupIngest(docs: DataFrame, storeDir: String,
      compactEvery: Int = 1):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        textDedupAbsorb(batch.toDF(), storeDir, id, compactEvery)
        ()
      }

  /** One batch absorbed into the standing text resolution (see
    * [[textDedupIngest]]), idempotent under redelivery.
    * `compactEvery = 1` (the default) writes a FULL base per batch;
    * `> 1` writes DELTA logs between bases — see [[absorbIntoStore]]. */
  private[graft] def textDedupAbsorb(batch: DataFrame, storeDir: String,
      id: Long, compactEvery: Int = 1): Unit = {
    import graft.operators.Dedup
    val s = batch.sparkSession
    absorbIntoStore(s, storeDir, id, compactEvery) {
      val sigs = Dedup.simhashSigs(
        batch.select(col("doc_id"), col("text"))).localCheckpoint()
      // the standing log BEFORE this batch: a crashed earlier attempt
      // may already have appended this batch's rows — exclude by id,
      // so the rebuild bases on the identical prior state
      val prior = textDedupSigs(s, storeDir)
        .join(sigs.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      sigs.write.mode("append").parquet(s"$storeDir/sigs")
      (sigs.select(col("doc_id").as("id")),
        Dedup.simhashIncrementalPairs(prior, sigs).select(col("a"), col("b")))
    }
  }

  /** The shared absorb-store writer behind [[textDedupAbsorb]] and
    * [[imgDedupAbsorb]]. Layout: `v<id>/resolved` FULL bases,
    * `d<id>/resolved` DELTA logs (changed ∪ fresh rows only —
    * [[graft.operators.Components.absorbDelta]]); the current
    * resolution is [[resolutionView]]'s newest-per-id fold of the
    * newest base plus the deltas after it. A compaction batch
    * (`(id+1) % compactEvery == 0`) absorbs into a FULL successor
    * base — a pure rewrite, the resolution work itself is still the
    * delta-sized absorb — and prunes the folded deltas plus all but
    * the newest prior base; delta batches write only their
    * delta-sized log. `build` runs ONLY when the batch's target dir
    * is absent (its side effects — the sig/hash append — are the
    * crash-excluded kind) and returns (newIds, pairs).
    *
    * Redelivery: a complete target (base or delta) is trusted and
    * never rebuilt; a crashed attempt rebuilds against the identical
    * view (`before = id` bounds it, and batches commit in order so
    * nothing older than the newest base ever replays). */
  private[graft] def absorbIntoStore(s: org.apache.spark.sql.SparkSession,
      storeDir: String, id: Long, compactEvery: Int)
      (build: => (DataFrame, DataFrame)): Unit = {
    require(compactEvery > 0, "compactEvery must be positive")
    import graft.operators.Components
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val compactBatch = (id + 1) % compactEvery == 0
    val target = new org.apache.hadoop.fs.Path(
      s"$storeDir/${if (compactBatch) "v" else "d"}$id")
    if (!fs.exists(target)) {
      val (newIds, pairs) = build
      // in delta mode the view is a multi-frame newest-per-id FOLD (a
      // standing-sized shuffle) — materialize it once, or absorb's
      // several standing subtrees (the checkpointed endpoint probe
      // plus the final write) re-run the fold ≥2× per batch. The
      // default mode's view is a single base frame (no deltas ever
      // exist) — a pure scan absorb streams three times for free.
      val view = resolutionView(s, storeDir, before = id)
      val standing = if (compactEvery > 1) view.localCheckpoint() else view
      val out =
        if (compactBatch) Components.absorb(standing, newIds, pairs)
        else Components.absorbDelta(standing, newIds, pairs)
      val stage = new org.apache.hadoop.fs.Path(
        s"$storeDir/.stage_${target.getName}")
      fs.delete(stage, true)
      out.write.mode("overwrite").parquet(s"$stage/resolved")
      require(fs.rename(stage, target), s"rename $stage -> $target failed")
    }
    if (compactBatch) {
      // v<id> folds everything ≤ id, but spent deltas get ONE
      // compaction cycle of grace before deletion: a concurrent
      // reader that listed the old base+deltas must be able to finish
      // its lazy scan (the keep-one-prior policy bases already have,
      // extended to deltas). Deltas ≤ the newest PRIOR base are a
      // full cycle stale — no live view reads them — and go now; the
      // just-folded ones go at the NEXT compaction. Idempotent.
      val priorBase = versionDirs(s, storeDir).filter(_._1 < id)
        .map(_._1).sorted.lastOption.getOrElse(-1L)
      deltaDirs(s, storeDir).filter(_._1 <= priorBase)
        .foreach { case (_, p) => fs.delete(p, true) }
      prunePriorVersions(s, storeDir, id)
    }
  }

  /** Delta-log directories `dir/d{batchId}` (see [[absorbIntoStore]]). */
  private def deltaDirs(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, org.apache.hadoop.fs.Path)] =
    prefixedDirs(s, dir, "d")

  /** The store's current (id, rep) resolution: the newest base below
    * `before` plus every delta log after it, folded newest-per-id
    * (struct-max on the version ordinal — an id appears once per dir,
    * so the fold is exact). Empty before the first batch. */
  private[graft] def resolutionView(s: org.apache.spark.sql.SparkSession,
      dir: String, before: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("rep", LongType)))
    val bases = versionDirs(s, dir).filter(_._1 < before)
    val base = if (bases.isEmpty) None else Some(bases.maxBy(_._1))
    val live = deltaDirs(s, dir).filter(_._1 < before)
      .filter(d => base.forall(d._1 > _._1)).sortBy(_._1)
    val frames = (base.toSeq ++ live).map { case (v, p) =>
      s.read.schema(schema).parquet(s"$p/resolved")
        .withColumn("v", lit(v))
    }
    if (frames.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema)
    else if (frames.size == 1) frames.head.select(col("id"), col("rep"))
    else frames.reduce(_.unionByName(_))
      .groupBy(col("id"))
      .agg(max(struct(col("v"), col("rep"))).as("t"))
      .select(col("id"), col("t.rep").as("rep"))
  }

  /** The standing signature log (doc_id, bits), dedup'd for
    * at-least-once re-appends — empty before the first batch. */
  private[graft] def textDedupSigs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("bits", LongType)))
    val p = new org.apache.hadoop.fs.Path(s"$dir/sigs")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      s.read.schema(schema).parquet(p.toString).dropDuplicates("doc_id")
    else s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The current standing text resolution in batch d6's exact schema
    * (doc_id, cluster_rep, is_canonical) — the [[resolutionView]]
    * fold, so it is exact in BOTH store modes (full bases and
    * base+delta logs). Empty before the first batch. */
  def textClusters(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    resolutionView(s, dir)
      .select(col("id").as("doc_id"), col("rep").as("cluster_rep"),
        when(col("id") === col("rep"), 1L).otherwise(0L).as("is_canonical"))

  /** Streaming m14: the IMAGE closure maintained continuously —
    * [[textDedupIngest]]'s absorb discipline on the MIH blocker: each
    * micro-batch decodes+hashes its images (the real PNG codec in a
    * stateless per-partition map), generates near-dup pairs TOUCHING
    * the batch against the standing hash log (the m8 probe join —
    * exact within [[graft.operators.Multimodal.M7MaxHamming]] by the
    * 4-band pigeonhole), absorbs them into the prior (id, rep)
    * closure, and writes an exact successor resolution. With
    * [[textDedupIngest]], every modality closure now has BUILD
    * (batch m14/d6), STAND (the `graft_mm_*`/`graft_textcomp`
    * warehouse tables) and MAINTAIN (these twins) forms — and
    * [[crossModalManifest]] composes the two standing stores into
    * m17's manifest at read time. */
  def imgDedupIngest(ids: org.apache.spark.sql.Dataset[Long],
      storeDir: String, compactEvery: Int = 1):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ids.toDF("doc_id").writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        imgDedupAbsorb(batch.toDF(), storeDir, id, compactEvery)
        ()
      }

  /** One batch absorbed into the standing image resolution, idempotent
    * under redelivery ([[textDedupAbsorb]]'s discipline verbatim,
    * including the `compactEvery` base/delta store modes). */
  private[graft] def imgDedupAbsorb(batch: DataFrame, storeDir: String,
      id: Long, compactEvery: Int = 1): Unit = {
    import graft.operators.Multimodal
    val s = batch.sparkSession
    import s.implicits._
    absorbIntoStore(s, storeDir, id, compactEvery) {
      val hs = Multimodal.imgHash(
        batch.select(col("doc_id")).as[Long]).localCheckpoint()
      val prior = imgDedupHashes(s, storeDir)
        .join(hs.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      hs.write.mode("append").parquet(s"$storeDir/hashes")
      (hs.select(col("doc_id").as("id")),
        Multimodal.imgNearDupIncremental(prior, hs).select(col("a"), col("b")))
    }
  }

  /** The standing image-hash log ([[graft.operators.Multimodal.ImgHash]]
    * schema), dedup'd for at-least-once re-appends. */
  private[graft] def imgDedupHashes(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("width", LongType),
      StructField("height", LongType), StructField("ahash_hi", LongType),
      StructField("ahash_lo", LongType), StructField("bits_set", LongType)))
    val p = new org.apache.hadoop.fs.Path(s"$dir/hashes")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      s.read.schema(schema).parquet(p.toString).dropDuplicates("doc_id")
    else s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The current standing image resolution — (id, rep), the
    * sharedImgComponents schema; exact in both store modes
    * ([[resolutionView]]). */
  def imgClusters(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = resolutionView(s, dir)

  /** m17 at READ time over the two maintained stores: the joint
    * (text_cluster, img_cluster) keep-one composed from
    * [[textClusters]] and [[imgClusters]] — m17's exact statement
    * (min-id keeper per joint group), continuously available because
    * both inputs are; no new state, one join + one bounded window. */
  def crossModalManifest(s: org.apache.spark.sql.SparkSession,
      textStore: String, imgStore: String): DataFrame =
    graft.operators.Multimodal.jointKeepOne(
      textClusters(s, textStore)
        .select(col("doc_id"), col("cluster_rep").as("text_cluster")),
      imgClusters(s, imgStore)
        .select(col("id").as("doc_id"), col("rep").as("img_cluster")))

  /** Rollup store schema for [[deltaAggStream]]. */
  val RollupSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("hour_s",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_events",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_cents",
        org.apache.spark.sql.types.LongType)))

  /** The current standing rollup maintained by [[deltaAggStream]]
    * (empty before the first batch). `before` bounds the version read —
    * the stream passes its own batch id so a REDELIVERED micro-batch
    * (failure before the ack) absorbs into the same base it did the
    * first time: idempotent re-run instead of double counting. */
  def deltaAggCurrent(s: org.apache.spark.sql.SparkSession, dir: String,
      before: Long = Long.MaxValue): DataFrame = {
    val vs = versionDirs(s, dir).filter(_._1 < before)
    if (vs.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        RollupSchema)
    else s.read.parquet(vs.maxBy(_._1)._2.toString)
  }

  /** Streaming delta-IVM — e16's ingest-time twin: a standing hourly
    * (count, cents) rollup absorbs each micro-batch's PARTIAL
    * aggregates via [[graft.operators.Events.absorbDelta]]'s one
    * full-outer merge; history is never recomputed. foreachBatch,
    * because the merge target is a persistent TABLE, not stream state
    * (the rollup outlives the query and is what batch readers join).
    *
    * Store = versioned single-writer parquet dirs `dir/v{batchId}`:
    * the merge must materialize before its base could be deleted, and
    * a version per batch makes redelivered batches idempotent (the
    * base read is bounded to versions BEFORE the batch id). Versions
    * older than the base are pruned after each commit — steady state
    * holds 2. At warehouse scale the same shape lands on a catalog
    * table with bucketed (hour_s, event_type) layout, making the merge
    * cost exactly the delta's shuffle.
    *
    * Absorption is exact integer arithmetic and associative, so ANY
    * chunking of the feed converges to the one-shot [[graft.operators
    * .Events.hourlyPartial]] answer — pinned by StreamOpsSpec. */
  def deltaAggStream(events: DataFrame, storeDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val s = batch.sparkSession
        val delta = graft.operators.Events.hourlyPartial(batch.toDF())
        val base = deltaAggCurrent(s, storeDir, before = id)
        graft.operators.Events.absorbDelta(base, delta)
          .write.mode("overwrite").parquet(s"$storeDir/v$id")
        prunePriorVersions(s, storeDir, id)
      }
}
