package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.reflect.runtime.universe.TypeTag

import graft.cdc.Change
import graft.operators.Events

/** Streaming operators over the change stream and event streams — the
  * continuous twins of the batch views in [[graft.operators.Events]].
  * All are plan-builders over unbounded DataFrames (`readStream`
  * inputs); they run identically on bounded frames, which is how the
  * oracle gate checks their semantics.
  *
  * Scale notes (100 TB): every op here keys its state by a high-
  * cardinality column (user_id / content hash), so state distributes
  * across executors; watermarks bound state size — without them a
  * streaming agg/dedup retains state forever. The stream-static enrich
  * broadcasts the dimension, so the stream side never shuffles.
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
      ts: java.sql.Timestamp) extends EventTime
  case class LatestState(user_id: Long, last_event_id: Long,
      last_event_type: String, last_s: Long)

  /** An event with an event time — what [[eventTimeFold]] orders and
    * fences on. */
  trait EventTime {
    def ts: java.sql.Timestamp
    def event_id: Long
  }

  /** Event time in µs — the batch queries' `unix_micros`. Millis are not
    * enough: the corpus ships µs precision, so a millis key would fold
    * same-millisecond siblings out of batch order, and a millis fence
    * would drop the later one as stale when they arrive in separate
    * micro-batches. */
  private[graft] def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Keyed state of [[eventTimeFold]]: a twin's own state `st` plus the
    * fence — `n_seen`, the fresh events folded so far (monotone, so it
    * orders a twin's emissions), and the newest folded (µs, event_id). */
  case class Fenced[S](st: S, n_seen: Long, last_us: Long,
      last_event_id: Long)

  /** The one keyed-state fold every event-time twin runs on. Delivery is
    * ordered and at-least-once: each micro-batch of a key is sorted by
    * (µs, event_id) — the batch twin's order — and an event at or before
    * the newest folded one (late arrival, duplicate redelivery) is
    * DROPPED rather than folded out of order. In-order replay therefore
    * reproduces the batch query and redelivery cannot move the state.
    * `step` folds one fresh event, given its µs and its `n_seen`, and
    * returns the rows it emits; `finish` emits once the batch is
    * folded. */
  private def eventTimeFold[E <: EventTime, K, S: TypeTag, O](
      events: Dataset[E])(key: E => K, keyEnc: Encoder[K], zero: S,
      outEnc: Encoder[O])(
      step: (K, S, E, Long, Long) => (S, Seq[O]),
      finish: (K, S, Long) => Seq[O] = (_: K, _: S, _: Long) => Nil):
      Dataset[O] = {
    implicit val ke: Encoder[K] = keyEnc
    implicit val oe: Encoder[O] = outEnc
    implicit val se: Encoder[Fenced[S]] = Encoders.product[Fenced[S]]
    events.groupByKey(key)
      .flatMapGroupsWithState[Fenced[S], O](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (k: K, batch: Iterator[E], state: GroupState[Fenced[S]]) =>
          var f = state.getOption
            .getOrElse(Fenced(zero, 0L, Long.MinValue, Long.MinValue))
          val out = Seq.newBuilder[O]
          batch.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val t = micros(e.ts)
            if (t > f.last_us || (t == f.last_us && e.event_id > f.last_event_id)) {
              val (s, rows) = step(k, f.st, e, t, f.n_seen + 1L)
              f = Fenced(s, f.n_seen + 1L, t, e.event_id)
              out ++= rows
            }
          }
          state.update(f)
          (out ++= finish(k, f.st, f.n_seen)).result().iterator
      }
  }

  /** Stage code of an event on the standard funnel
    * ([[graft.operators.Events.Funnel]]): 1..3, or 0 off the funnel. */
  private def funnelCode(tpe: String): Long =
    Events.Funnel.indexWhere(_.contains(tpe)) + 1L

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

  /** Streaming contamination check (streaming x11): each arriving
    * document is shingled and joined against a STATIC train-corpus
    * shingle index ([[graft.operators.TextAnalysis.trainShingleIndex]])
    * — benchmark/eval documents screened for train-set leakage at
    * ingest time rather than in a nightly batch. Emits one
    * (test_doc, train_doc, shared_shingles) row per offending train
    * doc when the watermark closes the arrival window; top-offender
    * selection is the consumer's rerank (window functions don't run on
    * streams), exactly as the batch x11 ranks after the same count.
    *
    * Scale notes: a stream-STATIC inner join keeps no join state at
    * all (the static side is re-planned per micro-batch — persist it
    * bucketed by shingle so that read is shuffle-free, or let AQE
    * broadcast a capped index); the only state is the windowed count,
    * bounded by the watermark. Cap the index with maxDf at build time
    * — a boilerplate shingle in the static index multiplies EVERY
    * arriving doc's join fan-out. */
  def contaminationStream(docs: DataFrame, trainShingles: DataFrame,
      window: String = "1 hour", lateness: String = "1 hour"): DataFrame = {
    import graft.operators.TextOps
    val sh = docs.select(col("doc_id").as("test_doc"), col("ts"),
        explode(array_distinct(
          TextOps.shingles3(TextOps.words(col("text"))))).as("shingle"))
      .withWatermark("ts", lateness)
    sh.join(trainShingles, Seq("shingle"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("test_doc"), col("train_doc"))
      .agg(count(lit(1)).as("shared_shingles"))
      .select(col("test_doc"), col("train_doc"), col("shared_shingles"))
  }

  /** Streaming subsumption check (streaming d15): each arriving
    * document is screened for is-CONTAINED-in-corpus at ingest — the
    * quote/excerpt/boilerplate-copy admission gate, the one dedup
    * ACTION that previously had no ingest-time form. Shingles of the
    * arriving doc join the standing containment index
    * ([[graft.operators.Dedup.containmentIndex]]: shingle →
    * (corpus_doc, n_b) postings); per (arrival window, doc,
    * corpus_doc) the shared-shingle count closes on the watermark and
    * the d15 decision rule applies verbatim — n_a ≥ MinShinglesA,
    * c(a→b) = n_shared/n_a ≥ SubsumeTauE6, container strictly larger
    * (ties by id). One row per qualifying CONTAINER emits;
    * best-container pick (largest n_b) is the consumer's rerank,
    * exactly [[contaminationStream]]'s stance (window functions don't
    * run on streams). Directed and asymmetric by design: arrival
    * screening answers "is this new doc inside the corpus", never
    * "is the corpus inside it" — the reverse direction is the batch
    * pass's job.
    *
    * Scale notes: stream-static inner join, no join state; the only
    * state is the windowed count, bounded by the watermark. Persist
    * the index bucketed by shingle and cap boilerplate at build time
    * (a df-k shingle fans every arriving doc out k ways). */
  def subsumptionStream(docs: DataFrame, corpusIndex: DataFrame,
      window: String = "1 hour", lateness: String = "1 hour"): DataFrame = {
    import graft.operators.{Dedup, TextOps}
    // Watermark caveat (shared with contaminationStream): event time
    // advances on SHINGLE rows — the generate-inferred size(shs)>0
    // filter is pushed below the watermark node regardless of where
    // withWatermark is called (verified empirically: a pre-explode
    // watermark behaves identically), so a stream of only sub-3-word
    // docs does not advance the watermark. Real document streams
    // always carry qualifying traffic; a heartbeat doc is the
    // operational remedy if one ever doesn't.
    val sh = docs.withWatermark("ts", lateness)
      .select(col("doc_id"), col("ts"),
        array_distinct(TextOps.shingles3(TextOps.words(col("text")))).as("shs"))
      .select(col("doc_id"), col("ts"),
        size(col("shs")).cast("long").as("n_a"),
        explode(col("shs")).as("shingle"))
    sh.join(corpusIndex, Seq("shingle"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("doc_id"), col("corpus_doc"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_a") >= Dedup.MinShinglesA)
      .filter(col("n_b") > col("n_a") ||
        (col("n_b") === col("n_a") && col("corpus_doc") < col("doc_id")))
      .withColumn("containment_e6",
        TextOps.idiv(col("n_shared") * 1000000L, col("n_a")))
      .filter(col("containment_e6") >= Dedup.SubsumeTauE6)
      .select(col("doc_id"), col("corpus_doc").as("subsumed_by"),
        col("n_shared"), col("n_a"), col("n_b"), col("containment_e6"))
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

  /** Streaming d19: the standing-corpus window BLOOM maintained
    * CONTINUOUSLY — every arriving document's distinct 6-token windows
    * OR into the global membership bitset (the admission filter a
    * novelty gate reads), the [[hllStream]] class exactly: streaming
    * global aggregation, the state store persists the serialized
    * packed-word buffer, Complete mode, constant state regardless of
    * corpus growth. OR-merge is IDEMPOTENT like HLL's MAX (unlike
    * CMS's sum), so at-least-once redelivery leaves the bits unchanged
    * and the twin needs NO exactly-once fence (spec-pinned by
    * replaying chunks duplicated). */
  def bloomStream(docs: DataFrame): DataFrame =
    graft.operators.Dedup.streamingWindowBloom(docs)

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

  /** Shard count for the streaming standing sample (x27's twin). */
  val SampleShards = 8

  case class SampleIn(doc_id: Long, lang: String)
  case class SampleState(items: List[(String, Long, String, Long)],
      seen: Long)
  case class SampleOut(shard: Long, doc_id: Long, lang: String,
      weight: Long, priority: String, n_seen: Long)

  /** Streaming x27: the weighted standing sample maintained
    * CONTINUOUSLY — the bottom-K mergeability the batch spec pins
    * ("bottom-K of a union = bottom-K of merged per-shard bottom-Ks")
    * made executable: documents shard by doc_id into [[SampleShards]]
    * keyed states, each state the shard's K smallest (priority,
    * doc_id) pairs under the SAME md5 replicated-draw priority as the
    * batch form; the standing sample at any moment is the global
    * bottom-K over the shard states (the consumer's tiny
    * K·shards-row fold). State is K items per shard — constant — and
    * the insert is keyed by doc_id, so at-least-once REDELIVERY IS
    * IDEMPOTENT (a re-inserted doc replaces itself), the property
    * counting state (cmsStream) cannot have and samples get for
    * free. Emits each shard's full state per batch (append-mode
    * sinks accumulate snapshots; `n_seen` marks the newest emission
    * per shard — the patternStream emission discipline). */
  def weightedSampleStream(docs: Dataset[SampleIn],
      k: Int = graft.operators.TextAnalysis.WorK): Dataset[SampleOut] = {
    implicit val oe: org.apache.spark.sql.Encoder[SampleOut] =
      Encoders.product[SampleOut]
    implicit val se: org.apache.spark.sql.Encoder[SampleState] =
      Encoders.product[SampleState]
    implicit val ke: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    docs
      .groupByKey(d => java.lang.Math.floorMod(d.doc_id, SampleShards.toLong))
      .flatMapGroupsWithState[SampleState, SampleOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (shard: Long, batch: Iterator[SampleIn], state: GroupState[SampleState]) =>
          var st = state.getOption.getOrElse(SampleState(Nil, 0L))
          batch.foreach { d =>
            val w = d.lang match {
              case "en" => 3L
              case "de" | "es" | "fr" => 2L
              case _ => 1L
            }
            val pri = (1L to w).map(i => md5hex(s"${d.doc_id}:wor:$i")).min
            val withDoc = (pri, d.doc_id, d.lang, w) ::
              st.items.filterNot(_._2 == d.doc_id) // redelivery-idempotent
            st = SampleState(
              withDoc.sortBy(t => (t._1, t._2)).take(k), st.seen + 1L)
          }
          state.update(st)
          st.items.map { case (p, id, lg, w) =>
            SampleOut(shard, id, lg, w, p, st.seen)
          }.iterator
      }
  }

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

  /** Streaming m8: image near-dup at INGEST — the decode+hash stage
    * ([[graft.operators.Multimodal.imgHash]], a stateless
    * per-partition codec map) followed by the stream-static
    * multi-index join against the standing image-hash index
    * ([[graft.operators.Warehouse.writeImgIndex]] layout). Mirrors
    * [[incrementalDedupStream]]: no watermark, no state store — each
    * arriving image's candidates emit within its micro-batch, and the
    * bucketed index side never reshuffles. Emits (new_doc, corpus_doc,
    * hamming) within [[graft.operators.Multimodal.M7MaxHamming]];
    * batch ≡ stream pinned on bounded replay. */
  def imgDedupStream(ids: org.apache.spark.sql.Dataset[Long],
      index: DataFrame): DataFrame = {
    import graft.operators.Multimodal
    // the raw stateless candidate join (no distinct — cross-batch
    // dedup would need a state store); a pair sharing several
    // qualifying bands repeats within its batch, consumers fold
    Multimodal.imgProbeCandidates(index, Multimodal.imgHash(ids))
      .select(col("p_doc").as("new_doc"), col("doc_id").as("corpus_doc"),
        col("hamming"))
  }

  /** Streaming m18: CLIP-score alignment filtering at INGEST — the
    * decode+histogram stage
    * ([[graft.operators.Multimodal.imgHistogram]], a stateless
    * per-partition codec map) joined stream-static against the
    * text-side fold (a narrow standing projection of the embedding
    * corpus, [[graft.operators.Multimodal.textFold]]). Same class as
    * [[imgDedupStream]]: no watermark, no state store — each arriving
    * image's keep decision emits within its micro-batch; batch ≡
    * stream pinned on chunked replay. */
  def alignFilterStream(ids: org.apache.spark.sql.Dataset[Long],
      txtFold: DataFrame): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.alignScores(Multimodal.imgHistogram(ids), txtFold)
  }

  /** One CDC change-feed row — [[cdcCollapseStream]]'s input unit (the
    * shape [[graft.operators.Events.cdcFeed]] produces in batch). */
  case class ChangeFeedRow(key: Long, op: String, val_c: Long,
      ts: java.sql.Timestamp, event_id: Long)
  /** Per-key collapse state: the newest change's ordering fields plus
    * the running change count. */
  case class CollapseState(last_op: String, last_val_c: Long,
      last_ms: Long, last_event_id: Long, n: Long)
  case class CollapsedChange(key: Long, last_op: String, last_val_c: Long,
      n_changes: Long)

  /** Streaming e15 stage 1 (continuous CDC collapse): one state row
    * per key holding the newest (ts, event_id)-ordered change and the
    * change count, emitted updated each micro-batch — the SCD1 merge
    * against the base table stays the SAME downstream join in both
    * worlds ([[graft.operators.Events.e15CdcApply]] stage 2), so batch
    * and stream share everything after this operator. Out-of-order
    * and redelivered changes are safe: a change older than the state's
    * (ts, event_id) never wins (at-least-once tolerant ordering, the
    * reference's delivery contract), though redelivery does recount
    * n_changes — exactly-once counting needs the log-truncation ack
    * (T3) upstream. Update-mode sinks; state is O(keys), distributed
    * by key. */
  def cdcCollapseStream(feed: Dataset[ChangeFeedRow]): Dataset[CollapsedChange] = {
    implicit val oe: org.apache.spark.sql.Encoder[CollapsedChange] =
      Encoders.product[CollapsedChange]
    implicit val se: org.apache.spark.sql.Encoder[CollapseState] =
      Encoders.product[CollapseState]
    implicit val ke: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    feed.groupByKey(_.key)
      .mapGroupsWithState[CollapseState, CollapsedChange](
        GroupStateTimeout.NoTimeout) {
        (key: Long, batch: Iterator[ChangeFeedRow], state: GroupState[CollapseState]) =>
          val rows = batch.toSeq
          val newest = rows.maxBy(r => (r.ts.getTime, r.event_id))
          val prior = state.getOption
          val keepPrior = prior.exists(p =>
            p.last_ms > newest.ts.getTime ||
              (p.last_ms == newest.ts.getTime &&
                p.last_event_id >= newest.event_id))
          val next =
            if (keepPrior) prior.get.copy(n = prior.get.n + rows.size)
            else CollapseState(newest.op, newest.val_c, newest.ts.getTime,
              newest.event_id, prior.fold(0L)(_.n) + rows.size)
          state.update(next)
          CollapsedChange(key, next.last_op, next.last_val_c, next.n)
      }
  }

  /** One finalized hourly bucket of the event-count series — the input
    * unit of [[anomalyStream]] (what [[hourlyAgg]] emits once the
    * watermark closes a window). */
  case class HourlyBucket(event_type: String, hour_s: Long, n_events: Long)
  case class AnomalyFlag(event_type: String, hour_s: Long, n_events: Long,
    trail_n: Long, trail_sum: Long, trail_sumsq: Long, is_anomaly: Boolean)
  /** Trailing per-type baseline: the last ≤TrailBuckets observed
    * counts, oldest first, plus the hour of the newest bucket already
    * scored (`lastHour`, None before the first) — the guard that makes
    * late/replayed input fail SAFE: a bucket at or before `lastHour`
    * (an out-of-order arrival or a duplicate redelivery) is dropped
    * instead of silently appended to the trailing deque, so the
    * baseline only ever advances in hour order and the batch-
    * equivalence contract holds under at-least-once delivery. */
  case class AnomalyState(counts: Seq[Long], lastHour: Option[Long])

  /** Streaming anomaly detection (continuous e9): each finalized hourly
    * bucket is flagged against the trailing-24-bucket baseline the
    * moment it arrives, via the same cross-multiplied integer z²>9
    * test as the batch twin — a bucket never contaminates its own
    * baseline, under-filled baselines never flag. State is a per-type
    * deque of ≤24 counts updated AFTER scoring, so a replay of the
    * series in hour order reproduces batch e9 exactly (spec-pinned).
    * Input need NOT be exactly-once or ordered across micro-batches:
    * the state tracks the newest scored hour and drops buckets at or
    * before it (duplicate redeliveries, late arrivals) — fail-safe
    * under at-least-once delivery rather than silently skewing the
    * baseline.
    *
    * Scale notes: the key (event_type) is low-cardinality, but — same
    * argument as batch e9 — the input is the already-aggregated series
    * from the watermarked [[hourlyAgg]] (the full-width heavy shuffle),
    * so per-key state and work are bounded by series length:
    * O(#types × 24) longs total, per-bucket latency. */
  def anomalyStream(buckets: Dataset[HourlyBucket]): Dataset[AnomalyFlag] = {
    import graft.operators.Events.{MinTrail, TrailBuckets}
    implicit val fe: org.apache.spark.sql.Encoder[AnomalyFlag] =
      Encoders.product[AnomalyFlag]
    implicit val se: org.apache.spark.sql.Encoder[AnomalyState] =
      Encoders.product[AnomalyState]
    implicit val ke: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    buckets
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomalyState, AnomalyFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (typ: String, batch: Iterator[HourlyBucket], state: GroupState[AnomalyState]) =>
          var counts   = state.getOption.map(_.counts).getOrElse(Nil)
          var lastHour = state.getOption.flatMap(_.lastHour)
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyFlag]
          // Ordering guard: drop buckets at or before the newest hour
          // already scored — duplicates and late arrivals would
          // otherwise corrupt the trailing baseline silently.
          batch.toSeq.sortBy(_.hour_s)
            .filter(b => lastHour.forall(b.hour_s > _)).foreach { b =>
            require(b.n_events <= graft.operators.Events.MaxBucketCount,
              s"anomalyStream: per-bucket count ${b.n_events} > " +
                s"MaxBucketCount=${graft.operators.Events.MaxBucketCount} " +
                "(BIGINT trailing-sumsq would overflow)")
            // The z²>9 test in BigInt: its cross-products exceed int64
            // once counts reach ~1.3e8 — same widening as the batch
            // twin's decimal(38,0), so stream ≡ batch stays exact.
            val k  = BigInt(counts.size)
            val s  = counts.foldLeft(BigInt(0))(_ + _)
            val ss = counts.foldLeft(BigInt(0))((a, c) => a + BigInt(c) * c)
            val dev = k * b.n_events - s
            out += AnomalyFlag(typ, b.hour_s, b.n_events, k.toLong, s.toLong,
              ss.toLong,
              k >= MinTrail && dev * dev > 9 * (k * ss - s * s))
            counts = (counts :+ b.n_events).takeRight(TrailBuckets)
            lastHour = Some(b.hour_s)
          }
          state.update(AnomalyState(counts, lastHour))
          out.iterator
      }
  }

  /** Streaming semantic-dedup admission (continuous d12, stage 1):
    * each arriving embedding is IVF-assigned with the SAME
    * zero-exchange literal-codebook argmax as batch d12, then joined
    * stream-static against the standing cluster-keyed corpus —
    * within-cluster candidate pairs above `Similarity.SemTau` emit at
    * ingest, per row, stateless. Fed from the cluster-BUCKETED
    * catalog table the corpus side never shuffles (WarehouseSpec's
    * contract). Component/canonical RESOLUTION stays a batch concern:
    * cluster membership is transitive, so a stream cannot finalize
    * representatives — it can only admit/flag, exactly like the
    * d8/m8 ingest twins. Batch ≡ stream on bounded replay pinned in
    * StreamOpsSpec (cross pairs vs the standing corpus). */
  def semDedupStream(vecs: DataFrame, corpus: DataFrame,
      cents: Seq[graft.operators.Similarity.Centroid]): DataFrame = {
    import graft.operators.Similarity
    val assigned = Similarity.assignClusters(Similarity.withNorm(vecs), cents)
      .select(col("vec_id").as("new_vec"), col("embedding").as("n_emb"),
        col("norm_fp").as("n_norm"), col("cluster"))
    assigned.join(corpus
        .select(col("vec_id").as("corpus_vec"), col("embedding").as("c_emb"),
          col("norm_fp").as("c_norm"), col("cluster")),
        Seq("cluster"))
      .filter(col("new_vec") =!= col("corpus_vec"))
      .withColumn("cos", Similarity.cosine(
        graft.functions.GraftFunctions.dot_fp9(col("n_emb"), col("c_emb")),
        col("n_norm"), col("c_norm")))
      .filter(col("cos") > Similarity.SemTau)
      .select(col("new_vec"), col("corpus_vec"), col("cluster"),
        round(col("cos") * 1e6).cast("long").as("cos_e6"))
  }

  /** Continuous d12 stage 2 — the VERSIONED corpus store with
    * periodic compaction, closing the admit→resolve arc
    * [[semDedupStream]] leaves open (admission flags candidate pairs
    * at ingest, but component membership is transitive, so a stream
    * cannot finalize representatives):
    *
    *  - every micro-batch ADMITS its vectors: IVF-assign (the same
    *    zero-exchange literal-codebook argmax as batch d12) and
    *    append to the store's `admitted` log — a narrow map + append,
    *    per-batch cost independent of corpus size;
    *  - every `compactEvery` batches a COMPACTION re-resolves the
    *    full corpus (current version ∪ admitted) with the batch
    *    resolution core ([[graft.operators.Similarity
    *    .resolveSemClusters]] — identical plan to the d12 query,
    *    `maxCluster` passing through) and writes corpus+resolution as
    *    version `v{batchId}`, then prunes superseded versions and the
    *    folded-in admitted log — deltaAggStream's single-writer
    *    versioned-dir discipline verbatim: the new version
    *    materializes before anything it replaces is deleted, and a
    *    redelivered batch re-admits idempotently (same rows, same
    *    version bound).
    *
    * At warehouse scale the version write is
    * [[graft.operators.Warehouse.writeBucketed]] on `cluster`, so the
    * next compaction's pair join plans exchange-free on the corpus
    * side (WarehouseSpec's contract); compaction cost is the d12
    * resolution itself — Σ|cluster|² pair work amortized over
    * `compactEvery` batches, never per-event. */
  def semDedupIngest(vecs: DataFrame, storeDir: String,
      cents: Seq[graft.operators.Similarity.Centroid],
      compactEvery: Int = 4,
      maxCluster: Option[Int] = None):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(compactEvery > 0, "compactEvery must be positive")
    vecs.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        import graft.operators.Similarity
        val s = batch.sparkSession
        Similarity.assignClusters(Similarity.withNorm(batch.toDF()), cents)
          .select(col("vec_id"), col("embedding"), col("norm_fp"),
            col("cluster"))
          .write.mode("append").parquet(s"$storeDir/admitted")
        if ((id + 1) % compactEvery == 0) semDedupCompact(s, storeDir, id, maxCluster)
        ()
      }
  }

  /** One compaction cycle, idempotent under at-least-once redelivery.
    *
    * The crash hazard this method closes: a naive in-place
    * `overwrite` of `v$id` followed by `delete(admitted)` opens a
    * window where `v$id` is the ONLY copy of the admitted rows, yet a
    * crash before the micro-batch checkpoint commits makes the
    * redelivered batch rebuild `v$id` from the PRIOR version with the
    * admitted log already gone — destroying every batch admitted
    * since the previous compaction except the redelivered one.
    *
    * Discipline here instead:
    *  1. the version is written to a hidden staging dir
    *     (`.stage_v$id` — invisible to both [[semDedupVersions]]'s
    *     `v`-prefix filter and parquet readers) and RENAMED into
    *     place, so `v$id` only ever exists complete;
    *  2. a redelivered compaction that finds `v$id` already present
    *     trusts it (the rename guarantee) and SKIPS the rebuild —
    *     it can no longer base a rewrite on a stale corpus;
    *  3. only after `v$id` exists complete are the admitted log and
    *     superseded versions pruned — both deletes are idempotent,
    *     and the re-appended admitted copy of the redelivered batch
    *     is safe to drop because its rows are already in `v$id`.
    * Every crash point therefore recovers: before the rename the
    * admitted log is untouched and the rebuild (bounded `before = id`
    * so a staging leftover can never be read) sees every row; after
    * the rename the skip branch re-runs only the idempotent prunes. */
  private[streaming] def semDedupCompact(s: org.apache.spark.sql.SparkSession,
      storeDir: String, id: Long, maxCluster: Option[Int] = None): Unit = {
    import graft.operators.Similarity
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val vPath = new org.apache.hadoop.fs.Path(s"$storeDir/v$id")
    if (!fs.exists(vPath)) {
      val corpus = semDedupCorpus(s, storeDir, before = id)
        .localCheckpoint()
      // INCREMENTAL resolution (the default, uncapped posture): the
      // prior version's (vec_id, rep) map already closes every
      // old-old pair, so only pairs TOUCHING the delta (new×corpus
      // within cluster, cos > SemTau — withinClusterPairs' exact
      // predicate) need generating, and
      // [[graft.operators.Components.absorb]] merges them in with
      // delta-sized resolution work. absorb ≡ full re-resolve is
      // spec-pinned on chunked replay (StreamOpsSpec). The CAPPED
      // posture still re-resolves wholesale: maxCluster sub-shard
      // counts are ⌈n/cap⌉ — a function of CLUSTER SIZE, which the
      // delta changes, so an incremental capped form would not equal
      // its batch twin (the honesty bar every twin holds).
      val posture = maxCluster.fold("none")(_.toString)
      val prior = semDedupVersions(s, storeDir).filter(_._1 < id)
        .filter { case (_, p) =>
          // a version can seed the absorb only if it has a resolution
          // AND that resolution was built under the SAME posture: a
          // capped resolution is NOT the transitive closure of the
          // uncapped pair set (the cap drops cross-shard pairs), so
          // absorbing from it would silently equal neither twin. The
          // posture rides a marker file written with the version
          // (staged rename, so it exists iff the version is
          // complete); versions predating the marker resolve
          // wholesale — safe, just not incremental.
          fs.exists(new org.apache.hadoop.fs.Path(s"$p/resolved")) &&
            readMarker(fs, s"$p/posture").contains(posture) }
      val resolved =
        if (maxCluster.isEmpty && prior.nonEmpty) {
          val prevV = prior.maxBy(_._1)._2
          val prevResolved = s.read.parquet(s"$prevV/resolved")
          val prevIds = s.read.parquet(s"$prevV/corpus").select(col("vec_id"))
          val delta = corpus
            .join(prevIds, Seq("vec_id"), "left_anti").localCheckpoint()
          val newPairs = delta
            .select(col("vec_id").as("a"), col("embedding").as("a_emb"),
              col("norm_fp").as("a_norm"), col("cluster"))
            .join(corpus.select(col("vec_id").as("b"),
              col("embedding").as("b_emb"), col("norm_fp").as("b_norm"),
              col("cluster")), Seq("cluster"))
            .filter(col("a") =!= col("b"))
            .filter(Similarity.cosine(
              graft.functions.GraftFunctions.dot_fp9(col("a_emb"), col("b_emb")),
              col("a_norm"), col("b_norm")) > Similarity.SemTau)
            .select(col("a"), col("b"))
          val comp = graft.operators.Components.absorb(
            prevResolved.select(col("vec_id").as("id"), col("rep")),
            delta.select(col("vec_id").as("id")), newPairs)
          corpus.select(col("vec_id"), col("cluster"))
            .join(comp.select(col("id").as("vec_id"), col("rep")), Seq("vec_id"))
            .select(col("vec_id"), col("cluster"), col("rep"),
              when(col("vec_id") === col("rep"), 1L).otherwise(0L).as("keep"))
        } else Similarity.resolveSemClusters(corpus, maxCluster)
      val stage = new org.apache.hadoop.fs.Path(s"$storeDir/.stage_v$id")
      fs.delete(stage, true) // clear any half-written earlier attempt
      corpus.write.mode("overwrite").parquet(s"$stage/corpus")
      resolved.write.mode("overwrite").parquet(s"$stage/resolved")
      writeMarker(fs, s"$stage/posture", posture)
      require(fs.rename(stage, vPath), s"rename $stage -> $vPath failed")
    }
    // prune: the admitted log is folded into v{id}; versions older
    // than the newest-but-one go too (steady state: 2). Idempotent.
    fs.delete(new org.apache.hadoop.fs.Path(s"$storeDir/admitted"), true)
    semDedupVersions(s, storeDir).filter(_._1 < id)
      .sortBy(_._1).dropRight(1)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** Tiny FS marker files for the versioned stores (posture tags,
    * graph-version pins): short UTF-8 strings, written via tmp+rename
    * so a marker only ever exists complete. */
  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem,
      path: String, value: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val o = fs.create(tmp, true)
    try o.write(value.getBytes("UTF-8")) finally o.close()
    val p = new org.apache.hadoop.fs.Path(path)
    fs.delete(p, false)
    require(fs.rename(tmp, p), s"rename $tmp -> $p failed")
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
    * shared by the semDedup, delta-agg and kNN-graph stores. */
  private def versionDirs(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, org.apache.hadoop.fs.Path)] =
    prefixedDirs(s, dir, "v")

  private def semDedupVersions(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, org.apache.hadoop.fs.Path)] = versionDirs(s, dir)

  /** The store's current ASSIGNED corpus: newest compacted version ∪
    * the admitted log since (empty frame before the first batch).
    * `before` bounds the version read for redelivery idempotence,
    * mirroring [[deltaAggCurrent]]. */
  def semDedupCorpus(s: org.apache.spark.sql.SparkSession, dir: String,
      before: Long = Long.MaxValue): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("norm_fp",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.LongType)))
    val vs = semDedupVersions(s, dir).filter(_._1 < before)
    val base =
      if (vs.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema)
      else s.read.parquet(s"${vs.maxBy(_._1)._2}/corpus")
    val admitted = new org.apache.hadoop.fs.Path(s"$dir/admitted")
    val fs = admitted.getFileSystem(s.sparkContext.hadoopConfiguration)
    val all =
      if (fs.exists(admitted))
        base.unionByName(s.read.parquet(admitted.toString))
      else base
    // a REDELIVERED batch (failure before the ack) re-appends the same
    // rows to the admitted log; vec_id-dedup makes the corpus — and
    // therefore every compaction — idempotent under at-least-once
    // delivery (the re-appended copy is byte-identical: assignment is
    // a pure function of the vector and the pinned codebook)
    all.dropDuplicates("vec_id")
  }

  /** Streaming d6: the TEXT near-dup cluster resolution maintained
    * CONTINUOUSLY — the absorb upgrade over [[semDedupIngest]]'s
    * periodic compaction: because
    * [[graft.operators.Components.absorb]] does delta-sized work,
    * EVERY batch writes an exact successor resolution (no
    * `compactEvery` cadence, no wholesale re-resolve, ever). Per
    * micro-batch:
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
    * EXCLUDING its own re-appended ids (the knnGraphAbsorb crash
    * analysis) and rebuilds identically. */
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
      versionDirs(s, storeDir).filter(_._1 < id)
        .sortBy(_._1).dropRight(1)
        .foreach { case (_, p) => fs.delete(p, true) }
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

  /** The newest compacted RESOLUTION (d12 schema: vec_id, cluster,
    * rep, keep), or None before the first compaction. Vectors admitted
    * after the newest compaction appear in [[semDedupCorpus]] but not
    * here — resolution is compaction-grain by design (membership is
    * transitive; the in-between signal is [[semDedupStream]]'s
    * admission pairs). */
  def semDedupResolution(s: org.apache.spark.sql.SparkSession,
      dir: String): Option[DataFrame] = {
    val vs = semDedupVersions(s, dir)
    if (vs.isEmpty) None
    else Some(s.read.parquet(s"${vs.maxBy(_._1)._2}/resolved"))
  }

  /** Streaming kNN-GRAPH maintenance — continuous s23, the last
    * standing production artifact without an ingest-time form
    * (VERDICT r11 #2). Every micro-batch:
    *
    *  1. ADMITS its vectors: one ranked-codebook pass yields the
    *     argmax cluster AND the nprobe probe list
    *     ([[graft.operators.Similarity.assignWithProbes]] — both pure
    *     functions of (vector, pinned codebook), stored so the
    *     standing corpus serves the existing→new probe direction
    *     without ever re-ranking), appended to the store's `admitted`
    *     log — the d8-postings append discipline, dedup-on-read by
    *     vec_id for at-least-once idempotence;
    *  2. generates BOTH candidate directions of s23's asymmetric
    *     probe join — new→(corpus ∪ batch) through the batch's probe
    *     lists, existing→new through the STORED probe lists keyed by
    *     the batch's assigned clusters — so every (src, nid) pair
    *     with nid.cluster ∈ src.probes is considered exactly once
    *     across the stream's lifetime;
    *  3. MERGES into the standing graph: only TOUCHED srcs (those
    *     with a new candidate) re-cut their k-list; untouched rows
    *     carry over by anti-join, and the successor graph writes as
    *     version `v{batchId}` under the semDedup staging-rename
    *     discipline (a complete redelivered version is trusted and
    *     skipped, never rebuilt).
    *
    * Top-k merge is exact: a per-src list only improves in the
    * (cos_e6 DESC, nid) total order, so chunked replay converges to
    * batch s23's graph verbatim (spec-pinned, redelivery included).
    *
    * Scale notes (100 TB): per-batch work is batch-sized — BOTH store
    * layouts are directory-partitioned on their join direction's key
    * (admitted/ by assigned cluster, postings/ by probe cluster, the
    * d8 postings pattern) and each batch pins its driver-sized
    * (codebook-bounded) cluster lists as `isin` partition filters, so
    * the standing-corpus scans list only the batch's clusters instead
    * of the whole log (the Warehouse.ivfProbe discipline; spec-pinned
    * on the plan). The candidate fan is Σ over batch vectors of
    * probed-cluster sizes (never corpus×corpus), the re-cut window
    * runs only over touched srcs (≤ batch × (1 + max cluster fan)),
    * and the engine itself holds NO streaming state (the store is the
    * state, versioned on disk). At warehouse scale the remaining
    * trade is the full-graph version write, which amortizes to a
    * touched-src delta + periodic compaction — the fragment trade
    * documented on [[graft.operators.Warehouse.appendPostingsIndex]]. */
  def knnGraphStream(vecs: DataFrame, storeDir: String,
      cents: Seq[graft.operators.Similarity.Centroid]):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        knnGraphAbsorb(batch.toDF(), storeDir, id, cents)
        ()
      }

  /** One batch absorption, idempotent under at-least-once redelivery
    * (the [[semDedupCompact]] crash analysis applies verbatim: the
    * version only ever exists complete, a crashed attempt's admitted
    * re-append dedupes by vec_id, and prunes are idempotent). */
  private[graft] def knnGraphAbsorb(batch: DataFrame, storeDir: String,
      id: Long, cents: Seq[graft.operators.Similarity.Centroid]): Unit = {
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    val s = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val vPath = new org.apache.hadoop.fs.Path(s"$storeDir/v$id")
    if (!fs.exists(vPath)) {
      val newA = Similarity.assignWithProbes(
        Similarity.withNorm(batch), cents).localCheckpoint()
      // batch cluster lists, collected as partition-filter literals —
      // driver-sized by the codebook (≤ nlist values each), the
      // Warehouse.ivfProbe discipline: the filters below prune the
      // standing store's directory listing at planning time, so a
      // batch's scan cost tracks its cluster fan, never the corpus
      // (the claim that makes this an ingest twin at 100 TB)
      val batchClusters = newA.select(col("cluster")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val batchProbed = newA.select(explode(col("probes")).as("c")).distinct()
        .collect().map(_.getLong(0)).toSeq
      // the corpus BEFORE this batch's append; a crashed earlier
      // attempt may already have appended this batch's rows — their
      // existing→new candidates duplicate new→new ones and dedupe out.
      // Two standing layouts, each pruned by the direction it serves:
      //  - admitted/  partitioned by ASSIGNED cluster → dir1's nid
      //    side reads only the batch's PROBED clusters;
      //  - postings/  the ×nprobe exploded copy partitioned by PROBE
      //    cluster (the d8 postings pattern) → dir2's src side reads
      //    only the batch's ASSIGNED clusters.
      val prevProbeSide =
        knnGraphCorpus(s, storeDir, within = Some(batchProbed))
          .localCheckpoint()
      val prevPostings =
        knnGraphPostings(s, storeDir, within = Some(batchClusters))
          .localCheckpoint()
      newA.write.mode("append").partitionBy("cluster")
        .parquet(s"$storeDir/admitted")
      newA.select(explode(col("probes")).as("pcluster"), col("vec_id"),
          col("embedding"), col("norm_fp"), col("cluster"))
        .write.mode("append").partitionBy("pcluster")
        .parquet(s"$storeDir/postings")
      val corpusNow = prevProbeSide
        .select(col("vec_id"), col("embedding"), col("norm_fp"), col("cluster"))
        .unionByName(newA
          .select(col("vec_id"), col("embedding"), col("norm_fp"), col("cluster")))
        .dropDuplicates("vec_id")
      def score(df: DataFrame): DataFrame =
        df.filter(col("src") =!= col("nid"))
          .select(col("src"), col("nid"),
            round(Similarity.cosine(
              graft.functions.GraftFunctions.dot_fp9(col("q_emb"), col("n_emb")),
              col("q_norm"), col("n_norm")) * 1e6).cast("long").as("cos_e6"))
      // each direction materializes BEFORE the union: the two branches
      // share the newA/prev checkpoint leaves, and Union constraint
      // propagation over shared-attribute branches breaks on the
      // streaming (AQE-off) optimizer path — LogicalRDD children keep
      // the union's constraints self-contained (both are batch-sized)
      val dir1 = score(newA
        .select(col("vec_id").as("src"), col("embedding").as("q_emb"),
          col("norm_fp").as("q_norm"), explode(col("probes")).as("cluster"))
        .join(corpusNow.select(col("vec_id").as("nid"),
          col("embedding").as("n_emb"), col("norm_fp").as("n_norm"),
          col("cluster")), Seq("cluster"))).localCheckpoint()
      val dir2 = score(prevPostings
        .select(col("vec_id").as("src"), col("embedding").as("q_emb"),
          col("norm_fp").as("q_norm"), col("pcluster").as("cluster"))
        .join(newA.select(col("vec_id").as("nid"),
          col("embedding").as("n_emb"), col("norm_fp").as("n_norm"),
          col("cluster")), Seq("cluster"))).localCheckpoint()
      val scored = dir1.unionByName(dir2)
        .dropDuplicates("src", "nid")
        .localCheckpoint()
      val prevGraph = knnGraphVersion(s, storeDir, before = id)
      val touched = scored.select(col("src")).distinct()
      val untouched = prevGraph.join(touched, Seq("src"), "left_anti")
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cos_e6").desc, col("nid"))
      val prevEdges = prevGraph.join(touched, Seq("src"), "left_semi")
        .select(col("src"), col("nid"), col("cos_e6"))
        .localCheckpoint() // same Union-constraint hazard as dir1/dir2
      val recut = prevEdges
        .unionByName(scored)
        .dropDuplicates("src", "nid") // prev edge re-found: same cos_e6
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= Similarity.GraphK.toLong)
        .select(col("src"), col("rank"), col("nid"), col("cos_e6"))
      // the successor graph = untouched ∪ recut, written as two legs
      // into the SAME staged dir (overwrite then append) instead of an
      // in-plan Union — the same constraint-propagation hazard the
      // dir1/dir2 checkpoints dodge above, avoided here without
      // materializing the full graph an extra time
      val stage = new org.apache.hadoop.fs.Path(s"$storeDir/.stage_v$id")
      fs.delete(stage, true)
      untouched.write.mode("overwrite").parquet(s"$stage/graph")
      recut.write.mode("append").parquet(s"$stage/graph")
      require(fs.rename(stage, vPath), s"rename $stage -> $vPath failed")
    }
    // prune superseded versions (keep newest-but-one; idempotent)
    versionDirs(s, storeDir).filter(_._1 < id)
      .sortBy(_._1).dropRight(1)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** The store's admitted corpus (assigned + probe lists), dedup'd by
    * vec_id — empty frame before the first batch. Directory-partitioned
    * by the ASSIGNED cluster, so an `isin` filter on `cluster` prunes
    * the listing at planning time (the dir1 ingest path); the partition
    * column comes back via directory inference and is normalized to
    * LongType here. */
  def knnGraphCorpus(s: org.apache.spark.sql.SparkSession,
      dir: String, within: Option[Seq[Long]] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("norm_fp", LongType),
      StructField("probes", ArrayType(LongType)),
      StructField("cluster", LongType)))
    val admitted = new org.apache.hadoop.fs.Path(s"$dir/admitted")
    val fs = admitted.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(admitted)) {
      // explicit schema: the partition column is LongType DIRECTLY
      // (directory inference would type it int, and the long-literal
      // isin below would then sit behind a cast that blocks pruning);
      // the prune filter sits BELOW the dedup aggregate — above it, a
      // non-grouping-column predicate cannot reach the scan. Filter
      // and dedup commute because re-appended duplicate rows are
      // byte-identical (pure function of vector + pinned codebook).
      val raw = s.read.schema(schema).parquet(admitted.toString)
      within.fold(raw)(cs => raw.filter(col("cluster").isin(cs: _*)))
        .dropDuplicates("vec_id")
    } else s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The store's ×nprobe exploded postings copy (one row per admitted
    * vector per PROBE cluster — the d8 postings pattern), dedup'd for
    * at-least-once re-appends; directory-partitioned by `pcluster` so
    * the dir2 ingest join prunes to the batch's assigned clusters. */
  private[graft] def knnGraphPostings(
      s: org.apache.spark.sql.SparkSession, dir: String,
      within: Option[Seq[Long]] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("norm_fp", LongType),
      StructField("cluster", LongType),
      StructField("pcluster", LongType)))
    val postings = new org.apache.hadoop.fs.Path(s"$dir/postings")
    val fs = postings.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(postings)) {
      val raw = s.read.schema(schema).parquet(postings.toString)
      within.fold(raw)(cs => raw.filter(col("pcluster").isin(cs: _*)))
        .dropDuplicates("vec_id", "pcluster")
    } else s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The newest complete graph version strictly below `before`
    * (redelivery bound, mirroring [[semDedupCorpus]]), or the empty
    * graph before the first version. */
  private def knnGraphVersion(s: org.apache.spark.sql.SparkSession,
      dir: String, before: Long): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("src", LongType), StructField("rank", LongType),
      StructField("nid", LongType), StructField("cos_e6", LongType)))
    val vs = versionDirs(s, dir).filter(_._1 < before)
    if (vs.isEmpty)
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else s.read.parquet(s"${vs.maxBy(_._1)._2}/graph")
  }

  /** The current standing kNN graph — s23's schema (src, rank, nid,
    * cos_e6), one k-list per admitted vector. */
  def knnGraphCurrent(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = knnGraphVersion(s, dir, Long.MaxValue)

  /** Streaming x40: the ingest-time release decision maintained
    * CONTINUOUSLY — the curation pipeline's admission gate as a
    * foreachBatch composition over a versioned store (the
    * [[knnGraphStream]] discipline): each micro-batch is decided by
    * [[graft.operators.TextAnalysis.ingestDecideBatch]] against
    * `standing` (the original corpus — its test-split 13-grams,
    * train-split bigram model and tertile boundaries are the
    * decision's FIXED artifacts) PLUS every earlier admitted arrival
    * (the store's append-only `admitted/` log), then written as one
    * immutable decision version — the store's `v<id>/decisions` dirs
    * ARE the release manifest, append-only and replayable.
    *
    * Redelivery (at-least-once): a complete version is trusted and
    * never rebuilt; a crashed attempt (admitted rows appended, no
    * version dir) rebuilds the IDENTICAL decisions because the prior
    * corpus excludes the redelivered batch's own ids before deciding
    * (the [[knnGraphAbsorb]] crash analysis verbatim). Under in-order
    * replay the concatenated decision log equals batch x40 exactly
    * (spec-pinned).
    *
    * Scale notes (100 TB): per batch, every frame touched is batch-
    * sized or index-sized — at warehouse scale `admitted/` is the
    * corpus store the pipeline already keeps (bucketed by doc_id),
    * the LSH postings / containment index / md5 set are the standing
    * artifacts the d8 family persists and APPENDS per batch rather
    * than rebuilding (Warehouse.appendPostingsIndex), and the
    * standing model/boundary artifacts refresh at the corpus owner's
    * cadence, not per batch. This session form rebuilds them from
    * `standing` per batch — correct, and honest about what a real
    * deployment persists. */
  def ingestDecideStream(docs: DataFrame, storeDir: String,
      standing: DataFrame):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        ingestDecideAbsorb(batch.toDF(), storeDir, id, standing)
        ()
      }

  /** One batch decision, idempotent under at-least-once redelivery. */
  private[graft] def ingestDecideAbsorb(batch: DataFrame, storeDir: String,
      id: Long, standing: DataFrame): Unit = {
    val s = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val vPath = new org.apache.hadoop.fs.Path(s"$storeDir/v$id")
    if (!fs.exists(vPath)) {
      val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
      // admitted BEFORE this batch: a crashed earlier attempt may have
      // appended this batch's rows already — exclude them by id so the
      // rebuild decides against the identical prior corpus
      val prior = standing.select(col("doc_id"), col("text"))
        .unionByName(ingestAdmitted(s, storeDir)
          .join(b.select(col("doc_id")), Seq("doc_id"), "left_anti"))
        .localCheckpoint()
      b.write.mode("append").parquet(s"$storeDir/admitted")
      val dec = graft.operators.TextAnalysis.ingestDecideBatch(prior, b, standing)
      val stage = new org.apache.hadoop.fs.Path(s"$storeDir/.stage_v$id")
      fs.delete(stage, true)
      dec.write.mode("overwrite").parquet(s"$stage/decisions")
      require(fs.rename(stage, vPath), s"rename $stage -> $vPath failed")
    }
  }

  /** The store's admitted-arrivals corpus, dedup'd for at-least-once
    * re-appends — empty before the first batch. */
  private[graft] def ingestAdmitted(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val admitted = new org.apache.hadoop.fs.Path(s"$dir/admitted")
    val fs = admitted.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(admitted))
      s.read.schema(schema).parquet(admitted.toString)
        .dropDuplicates("doc_id")
    else s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The concatenated decision log — every batch's immutable version,
    * one decision row per admitted doc (x40's schema). Versions are
    * the manifest itself and are never pruned. */
  def ingestDecisions(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("split", StringType),
      StructField("keep", BooleanType), StructField("reason", StringType),
      StructField("quality_e3", LongType),
      StructField("pred_lang", StringType),
      StructField("mean_lp_e4", LongType),
      StructField("bucket", StringType)))
    val vs = versionDirs(s, dir)
    if (vs.isEmpty)
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else s.read.schema(schema)
      .parquet(vs.map { case (_, p) => s"$p/decisions" }: _*)
  }

  /** Streaming s27: graph-based ANN SEARCH over the standing
    * [[knnGraphStream]] store — arriving query vectors beam-search
    * the current graph version per micro-batch (windows don't run on
    * streams, so like the other composed twins this is a foreachBatch
    * over [[graft.operators.Similarity.graphSearchFor]]), results
    * written as immutable versions (idempotent under at-least-once
    * redelivery — a search is pure, so a version is only ever
    * rebuilt identically).
    *
    * Scale notes (100 TB): the search reads the store's graph (n×k)
    * and corpus — per batch the frontier/visited/re-score frames are
    * QUERY-sized (≤ NEntry·(2k+1) per query), the graph-side joins
    * prune to the beam's src buckets on a bucketed store, and the
    * codebook collect is driver-sized by construction. This is the
    * read path the s22–s26 build ladder and [[knnGraphStream]]'s
    * maintenance exist to serve. */
  def graphSearchStream(queries: DataFrame, graphStoreDir: String,
      outDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        graphSearchAbsorb(batch.toDF(), graphStoreDir, outDir, id)
        ()
      }

  /** One batch of query searches, idempotent under redelivery.
    *
    * The graph version searched is PINNED before the search runs: the
    * first attempt resolves the graph store's newest version id and
    * records it in a `.pin_v$id` marker (written via tmp+rename, so it
    * only ever exists complete); a crashed attempt's retry reads the
    * marker back and searches the SAME graph version — without the
    * pin, a graph-store absorb landing between crash and retry would
    * make the rebuilt v$id differ from what the crashed attempt was
    * computing, so "a version is only ever rebuilt identically" would
    * hold only while the graph store is quiescent. The corpus side is
    * pinned by restriction: rescoring reads only the pinned graph's
    * OWN node set (its `src` lists), whose admitted rows are immutable
    * (append-only log, re-appends byte-identical). If the pinned
    * version was PRUNED before the retry (a retry delayed past two
    * graph compactions), the search falls back to the newest surviving
    * version — still a valid search, the one documented idempotence
    * gap, and narrower than the unpinned behavior by construction. */
  private[graft] def graphSearchAbsorb(batch: DataFrame, graphStore: String,
      outDir: String, id: Long): Unit = {
    import graft.operators.Similarity
    val s = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val vPath = new org.apache.hadoop.fs.Path(s"$outDir/v$id")
    val pinPath = new org.apache.hadoop.fs.Path(s"$outDir/.pin_v$id")
    if (!fs.exists(vPath)) {
      val graphVs = versionDirs(s, graphStore)
      val pinned: Option[Long] =
        readMarker(fs, pinPath.toString) match {
          case Some(txt) => txt.toLongOption
          case None =>
            val cur = if (graphVs.isEmpty) None else Some(graphVs.map(_._1).max)
            cur.foreach(v => writeMarker(fs, pinPath.toString, v.toString))
            cur
        }
      // exact pinned version if it survives, newest otherwise (prune
      // fallback); `before = pinned + 1` selects id ≤ pinned exactly
      val graph = pinned match {
        case Some(v) if graphVs.exists(_._1 == v) =>
          knnGraphVersion(s, graphStore, before = v + 1)
        case _ => knnGraphCurrent(s, graphStore)
      }
      // corpus restricted to the pinned graph's OWN node set — but
      // only when a graph version exists: in the admitted-but-no-
      // version window (a search batch racing the first graph
      // absorb, or a graph-stream crash between its admitted append
      // and its rename) the restriction would empty the corpus and
      // write a PERMANENTLY empty trusted version; the unrestricted
      // corpus instead yields the codebook-seed-rescored results the
      // unpinned form always returned there
      val corpus = knnGraphCorpus(s, graphStore)
      val e = (pinned match {
        case Some(_) => corpus.join(
          graph.select(col("src").as("vec_id")).distinct(),
          Seq("vec_id"), "left_semi")
        case None => corpus
      }).select(col("vec_id"), col("embedding"), col("norm_fp"))
      val q = Similarity.withNorm(batch.select(col("vec_id"), col("embedding")))
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
          col("norm_fp").as("q_norm"))
      val res = Similarity.graphSearchFor(e, graph, q)
      val stage = new org.apache.hadoop.fs.Path(s"$outDir/.stage_v$id")
      fs.delete(stage, true)
      res.write.mode("overwrite").parquet(s"$stage/results")
      require(fs.rename(stage, vPath), s"rename $stage -> $vPath failed")
    }
    fs.delete(pinPath, false) // version complete: the pin has served
  }

  /** The concatenated search results across all versions. */
  def graphSearchResults(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("qid", LongType), StructField("rank", LongType),
      StructField("nid", LongType), StructField("cos_e6", LongType)))
    val vs = versionDirs(s, dir)
    if (vs.isEmpty)
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else s.read.schema(schema)
      .parquet(vs.map { case (_, p) => s"$p/results" }: _*)
  }

  /** Streaming x39: the collocation CENSUSES maintained continuously —
    * bigram and unigram counts are both additive, so each micro-batch
    * merges its deltas into a versioned store (the [[deltaAggStream]]
    * IVM discipline with the [[knnGraphAbsorb]] staged-rename
    * atomicity, since a version holds TWO frames) and the PMI top-k
    * is [[graft.operators.TextAnalysis.colloTopKFrom]]'s read fold
    * over the current version — the count floor and lift are never
    * baked into state, so thresholds can change without replay.
    *
    * Scale notes (100 TB): state is vocabulary-sized (the bigram
    * census), exactly the standing table the batch x39 aggregates
    * from scratch; per batch the merge moves batch-delta + census
    * rows, never re-tokenizing history. Counting state: exactly-once-
    * fronted (the cmsStream stance), spec-pinned on clean replay. */
  def colloStream(docs: DataFrame, storeDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        colloAbsorb(batch.toDF(), storeDir, id)
        ()
      }

  /** One batch census merge, idempotent under redelivery (a complete
    * version is trusted; a crashed attempt rebuilds from the same
    * before-id base). */
  private[graft] def colloAbsorb(batch: DataFrame, storeDir: String,
      id: Long): Unit = {
    val s = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val vPath = new org.apache.hadoop.fs.Path(s"$storeDir/v$id")
    if (!fs.exists(vPath)) {
      val (dBig, dUni) = graft.operators.TextAnalysis.colloCensus(batch)
      val (pBig, pUni) = colloCurrent(s, storeDir, before = id)
      val stage = new org.apache.hadoop.fs.Path(s"$storeDir/.stage_v$id")
      fs.delete(stage, true)
      pBig.unionByName(dBig)
        .groupBy(col("w1"), col("w2")).agg(sum(col("n_ab")).as("n_ab"))
        .write.mode("overwrite").parquet(s"$stage/big")
      pUni.unionByName(dUni)
        .groupBy(col("w")).agg(sum(col("c")).as("c"))
        .write.mode("overwrite").parquet(s"$stage/uni")
      require(fs.rename(stage, vPath), s"rename $stage -> $vPath failed")
    }
    versionDirs(s, storeDir).filter(_._1 < id)
      .sortBy(_._1).dropRight(1)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** The newest complete census version strictly below `before`, or
    * empty censuses before the first batch. */
  def colloCurrent(s: org.apache.spark.sql.SparkSession, dir: String,
      before: Long = Long.MaxValue): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    val bigSchema = StructType(Seq(
      StructField("w1", StringType), StructField("w2", StringType),
      StructField("n_ab", LongType)))
    val uniSchema = StructType(Seq(
      StructField("w", StringType), StructField("c", LongType)))
    val vs = versionDirs(s, dir).filter(_._1 < before)
    if (vs.isEmpty)
      (s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], bigSchema),
        s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], uniSchema))
    else {
      val p = vs.maxBy(_._1)._2
      (s.read.schema(bigSchema).parquet(s"$p/big"),
        s.read.schema(uniSchema).parquet(s"$p/uni"))
    }
  }

  /** Streaming x41: per-source tokenizer FERTILITY maintained
    * continuously under a FIXED trained merge list (the merges are a
    * standing artifact retrained at the corpus owner's cadence, like
    * x40's model/boundaries) — the per-source (word, BPE-token)
    * totals are additive, so this is the [[colloStream]] IVM
    * discipline with a one-frame version; fertility itself is
    * [[graft.operators.TextAnalysis.fertilityFrom]]'s read fold.
    * Counting state, exactly-once-fronted. */
  def fertilityStream(docs: DataFrame, storeDir: String,
      merges: Seq[(String, String)]):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        fertilityAbsorb(batch.toDF(), storeDir, id, merges)
        ()
      }

  /** One batch totals merge, idempotent under redelivery. */
  private[graft] def fertilityAbsorb(batch: DataFrame, storeDir: String,
      id: Long, merges: Seq[(String, String)]): Unit = {
    val s = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val vPath = new org.apache.hadoop.fs.Path(s"$storeDir/v$id")
    if (!fs.exists(vPath)) {
      val delta = graft.operators.TextAnalysis.fertilityCounts(batch, merges)
      val base = fertilityCurrent(s, storeDir, before = id)
      val stage = new org.apache.hadoop.fs.Path(s"$storeDir/.stage_v$id")
      fs.delete(stage, true)
      base.unionByName(delta)
        .groupBy(col("source"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
        .write.mode("overwrite").parquet(s"$stage/counts")
      require(fs.rename(stage, vPath), s"rename $stage -> $vPath failed")
    }
    versionDirs(s, storeDir).filter(_._1 < id)
      .sortBy(_._1).dropRight(1)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** The newest complete totals version strictly below `before`. */
  def fertilityCurrent(s: org.apache.spark.sql.SparkSession, dir: String,
      before: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("n_words", LongType),
      StructField("n_bpe_tokens", LongType)))
    val vs = versionDirs(s, dir).filter(_._1 < before)
    if (vs.isEmpty)
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else s.read.schema(schema).parquet(s"${vs.maxBy(_._1)._2}/counts")
  }

  /** State/output of [[decayedHittersStream]]: the per-user hour ring
    * — exact counts for the newest [[graft.operators.Events
    * .DecayCapHours]] hours (older hours decay to zero at ANY later
    * reference, so pruning them is exact, not approximate) plus the
    * all-time event total. */
  case class DecaySnapshot(user_id: Long, counts: Map[Long, Long],
      n_events: Long)

  /** Streaming e35: exponentially time-decayed per-user activity
    * maintained CONTINUOUSLY. The naive incremental form (halve a
    * running sum as hours pass) is NOT exact — integer halving floors
    * per step, so `(Σ w) >> δ ≠ Σ (w >> δ)` — so the state is instead
    * the EXACT bounded hour ring: ≤ DecayCapHours (hour → count)
    * entries per user (hours older than the cap contribute zero at
    * any later reference instant, so pruning is lossless), and the
    * decayed ranking is a read-time fold over the ring
    * ([[decayedTopK]]) at the global newest hour — which is how the
    * batch e35 defines it. mapGroupsWithState, O(cap) longs per user.
    *
    * Counting state: at-least-once redelivery would double-count —
    * this twin sits behind an exactly-once front (the cmsStream
    * stance), spec-pinned on clean replay. */
  def decayedHittersStream(events: Dataset[KeyedEvent]):
      Dataset[DecaySnapshot] = {
    implicit val se: org.apache.spark.sql.Encoder[(Map[Long, Long], Long)] =
      Encoders.product[(Map[Long, Long], Long)]
    implicit val oe: org.apache.spark.sql.Encoder[DecaySnapshot] =
      Encoders.product[DecaySnapshot]
    implicit val ke: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    // Ring key = batch e35's `date_trunc('hour', ts)` SEMANTICS: the
    // hour truncates in the SESSION timezone, captured at plan time.
    // Raw epoch truncation (getTime/3600*3600) diverges in
    // fractional-offset zones (+05:30 shifts hour boundaries by 30
    // min), silently breaking the documented stream≡batch
    // reproduction outside UTC.
    val zoneId = events.sparkSession.sessionState.conf.sessionLocalTimeZone
    events.groupByKey(_.user_id)
      .mapGroupsWithState[(Map[Long, Long], Long), DecaySnapshot](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          val zone = java.time.ZoneId.of(zoneId)
          var (counts, n) = state.getOption.getOrElse((Map.empty[Long, Long], 0L))
          it.foreach { ev =>
            val h = ev.ts.toInstant.atZone(zone)
              .truncatedTo(java.time.temporal.ChronoUnit.HOURS).toEpochSecond
            counts = counts.updated(h, counts.getOrElse(h, 0L) + 1L)
            n += 1L
          }
          val hmax = counts.keys.max
          counts = counts.filter { case (h, _) =>
            (hmax - h) / 3600L < graft.operators.Events.DecayCapHours }
          state.update((counts, n))
          DecaySnapshot(uid, counts, n)
      }
  }

  /** Read-time decayed ranking over the NEWEST [[DecaySnapshot]] per
    * user (schema (user_id, counts, n_events)): decay every ring
    * bucket at the global newest hour and rank — exactly batch e35's
    * statement, so chunked replay + this fold reproduces it
    * (spec-pinned). One narrow scan, driver-sized reference
    * broadcast, TakeOrdered cut. */
  def decayedTopK(snaps: DataFrame, k: Int = 10): DataFrame = {
    import graft.operators.TextOps.idiv
    val cap = graft.operators.Events.DecayCapHours
    val ref = snaps.agg(max(array_max(map_keys(col("counts")))).as("ref_s"))
    snaps.crossJoin(broadcast(ref))
      .withColumn("decayed_e6",
        aggregate(map_entries(col("counts")), lit(0L), (acc, e) =>
          acc + when(
            idiv(col("ref_s") - e.getField("key"), lit(3600L)) >= cap, 0L)
            .otherwise(e.getField("value") * idiv(lit(1000000L),
              call_function("shiftleft", lit(1L),
                idiv(col("ref_s") - e.getField("key"), lit(3600L))
                  .cast("int"))))))
      .select(col("user_id"), col("decayed_e6"), col("n_events"))
      .orderBy(col("decayed_e6").desc, col("user_id"))
      .limit(k)
  }

  /** Output of [[patternStream]]: the k-cycle automaton's running
    * (completions, open stage). */
  case class PatternProgress(user_id: Long, n_funnels: Long,
      open_stage: Long)

  /** Streaming row-pattern recognition (continuous e19): the batch
    * k-cycle step ([[graft.operators.Events.cycleStep]]) over
    * click→view→purchase, carried as keyed state per user — each
    * arriving event either advances the accumulator by 1 or leaves it —
    * and the running (completions, open stage) emits per batch. A fold
    * is order-sensitive; [[eventTimeFold]] supplies the order and the
    * at-least-once fence, so in-order replay reproduces batch e19
    * exactly (spec-pinned). State is O(1) per user. */
  def patternStream(events: Dataset[KeyedEvent]): Dataset[PatternProgress] =
    eventTimeFold(events)(_.user_id, Encoders.scalaLong, Events.CycleState(),
        Encoders.product[PatternProgress])(
      (_, s, e, t, _) => (Events.cycleStep(3L, Long.MaxValue)(s, t,
        e.event_id, funnelCode(e.event_type)), Nil),
      (user, s, _) => Seq(PatternProgress(user, s.acc / 3L, s.acc % 3L)))

  /** One valued event of the CUSUM stream — e36's input unit. */
  case class ValuedEvent(event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double) extends EventTime
  /** One monitored event's CUSUM emission — batch e36's row shape. */
  case class CusumRow(event_type: String, event_id: Long, s_e6: Long,
      alarm: Long)

  /** Streaming e36: the CUSUM drift monitor as keyed state — here the
    * LITERAL recurrence S ← max(0, S + x − k) is the natural streaming
    * form (one long of state per event type; the batch query's
    * closed-form windows exist precisely because batch has no
    * accumulator). [[eventTimeFold]] drops duplicates and late arrivals,
    * so in-order replay reproduces batch e36 row for row (spec-pinned,
    * including the closed-form ≡ recurrence identity across the
    * batch/stream pair). */
  def cusumStream(events: Dataset[ValuedEvent]): Dataset[CusumRow] =
    cusumKeyedState(events, restartOnAlarm = false)

  /** The PRODUCTION posture of [[cusumStream]]: Page's original
    * decision rule — when S crosses the alarm threshold h the alarm
    * fires ONCE and the statistic resets to 0, re-arming detection.
    * The monitoring variant above (e36's shape) latches: once a
    * sustained shift pushes S past h every later row of the run
    * re-alarms, which is the right shape for a drift AUDIT but not
    * for an alerting monitor (unbounded statistic growth, no
    * re-detection). Restart makes alarm count = number of DETECTIONS
    * and keeps S bounded by h + one step. The statistic is no longer
    * two window frames in closed form (reset points depend on the
    * statistic itself), but WITHIN each inter-alarm segment the
    * closed-form identity S = P − min(0, running min P) holds from
    * the segment start — spec-pinned against the batch windows on
    * every post-alarm segment of the gate corpus. */
  def cusumRestartStream(events: Dataset[ValuedEvent]): Dataset[CusumRow] =
    cusumKeyedState(events, restartOnAlarm = true)

  private def cusumKeyedState(events: Dataset[ValuedEvent],
      restartOnAlarm: Boolean): Dataset[CusumRow] =
    eventTimeFold(events)(_.event_type, Encoders.STRING, 0L,
        Encoders.product[CusumRow]) { (tpe, s0, e, _, _) =>
      // EXACTLY the batch side's arithmetic: cents quantum
      // (BigDecimal HALF_UP at scale 0 of value*100 — Spark's
      // round()) scaled to e6, the integer-provenance form
      // that hashes identically in DuckDB — not round(x*1e6),
      // whose knife-edge doubles diverge across engines
      val d = BigDecimal(e.value * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong *
        10000L - Events.CusumSlackE6
      val s = math.max(0L, s0 + d)
      val alarm = s >= Events.CusumAlarmE6
      // restart posture: the alarm fires once, then the
      // statistic re-arms from 0 (Page's decision rule)
      (if (restartOnAlarm && alarm) 0L else s,
        Seq(CusumRow(tpe, e.event_id, s, if (alarm) 1L else 0L)))
    }

  /** One smoothed emission — batch e37's row shape. */
  case class EwmaRow(event_type: String, event_id: Long, ewma_q16: Long,
      hot: Long)

  /** Streaming e37: the EWMA control chart as keyed state — the last
    * 15 scored values (oldest first) plus the arriving one ARE the batch
    * query's 16-lag window, so the streamed statistic is bit-identical
    * to the batch linear form by construction (spec-pinned row for
    * row). O(16 longs) per event type; duplicates and late arrivals are
    * dropped by [[eventTimeFold]]. */
  def ewmaStream(events: Dataset[ValuedEvent]): Dataset[EwmaRow] = {
    val lags = Events.EwmaLags
    val hotAt = Events.EwmaHotE6 * 65536L
    eventTimeFold(events)(_.event_type, Encoders.STRING, Seq.empty[Long],
        Encoders.product[EwmaRow]) { (tpe, recent, e, _, _) =>
      val v = BigDecimal(e.value * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong * 10000L
      val win = (recent :+ v).takeRight(lags) // oldest first
      val m = win.length
      var s = 0L
      var i = 0
      // index i (oldest first) is lag j = m−1−i → weight 2^(15−j)
      while (i < m) { s += win(i) * (1L << (16 - m + i)); i += 1 }
      (win.takeRight(lags - 1),
        Seq(EwmaRow(tpe, e.event_id, s, if (s >= hotAt) 1L else 0L)))
    }
  }

  /** One staged (source, md5-hex) row of the KMV stream — the unit
    * batch x43 aggregates. */
  case class SourcedHash(source: String, h: String)
  /** Per-source KMV snapshot after a micro-batch: the current ≤k-min
    * sketch (ascending) plus the monotone rows-folded counter that
    * orders snapshots (the [[Fenced]] `n_seen` discipline). */
  case class KmvSnapshot(source: String, n_seen: Long, sketch: Seq[String])
  case class KmvState(n_seen: Long, mins: Seq[String])

  /** Streaming x43: continuous per-source KMV sketches as keyed state —
    * the ingest twin of [[graft.functions.KmvAggExpr]]. The k-min-of-
    * distinct fold is associative, commutative AND duplicate-
    * insensitive, so unlike the (ts, event_id)-guarded twins this
    * needs NO redelivery guard at all: replaying any chunk, in any
    * order, any number of times converges to the batch sketch
    * (spec-pinned). State is ≤k strings per source; downstream
    * overlap estimation is batch x43's integer arithmetic over the
    * latest snapshots. */
  def kmvStream(rows: Dataset[SourcedHash], k: Int): Dataset[KmvSnapshot] = {
    implicit val se: org.apache.spark.sql.Encoder[KmvState] =
      Encoders.product[KmvState]
    implicit val oe: org.apache.spark.sql.Encoder[KmvSnapshot] =
      Encoders.product[KmvSnapshot]
    implicit val ke: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    rows.groupByKey(_.source)
      .flatMapGroupsWithState[KmvState, KmvSnapshot](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (src: String, batch: Iterator[SourcedHash],
            state: GroupState[KmvState]) =>
          val set = new java.util.TreeSet[String]()
          state.getOption.foreach(_.mins.foreach(set.add))
          var n = state.getOption.fold(0L)(_.n_seen)
          batch.foreach { r =>
            n += 1L
            if (set.size < k) { set.add(r.h): Unit }
            else if (r.h.compareTo(set.last) < 0 && set.add(r.h)) {
              set.pollLast(): Unit
            }
          }
          import scala.jdk.CollectionConverters._
          val mins = set.iterator().asScala.toSeq
          state.update(KmvState(n, mins))
          Iterator.single(KmvSnapshot(src, n, mins))
      }
  }

  /** One seasonal emission — batch e38's row shape plus the ordering
    * counter `n_seen` (a bucket's sum is monotone within its hour but
    * the emitted row set is not). base/resid are None while the
    * day-back hour is absent (batch's NULL). */
  case class SeasonalRow(event_type: String, hour_s: Long, sum_c: Long,
      base_c: Option[Long], resid_c: Option[Long], shifted: Long,
      n_seen: Long)

  /** Streaming e38: the seasonal-naive residual monitor as keyed
    * state — each arriving event folds into its hour bucket and the
    * emission compares the bucket's RUNNING sum against the day-back
    * hour's bucket. In-order replay makes the day-back bucket final
    * before the current hour opens (hour h−86400 closes strictly
    * before h begins), so the LATEST emission per (type, hour) — by
    * n_seen — equals batch e38 row for row (spec-pinned).
    * [[eventTimeFold]] drops duplicates and late arrivals, so
    * redelivery cannot double-count a bucket. State is the open hour
    * buckets of the trailing day (hour_s → running cents sum, ≤25
    * pairs per event type). */
  def seasonalResidStream(events: Dataset[ValuedEvent]): Dataset[SeasonalRow] = {
    val threshold = Events.SeasonalResidC
    eventTimeFold(events)(_.event_type, Encoders.STRING, Map.empty[Long, Long],
        Encoders.product[SeasonalRow]) { (tpe, buckets, e, t, n) =>
      val h = Math.floorDiv(t, 3600L * 1000000L) * 3600L
      val c = BigDecimal(e.value * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val sum = buckets.getOrElse(h, 0L) + c
      // day-back buckets stay needed for the CURRENT hour only
      // (in-order: h is non-decreasing), prune strictly older
      val kept = buckets.updated(h, sum).filter(_._1 >= h - 86400L)
      val base = kept.get(h - 86400L)
      (kept, Seq(SeasonalRow(tpe, h, sum, base, base.map(sum - _),
        if (base.exists(b => math.abs(sum - b) >= threshold)) 1L else 0L,
        n)))
    }
  }

  /** One verified near-dup pair with its sources attached — d24's
    * input unit (sources joined upstream against the standing id →
    * source dimension; `a < b` with `b` the newer document, the
    * incremental-dedup emission convention). */
  case class SourcedPair(a: Long, b: Long, sa: String, sb: String)
  /** One matrix-cell emission — batch d24's row shape. `n_pairs` is
    * monotone per cell, so consumers take the max. */
  case class CellCount(src_a: String, src_b: String, n_pairs: Long,
      within: Boolean)
  /** Per-cell state: the count plus the newest scored (b, a) for the
    * at-least-once guard — a new document's pairs are emitted once in
    * (b, a) order, so anything at or before the watermark is a
    * redelivery. Three longs per source pair. */
  case class CellState(n_pairs: Long, last_b: Long, last_a: Long)

  /** Streaming d24: the cross-source duplication matrix as keyed
    * state — verified near-dup pairs (the incremental-dedup stream's
    * output, sources attached) fold into their unordered source cell
    * as they arrive, so the provenance report is continuously
    * current instead of recomputed per release. Same at-least-once
    * discipline as [[permuteStream]]: each cell's state carries the
    * newest scored (b, a) and drops anything at or before it, so
    * duplicate redelivery cannot double-count (spec pins chunked
    * in-order replay ≡ batch d24 and redelivery idempotence). State
    * is O(#source-pairs) — taxonomy-sized, never pair-sized.
    *
    * Emission contract (ADVICE r16): a touched cell emits ONLY when
    * its count actually advanced in the batch — n_pairs is monotone,
    * so suppressing no-op rows preserves the latest-wins/max contract
    * while keeping an Append sink from growing on redeliveries of
    * already-counted pairs (a hot cell otherwise accretes one
    * identical row per micro-batch forever). Consumers still reduce
    * by max(n_pairs) per cell, as the row doc states. */
  def sourceDupStream(pairs: Dataset[SourcedPair]): Dataset[CellCount] = {
    implicit val ce: org.apache.spark.sql.Encoder[CellCount] =
      Encoders.product[CellCount]
    implicit val se: org.apache.spark.sql.Encoder[CellState] =
      Encoders.product[CellState]
    implicit val ke: org.apache.spark.sql.Encoder[(String, String)] =
      Encoders.product[(String, String)]
    pairs.groupByKey(p =>
        if (p.sa <= p.sb) (p.sa, p.sb) else (p.sb, p.sa))
      .flatMapGroupsWithState[CellState, CellCount](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (cell: (String, String), batch: Iterator[SourcedPair],
            state: GroupState[CellState]) =>
          var st = state.getOption
            .getOrElse(CellState(0L, Long.MinValue, Long.MinValue))
          val before = st.n_pairs
          batch.toSeq.sortBy(p => (p.b, p.a)).foreach { p =>
            val fresh = p.b > st.last_b ||
              (p.b == st.last_b && p.a > st.last_a)
            if (fresh) st = CellState(st.n_pairs + 1L, p.b, p.a)
          }
          state.update(st)
          if (st.n_pairs == before) Iterator.empty // all redeliveries
          else Iterator.single(
            CellCount(cell._1, cell._2, st.n_pairs, cell._1 == cell._2))
      }
  }

  /** Open-session keyed state for [[concurrencyStream]]: the live
    * session's [start, end] seconds. `start_s == Long.MinValue` means
    * no session is open yet. */
  case class ConcSessionState(start_s: Long, end_s: Long)

  /** One spanned hour boundary of one CLOSED session — the unit row
    * of the streaming concurrency census. `entering` is 1 on the
    * session's first spanned boundary (the batch census's
    * `hour_s === sh` term). */
  case class BoundarySpan(user_id: Long, session_start_s: Long,
      hour_s: Long, entering: Long)

  /** Streaming SESSION CONCURRENCY CENSUS (continuous e39): the same
    * 30-min-gap sessions as [[sessionize]]/batch e2, but emitting each
    * closed session's SPANNED HOUR BOUNDARIES — exactly the rows batch
    * e39 explodes — so a downstream count per `hour_s` is the live
    * keyed-state population report (`n_active` = count, `n_entering`
    * = sum of `entering`). A session closes when a later event
    * arrives past the gap; the successor opens in the same fold, so
    * every session emits its spans exactly once under in-order
    * at-least-once delivery — [[eventTimeFold]] drops anything at or
    * before the newest folded event (late arrival, duplicate
    * redelivery), so a redelivered chunk emits ZERO rows. Emission algebra: rows are
    * keyed by (user_id, session_start_s, hour_s) — idempotent under
    * dedup-by-key, additive per hour under the exactly-once front.
    * The trailing open session is emitted only once a gap-breaking
    * event (or an explicit flush sentinel) arrives — the same
    * open-tail contract as the batch/stream windowed aggs.
    *
    * Scale notes (100 TB): state is two longs plus the fence per ACTIVE
    * user (the sessionizer's minimum); emissions are Σ spanned boundaries,
    * calendar-bounded per session — the same no-join linearization
    * the batch census argues (Events.scala e39), incrementalized. */
  def concurrencyStream(events: Dataset[KeyedEvent]): Dataset[BoundarySpan] = {
    val gap = Events.SessionGapS
    eventTimeFold(events)(_.user_id, Encoders.scalaLong,
        ConcSessionState(Long.MinValue, Long.MinValue),
        Encoders.product[BoundarySpan]) { (user, st, _, t, _) =>
      val ts = Math.floorDiv(t, 1000000L)
      if (st.start_s == Long.MinValue) (ConcSessionState(ts, ts), Nil)
      else if (ts - st.end_s > gap) {
        // ⌈start/3600⌉·3600 .. ⌊end/3600⌋·3600 — the batch explode
        val sh = ((st.start_s + 3599L) / 3600L) * 3600L
        val eh = (st.end_s / 3600L) * 3600L
        (ConcSessionState(ts, ts), (sh to eh by 3600L).map(h =>
          BoundarySpan(user, st.start_s, h, if (h == sh) 1L else 0L)))
      } else (ConcSessionState(st.start_s, ts), Nil)
    }
  }

  /** One (shingle, batch) incidence row — the stream form of x45's
    * census input. Upstream shingles each arriving document
    * STATELESSLY (TextOps.words/shingles3 + array_distinct + explode,
    * the same pipeline the standing index materializes) and stamps
    * its ingestion batch id on every row. */
  case class ShingleIncidence(shingle: String, batch: Long)

  /** Streaming NOVELTY MONITOR (continuous x45): emit each shingle
    * exactly ONCE — on the micro-batch where it is seen for the first
    * time ever, stamped with the ingestion batch that introduced it —
    * so a downstream count per `batch` is x45's `novel_grams` column
    * live, and its running total is the empirical Heaps curve as it
    * happens: the report a curation pipeline reads DURING ingest to
    * decide when additional same-source data stops paying for itself,
    * rather than in a nightly batch census.
    *
    * Unlike the fold twins ([[concurrencyStream]], [[sourceDupStream]])
    * this needs no custom keyed state at all: first-ever-occurrence IS
    * streaming `dropDuplicates` (compose-first — the built-in stateful
    * dedup operator carries exactly the per-key "seen" bit, with its
    * store-backed exactly-once emission), so duplicate redelivery of a
    * chunk emits ZERO rows natively and the emission key (`shingle`)
    * is idempotent under dedup-by-key — the same algebra the fold
    * twins hand-build. No watermark on purpose: novelty against the
    * WHOLE history is the semantics (a shingle resurfacing after a
    * quiet month is not novel), so keys must never expire.
    *
    * Scale notes (100 TB): state is one entry per DISTINCT shingle —
    * the same cardinality the standing inverted index `graft_shinv`
    * materializes on disk, so it is the already-accepted storage bound
    * of the batch path, held in the state store (RocksDB-backed on a
    * production cluster; key-only, value is empty). When even that is
    * too much and an approximate curve suffices, the bounded-memory
    * alternative is the sketch tier (per-batch KMV/HLL union — q22's
    * machinery), trading exactness for O(k) state. */
  def noveltyStream(inc: Dataset[ShingleIncidence]): Dataset[ShingleIncidence] =
    inc.dropDuplicates(Seq("shingle"))

  case class PermuteProgress(user_id: Long, n_complete: Long,
      open_mask: Long, n_seen: Long)

  /** Streaming PERMUTE recognition (continuous e28): the batch
    * bitmask step ([[graft.operators.Events.permuteStep]]) — one click +
    * one view + one purchase in any order, a repeat restarting the
    * attempt — carried as keyed state. [[eventTimeFold]] supplies the
    * order and the at-least-once fence, so in-order replay reproduces
    * batch e28 exactly (spec-pinned). The mask is not monotone, so
    * consumers take the row with the highest `n_seen` as current. State
    * is O(1) per user. */
  def permuteStream(events: Dataset[KeyedEvent]): Dataset[PermuteProgress] =
    eventTimeFold(events)(_.user_id, Encoders.scalaLong, Events.PermuteState(),
        Encoders.product[PermuteProgress])(
      (_, s, e, t, _) => (Events.permuteStep(3)(s, t, e.event_id,
        funnelCode(e.event_type)), Nil),
      (user, s, n) => Seq(PermuteProgress(user, s.n_complete, s.open_mask, n)))

  case class RepeatWithinProgress(user_id: Long, n_complete: Long,
      sum_b: Long, n_expired: Long, open_state: Long, open_b: Long,
      n_seen: Long)

  /** Streaming counted-repeat-under-deadline recognition (continuous
    * e30): `A B{minB,} C WITHIN w` as keyed state, folded by the batch
    * step ([[graft.operators.Events.repeatStep]]) — expiry precedes the
    * transition (e21's rule: an event arriving past `w` from the open
    * attempt's start expires it FIRST, and may itself then open a fresh
    * attempt), the counted-repeat rule applies after. The expiry clock
    * is EVENT time in micros (the batch's unix_micros), not wall clock,
    * and [[eventTimeFold]] supplies the order and the at-least-once
    * fence, so replay reproduces batch e30 exactly (spec-pinned). State
    * is O(1) per user. */
  def repeatWithinStream(events: Dataset[KeyedEvent], minB: Int,
      windowMicros: Long): Dataset[RepeatWithinProgress] = {
    require(minB >= 1 && windowMicros > 0L, "need minB >= 1, window > 0")
    eventTimeFold(events)(_.user_id, Encoders.scalaLong, Events.RepeatState(),
        Encoders.product[RepeatWithinProgress])(
      (_, s, e, t, _) => (Events.repeatStep(minB, Int.MaxValue, windowMicros)(
        s, t, e.event_id, funnelCode(e.event_type)), Nil),
      (user, s, n) => Seq(RepeatWithinProgress(user, s.n_complete, s.sum_b,
        s.n_expired, s.open_state, s.open_b, n)))
  }

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

  private def rollupVersions(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Nil
    else fs.listStatus(path).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("v"))
      .flatMap(p => scala.util.Try(p.getName.drop(1).toLong).toOption.map(_ -> p))
  }

  /** The current standing rollup maintained by [[deltaAggStream]]
    * (empty before the first batch). `before` bounds the version read —
    * the stream passes its own batch id so a REDELIVERED micro-batch
    * (failure before the ack) absorbs into the same base it did the
    * first time: idempotent re-run instead of double counting. */
  def deltaAggCurrent(s: org.apache.spark.sql.SparkSession, dir: String,
      before: Long = Long.MaxValue): DataFrame = {
    val vs = rollupVersions(s, dir).filter(_._1 < before)
    if (vs.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        RollupSchema)
    else s.read.parquet(vs.maxBy(_._1)._2.toString)
  }

  /** Keyed state of [[overlapWithinStream]]: pending (t µs, start id)
    * clicks and pending (start t µs, start id, view id) pairs. */
  case class OverlapWithinState(
      starts: List[(Long, Long)],
      pairs: List[(Long, Long, Long)])
  case class OverlapMatch(user_id: Long, start_event_id: Long,
      mid_event_id: Long, end_event_id: Long, span_us: Long)

  /** Streaming e34 — OVERLAPPING matches under `WITHIN`, as keyed
    * state: pending stage-1 starts await the next view (ALL of them
    * chain to it — the suffix-sharing semantics), pending
    * (start, view) pairs await the next purchase, and matches emit
    * the moment they complete (Append mode, per-event latency). The
    * WITHIN deadline is precisely what makes this twin POSSIBLE:
    * every arriving event first expires state older than the window,
    * so a key's state is bounded by window × event rate — the
    * unbounded e32 chain has NO streaming twin because its pending
    * set is O(history) on an all-clicks stream (its scaladoc's
    * argument). Greedy and non-backtracking like the batch twin: a
    * pair whose first purchase misses the deadline is dropped, never
    * retried. Duplicate redelivery is fenced by [[eventTimeFold]];
    * idle-key GC would use a state timeout in production — state here
    * is bounded per ACTIVE key by the window. */
  def overlapWithinStream(events: Dataset[KeyedEvent],
      windowMicros: Long): Dataset[OverlapMatch] = {
    require(windowMicros > 0L, "window must be positive")
    eventTimeFold(events)(_.user_id, Encoders.scalaLong,
        OverlapWithinState(Nil, Nil), Encoders.product[OverlapMatch]) {
      (user, st, e, t, _) =>
        // event-time expiry BOUNDS the state: anything older
        // than the window can never complete in-window again
        val starts = st.starts.filter(s => t - s._1 <= windowMicros)
        val pairs = st.pairs.filter(p => t - p._1 <= windowMicros)
        e.event_type match {
          case "click" =>
            (OverlapWithinState(starts :+ ((t, e.event_id)), pairs), Nil)
          case "view" => (OverlapWithinState(Nil,
            pairs ++ starts.map(s => (s._1, s._2, e.event_id))), Nil)
          case "purchase" => (OverlapWithinState(starts, Nil),
            pairs.map(p => OverlapMatch(user, p._2, p._3, e.event_id, t - p._1)))
          case _ => (OverlapWithinState(starts, pairs), Nil)
        }
    }
  }

  /** Histogram schema maintained by [[budgetThresholdStream]]. */
  private val BudgetHistSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("pfx",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("cnt",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tok",
      org.apache.spark.sql.types.LongType)))

  /** The standing 65536-bucket budget histogram maintained by
    * [[budgetThresholdStream]] (empty before the first batch);
    * `before` is the deltaAggCurrent redelivery bound. */
  def budgetHistCurrent(s: org.apache.spark.sql.SparkSession,
      dir: String, before: Long = Long.MaxValue): DataFrame = {
    val vs = rollupVersions(s, dir).filter(_._1 < before)
    if (vs.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        BudgetHistSchema)
    else s.read.parquet(vs.maxBy(_._1)._2.toString)
  }

  /** The maintained VIEW: the corpus's current token budget boundary —
    * x33's (budget, boundary bucket, headroom) computed off the
    * standing histogram, continuously. A selection stage reads this
    * one row to decide keeps at ingest without any corpus-wide pass. */
  def budgetThresholdView(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val hist = budgetHistCurrent(s, dir)
    hist.agg(graft.operators.TextOps.idiv(
        coalesce(sum(col("tok")), lit(0L)), lit(2L)).as("budget"))
      .crossJoin(graft.operators.TextAnalysis.budgetBoundary(hist))
  }

  /** Streaming x33 — the BUDGET THRESHOLD maintained continuously:
    * each micro-batch's 65536-bucket (count, tokens) histogram partial
    * (ADDITIVE, so chunking-exact) absorbs into a standing versioned
    * histogram (deltaAggStream's machinery + its `before = id`
    * redelivery idempotence); the boundary recomputes per batch off
    * the ≤65536-row store — driver-sized work, never a corpus pass.
    * The honest scope note: the THRESHOLD is what streams (it moves as
    * the corpus grows); re-grading previously-kept docs against the
    * moved threshold is a batch sweep by construction (x33's keep set
    * is defined over the WHOLE corpus — no per-event operator can emit
    * it before seeing the corpus). */
  def budgetThresholdStream(docs: DataFrame, storeDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val s = batch.sparkSession
        import graft.operators.TextAnalysis.{budgetKeyed, budgetHistFromKeyed}
        val delta = budgetHistFromKeyed(budgetKeyed(batch.toDF()))
          .select(col("pfx"), col("cnt").as("cnt_d"), col("tok").as("tok_d"))
        val base = budgetHistCurrent(s, storeDir, before = id)
        base.join(delta, Seq("pfx"), "full_outer")
          .select(col("pfx"),
            (coalesce(col("cnt"), lit(0L)) + coalesce(col("cnt_d"), lit(0L)))
              .as("cnt"),
            (coalesce(col("tok"), lit(0L)) + coalesce(col("tok_d"), lit(0L)))
              .as("tok"))
          .write.mode("overwrite").parquet(s"$storeDir/v$id")
        val path = new org.apache.hadoop.fs.Path(storeDir)
        val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
        rollupVersions(s, storeDir).filter(_._1 < id)
          .sortBy(_._1).dropRight(1)
          .foreach { case (_, p) => fs.delete(p, true) }
        ()
      }

  /** Support-table schema maintained by [[deltaDistinctStream]]. */
  private val SupportSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("hour_s",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("supp",
      org.apache.spark.sql.types.LongType)))

  /** The standing (hour_s, user_id, supp) support table maintained by
    * [[deltaDistinctStream]] (empty before the first batch). `before`
    * bounds the version read — the deltaAggCurrent redelivery
    * contract: a redelivered micro-batch absorbs into the same base
    * it did the first time. */
  def deltaDistinctCurrent(s: org.apache.spark.sql.SparkSession,
      dir: String, before: Long = Long.MaxValue): DataFrame = {
    val vs = rollupVersions(s, dir).filter(_._1 < before)
    if (vs.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        SupportSchema)
    else s.read.parquet(vs.maxBy(_._1)._2.toString)
  }

  /** The maintained VIEW over the standing support table: distinct
    * elements per group — what e33 calls `n_after`, continuously. */
  def deltaDistinctView(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    deltaDistinctCurrent(s, dir).filter(col("supp") > 0L)
      .groupBy(col("hour_s")).agg(count(lit(1)).as("n_distinct"))

  /** Streaming e33 — retractable distinct-count IVM at ingest: the
    * change feed carries (hour_s, user_id, w) rows with w = +1 for
    * inserts and −1 for retractions; each micro-batch's ±1 partial
    * sums absorb into the standing SUPPORT table via one full-outer
    * merge (the counting algorithm's auxiliary state as a persistent
    * versioned table — [[deltaAggStream]]'s machinery verbatim, which
    * also carries its redelivery idempotence: the `before = id` bound
    * makes a redelivered batch rebuild the same version from the same
    * base). Zero-support rows leave the table (it stays bounded by
    * LIVE elements); NEGATIVE merged support is feed corruption — a
    * retraction of something that never existed — and fails the batch
    * loudly instead of storing nonsense. NOTE the contrast with
    * [[hllStream]]: the sketch twin is redelivery-proof by ALGEBRA
    * (MAX-merge) but deletion-blind; this twin handles retractions
    * but needs the version-chain fence — you cannot have both with
    * constant state. */
  def deltaDistinctStream(changes: DataFrame, storeDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val s = batch.sparkSession
        val delta = batch.toDF()
          .groupBy(col("hour_s"), col("user_id")).agg(sum(col("w")).as("d"))
        val base = deltaDistinctCurrent(s, storeDir, before = id)
        base.join(delta, Seq("hour_s", "user_id"), "full_outer")
          .select(col("hour_s"), col("user_id"),
            (coalesce(col("supp"), lit(0L)) + coalesce(col("d"), lit(0L)))
              .as("supp"))
          .filter(
            when(col("supp") < 0L, raise_error(concat(
              lit("deltaDistinctStream: negative support for (hour_s="),
              col("hour_s"), lit(", user_id="), col("user_id"),
              lit(") — retraction of a non-existent element"))))
              .otherwise(lit(true)))
          .filter(col("supp") > 0L)
          .write.mode("overwrite").parquet(s"$storeDir/v$id")
        val path = new org.apache.hadoop.fs.Path(storeDir)
        val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
        rollupVersions(s, storeDir).filter(_._1 < id)
          .sortBy(_._1).dropRight(1)
          .foreach { case (_, p) => fs.delete(p, true) }
        ()
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
        // prune all versions older than the new base
        val path = new org.apache.hadoop.fs.Path(storeDir)
        val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
        rollupVersions(s, storeDir).filter(_._1 < id)
          .sortBy(_._1).dropRight(1)
          .foreach { case (_, p) => fs.delete(p, true) }
        ()
      }

  /** Output mode guidance per op (what a caller's writeStream should
    * use): windowed aggs → Append (emit on watermark close) or Update;
    * latestState → Update; dedupExact → Append. */
  val outputModes: Map[String, OutputMode] = Map(
    "hourlyAgg" -> OutputMode.Append(),
    "sessionize" -> OutputMode.Append(),
    "dedupExact" -> OutputMode.Append(),
    "latestState" -> OutputMode.Update(),
    "attribute" -> OutputMode.Append(),
    "attributionStream" -> OutputMode.Append(),
    "nearDupCandidates" -> OutputMode.Append(),
    "incrementalDedupStream" -> OutputMode.Append(),
    "contaminationStream" -> OutputMode.Append(),
    "subsumptionStream" -> OutputMode.Append(),
    "lmScoreStream" -> OutputMode.Append(),
    "piiScrubStream" -> OutputMode.Append(),
    "normalizeStream" -> OutputMode.Append(),
    "gopherStream" -> OutputMode.Append(),
    "chunkStream" -> OutputMode.Append(),
    "cmsStream" -> OutputMode.Complete(),
    "hllStream" -> OutputMode.Complete(),
    "weightedSampleStream" -> OutputMode.Append(),
    "decodeStream" -> OutputMode.Append(),
    "audioDecodeStream" -> OutputMode.Append(),
    "alignFilterStream" -> OutputMode.Append(),
    "funnelStages" -> OutputMode.Append(),
    "anomalyStream" -> OutputMode.Append(),
    "deltaAggStream" -> OutputMode.Update(),
    "deltaDistinctStream" -> OutputMode.Update(),
    "budgetThresholdStream" -> OutputMode.Update(),
    "overlapWithinStream" -> OutputMode.Append(),
    "patternStream" -> OutputMode.Append(),
    "cusumStream" -> OutputMode.Append(),
    "seasonalResidStream" -> OutputMode.Append(),
    "sourceDupStream" -> OutputMode.Append(),
    "permuteStream" -> OutputMode.Append(),
    "repeatWithinStream" -> OutputMode.Append(),
    "semDedupStream" -> OutputMode.Append(),
    "semDedupIngest" -> OutputMode.Update(),
    "knnGraphStream" -> OutputMode.Update(),
    "ingestDecideStream" -> OutputMode.Update(),
    "graphSearchStream" -> OutputMode.Update(),
    "decayedHittersStream" -> OutputMode.Update(),
    "colloStream" -> OutputMode.Update(),
    "fertilityStream" -> OutputMode.Update())
}
