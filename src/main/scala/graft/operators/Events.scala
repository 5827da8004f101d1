package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import scala.reflect.runtime.universe.TypeTag

/** Event-stream operators over the `events` table — the batch views of
  * what the streaming module runs continuously: tumbling-window
  * aggregation, sessionization, semi-structured JSON extraction, as-of
  * enrichment, latest-state materialization (the CDC "current state per
  * key" view the reference's consumers hand-build, SURVEY.md §2.5).
  *
  * Timestamp note: the parquet carries nanosecond timestamps; Spark
  * reads them at microsecond precision. Oracled outputs therefore expose
  * epoch *seconds* (floor) or hour-truncated times — identical at any
  * precision ≥ 1s — rather than raw timestamps.
  *
  * Scale notes (100 TB): every query shuffles exactly once on its
  * natural key (hour/user_id) and aggregates partially map-side where
  * the op allows; sessionization and latest-state are single window
  * passes after one shuffle — at real scale you'd range-partition by
  * (user_id, ts) on write so the shuffle disappears entirely.
  */
object Events {

  val SessionGapS = 1800L

  /** e1: tumbling 1-hour window aggregation per event type. */
  def e1HourlyAgg(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        dollars(sum(cents(col("value")))).as("sum_value"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("hour_s"), col("event_type"))

  /** e2: sessionization — 30-min-gap sessions per user via the
    * gaps-and-islands window pattern (lag → boundary flag → running sum
    * = session ordinal). */
  def e2Sessionize(s: SparkSession, d: String): DataFrame =
    sessionAgg(s, d).orderBy(col("user_id"), col("session_id"))

  /** The e2 session frame without the presentation sort — one
    * derivation shared by e2's listing and e39's concurrency census,
    * so the two can never disagree on what a session is. */
  private def sessionAgg(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = events(s, d)
      .withColumn("prev_s", lag(unix_timestamp(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_s").isNull ||
          unix_timestamp(col("ts")) - col("prev_s") > SessionGapS, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_timestamp(col("ts"))).as("start_s"),
        max(unix_timestamp(col("ts"))).as("end_s"),
        dollars(sum(cents(col("value")))).as("sum_value"))
      .withColumn("duration_s", col("end_s") - col("start_s"))
  }

  /** e39: SESSION CONCURRENCY CENSUS — active sessions at every hour
    * boundary a session spans (the capacity-planning / state-sizing
    * report a streaming sessionizer reads: `n_active` is exactly the
    * keyed-state population an e2-equivalent stream holds at that
    * instant, `n_entering` how many of them arrived that hour). A
    * session [start_s, end_s] is active at boundary h iff
    * start_s ≤ h ≤ end_s, i.e. h ∈ [⌈start/3600⌉·3600,
    * ⌊end/3600⌋·3600] — so each session EXPLODES its own spanned
    * boundaries (a narrow generate, Σ spanned boundaries rows — zero
    * at sub-hour sessions) and one hash agg counts per boundary.
    * Per (user, boundary) at most one session is active (the session
    * gap is 30 min < 1 h: a successor session starts after the
    * predecessor's end, so it cannot reach back to a boundary the
    * predecessor covered) — n_active is therefore also the distinct
    * active-user count.
    *
    * Scale notes (100 TB): the interval-overlap join this replaces
    * (sessions ⨯ hour dimension under a band predicate) is a
    * BNLJ whose cost is sessions × hours; the explode form is LINEAR
    * in Σ spanned boundaries with no join at all, and the groupBy key
    * (hour_s) has timespan-bounded cardinality. One adversarial
    * years-long session emits timespan/3600 rows — bounded by the
    * calendar, not the corpus. */
  def e39Concurrency(s: SparkSession, d: String): DataFrame =
    sessionAgg(s, d)
      .select(col("user_id"),
        (graft.operators.TextOps.idiv(col("start_s") + lit(3599L),
          lit(3600L)) * 3600L).as("sh"),
        (graft.operators.TextOps.idiv(col("end_s"), lit(3600L)) * 3600L)
          .as("eh"))
      .select(col("sh"),
        explode(when(col("sh") <= col("eh"),
          sequence(col("sh"), col("eh"), lit(3600L)))).as("hour_s"))
      .groupBy(col("hour_s"))
      .agg(count(lit(1)).as("n_active"),
        count(when(col("hour_s") === col("sh"), lit(1))).as("n_entering"))
      .orderBy(col("hour_s"))

  /** e3: semi-structured extraction — pull `k` out of the JSON `props`
    * column and aggregate it per event type. */
  def e3JsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** e4: as-of enrichment — each click joined to the user's most recent
    * prior-or-simultaneous purchase (see [[AsOfJoin]] for the plan
    * rationale). */
  def e4AsofPurchase(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"),
        cents(col("value")).as("purchase_cents"))
    // Native Catalyst path (custom logical node + strategy +
    // sort-merge SparkPlan); AsOfJoinNativeSpec pins it equal to the
    // composed union+window fallback AsOfJoin.asof on this exact shape.
    graft.plans.AsOfMergeJoin.asof(clicks, purchases, "user_id", "ts",
      Seq("purchase_id", "purchase_cents"))
      .select(col("click_id"), col("user_id"),
        unix_timestamp(col("ts")).as("click_s"),
        col("purchase_id"),
        dollars(col("purchase_cents")).as("purchase_value"))
      .orderBy(col("click_id"))
  }

  /** e5: latest state per key — the CDC current-state materialization
    * (row_number over desc event time; SURVEY.md §2.5). */
  def e5LatestState(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        unix_timestamp(col("ts")).as("last_s"))
      .orderBy(col("user_id"))
  }

  /** e6: ordered funnel — users reaching click → view-within-24h →
    * purchase-within-24h-of-view, counted per deepest stage. Stage
    * timestamps are CHAINED WINDOWS over one user partitioning: t1 =
    * min click time per user; t2 = min view time inside t1's window;
    * t3 = min purchase time inside t2's — each a conditional min that
    * may reference the previous window column, all sharing the same
    * partitioning.
    *
    * Scale notes (100 TB): a join formulation (stage N's aggregate
    * joined to stage N-1's) re-derives every upstream stage per branch
    * — measured 6 scans of events for 3 stages, compounding per stage.
    * This shape is ONE scan and one user_id exchange (the window
    * chain reuses it), then a 3-row aggregate. No per-user event
    * lists are materialized. */
  def e6Funnel(s: SparkSession, d: String): DataFrame =
    funnelTimes(events(s, d))
      .withColumn("stage",
        when(col("t3").isNotNull, 3L)
          .when(col("t2").isNotNull, 2L).otherwise(1L))
      .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))

  /** Per-user ordered funnel stage times (the e6 window pass): first
    * click t1, first view within 24 h after t1, first purchase within
    * 24 h after t2; users with no click drop. Shared by e6 (stage
    * counts) and e18 (conversion rates + latency quantiles). */
  private def funnelTimes(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val h24 = expr("INTERVAL 24 HOURS")
    ev.select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("t1", min(when(col("event_type") === "click", col("ts")))
        .over(byUser))
      .withColumn("t2", min(when(col("event_type") === "view" &&
        col("ts") > col("t1") && col("ts") <= col("t1") + h24, col("ts")))
        .over(byUser))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") > col("t2") && col("ts") <= col("t2") + h24, col("ts")))
        .over(byUser))
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
      .filter(col("t1").isNotNull)
  }

  /** e18: funnel conversion metrics — what e6's stage counts become
    * when the question is "how MANY convert, and how FAST": per
    * transition (click→view, view→purchase) the entered/converted
    * counts, the conversion rate as an exact integer ratio (e6
    * quantum), and the DISCRETE p50/p90 time-to-convert in seconds
    * (the value at sorted position (n−1)·q div 100 — type-1 quantile,
    * integer-exact in both engines, no interpolation float).
    *
    * Scale shape: delays aggregate to a (transition, delay_s)
    * HISTOGRAM first (map-side combined; the domain is bounded by the
    * 24 h funnel window — ≤86 400 distinct values per transition), so
    * the quantile window runs over the bounded value domain, never the
    * user population — q13's discipline with an even tighter bound. */
  def e18Conversion(s: SparkSession, d: String): DataFrame = {
    // the funnel window pass over the full event stream is the heavy
    // stage; localCheckpoint materializes it ONCE for its three
    // consumers (entered counts + both delay branches) — the q24/CC
    // loop discipline applied to a diamond-shaped plan
    val times = funnelTimes(events(s, d)).localCheckpoint()
    val ent = times
      .agg(count(col("t1")).as("n1"), count(col("t2")).as("n2"),
        count(col("t3")).as("n3"))
      .select(explode(array(
        struct(lit("click_to_view").as("transition"),
          col("n1").as("n_entered"), col("n2").as("n_converted")),
        struct(lit("view_to_purchase").as("transition"),
          col("n2").as("n_entered"), col("n3").as("n_converted")))).as("r"))
      .select(col("r.*"))
    val delays =
      times.filter(col("t2").isNotNull)
        .select(lit("click_to_view").as("transition"),
          (unix_timestamp(col("t2")) - unix_timestamp(col("t1"))).as("delay_s"))
        .unionByName(times.filter(col("t3").isNotNull)
          .select(lit("view_to_purchase").as("transition"),
            (unix_timestamp(col("t3")) - unix_timestamp(col("t2"))).as("delay_s")))
    val byT = Window.partitionBy(col("transition"))
    val cumW = byT.orderBy(col("delay_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = delays.groupBy(col("transition"), col("delay_s"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum_end", sum(col("cnt")).over(cumW))
      .withColumn("cum_start", col("cum_end") - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(byT))
    def atPct(pct: Int): Column = {
      val pos = call_function("div", (col("n") - 1L) * lit(pct.toLong), lit(100L))
      max(when(pos >= col("cum_start") && pos < col("cum_end"), col("delay_s")))
    }
    val q = cum.groupBy(col("transition"))
      .agg(atPct(50).as("p50_s"), atPct(90).as("p90_s"))
    ent.join(q, Seq("transition"), "left")
      .select(col("transition"), col("n_entered"), col("n_converted"),
        call_function("div", col("n_converted") * lit(1000000L),
          col("n_entered")).as("conv_rate_e6"),
        col("p50_s"), col("p90_s"))
      .orderBy(col("transition"))
  }

  /** e7: weekly cohort retention — each user's cohort is their
    * first-seen epoch week; each (cohort, week-offset) cell counts the
    * distinct users from that cohort active that week. Integer epoch
    * weeks (floor(epoch/604800)) keep both engines on exact arithmetic
    * — no calendar/date-function drift.
    *
    * Scale notes (100 TB): one user_id shuffle (the cohort window) and
    * one (cohort, offset) aggregate whose distinct-count expands with
    * map-side partials; the matrix output is tiny (weeks²). The window
    * min could equally come from a pre-aggregated first-seen table —
    * at real scale that profile is usually materialized once and
    * broadcast. */
  def e7Retention(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    events(s, d)
      .select(col("user_id"),
        floor(unix_timestamp(col("ts")).cast("double") / 604800d)
          .cast("long").as("week"))
      .withColumn("cohort_week", min(col("week")).over(byUser))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** The e8 band dimension: a contiguous log-spaced partition of the
    * value domain `[0, ∞)`. (band_id, lo, hi); the last band is
    * GENUINELY open-ended (`hi = None` → NULL in the dim table), so
    * every non-negative finite value lands in exactly one band —
    * values ≥ the last lower bound are never dropped. Domain contract:
    * negative or NULL values are out of domain for the band dimension
    * (they match no band in the join form and bin to NULL in
    * [[bandOf]]); `EventsSpec` pins conservation over `[0, ∞)`
    * including values past the old 1e9 cap. */
  val Bands: Seq[(Long, Double, Option[Double])] = Seq(
    (0L, 0.0, Some(10.0)), (1L, 10.0, Some(25.0)), (2L, 25.0, Some(50.0)),
    (3L, 50.0, Some(100.0)), (4L, 100.0, Some(200.0)), (5L, 200.0, None))

  /** e8: RANGE (band) join — every event priced into a value band
    * (`lo <= value < hi`), then aggregated per band. The band dimension
    * is tiny and broadcast, so the non-equi predicate plans as a
    * BroadcastNestedLoopJoin: zero exchange on the fact side, O(#bands)
    * comparisons per row — the correct physical shape for
    * fact × tiny-interval-dim at any scale (the generic interval-join
    * problem; for dim tables too big to broadcast you'd bin both sides
    * to an equi key first). Because THESE bands partition the domain
    * contiguously, the join is also expressible as a narrow binning
    * expression with no join at all — [[bandOf]] — and `EventsSpec`
    * pins the two forms equal; the join form is what generalizes to
    * gaps/overlaps, the binning form is the 100 TB fast path. */
  def e8BandJoin(s: SparkSession, d: String): DataFrame =
    bandJoin(s, events(s, d))

  /** Library form of [[e8BandJoin]] over any (user_id, value) frame. */
  def bandJoin(s: SparkSession, ev: DataFrame): DataFrame = {
    import s.implicits._
    val bands = Bands.toDF("band_id", "lo", "hi")
    ev
      .join(broadcast(bands),
        col("value") >= col("lo") &&
          (col("hi").isNull || col("value") < col("hi")))
      .groupBy(col("band_id"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_events"),
        dollars(sum(cents(col("value")))).as("sum_value"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("band_id"))
  }

  /** The join-free twin of e8's band assignment: a when-chain over the
    * literal bands — pure narrow projection, codegen'd. Valid exactly
    * because the bands partition the domain (each value matches one
    * band); spec-pinned equal to the join form. */
  def bandOf(value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Bands.foldLeft(lit(null).cast("long")) { case (acc, (id, lo, hiOpt)) =>
      val in = hiOpt.fold(value >= lit(lo))(hi => value >= lit(lo) && value < lit(hi))
      when(in, lit(id)).otherwise(acc)
    }

  /** Trailing-window length (in observed hourly buckets) and the
    * minimum window occupancy below which e9 never flags. */
  val TrailBuckets = 24
  val MinTrail     = 12

  /** Largest per-bucket count for which the trailing Σn² still fits the
    * BIGINT `trail_sumsq` OUTPUT column: floor(sqrt(Long.Max /
    * TrailBuckets)) − 1 ≈ 6.19e8 (≈172k events/sec sustained for an
    * hour, per type). [[anomalyFlags]] fails LOUDLY above it rather
    * than wrapping; the is_anomaly test itself is computed in
    * decimal(38,0) / BigInt and is exact for any count up to the bound. */
  val MaxBucketCount: Long =
    math.sqrt(Long.MaxValue.toDouble / TrailBuckets).toLong - 1

  /** e9: trailing-window ANOMALY detection over the hourly event-count
    * series — each (event_type, hour) bucket is flagged when its count
    * deviates from the trailing-[[TrailBuckets]]-bucket mean by more
    * than 3 population standard deviations. The z²>9 test is evaluated
    * as the cross-multiplied integer inequality
    * `(k·n − s)² > 9·(k·ss − s²)` (k = window count, s/ss = window
    * sum/sum-of-squares) in decimal(38,0) (HUGEINT in the oracle), so
    * the flag is exact integer arithmetic in both engines — no float
    * mean, no sqrt, no epsilon, and no silent int64 wrap: the
    * cross-products exceed int64 once hourly counts reach ~1.3e8, well
    * inside the [[MaxBucketCount]] domain the BIGINT output columns
    * support (above which the operator raises). Windows are
    * trailing-only (the current bucket never contaminates its own
    * baseline) and under-filled windows (< [[MinTrail]] buckets, incl.
    * series starts) never flag. Zero-variance baselines flag ANY
    * deviation — `d² > 0` — which is the right reading of "3σ" at σ=0.
    *
    * Scale notes (100 TB): the one heavy operation is the hourly
    * pre-aggregation — a full-width map-side-combined shuffle on
    * (hour, type). The window then runs over the AGGREGATED series
    * (#hours × #types rows — tiny at any corpus size), so partitioning
    * it by low-cardinality event_type is safe: per-partition work is
    * bounded by series length, not corpus size. Deliberately TWO
    * exchanges — pre-clustering the corpus by event_type to save the
    * second would cap the heavy aggregation's parallelism at #types. */
  def e9Anomaly(s: SparkSession, d: String): DataFrame =
    anomalyFlags(
      events(s, d)
        .groupBy(
          unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events")))
      .orderBy(col("hour_s"), col("event_type"))

  /** Library form of [[e9Anomaly]] over any (hour_s, event_type,
    * n_events) series frame. */
  def anomalyFlags(hourly: DataFrame): DataFrame = {
    val tw = Window.partitionBy(col("event_type")).orderBy(col("hour_s"))
      .rowsBetween(-TrailBuckets, -1)
    // Guard: counts above MaxBucketCount would overflow the BIGINT
    // Σn² output column — fail loudly (raise_error) instead of the
    // silent int64 wrap Spark's non-ANSI mode would otherwise produce.
    // The guard REPLACES the n_events column (not just the window
    // input) so it is evaluated for every row — a lone over-bound
    // bucket that no trailing frame ever reads still raises.
    val checked = hourly.withColumn("n_events",
      when(col("n_events") > lit(MaxBucketCount),
        raise_error(concat(
          lit(s"anomalyFlags: per-bucket count > MaxBucketCount=$MaxBucketCount "),
          lit("(BIGINT trailing-sumsq would overflow); count="),
          col("n_events").cast("string"))))
        .otherwise(col("n_events")))
    // The z²>9 inequality in decimal(38,0): its cross-products (up to
    // ~9·TrailBuckets·MaxBucketCount² ≈ 2e21) exceed int64 long before
    // the bound above, so int64 math would wrap silently — wrong flags
    // with no error — exactly where the window sums are still exact.
    // All intermediates fit decimal(38,0) with >17 digits of headroom
    // under the guard, so non-ANSI decimal null-on-overflow is
    // unreachable.
    val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val devD = d38(col("trail_n")) * d38(col("n_events")) - d38(col("trail_sum"))
    checked
      .withColumn("trail_n", count(lit(1)).over(tw))
      .withColumn("trail_sum", coalesce(sum(col("n_events")).over(tw), lit(0L)))
      .withColumn("trail_sumsq",
        coalesce(sum(col("n_events") * col("n_events")).over(tw), lit(0L)))
      .withColumn("is_anomaly",
        col("trail_n") >= MinTrail && devD * devD >
          d38(lit(9L)) * (d38(col("trail_n")) * d38(col("trail_sumsq")) -
            d38(col("trail_sum")) * d38(col("trail_sum"))))
  }

  /** e10: time-series GAP FILL + forward fill — the densify/ffill
    * step every downstream consumer of an hourly series assumes has
    * already happened (a missing bucket means ZERO events, but an
    * aggregation simply emits no row; rates, anomaly baselines and
    * charts all need the explicit gap). A complete per-type hourly
    * spine is generated from the observed [min, max] hour bounds
    * (sequence + explode off a 1-row broadcast bounds aggregate),
    * left-joined with the observed counts, and forward-filled with
    * `last(_, ignoreNulls)` over the per-type hour order. Gaps keep
    * `n_events` NULL (with `is_gap` exposed) so "no data" stays
    * distinguishable from the carried `filled_n`; hours before a
    * type's first observation fill to NULL in both engines.
    *
    * Scale notes (100 TB): the spine is #types × #hours rows —
    * dimension-sized however big the corpus — and everything after the
    * full-width hourly pre-aggregation (e9's argument) runs on it:
    * the bounds aggregate is 1 row broadcast, the spine join and the
    * forward-fill window are series-sized. */
  def e10GapFill(s: SparkSession, d: String): DataFrame =
    gapFill(
      events(s, d)
        .groupBy(
          unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events")))
      .orderBy(col("hour_s"), col("event_type"))

  /** Library form of [[e10GapFill]] over any (hour_s, event_type,
    * n_events) series frame. */
  def gapFill(hourly: DataFrame): DataFrame = {
    val bounds = hourly.agg(min(col("hour_s")).as("mn"), max(col("hour_s")).as("mx"))
    val spine = hourly.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"), lit(3600L))).as("hour_s"))
    val ffill = Window.partitionBy(col("event_type")).orderBy(col("hour_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "hour_s"), "left")
      .withColumn("filled_n", last(col("n_events"), ignoreNulls = true).over(ffill))
      .withColumn("is_gap", col("n_events").isNull)
      .select(col("hour_s"), col("event_type"), col("n_events"),
        col("filled_n"), col("is_gap"))
  }

  /** e11: SCD TYPE-2 HISTORY BUILD — the day-2 consumer of a change
    * stream: turn each user's event sequence into versioned validity
    * intervals of their state (here: the event_type acts as the
    * tracked attribute), collapsing no-change runs first. This is the
    * dimension-table build every CDC pipeline (the reference's
    * consumers included — its handlers emit raw changes and leave
    * history construction to the reader) bolts on downstream:
    * `valid_from_s`/`valid_to_s` half-open intervals, `version`
    * ordinals, `is_current` on the open row.
    *
    * Two window passes over ONE partitioning (user_id): lag to detect
    * state changes, then lead over the surviving change rows to close
    * each interval. The filter between them preserves sort order, so
    * Catalyst plans one exchange + one sort — the second window reuses
    * both (pinned in EventsSpec).
    *
    * Scale notes (100 TB): the change-detection filter runs BEFORE the
    * second window, so interval construction touches only transitions
    * (usually ≪ raw changes). One shuffle on the natural key; at real
    * scale the input would already be bucketed by user_id from the
    * capture layer and the exchange vanishes. No driver-side state. */
  def e11Scd2(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev_state", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
      .withColumn("version", row_number().over(byUser))
      .withColumn("valid_from_s", unix_timestamp(col("ts")))
      .withColumn("valid_to_s", lead(unix_timestamp(col("ts")), 1).over(byUser))
      .withColumn("is_current", col("valid_to_s").isNull)
      .select(col("user_id"), col("version").cast("long").as("version"),
        col("event_type").as("state"), col("valid_from_s"),
        col("valid_to_s"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Attribution window: a purchase credits every click by the same
    * user in the preceding 6 hours. */
  val AttributionWindowS = 21600L

  /** Shared INTERVAL-JOIN core of e12 and
    * [[graft.streaming.StreamOps.attributionStream]]: equi-join on the
    * user key with the event-time range as residual predicate. The
    * inputs are pre-renamed frames (`user_id, click_ts, click_id` /
    * `p_user_id, purchase_ts, purchase_id`) so the SAME builder runs on
    * static frames (where the range predicate is a post-join filter on
    * the hash join) and on streaming frames (where, with watermarks on
    * both sides, Spark derives each side's state-retention bound from
    * this predicate) — batch ≡ stream by construction, not by parallel
    * reimplementation.
    *
    * Scale notes (100 TB): the equi-key carries the shuffle — time is
    * NOT part of the partitioning, so there is no time-skew hazard; the
    * range residual evaluates within user groups. An all-pairs-in-
    * window join without an equi-key would be the e8 band-bucketing
    * shape instead. `lag_s` is floored-seconds arithmetic in both
    * engines. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") +
          expr(s"interval $AttributionWindowS seconds"))
      .select(col("click_id"), col("user_id"), col("purchase_id"),
        unix_timestamp(col("click_ts")).as("click_s"),
        unix_timestamp(col("purchase_ts")).as("purchase_s"),
        (unix_timestamp(col("purchase_ts")) -
          unix_timestamp(col("click_ts"))).as("lag_s"))

  /** e12: MULTI-TOUCH ATTRIBUTION — the interval join (every click in
    * the window gets credit), complementing e4's as-of join (only the
    * nearest single match). See [[attributionJoin]]. */
  def e12Attribution(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    attributionJoin(clicks, purchases)
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** e13: HEAVY HITTERS per window — the top-3 most active users each
    * hour. Two-stage by design: a (hour, user) pre-aggregation (partial
    * map-side combine takes the raw corpus down to bucket×key
    * cardinality) and THEN the rank window, partitioned by hour, over
    * the aggregated frame only. The ordering adds user_id as a
    * deterministic tie-break so row_number is engine-portable.
    *
    * Scale notes (100 TB): the window never sees raw events — it runs
    * over |hours|×|active users| pre-aggregated rows, partitioned by
    * hour (thousands of independent partitions, no single-partition
    * stage). This exact form is the right answer while bucket×key
    * fits; when keys-per-bucket explodes past memory, the q22-style
    * sketch tier (count-min / space-saving) is the documented
    * fallback, trading exactness under the same two-stage shape. */
  def e13HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val counts = events(s, d)
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("hour_s"))
      .orderBy(col("n_events").desc, col("user_id"))
    counts
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy(col("hour_s"), col("rnk"))
  }

  /** Decay horizon for [[e35DecayedHitters]]: contributions older than
    * this many hours round to zero anyway (1e6 >> 40 = 0) — the cap
    * states it and keeps the shift width bounded. */
  val DecayCapHours = 40L

  /** e35: EXPONENTIALLY TIME-DECAYED heavy hitters (the backward-decay
    * ranking of Cormode/Shkapenyuk/Srivastava/Xu 2009) — e13 ranks raw
    * hourly counts; production leaderboards want recency: each event
    * contributes `2^(-age_hours)` of weight at the reference instant
    * (the corpus's newest hour — derived from the data, so the row is
    * reproducible), and users rank by the decayed sum. Stated in e6
    * fixed point with the half-life weight an exact integer
    * `1e6 >> age` (shift, not pow — both engines state the identical
    * integer), ties by user_id, top 10 via TakeOrdered.
    *
    * Scale notes (100 TB): one narrow scan + map-side-combined sum per
    * user; the reference instant is a 1-row broadcast; the final cut
    * is a TakeOrdered, never a single-partition sort. The streaming
    * form of this ranking is the classic forward-decay rewrite
    * (weights relative to a FIXED landmark so arrivals never reweigh
    * history) — the batch row pins the semantics that form serves. */
  def e35DecayedHitters(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"),
      unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"))
    val ref = ev.agg(max(col("hour_s")).as("ref_s"))
    ev.crossJoin(broadcast(ref))
      .withColumn("age_h", graft.operators.TextOps.idiv(col("ref_s") - col("hour_s"), lit(3600L)))
      .withColumn("w_e6",
        when(col("age_h") >= DecayCapHours, 0L)
          .otherwise(graft.operators.TextOps.idiv(lit(1000000L),
            call_function("shiftleft", lit(1L), col("age_h").cast("int")))))
      .groupBy(col("user_id"))
      .agg(sum(col("w_e6")).as("decayed_e6"), count(lit(1)).as("n_events"))
      .orderBy(col("decayed_e6").desc, col("user_id"))
      .limit(10)
  }

  /** e14: SLIDING-WINDOW aggregation — 6-hour windows advancing every
    * hour (e1 is the tumbling special case slide = width). Spark's
    * `window()` assigns each event to its width/slide = 6 covering
    * windows via a narrow generate — no self-join against a window
    * spine — then aggregates on (window, type) with map-side partial
    * combine on the amplified-but-narrow rows.
    *
    * Scale notes (100 TB): the honest cost model is the ×(width/slide)
    * row amplification BEFORE the partial aggregate. At 6× that is the
    * right plan; for wide-over-fine windows (24h sliding 1min = 1440×)
    * compose per-slide tumbling partials (e1) with a frame window over
    * the bucket series (e9/e15's shape) instead — amplification then
    * tracks the bucket series, not the corpus. */
  def e14SlidingAgg(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "6 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
      .select(
        unix_timestamp(col("window.start")).as("win_start_s"),
        unix_timestamp(col("window.end")).as("win_end_s"),
        col("event_type"), col("n_events"), col("n_users"))
      .orderBy(col("win_start_s"), col("event_type"))

  /** Offset mapping the event stream's user keyspace (0..149) onto the
    * TAIL of the customer keyspace, so the merge exercises every
    * action: keys 1450..1499 hit existing base rows (update/delete)
    * and 1500..1599 miss (insert), while untouched base rows keep. */
  val CdcKeyOffset = 1450L

  /** e15: CDC batch apply (MERGE) — the reference engine's day-2
    * semantics as one oracle-gated relational op: a change feed is
    * collapsed to its LAST change per key and merged into a base
    * table with upsert + delete semantics (SCD type 1 — e11 is the
    * type-2 twin that keeps history instead). The feed derives
    * deterministically from `events` (signup→INSERT, purchase→UPDATE,
    * error→DELETE, ordered by (ts, event_id)); the base is `customer`.
    * Output is the materialized post-merge state with its merge action
    * per key: kept base rows, updated/inserted rows carrying the last
    * change's value, deleted keys with a NULL balance.
    *
    * Shape: the collapse is ONE partial-combined aggregate on the key
    * (max_by pulls the latest (op, value) without a window pass — no
    * sort, combiner-friendly), then ONE full-outer equi-join with the
    * base. At 100 TB the base is bucketed by key, so the merge costs
    * exactly the change feed's shuffle — the textbook distributed
    * CDC-apply plan (the reference applies row-at-a-time over a JDBC
    * loop; see /root/reference/handlers/ for its sink contract). */
  /** The e15 change feed: deterministic op mapping over `events` —
    * the frame a CDC source would deliver. */
  private def cdcFeed(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(col("event_type").isin("signup", "purchase", "error"))
      .select(
        (col("user_id") + CdcKeyOffset).as("key"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "purchase", "U")
          .otherwise("D").as("op"),
        cents(col("value")).as("val_c"),
        col("ts"), col("event_id"))

  /** Collapse a change feed to its last change per key + change count —
    * e15's first stage. One partial-combined aggregate; max_by avoids
    * a window sort entirely. */
  private def collapseFeed(feed: DataFrame): DataFrame =
    feed.groupBy(col("key"))
      .agg(
        max_by(struct(col("op"), col("val_c")),
          struct(col("ts"), col("event_id"))).as("last"),
        count(lit(1)).as("n_changes"))
      .select(col("key"), col("last.op").as("last_op"),
        col("last.val_c").as("last_val_c"), col("n_changes"))

  def e15CdcApply(s: SparkSession, d: String): DataFrame = {
    val ch = collapseFeed(cdcFeed(s, d))
    val base = customer(s, d)
      .select(col("c_custkey").as("key"), cents(col("c_acctbal")).as("bal_c"))
    base.join(ch, Seq("key"), "full_outer")
      .select(
        col("key"),
        when(col("last_op") === "D", "delete")
          .when(col("last_op").isNull, "keep")
          .when(col("bal_c").isNull, "insert")
          .otherwise("update").as("action"),
        when(col("last_op") === "D", lit(null).cast("double"))
          .when(col("last_op").isNull, dollars(col("bal_c")))
          .otherwise(dollars(col("last_val_c"))).as("final_bal"),
        coalesce(col("n_changes"), lit(0L)).as("n_changes"))
      .orderBy(col("key"))
  }

  /** e16: incremental aggregate maintenance (delta IVM) — the day-2
    * pattern for every materialized aggregate a CDC feed touches:
    * instead of recomputing the hourly rollup over the whole corpus,
    * the "stored" aggregate (built from everything before the delta
    * cut) absorbs the delta batch's PARTIAL aggregates via one
    * full-outer merge on the group key — count and sum are
    * associatively mergeable, which is exactly what makes them
    * delta-maintainable (count_distinct is NOT, hence absent: that
    * tier needs a sketch, q22's territory). The delta cut is the top
    * decile of event_id (exact integer cross-multiply against the
    * max — both engines state it identically).
    *
    * The ORACLE recomputes the aggregate from scratch: hash equality
    * IS the IVM correctness proof (merged state ≡ full recompute),
    * plus a per-group `delta_applied` flag both engines derive.
    *
    * Scale notes (100 TB): in production the base side is the STORED
    * aggregate read back (series-sized, bucketed by group key — no
    * recompute, no shuffle), so maintenance costs only the delta
    * batch's partial-agg shuffle — O(batch), not O(corpus). Here the
    * base is rebuilt from the split for oracle parity; the merge
    * shape (partial agg each side → one full-outer equi-join) is the
    * production plan. */
  /** Partial hourly aggregate in the MERGEABLE (count, cents) form —
    * the unit both delta-IVM paths absorb: e16's one-shot base+delta
    * and [[graft.streaming.StreamOps.deltaAggStream]]'s per-micro-batch
    * maintenance. count/sum in integer cents so absorption is exact
    * and associative on any chunking. */
  def hourlyPartial(ev: DataFrame): DataFrame =
    ev.select(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("event_type"), cents(col("value")).as("val_c"))
      .groupBy(col("hour_s"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("val_c")).as("sum_cents"))

  /** Delta-IVM absorption: ONE full-outer merge of a delta's partial
    * aggregates into the stored rollup on the group key. Commutative
    * and associative over [[hourlyPartial]] rows, so replaying a feed
    * in any chunking converges to the one-shot aggregate (pinned by
    * StreamOpsSpec). At scale the base is bucketed on (hour_s,
    * event_type) and the merge costs exactly the delta's shuffle —
    * the e15 merge-apply argument, applied to aggregates. */
  def absorbDelta(base: DataFrame, delta: DataFrame): DataFrame =
    base.select(col("hour_s"), col("event_type"),
        col("n_events").as("n_b"), col("sum_cents").as("c_b"))
      .join(delta.select(col("hour_s"), col("event_type"),
          col("n_events").as("n_d"), col("sum_cents").as("c_d")),
        Seq("hour_s", "event_type"), "full_outer")
      .select(col("hour_s"), col("event_type"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
          .as("n_events"),
        (coalesce(col("c_b"), lit(0L)) + coalesce(col("c_d"), lit(0L)))
          .as("sum_cents"))

  def e16DeltaAgg(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(
      unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
      col("event_type"), cents(col("value")).as("val_c"), col("event_id"))
    val mx = ev.agg(max(col("event_id")).as("mx"))
    val tagged = ev.crossJoin(broadcast(mx))
    def agg(df: DataFrame, suffix: String) =
      df.groupBy(col("hour_s"), col("event_type"))
        .agg(count(lit(1)).as(s"n_$suffix"), sum(col("val_c")).as(s"c_$suffix"))
    val base = agg(tagged.filter(col("event_id") * 10L < col("mx") * 9L), "b")
    val delta = agg(tagged.filter(col("event_id") * 10L >= col("mx") * 9L), "d")
    base.join(delta, Seq("hour_s", "event_type"), "full_outer")
      .select(col("hour_s"), col("event_type"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
          .as("n_events"),
        dollars(coalesce(col("c_b"), lit(0L)) + coalesce(col("c_d"), lit(0L)))
          .as("sum_value"),
        col("n_d").isNotNull.as("delta_applied"))
      .orderBy(col("hour_s"), col("event_type"))
  }

  /** e33: incremental DISTINCT-COUNT maintenance — the IVM tier e16's
    * scaladoc documents as NOT delta-mergeable, closed by the
    * published counting algorithm (Gupta–Mumick view maintenance):
    * keep per-(group, element) SUPPORT COUNTS as auxiliary state;
    * inserts add +1, retractions −1, and the group's distinct count
    * moves only on 0 ↔ positive support transitions. This is also
    * why the sketch tier (x36 HLL, q22) cannot replace it when the
    * feed retracts: MAX-merged registers are deletion-blind — exact
    * support counts are the price of retractable distinct.
    *
    * Scenario: distinct active users per hour; base = first 90% of
    * the feed (e16's exact integer decile cut), delta inserts = the
    * last decile, delta retractions = a deterministic subset OF BASE
    * (every third error event) — a valid retraction stream can only
    * delete what exists, so support never goes negative (and the
    * engine would rightly fail loudly if it did: negative support is
    * feed corruption, not a state to average over). Null users are
    * excluded up front (SQL `count(DISTINCT)` convention). Output
    * per hour: distinct before/after, and the appear/vanish
    * transition tallies only the support table can see.
    *
    * Scale notes (100 TB): the auxiliary (group, element) support
    * table is the KNOWN cost of exact distinct IVM — stored bucketed
    * by its key (the e15/e16 stored-state argument), so maintenance
    * is the delta's partial ±counts plus one equi-merge, O(batch)
    * not O(corpus); the from-scratch alternative recomputes a
    * corpus-wide distinct per refresh. All counts integer-exact. */
  def e33DeltaDistinct(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .filter(col("user_id").isNotNull)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("user_id"), col("event_type"), col("event_id"))
    val mx = ev.agg(max(col("event_id")).as("mx"))
    // `t` is referenced three times (support counts, retraction
    // filter, the insert side); a cut was A/B/C-measured in r18
    // (same-JVM interleaved: lazy 0.71 / eager 0.70 / none 0.74 s — all within
    // noise, CPU 0.3-0.5 s) and left OUT: three narrow 100k-row event
    // scans cost what one materialization does at this table's scale,
    // and the uncut form keeps resilient lineage.
    val t = ev.crossJoin(broadcast(mx))
    val base = t.filter(col("event_id") * 10L < col("mx") * 9L)
    val ins = t.filter(col("event_id") * 10L >= col("mx") * 9L)
    val del = base.filter(col("event_type") === "error" &&
      col("event_id") % 3L === 0L)
    deltaDistinct(base, ins, del).orderBy(col("hour_s"))
  }

  /** Library form of [[e33DeltaDistinct]]: stored support counts from
    * `base`, one ±1 partial aggregate over the delta, one full-outer
    * merge, transition tallies per group. `del` must be a sub-multiset
    * of `base` per (hour_s, user_id) — the retraction contract. */
  def deltaDistinct(base: DataFrame, ins: DataFrame,
      del: DataFrame): DataFrame = {
    val sb = base.groupBy(col("hour_s"), col("user_id"))
      .agg(count(lit(1)).as("cnt_b"))
    val dd = ins.select(col("hour_s"), col("user_id"), lit(1L).as("w"))
      .unionByName(del.select(col("hour_s"), col("user_id"),
        lit(-1L).as("w")))
      .groupBy(col("hour_s"), col("user_id"))
      .agg(sum(col("w")).as("cnt_d"))
    sb.join(dd, Seq("hour_s", "user_id"), "full_outer")
      .select(col("hour_s"), col("cnt_b"),
        (coalesce(col("cnt_b"), lit(0L)) + coalesce(col("cnt_d"), lit(0L)))
          .as("cnt"))
      .groupBy(col("hour_s"))
      .agg(
        sum(when(col("cnt_b").isNotNull, 1L).otherwise(0L)).as("n_before"),
        sum(when(col("cnt") > 0L, 1L).otherwise(0L)).as("n_after"),
        sum(when(col("cnt_b").isNull && col("cnt") > 0L, 1L).otherwise(0L))
          .as("n_appear"),
        sum(when(col("cnt_b").isNotNull && col("cnt") === 0L, 1L)
          .otherwise(0L)).as("n_vanish"))
  }

  /** e26: VARIANT-typed semi-structured extraction — e3's
    * get_json_object path re-expressed on Spark 4's VARIANT type:
    * `parse_json` decodes the JSON TEXT once into the binary variant
    * encoding, and every later `variant_get` is a cheap binary probe
    * instead of a re-parse — the representation a 100 TB
    * semi-structured column should land in (and the one shredded
    * parquet readers accelerate). Missing paths return null
    * (`n_absent` pins the semantics: zero hits). The oracle states
    * the same values via DuckDB's JSON extraction — the gate checks
    * the VALUES agree across representations, which is the point:
    * switching text-JSON pipelines to VARIANT must not change one
    * answer. */
  def e26VariantExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("v", parse_json(col("props")))
      .select(col("event_type"),
        variant_get(col("v"), "$.k", "bigint").as("k"),
        variant_get(col("v"), "$.absent", "bigint").as("missing"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(col("missing")).as("n_absent"))
      .orderBy(col("event_type"))

  /** e24: incremental JOIN maintenance — the join half of the IVM
    * story e16 told for aggregates. A materialized join view J = C⋈P
    * (clicks ⋈ purchases on user) absorbs a delta batch via the
    * classical bilinear identity
    * `ΔJ = ΔC⋈P_b ∪ C_b⋈ΔP ∪ ΔC⋈ΔP` — per-batch cost is
    * DELTA-sized (each term touches a delta side; the delta frames
    * are broadcast), never view-sized. The query computes the four
    * terms as four separate joins, tags provenance, unions, and rolls
    * up per user; the oracle computes ONE full join and classifies
    * rows by base/delta membership — a value match IS the proof that
    * the decomposition reconstructs the view exactly (no pair lost,
    * none double-counted). Split rule = e16's: last ~10% of event_ids
    * are the arriving batch. The continuously-maintained form is
    * deltaAggStream's versioned-store discipline with these three
    * delta joins as the per-batch step. */
  def e24DeltaJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val mx = ev.agg(max(col("event_id")).as("mx"))
    val tagged = ev.crossJoin(broadcast(mx))
      .withColumn("is_delta", col("event_id") * 10L >= col("mx") * 9L)
    val clicks = tagged.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("is_delta").as("cdelta"))
    val purch = tagged.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("is_delta").as("pdelta"))
    val cb = clicks.filter(!col("cdelta")).drop("cdelta")
    val cd = clicks.filter(col("cdelta")).drop("cdelta")
    val pb = purch.filter(!col("pdelta")).drop("pdelta")
    val pd = purch.filter(col("pdelta")).drop("pdelta")
    def term(c: DataFrame, p: DataFrame, tag: String) =
      c.join(p, Seq("user_id"))
        .select(col("user_id"), lit(tag).as("term"))
    val all = term(cb, pb, "bb")
      .unionByName(term(broadcast(cd), pb, "db"))
      .unionByName(term(cb, broadcast(pd), "bd"))
      .unionByName(term(broadcast(cd), broadcast(pd), "dd"))
    all.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("term") === "bb", 1L).otherwise(0L)).as("n_bb"),
        sum(when(col("term") === "db", 1L).otherwise(0L)).as("n_db"),
        sum(when(col("term") === "bd", 1L).otherwise(0L)).as("n_bd"),
        sum(when(col("term") === "dd", 1L).otherwise(0L)).as("n_dd"))
      .orderBy(col("user_id"))
  }

  /** e17: as-of join with an attribution WINDOW — e4's backward match
    * bounded by a 2-hour tolerance: a click attributes to the latest
    * preceding purchase only if it happened within the window,
    * otherwise the attribution is null (stale conversions don't
    * count). Runs on the native [[graft.plans.AsOfMergeJoin]] operator,
    * whose merge applies the tolerance as an O(1) emit-time filter —
    * backward monotonicity means the latest preceding row is the
    * nearest, so "latest outside the window" implies "no match".
    * The oracle states the same semantics as a correlated LATERAL
    * top-1 (order ts desc then greatest payload — the operator's
    * documented tie rule). */
  def e17AsofWindow(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"),
        cents(col("value")).as("purchase_cents"))
    graft.plans.AsOfMergeJoin.asof(clicks, purchases, "user_id", "ts",
      Seq("purchase_id", "purchase_cents"),
      tolerance = Some(2L * 3600L * 1000000L)) // 2 h in ts micros
      .select(col("click_id"), col("user_id"),
        unix_timestamp(col("ts")).as("click_s"),
        col("purchase_id"),
        dollars(col("purchase_cents")).as("purchase_value"))
      .orderBy(col("click_id"))
  }

  /** PAA geometry for e23: 8 segments, 3 neighbors, 5 query users. */
  val PaaSegs = 8
  val SeriesK = 3
  val SeriesNQ = 5

  /** e23: time-series SIMILARITY SEARCH over per-user value series —
    * the distributed TS-similarity problem (PAPERS.md: EDBT'19
    * streaming-similarity, EDBT'20 incremental top-k): each user's
    * event-value sequence (ordered by ts, event_id) is reduced to a
    * fixed [[PaaSegs]]-segment Piecewise Aggregate Approximation
    * (Keogh's PAA — the standard TS dimensionality reduction; segment
    * s covers positions ⌊s·n/S⌋..⌊(s+1)·n/S⌋−1 via seg = ⌊pos·S/n⌋),
    * and the query users' top-k nearest series are found by L2² on
    * the PAA vectors. Integer-exact end to end: values in e3 fixed
    * point, segment means floor-divided, distances are integer sums —
    * bit-deterministic and oracle-checkable (the engine's contract;
    * z-normalization would need sqrt and is deliberately left out).
    * Users shorter than S segments are excluded (documented; pad or
    * shrink S upstream if they matter).
    *
    * Scale shape: the sequence/segment stage is ONE per-user window
    * (hash-partitioned, per-user sort — the e2/e5 shape); PAA rows
    * collapse 10–100× before the only wide step, and the query side
    * is [[SeriesNQ]] vectors broadcast against the corpus PAA — the
    * s1 kNN shape on S-dim integer vectors. At 100 TB the PAA table
    * is the persistable index (Warehouse-bucketed by user); for
    * equal-length series (n/S)·PAA-L2² lower-bounds true L2² (the
    * GEMINI filter guarantee), and across unequal lengths PAA is the
    * length-invariant comparison form. */
  def e23SeriesKnn(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val wSeq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy(col("user_id"))
    val seq = ev.select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 1000d).cast("long").as("v"))
      .withColumn("pos", row_number().over(wSeq).cast("long") - 1L)
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("n") >= PaaSegs.toLong)
      .withColumn("seg", graft.operators.TextOps.idiv(
        col("pos") * PaaSegs.toLong, col("n")))
    val paa = seq.groupBy(col("user_id"), col("seg"))
      .agg(graft.operators.TextOps.idiv(sum(col("v")), count(lit(1))).as("m"))
    val series = paa.groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("seg"), col("m")))).as("sm"))
      .select(col("user_id"),
        transform(col("sm"), e => e.getField("m")).as("paa"))
    val q = series.filter(col("user_id") < SeriesNQ.toLong)
      .select(col("user_id").as("qid"), col("paa").as("q_paa"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("dist"), col("nid"))
    series.select(col("user_id").as("nid"), col("paa").as("n_paa"))
      .join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("dist",
        aggregate(zip_with(col("q_paa"), col("n_paa"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= SeriesK.toLong)
      .select(col("qid"), col("rank"), col("nid"), col("dist"))
      .orderBy(col("qid"), col("rank"))
  }

  /** e19: the k-cycle counter ([[patternCount]]) over the standard
    * funnel — how many times each user completed it, sequentially. */
  def e19Pattern(s: SparkSession, d: String): DataFrame =
    patternCount(events(s, d), Funnel)
      .select(col("user_id"), col("n_funnels"), col("open_stage"))
      .orderBy(col("user_id"))

  /** The standard click → view → purchase funnel as stage sets. */
  val Funnel: Seq[Seq[String]] = Seq(Seq("click"), Seq("view"), Seq("purchase"))

  /** Sequential pattern matching — the MATCH_RECOGNIZE class (ISO
    * SQL:2016 row-pattern recognition, which Spark does not implement)
    * as the k-CYCLE automaton: per user, count GREEDY NON-OVERLAPPING
    * completions of the ordered stages across the full event history,
    * plus the stage the open (incomplete) match has reached — the
    * `PATTERN (S1 S2 … Sk)+` repeated-match semantics. e6 asks "did the
    * user EVER complete the funnel (windowed)"; this asks "how many
    * times, sequentially". Stage i accepts ANY event type in its set —
    * ALTERNATION, `PATTERN (A (B|C) D)` (e22) — and single-element sets
    * are the plain stage list (spec-pinned); sets must be pairwise
    * disjoint ([[patternPrepSets]]).
    *
    * The state is ONE integer: acc ≡ open stage (mod k), acc div k =
    * completed count — the stages cycle 0→1→…→k−1→0, so EVERY accepted
    * transition is literally `acc + 1` (a completion wraps the stage and
    * carries into the count digit). Both engines state the identical
    * integer fold (Catalyst `aggregate` lambda / DuckDB `list_reduce`),
    * so the match count is hash-gated exactly.
    *
    * WITHIN (`PATTERN (...) WITHIN interval`, e21): an attempt EXPIRES
    * if it cannot complete within `windowMicros` of the event that
    * opened it, and the expiring event is then itself eligible to open
    * a fresh attempt. Still greedy, non-overlapping, NO backtracking —
    * the attempt after an expiry starts at the next stage-1 event.
    * `n_expired` tallies the abandoned attempts, the funnel-health
    * signal the unwindowed counter cannot see; at the default
    * `Long.MaxValue` the expiry never fires.
    *
    * Execution is the x9 shape, NOT a per-key collect_list: hash to the
    * user key, sort within partitions on (user, t, id) — Spark's
    * spill-capable external sort — then stream each user's run once
    * with O(1) carried state ([[scanUsers]]). This is the
    * MATCH_RECOGNIZE partition contract with the per-key buffer
    * removed: task memory is independent of the hottest key's history
    * length, so a hyperactive key (bot, replay loop) costs sort disk,
    * never an OOM (the fold-equivalence with the collect_list form is
    * spec-pinned on adversarial orderings, and the hyperactive-key cost
    * was measured by an earlier synthetic-scale probe). */
  def patternCount(ev: DataFrame, stageSets: Seq[Seq[String]],
      windowMicros: Long = Long.MaxValue): DataFrame = {
    require(windowMicros > 0L, "window must be positive")
    val k = stageSets.size.toLong
    scanUsers(patternPrepSets(ev, stageSets), CycleState())(
        cycleStep(k, windowMicros))(
        (e, _, s, last) => if (last) Some((e._1, s.acc, s.n_expired)) else None)
      .toDF("user_id", "st", "n_expired")
      .select(col("user_id"),
        call_function("div", col("st"), lit(k)).as("n_funnels"),
        (col("st") % k).as("open_stage"), col("n_expired"))
  }

  /** k-cycle state: the accumulator, the open attempt's first accepted
    * event (µs, event_id) and the expiry tally. */
  case class CycleState(acc: Long = 0L, start_us: Long = 0L,
      start_id: Long = 0L, n_expired: Long = 0L)

  /** One k-cycle step on event (t µs, id, stage code c). The expiry
    * check precedes the transition: the event that breaches the window
    * may itself open a fresh attempt. */
  private def cycleStep(k: Long, windowMicros: Long)(
      s: CycleState, t: Long, id: Long, c: Long): CycleState = {
    val open = s.acc % k
    val e = if (open > 0L && t - s.start_us > windowMicros)
      s.copy(acc = s.acc - open, n_expired = s.n_expired + 1L) else s
    val stage = e.acc % k
    if (c != stage + 1L) e
    else if (stage == 0L) e.copy(acc = e.acc + 1L, start_us = t, start_id = id)
    else e.copy(acc = e.acc + 1L)
  }

  /** A sorted automaton input row: (user_id, t µs, event_id, stage code
    * 1..k, or 0 for an event no stage accepts). */
  private type StageEvent = (Option[Long], Long, Long, Long)

  /** The automaton input: per event (user_id, t, id, stage code),
    * hash-clustered on the user and sorted within partitions on
    * (user, t, id) — full-precision micros, not seconds (a truncated key
    * reorders same-second events vs the oracle), event_id breaking ts
    * ties exactly like the collect_list form's struct sort. Stage i is
    * matched by ANY of its event types; sets must be pairwise disjoint
    * so the code is a function of the event alone (non-disjoint
    * alternation would need automaton lookahead, which the single-pass
    * greedy contract deliberately excludes). */
  private def patternPrepSets(ev: DataFrame, stageSets: Seq[Seq[String]]):
      org.apache.spark.sql.Dataset[StageEvent] = {
    val all = stageSets.flatten
    require(stageSets.nonEmpty && stageSets.forall(_.nonEmpty) &&
      all.distinct.size == all.size,
      "pattern stage sets must be non-empty and pairwise disjoint")
    val code = stageSets.zipWithIndex.foldLeft(lit(0L)) { case (c, (st, i)) =>
      when(col("event_type").isin(st: _*), (i + 1).toLong).otherwise(c)
    }
    ev.select(col("user_id"), unix_micros(col("ts")).as("t"),
        col("event_id").as("id"), code.as("c"))
      .as[StageEvent](org.apache.spark.sql.Encoders.product[StageEvent])
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("t"), col("id"))
  }

  /** The one batch pattern scan: each user run of [[patternPrepSets]]'
    * sorted stream is folded through `step` from `zero` — one carried
    * state, the run is never buffered — and `emit` sees every event with
    * the states before and after it and whether it ends its user's run.
    * Counters emit their final state once per user; span emitters emit
    * as the scan passes each completion. */
  private def scanUsers[S, O <: Product : TypeTag](
      sorted: org.apache.spark.sql.Dataset[StageEvent], zero: S)(
      step: (S, Long, Long, Long) => S)(
      emit: (StageEvent, S, S, Boolean) => Option[O]):
      org.apache.spark.sql.Dataset[O] =
    sorted.mapPartitions { it =>
      val b = it.buffered
      var s = zero
      var first = true
      b.flatMap { e =>
        val prev = if (first) zero else s
        s = step(prev, e._2, e._3, e._4)
        first = !(b.hasNext && b.head._1 == e._1)
        emit(e, prev, s, first)
      }
    }(org.apache.spark.sql.Encoders.product[O])

  /** Match SPANS from the k-cycle automaton — the MATCH_RECOGNIZE
    * measures surface (`FIRST(A.id)` / `LAST(C.id)` per completed
    * match): for each completed cycle, one row (user_id, match_no,
    * start_event_id, end_event_id) where start is the event that took
    * the cycle's first accepted transition and end is the completing
    * event. Same execution contract as [[patternCount]]: sorted
    * partition stream, O(1) carried state, spans EMITTED as the scan
    * passes them — never buffered, so a hyperactive key streams its
    * spans out instead of accumulating them. */
  def patternMatches(ev: DataFrame, stages: Seq[String]): DataFrame = {
    val k = stages.size.toLong
    scanUsers(patternPrepSets(ev, stages.map(Seq(_))), CycleState())(
        cycleStep(k, Long.MaxValue))(
        (e, p, s, _) =>
          if (s.acc > p.acc && s.acc % k == 0L)
            Some((e._1, s.acc / k, s.start_id, e._3))
          else None)
      .toDF("user_id", "match_no", "start_event_id", "end_event_id")
  }

  /** OVERLAPPING matches — MATCH_RECOGNIZE `AFTER MATCH SKIP TO NEXT
    * ROW`, the OTHER standard skip mode (every automaton above runs
    * `SKIP PAST LAST ROW`, the greedy non-overlap discipline): every
    * stage-1 event that can complete the funnel yields its own match,
    * and matches share suffix events freely (two clicks before one
    * view/purchase both match through it).
    *
    * The semantics make the scalable plan DIFFERENT in kind from the
    * automaton family: because each stage greedily takes the EARLIEST
    * next occurrence, concurrent attempts share suffixes, so the
    * match set is exactly a NEXT-POINTER CHAIN — per event, "first
    * stage-2 at/after me" and "first stage-3 at/after me" are two
    * `first(..., ignoreNulls)` columns over ONE per-user forward
    * window frame (one exchange + sort), and a 3-stage match is a
    * stage-1 row joined to its pointed-at stage-2 row's stage-3
    * pointer (one equi-join, null-safe on the user key). No automaton
    * state, no per-attempt buffering — an overlap-counting automaton
    * would carry O(open attempts) state, which is O(partition) on an
    * all-clicks stream; the chain form is O(1) per row by
    * construction and every operator is mergeable/spillable.
    *
    * WITHIN (e34): a stage-1 event's match counts only if its chained
    * completion lands within `windowMicros` of it. The chain stays
    * GREEDY and non-backtracking (a match whose earliest completion
    * misses the deadline is dropped, never retried against a later
    * view — e21's discipline): the stage-3 pointer also carries its t
    * and the deadline is one filter on the joined chain. The WITHIN
    * bound is also what makes a STREAMING twin of overlap matching
    * possible at all — pending attempts expire after the window, so
    * keyed state is bounded by window × event rate instead of
    * O(partition); the unbounded default has no twin for exactly the
    * reason above.
    *
    * Output: one row per completed overlapping match (user_id,
    * start/mid/end event ids, span_us), deterministic by the
    * (ts, event_id) total order both engines state. */
  def patternOverlap(ev: DataFrame, stages: Seq[String],
      windowMicros: Long = Long.MaxValue): DataFrame = {
    require(stages.size == 3, "patternOverlap states the 3-stage funnel")
    require(windowMicros > 0L, "window must be positive")
    val code = stages.zipWithIndex.foldLeft(lit(0L)) { case (c, (st, i)) =>
      when(col("event_type") === st, (i + 1).toLong).otherwise(c)
    }
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("id"))
      .rowsBetween(1L, Window.unboundedFollowing)
    val base = ev
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        col("event_id").as("id"), code.as("c"))
      .withColumn("nx2", first(when(col("c") === 2L, col("id")),
        ignoreNulls = true).over(w))
      .withColumn("nx3", first(when(col("c") === 3L, col("id")),
        ignoreNulls = true).over(w))
      .withColumn("nx3_t", first(when(col("c") === 3L, col("t")),
        ignoreNulls = true).over(w))
    val starts = base.filter(col("c") === 1L && col("nx2").isNotNull)
      .select(col("user_id").as("u"), col("t").as("start_t"),
        col("id").as("start_event_id"), col("nx2").as("mid_event_id"))
    val mids = base.filter(col("c") === 2L && col("nx3").isNotNull)
      .select(col("user_id").as("mu"), col("id").as("mid"),
        col("nx3_t").as("end_t"), col("nx3").as("end_event_id"))
    val chained = starts.join(mids,
      col("u") <=> col("mu") && col("mid_event_id") === col("mid"))
    // no deadline filters nothing; leaving the filter out lets a caller
    // that drops span_us prune the completion-time pointer entirely
    (if (windowMicros == Long.MaxValue) chained
     else chained.filter(col("end_t") - col("start_t") <= windowMicros))
      .select(col("u").as("user_id"), col("start_event_id"),
        col("mid_event_id"), col("end_event_id"),
        (col("end_t") - col("start_t")).as("span_us"))
  }

  /** e32: the overlapping-match surface over the standard
    * click → view → purchase funnel — one row per stage-1 event that
    * completes, suffixes shared (compare e20: the same funnel under
    * `SKIP PAST LAST ROW` — e32's match set is a superset row-wise
    * and every e20 span start also starts an e32 match;
    * spec-pinned). */
  def e32PatternOverlap(s: SparkSession, d: String): DataFrame =
    patternOverlap(events(s, d), Seq("click", "view", "purchase"))
      .drop("span_us")
      .orderBy(col("user_id"), col("start_event_id"))

  /** e34's gated surface: the standard funnel under the e21 7-day
    * window (at sf0.01 the deadline is ARMED: it drops real e32
    * matches — spec-pinned subset relation). */
  def e34OverlapWithin(s: SparkSession, d: String): DataFrame =
    patternOverlap(events(s, d), Seq("click", "view", "purchase"),
      PatternWithinMicros)
      .orderBy(col("user_id"), col("start_event_id"))

  /** e21's attempt window: a funnel attempt must complete within 7
    * days of its first accepted event (MATCH_RECOGNIZE `WITHIN`). */
  val PatternWithinMicros: Long = 7L * 86400L * 1000000L

  /** e21: e19's funnel counter under a 7-day WITHIN window — how many
    * funnels complete fast enough to count, and how many attempts are
    * abandoned (expired). On this corpus: a real mix (at sf0.01, 551
    * windowed vs 616 unwindowed completions, 113 expiries). */
  def e21PatternWithin(s: SparkSession, d: String): DataFrame =
    patternCount(events(s, d), Funnel, PatternWithinMicros)
      .orderBy(col("user_id"))

  /** e22: alternation funnel — click → (view | error) → purchase: the
    * user journey that tolerates an error-page detour as its middle
    * step. MATCH_RECOGNIZE `PATTERN (A (B|C) D)` under the same
    * greedy single-pass contract as e19. */
  def e22PatternAlt(s: SparkSession, d: String): DataFrame =
    patternCount(events(s, d),
      Seq(Seq("click"), Seq("view", "error"), Seq("purchase")))
      .select(col("user_id"), col("n_funnels"), col("open_stage"))
      .orderBy(col("user_id"))

  /** e25: the OPTIONAL-stage quantifier — `PATTERN (A B? C)` as
    * click → view? → purchase: a purchase right after the click
    * completes the funnel without a view (the B-less path), while a
    * view in between is consumed when present. Greedy,
    * non-overlapping, single-pass like the rest of the family, but
    * the cycle trick no longer applies (two accepting paths), so the
    * fold runs the explicit 3-state automaton ([[optionalStep]]).
    * Output counts completions, HOW MANY used the optional stage (the
    * MATCH_RECOGNIZE measure distinguishing the paths), and the open
    * state. Same streamed O(1)-state execution contract as e19/e21. */
  def patternCountOptional(ev: DataFrame, a: String, b: String,
      c: String): DataFrame = {
    require(Seq(a, b, c).distinct.size == 3, "stages must be distinct")
    scanUsers(patternPrepSets(ev, Seq(Seq(a), Seq(b), Seq(c))),
        OptionalState())(optionalStep)(
        (e, _, s, last) =>
          if (last) Some((e._1, s.n_complete, s.n_with_b, s.open_state))
          else None)
      .toDF("user_id", "n_complete", "n_with_b", "open_state")
  }

  /** Optional-stage state: 0 idle, 1 after A, 2 after A B; and the
    * completion tallies. */
  case class OptionalState(open_state: Long = 0L, n_complete: Long = 0L,
      n_with_b: Long = 0L)

  /** 0 idle →(A) 1 →(B) 2; states 1 AND 2 complete on C. A second B in
    * state 2 is inert — the reading `B{0,1}` would reject, which is why
    * this is its own automaton and not a counted repeat. */
  private def optionalStep(s: OptionalState, t: Long, id: Long,
      c: Long): OptionalState =
    if (s.open_state == 0L) { if (c == 1L) s.copy(open_state = 1L) else s }
    else if (s.open_state == 1L && c == 2L) s.copy(open_state = 2L)
    else if (c == 3L) OptionalState(0L, s.n_complete + 1L,
      if (s.open_state == 2L) s.n_with_b + 1L else s.n_with_b)
    else s

  /** e25 over the corpus: click → view? → purchase. */
  def e25PatternOptional(s: SparkSession, d: String): DataFrame =
    patternCountOptional(events(s, d), "click", "view", "purchase")
      .orderBy(col("user_id"))

  /** The COUNTED-REPEAT quantifier — `PATTERN (A B{minB,maxB} C)
    * WITHIN w`: a completion needs between `minB` and `maxB` B-events
    * (inclusive) between the A and the C. The e25 transition-table form
    * generalizes with ONE more state integer (the open attempt's B
    * count): 0 idle →(A) 1 counting; in state 1 every B increments the
    * count and a C either completes (count ≥ minB) or fails the
    * attempt — both reset to idle, C consumed either way (greedy, no
    * lookahead, non-overlapping, repeated A ignored mid-attempt: the
    * family's single-pass contract).
    *
    * The (maxB+1)-th B OVERFLOWS the attempt: with no lookahead it can
    * no longer match, so it fails to idle on the spot (the overflowing
    * B is consumed; B is not A, so nothing re-opens) and the kill is
    * tallied in `n_overflow`; a C then completes only from a live
    * attempt, where the count is ≤ maxB by construction, so the
    * completion check stays `count >= minB`. Under a deadline the open
    * attempt carries its start time and an event arriving past the
    * window EXPIRES the attempt first (e21's discipline — the breaching
    * event may itself open a fresh attempt, tallied in `n_expired`);
    * the counted-repeat rule then applies verbatim. The defaults leave
    * both unarmed (e27); e31 arms the cap, e30 the window.
    *
    * Measures: completions, total Bs consumed by completed matches (the
    * `B{2,}` run-length measure), the overflow and expiry tallies, the
    * open state and the open attempt's B count. The B count is an
    * integer, never a buffer, so `B{2,}` over a million-view bot key
    * carries 8 bytes of state — the same streamed O(1)-state execution
    * as the whole family. */
  def patternCountRepeat(ev: DataFrame, a: String, b: String, c: String,
      minB: Int, maxB: Int = Int.MaxValue,
      windowMicros: Long = Long.MaxValue): DataFrame = {
    require(Seq(a, b, c).distinct.size == 3, "stages must be distinct")
    require(minB >= 1 && maxB >= minB && windowMicros > 0L,
      s"need 1 <= minB <= maxB and a positive window, got {$minB,$maxB}")
    scanUsers(patternPrepSets(ev, Seq(Seq(a), Seq(b), Seq(c))),
        RepeatState())(repeatStep(minB, maxB, windowMicros))(
        (e, _, s, last) =>
          if (last) Some((e._1, s.n_complete, s.sum_b, s.n_overflow,
            s.n_expired, s.open_state, s.open_b))
          else None)
      .toDF("user_id", "n_complete", "sum_b", "n_overflow", "n_expired",
        "open_state", "open_b")
  }

  /** Counted-repeat state: stage (0 idle, 1 counting), the open
    * attempt's B count and start µs, and the tallies. */
  case class RepeatState(open_state: Long = 0L, open_b: Long = 0L,
      t0_us: Long = 0L, n_complete: Long = 0L, sum_b: Long = 0L,
      n_overflow: Long = 0L, n_expired: Long = 0L)

  /** One counted-repeat step: expiry first, then the transition with
    * the overflow check. */
  private def repeatStep(minB: Int, maxB: Int, windowMicros: Long)(
      s: RepeatState, t: Long, id: Long, c: Long): RepeatState = {
    val e = if (s.open_state == 1L && t - s.t0_us > windowMicros)
      s.copy(open_state = 0L, open_b = 0L, n_expired = s.n_expired + 1L)
    else s
    if (e.open_state == 0L) {
      if (c == 1L) e.copy(open_state = 1L, open_b = 0L, t0_us = t) else e
    } else if (c == 2L) {
      if (e.open_b >= maxB)
        e.copy(open_state = 0L, open_b = 0L, n_overflow = e.n_overflow + 1L)
      else e.copy(open_b = e.open_b + 1L)
    } else if (c == 3L) {
      val hit = e.open_b >= minB
      e.copy(open_state = 0L, open_b = 0L,
        n_complete = e.n_complete + (if (hit) 1L else 0L),
        sum_b = e.sum_b + (if (hit) e.open_b else 0L))
    } else e
  }

  /** e27 over the corpus: click → view{2,} → purchase. */
  def e27PatternRepeat(s: SparkSession, d: String): DataFrame =
    patternCountRepeat(events(s, d), "click", "view", "purchase", minB = 2)
      .select(col("user_id"), col("n_complete"), col("sum_b"),
        col("open_state"), col("open_b"))
      .orderBy(col("user_id"))

  /** e31 over the corpus: click → view{2,4} → purchase. */
  def e31PatternRepeatBounded(s: SparkSession, d: String): DataFrame =
    patternCountRepeat(events(s, d), "click", "view", "purchase",
      minB = 2, maxB = 4)
      .select(col("user_id"), col("n_complete"), col("sum_b"),
        col("n_overflow"), col("open_state"), col("open_b"))
      .orderBy(col("user_id"))

  /** e30 over the corpus: click → view{2,} → purchase within 7 days —
    * the e27×e21 composition that proves the quantifier family
    * composes. */
  def e30PatternRepeatWithin(s: SparkSession, d: String): DataFrame =
    patternCountRepeat(events(s, d), "click", "view", "purchase",
      minB = 2, windowMicros = PatternWithinMicros)
      .select(col("user_id"), col("n_complete"), col("sum_b"),
        col("n_expired"), col("open_state"), col("open_b"))
      .orderBy(col("user_id"))

  /** e28: the PERMUTE quantifier — `PATTERN (PERMUTE(S1 … Sk))`: a
    * match is one event of EACH stage in ANY order. The greedy
    * no-lookahead fold carries a k-bit MASK of stages seen in the
    * open attempt (the e25/e27 transition-table generalization — the
    * state integer is now a set): an unseen stage sets its bit; a
    * REPEATED stage invalidates the older partial and restarts the
    * attempt at the repeating event (the strict-PERMUTE reading — the
    * open partial must be repetition-free — kept greedy by letting
    * the newer event start fresh); a full mask completes and resets.
    * Non-stage events are transparent, as everywhere in the family.
    * Measures: completions and the open attempt's mask. O(1) state
    * (one long ≤ 62 stages), same streamed sorted-scan contract as
    * e19/e21/e25/e27. */
  def patternCountPermute(ev: DataFrame, stages: Seq[String]): DataFrame = {
    val k = stages.size
    require(stages.distinct.size == k, "stages must be distinct")
    require(k >= 2 && k <= 62, s"permute arity must be in [2, 62], got $k")
    scanUsers(patternPrepSets(ev, stages.map(Seq(_))), PermuteState())(
        permuteStep(k))(
        (e, _, s, last) =>
          if (last) Some((e._1, s.n_complete, s.open_mask)) else None)
      .toDF("user_id", "n_complete", "open_mask")
  }

  /** PERMUTE state: the open attempt's stage mask and the completions. */
  case class PermuteState(open_mask: Long = 0L, n_complete: Long = 0L)

  private def permuteStep(k: Int)(s: PermuteState, t: Long, id: Long,
      c: Long): PermuteState =
    if (c < 1L) s
    else {
      val bit = 1L << (c - 1L).toInt
      val m = if ((s.open_mask & bit) != 0L) bit else s.open_mask | bit
      if (m == (1L << k) - 1L) PermuteState(0L, s.n_complete + 1L)
      else s.copy(open_mask = m)
    }

  /** e28 over the corpus: one click, one view, one purchase in any
    * order. */
  def e28PatternPermute(s: SparkSession, d: String): DataFrame =
    patternCountPermute(events(s, d), Seq("click", "view", "purchase"))
      .orderBy(col("user_id"))

  /** e29: VALUE-RANGE window frame — the window capability q15's
    * ROWS frames cannot express: per event, the trailing-1-hour
    * count and cents sum for its type via `RANGE BETWEEN 3599
    * PRECEDING AND CURRENT ROW` over epoch seconds. A range frame is
    * defined by the ORDER-BY VALUE, not a row offset — same-second
    * ties all share one frame (deterministic under any row order,
    * which is what makes the hash gate meaningful), and gaps in the
    * stream shrink the frame instead of reaching further back.
    *
    * Scale: one hash exchange on event_type, then a single sorted
    * pass with a sliding two-pointer frame (Spark's unbounded-
    * preceding-free range frame is O(n) per partition, not O(n·w)).
    * event_type is LOW-cardinality, so at 100 TB this exact form is
    * a skew hazard — partition the production twin by (type, day
    * bucket) and stitch boundaries, or pre-aggregate per second and
    * frame over the rollup (the x23/e14 discipline); this form is
    * what the oracle can verify row-for-row. */
  def e29RangeFrame(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts_s"))
      .rangeBetween(-3599L, 0L)
    events(s, d)
      .select(col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_s"),
        graft.Tables.cents(col("value")).as("val_c"))
      .select(col("event_id"), col("event_type"), col("ts_s"),
        count(lit(1)).over(w).as("n_trail_1h"),
        sum(col("val_c")).over(w).as("sum_cents_trail"))
      .orderBy(col("event_id"))
  }

  /** e20: the span-emitting form of e19 on the click→view→purchase
    * pattern — WHICH rows formed each completed funnel, not just how
    * many. Oracle: the e19 recursive-CTE automaton extended with the
    * open cycle's start id, completions read off the step table
    * (acc incremented to a multiple of k). */
  def e20PatternSpans(s: SparkSession, d: String): DataFrame =
    patternMatches(events(s, d), Seq("click", "view", "purchase"))
      .orderBy(col("user_id"), col("match_no"))

  /** CUSUM slack (set above the corpus value mean, so the statistic
    * decays to zero in control) and alarm threshold, e6 fixed point. */
  val CusumSlackE6 = 60000000L
  val CusumAlarmE6 = 300000000L

  /** e36: CUSUM DRIFT MONITOR per event type — Page (1954)'s
    * cumulative-sum changepoint statistic, the classic sequential
    * drift detector (the x19 divergence audit's per-event companion:
    * x19 asks "did the distribution move between snapshots", CUSUM
    * asks "WHEN did this stream start running hot"). The recurrence
    * S_t = max(0, S_{t−1} + x_t − k) is solved in CLOSED FORM as
    * S_t = P_t − min(0, min_{j≤t} P_j) with P the running sum of
    * (x − k) — so the monitor is two window frames (cumulative sum +
    * running min) over ONE (event_type, time) partitioning: a single
    * hash exchange, no recursion, no state, trivially parallel across
    * types and expressible identically in both engines' integer
    * arithmetic. Alarm when S ≥ h (824/10000 rows at sf0.01, 31/1000 at sf0.001 —
    * a rare-alarm monitor at every gate scale, not a rubber stamp).
    *
    * Scale hazard (e29's discipline): the window partitions RAW events
    * by event_type — LOW cardinality, so at 100 TB one type = one
    * task; the per-type sequential scan is inherent to CUSUM (S_t
    * depends on every prior row), so day-bucket stitching does not
    * apply to the statistic itself. A continuous form would hold
    * O(1) keyed state per type, so each micro-batch costs only its
    * own events and the unbounded per-type scan never materializes as
    * one task — this batch form is what the oracle can verify
    * row-for-row. */
  def e36CusumDrift(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"),
        // integer provenance: cents quantum (round(value*100), the
        // rounding e9/e16 prove hash-safe across engines) scaled to
        // e6 — NOT round(value*1e6): Spark rounds the SHORTEST
        // decimal string of the double (BigDecimal.valueOf HALF_UP)
        // while DuckDB rounds the binary value half-away-from-zero,
        // and one knife-edge row poisons every later running sum
        (round(col("value") * 100).cast("long") * lit(10000L) -
          lit(CusumSlackE6)).as("d_e6"))
      .withColumn("p_e6", sum(col("d_e6")).over(w))
      .withColumn("s_e6",
        col("p_e6") - least(lit(0L), min(col("p_e6")).over(w)))
      .select(col("event_type"), col("event_id"), col("s_e6"),
        when(col("s_e6") >= CusumAlarmE6, lit(1L)).otherwise(lit(0L))
          .as("alarm"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** EWMA geometry: λ = 1/2 over [[EwmaLags]] = 16 lags, weights
    * scaled by 2^16 so every term is an exact integer (w_j =
    * 2^(15−j)); the truncated tail mass is 2^−16 of the statistic —
    * the truncation IS the definition, identical in both engines.
    * Hot when the smoothed value exceeds 120.0 (e6 × 2^16): 22/1000
    * rows at sf0.001, 264/10000 at sf0.01 — rare but present at every
    * gate scale. */
  val EwmaLags = 16
  val EwmaHotE6 = 120000000L

  /** e37: EWMA CONTROL CHART per event type — Roberts (1959)'s
    * exponentially-weighted moving average, the smoothing monitor
    * beside Page's CUSUM (e36 asks "has the cumulative drift crossed
    * h"; EWMA asks "is the CURRENT level hot", discounting history
    * geometrically — the classic pair of sequential control charts).
    * The λ=1/2 recurrence S = (v + S)/2 truncated at 16 lags is an
    * exact integer linear form Σ_{j<16} v_{t−j}·2^(15−j): sixteen
    * `lag` columns over ONE (event_type; ts, event_id) window — a
    * single hash exchange, no state, and bit-identical in DuckDB
    * (cents-provenance v, the e36 lesson). Rows with fewer than 16
    * predecessors read zero-padded lags (the warm-up convention,
    * stated identically in the oracle).
    *
    * Scale hazard (e29's discipline): the window partitions RAW events
    * by LOW-cardinality event_type — at 100 TB one type = one task.
    * Unlike e36, EWMA's 16-lag truncation makes day-bucket stitching
    * trivial (each row needs only its 15 predecessors); a continuous
    * form would hold O(16 longs) of keyed state per type, work bounded
    * per micro-batch — this batch form is what the oracle can verify
    * row-for-row. */
  def e37EwmaSmooth(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val terms = (0 until EwmaLags).map { j =>
      coalesce(lag(col("v_e6"), j).over(w), lit(0L)) *
        lit(1L << (15 - j))
    }
    events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"),
        (round(col("value") * 100).cast("long") * lit(10000L)).as("v_e6"))
      .withColumn("ewma_q16", terms.reduce(_ + _))
      .select(col("event_type"), col("event_id"), col("ewma_q16"),
        when(col("ewma_q16") >= EwmaHotE6 * 65536L, lit(1L))
          .otherwise(lit(0L)).as("hot"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** Seasonal residual threshold (cents): flags one baselined hour at
    * sf0.001 and ~6% (204/3385) at sf0.01 — rare but present at every
    * gate scale. */
  val SeasonalResidC = 30000L

  /** e38: SEASONAL-NAIVE RESIDUAL MONITOR per event type — the
    * standard seasonal-baseline anomaly check over the e1 rollup
    * grain: each (event_type, hour) compares its cents sum against
    * the SAME HOUR ONE DAY EARLIER (the seasonal-naive forecast, the
    * baseline every forecasting benchmark starts from; e36/e37 detect
    * LEVEL shifts — this one subtracts the daily cycle first so a
    * nightly peak never reads as drift). The day-back lookup is a
    * RANGE frame pinned at exactly 86 400 s before the current hour
    * (e29's value-range machinery, NOT a row lag: hours with no
    * traffic are absent from the rollup, so a ROWS offset would
    * silently compare against whatever hour happened to precede);
    * max() over the ≤1-row frame IS the lookup. Hours with no
    * baseline report NULL residual and never flag. Two hash
    * exchanges BY DESIGN: the corpus-sized one keys the rollup on the
    * WIDE (hour, type) key so it parallelizes over all cores, and the
    * window's re-key to event_type alone moves only the rollup
    * (hours × types rows — trivial at any scale; collapsing to one
    * exchange would mean hashing the RAW corpus by event_type, a
    * few-partition skew trap at 100 TB). Integer cents end to end. */
  def e38SeasonalResid(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour_s"))
      .rangeBetween(-86400L, -86400L)
    events(s, d)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("event_type"))
      .agg(sum(graft.Tables.cents(col("value"))).as("sum_c"))
      .withColumn("base_c", max(col("sum_c")).over(w))
      .withColumn("resid_c", col("sum_c") - col("base_c"))
      .withColumn("shifted",
        when(abs(col("resid_c")) >= SeasonalResidC, lit(1L))
          .otherwise(lit(0L)))
      .orderBy(col("hour_s"), col("event_type"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e39_concurrency"   -> e39Concurrency _,
    "e38_seasonal_resid" -> e38SeasonalResid _,
    "e37_ewma_smooth"   -> e37EwmaSmooth _,
    "e36_cusum_drift"   -> e36CusumDrift _,
    "e1_hourly_agg"     -> e1HourlyAgg _,
    "e2_sessionize"     -> e2Sessionize _,
    "e3_json_extract"   -> e3JsonExtract _,
    "e4_asof_purchase"  -> e4AsofPurchase _,
    "e5_latest_state"   -> e5LatestState _,
    "e6_funnel"         -> e6Funnel _,
    "e7_retention"      -> e7Retention _,
    "e8_band_join"      -> e8BandJoin _,
    "e9_anomaly"        -> e9Anomaly _,
    "e10_gap_fill"      -> e10GapFill _,
    "e11_scd2"          -> e11Scd2 _,
    "e12_attribution"   -> e12Attribution _,
    "e13_heavy_hitters" -> e13HeavyHitters _,
    "e35_decayed_hitters" -> e35DecayedHitters _,
    "e14_sliding_agg"   -> e14SlidingAgg _,
    "e15_cdc_apply"     -> e15CdcApply _,
    "e16_delta_agg"     -> e16DeltaAgg _,
    "e17_asof_window"   -> e17AsofWindow _,
    "e18_conversion"    -> e18Conversion _,
    "e19_pattern"       -> e19Pattern _,
    "e20_pattern_spans" -> e20PatternSpans _,
    "e21_pattern_within" -> e21PatternWithin _,
    "e22_pattern_alt"    -> e22PatternAlt _,
    "e23_series_knn"     -> e23SeriesKnn _,
    "e24_delta_join"     -> e24DeltaJoin _,
    "e25_pattern_opt"    -> e25PatternOptional _,
    "e26_variant"        -> e26VariantExtract _,
    "e27_pattern_repeat" -> e27PatternRepeat _,
    "e31_pattern_repeat_bounded" -> e31PatternRepeatBounded _,
    "e32_pattern_overlap" -> e32PatternOverlap _,
    "e33_delta_distinct" -> e33DeltaDistinct _,
    "e34_overlap_within" -> e34OverlapWithin _,
    "e28_pattern_permute" -> e28PatternPermute _,
    "e29_range_frame"    -> e29RangeFrame _,
    "e30_repeat_within"  -> e30PatternRepeatWithin _,
  )

  /** The e2 oracle statement, extracted so e39's census derives from
    * it verbatim (the s18/s31 one-source-of-truth discipline). */
  private val E2Sql =
    """WITH x AS (SELECT user_id, event_id, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
      |    lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
      |      (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id)
      |      AS prev_s
      |  FROM events),
      |f AS (SELECT *, CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800
      |    THEN 1 ELSE 0 END AS new_session FROM x),
      |sess AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
      |    ORDER BY ts_s, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM f)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  count(*) AS n_events, min(ts_s) AS start_s, max(ts_s) AS end_s,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
      |  max(ts_s) - min(ts_s) AS duration_s
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // the identical day-back RANGE frame over the identical rollup;
    // sum CAST back to BIGINT (DuckDB widens to HUGEINT — the e36
    // dtype lesson), NULL-baseline hours fall to ELSE 0
    "e38_seasonal_resid" ->
      s"""WITH h AS (SELECT
         |    CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_s,
         |    event_type,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c
         |  FROM events GROUP BY hour_s, event_type),
         |r AS (SELECT hour_s, event_type, sum_c,
         |    max(sum_c) OVER (PARTITION BY event_type ORDER BY hour_s
         |      RANGE BETWEEN 86400 PRECEDING AND 86400 PRECEDING) AS base_c
         |  FROM h)
         |SELECT hour_s, event_type, sum_c, base_c,
         |  sum_c - base_c AS resid_c,
         |  CAST(CASE WHEN abs(sum_c - base_c) >= $SeasonalResidC THEN 1
         |    ELSE 0 END AS BIGINT) AS shifted
         |FROM r ORDER BY hour_s, event_type""".stripMargin,
    // the identical 16-lag exact-integer linear form, zero-padded
    "e37_ewma_smooth" -> {
      val terms = (0 until EwmaLags).map { j =>
        s"coalesce(lag(v_e6, $j) OVER w, 0) * ${1L << (15 - j)}"
      }.mkString(" +\n         |      ")
      s"""WITH x AS (SELECT event_type, ts, event_id,
         |    CAST(round(value * 100) AS BIGINT) * 10000 AS v_e6
         |  FROM events),
         |l AS (SELECT event_type, event_id,
         |    $terms AS ewma_q16
         |  FROM x WINDOW w AS (PARTITION BY event_type
         |    ORDER BY ts, event_id))
         |SELECT event_type, event_id, ewma_q16,
         |  CAST(CASE WHEN ewma_q16 >= ${EwmaHotE6 * 65536L} THEN 1
         |    ELSE 0 END AS BIGINT) AS hot
         |FROM l ORDER BY event_type, event_id""".stripMargin
    },
    // the same closed-form CUSUM: P = running sum of (x − k), then
    // S = P − min(0, running min P), alarm at h — both frames over
    // the identical (event_type; ts, event_id) order. DuckDB's
    // windowed sum(BIGINT) widens to HUGEINT (read back as float64
    // at the compare layer), so s_e6 is CAST back to BIGINT to keep
    // the oracle's dtype int64 — matching Spark's LongType output.
    "e36_cusum_drift" ->
      s"""WITH x AS (SELECT event_type, ts, event_id,
         |    CAST(round(value * 100) AS BIGINT) * 10000 - $CusumSlackE6 AS d_e6
         |  FROM events),
         |p AS (SELECT event_type, ts, event_id,
         |    sum(d_e6) OVER (PARTITION BY event_type ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_e6
         |  FROM x),
         |sct AS (SELECT event_type, event_id,
         |    CAST(p_e6 - least(0, min(p_e6) OVER (PARTITION BY event_type
         |      ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |      AS BIGINT) AS s_e6
         |  FROM p)
         |SELECT event_type, event_id, s_e6,
         |  CAST(CASE WHEN s_e6 >= $CusumAlarmE6 THEN 1 ELSE 0 END AS BIGINT)
         |    AS alarm
         |FROM sct ORDER BY event_type, event_id""".stripMargin,
    // full recompute — hash equality against the engine's base+delta
    // merge IS the incremental-maintenance correctness proof
    "e16_delta_agg" ->
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
        |x AS (SELECT
        |    CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_s,
        |    event_type, CAST(round(value * 100) AS BIGINT) AS val_c,
        |    event_id FROM events),
        |f AS (SELECT hour_s, event_type, count(*) AS n_events,
        |    sum(val_c) AS c FROM x GROUP BY hour_s, event_type),
        |d AS (SELECT DISTINCT hour_s, event_type
        |  FROM x CROSS JOIN m WHERE event_id * 10 >= mx * 9)
        |SELECT f.hour_s, f.event_type, f.n_events,
        |  f.c / 100.0 AS sum_value,
        |  d.hour_s IS NOT NULL AS delta_applied
        |FROM f LEFT JOIN d ON f.hour_s = d.hour_s
        |  AND f.event_type = d.event_type
        |ORDER BY f.hour_s, f.event_type""".stripMargin,
    "e15_cdc_apply" ->
      s"""WITH ch AS (SELECT user_id + $CdcKeyOffset AS key,
         |    CASE event_type WHEN 'signup' THEN 'I'
         |      WHEN 'purchase' THEN 'U' ELSE 'D' END AS op,
         |    CAST(round(value * 100) AS BIGINT) AS val_c, ts, event_id
         |  FROM events
         |  WHERE event_type IN ('signup', 'purchase', 'error')),
         |last AS (SELECT key, op AS last_op, val_c AS last_val_c, n_changes
         |  FROM (SELECT key, op, val_c,
         |      row_number() OVER (PARTITION BY key
         |        ORDER BY ts DESC, event_id DESC) AS rn,
         |      count(*) OVER (PARTITION BY key) AS n_changes
         |    FROM ch) WHERE rn = 1),
         |base AS (SELECT c_custkey AS key,
         |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer)
         |SELECT coalesce(base.key, last.key) AS key,
         |  CASE WHEN last.last_op = 'D' THEN 'delete'
         |       WHEN last.key IS NULL THEN 'keep'
         |       WHEN base.key IS NULL THEN 'insert'
         |       ELSE 'update' END AS action,
         |  CASE WHEN last.last_op = 'D' THEN NULL
         |       WHEN last.key IS NULL THEN base.bal_c / 100.0
         |       ELSE last.last_val_c / 100.0 END AS final_bal,
         |  coalesce(last.n_changes, 0) AS n_changes
         |FROM base FULL OUTER JOIN last ON base.key = last.key
         |ORDER BY key""".stripMargin,
    // each event expands to its 6 covering hour-aligned window starts
    // (start ≤ ts < start + 6h), mirroring Spark's window() assignment
    "e14_sliding_agg" ->
      """WITH x AS (SELECT event_type, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
        |w AS (SELECT event_type, user_id,
        |    unnest(range(ts_s // 3600 - 5, ts_s // 3600 + 1)) * 3600
        |      AS win_start_s
        |  FROM x)
        |SELECT win_start_s, win_start_s + 21600 AS win_end_s, event_type,
        |  count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM w GROUP BY 1, 2, 3 ORDER BY win_start_s, event_type""".stripMargin,
    "e35_decayed_hitters" ->
      s"""WITH ev AS (SELECT user_id,
        |    CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_s
        |  FROM events),
        |r AS (SELECT max(hour_s) AS ref_s FROM ev),
        |w AS (SELECT user_id,
        |    CASE WHEN (r.ref_s - hour_s) // 3600 >= $DecayCapHours THEN 0
        |      ELSE 1000000 // (CAST(1 AS BIGINT)
        |        << ((r.ref_s - hour_s) // 3600)) END AS w_e6
        |  FROM ev CROSS JOIN r)
        |SELECT user_id, CAST(sum(w_e6) AS BIGINT) AS decayed_e6,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM w GROUP BY user_id
        |ORDER BY decayed_e6 DESC, user_id LIMIT 10""".stripMargin,
    "e13_heavy_hitters" ->
      """WITH hc AS (SELECT
        |    CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_s,
        |    user_id, count(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT hour_s, user_id, n_events,
        |  CAST(row_number() OVER (PARTITION BY hour_s
        |    ORDER BY n_events DESC, user_id) AS BIGINT) AS rnk
        |FROM hc QUALIFY rnk <= 3 ORDER BY hour_s, rnk""".stripMargin,
    "e12_attribution" ->
      """SELECT c.click_id, c.user_id, p.purchase_id,
        |  c.click_s, p.purchase_s, p.purchase_s - c.click_s AS lag_s
        |FROM (SELECT user_id, event_id AS click_id, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS click_s
        |  FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, event_id AS purchase_id, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS purchase_s
        |  FROM events WHERE event_type = 'purchase') p
        |ON c.user_id = p.user_id AND p.ts >= c.ts
        |  AND p.ts < c.ts + INTERVAL 21600 SECONDS
        |ORDER BY c.click_id, p.purchase_id""".stripMargin,
    "e11_scd2" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |    date_trunc('microseconds', ts) AS tsu,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY date_trunc('microseconds', ts), event_id) AS prev_state
        |  FROM events),
        |chg AS (SELECT * FROM x
        |  WHERE prev_state IS NULL OR prev_state <> event_type),
        |v AS (SELECT user_id,
        |    CAST(row_number() OVER w AS BIGINT) AS version,
        |    event_type AS state, ts_s AS valid_from_s,
        |    lead(ts_s) OVER w AS valid_to_s
        |  FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id))
        |SELECT user_id, version, state, valid_from_s, valid_to_s,
        |  valid_to_s IS NULL AS is_current
        |FROM v ORDER BY user_id, version""".stripMargin,
    "e10_gap_fill" ->
      """WITH hc AS (SELECT
        |    CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_s,
        |    event_type, count(*) AS n FROM events GROUP BY 1, 2),
        |b AS (SELECT min(hour_s) AS mn, max(hour_s) AS mx FROM hc),
        |ty AS (SELECT DISTINCT event_type FROM hc),
        |spine AS (SELECT ty.event_type,
        |    unnest(range(b.mn, b.mx + 3600, 3600)) AS hour_s FROM ty, b),
        |j AS (SELECT spine.hour_s, spine.event_type, hc.n FROM spine
        |  LEFT JOIN hc ON hc.hour_s = spine.hour_s
        |    AND hc.event_type = spine.event_type)
        |SELECT hour_s, event_type, n AS n_events,
        |  last_value(n IGNORE NULLS) OVER (PARTITION BY event_type
        |    ORDER BY hour_s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_n,
        |  n IS NULL AS is_gap
        |FROM j ORDER BY hour_s, event_type""".stripMargin,
    "e9_anomaly" ->
      s"""WITH hc AS (SELECT
         |    CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_s,
         |    event_type, count(*) AS n_events
         |  FROM events GROUP BY 1, 2),
         |w AS (SELECT hour_s, event_type, n_events,
         |    count(*) OVER tw AS trail_n,
         |    CAST(coalesce(sum(n_events) OVER tw, 0) AS BIGINT) AS trail_sum,
         |    CAST(coalesce(sum(n_events*n_events) OVER tw, 0) AS BIGINT) AS trail_sumsq
         |  FROM hc WINDOW tw AS (PARTITION BY event_type ORDER BY hour_s
         |    ROWS BETWEEN $TrailBuckets PRECEDING AND 1 PRECEDING))
         |SELECT hour_s, event_type, n_events, trail_n, trail_sum, trail_sumsq,
         |  (trail_n >= $MinTrail AND
         |   (CAST(trail_n AS HUGEINT)*n_events - trail_sum)
         |     * (CAST(trail_n AS HUGEINT)*n_events - trail_sum)
         |     > 9*(CAST(trail_n AS HUGEINT)*trail_sumsq
         |           - CAST(trail_sum AS HUGEINT)*trail_sum)) AS is_anomaly
         |FROM w ORDER BY hour_s, event_type""".stripMargin,
    "e8_band_join" ->
      """WITH bands(band_id, lo, hi) AS (VALUES
        |  (CAST(0 AS BIGINT), 0.0, 10.0), (1, 10.0, 25.0), (2, 25.0, 50.0),
        |  (3, 50.0, 100.0), (4, 100.0, 200.0),
        |  (5, 200.0, CAST(NULL AS DOUBLE)))
        |SELECT band_id, lo, hi, count(*) AS n_events,
        |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events JOIN bands ON value >= lo AND (hi IS NULL OR value < hi)
        |GROUP BY band_id, lo, hi ORDER BY band_id""".stripMargin,
    "e1_hourly_agg" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_s,
        |  event_type, count(*) AS n_events,
        |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "e2_sessionize" -> E2Sql,
    // derives VERBATIM from the e2 statement (one CTE), then each
    // session unnests its spanned hour boundaries — the same explode
    // form the engine states
    "e39_concurrency" ->
      s"""WITH s2 AS ($E2Sql),
        |b AS (SELECT user_id, ((start_s + 3599) // 3600) * 3600 AS sh,
        |    (end_s // 3600) * 3600 AS eh FROM s2),
        |u AS (SELECT user_id, sh, unnest(range(sh, eh + 3600, 3600)) AS hour_s
        |  FROM b WHERE sh <= eh)
        |SELECT hour_s, CAST(count(*) AS BIGINT) AS n_active,
        |  CAST(count(*) FILTER (WHERE hour_s = sh) AS BIGINT) AS n_entering
        |FROM u GROUP BY hour_s ORDER BY hour_s""".stripMargin,
    "e3_json_extract" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e4_asof_purchase" ->
      """WITH c AS (SELECT user_id, ts, event_id AS click_id FROM events
        |    WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, event_id AS purchase_id,
        |    CAST(round(value*100) AS BIGINT) AS purchase_cents FROM events
        |    WHERE event_type = 'purchase')
        |SELECT c.click_id, c.user_id,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS click_s,
        |  p.purchase_id, p.purchase_cents/100.0 AS purchase_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id
        |  AND date_trunc('microseconds', c.ts) >= date_trunc('microseconds', p.ts)
        |ORDER BY click_id""".stripMargin,
    // correlated LATERAL top-1: latest preceding purchase within 2 h,
    // ties (ts) broken to the greatest payload — the native operator's
    // documented tie rule
    "e17_asof_window" ->
      """WITH c AS (SELECT user_id, ts, event_id AS click_id FROM events
        |    WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, event_id AS purchase_id,
        |    CAST(round(value*100) AS BIGINT) AS purchase_cents FROM events
        |    WHERE event_type = 'purchase')
        |SELECT c.click_id, c.user_id,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS click_s,
        |  m.purchase_id, m.purchase_cents/100.0 AS purchase_value
        |FROM c LEFT JOIN LATERAL (
        |  SELECT p.purchase_id, p.purchase_cents FROM p
        |  WHERE p.user_id = c.user_id AND p.ts <= c.ts
        |    AND p.ts >= c.ts - INTERVAL 2 HOUR
        |  ORDER BY p.ts DESC, p.purchase_id DESC, p.purchase_cents DESC
        |  LIMIT 1) m ON TRUE
        |ORDER BY click_id""".stripMargin,
    "e5_latest_state" ->
      """SELECT user_id, event_id AS last_event_id,
        |  event_type AS last_event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS last_s
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "e6_funnel" ->
      """WITH c AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'click' GROUP BY user_id),
        |v AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN c ON e.user_id = c.user_id AND e.ts > c.t1
        |    AND e.ts <= c.t1 + INTERVAL 24 HOUR
        |  WHERE e.event_type = 'view' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN v ON e.user_id = v.user_id AND e.ts > v.t2
        |    AND e.ts <= v.t2 + INTERVAL 24 HOUR
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        |f AS (SELECT c.user_id,
        |    CASE WHEN p.user_id IS NOT NULL THEN 3
        |         WHEN v.user_id IS NOT NULL THEN 2 ELSE 1 END AS stage
        |  FROM c LEFT JOIN v USING (user_id) LEFT JOIN p USING (user_id))
        |SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_users
        |FROM f GROUP BY stage ORDER BY stage""".stripMargin,
    // the identical integer automaton, unrolled as a RECURSIVE CTE
    // stepping one event per iteration (state acc%3 = stage, acc//3 =
    // completions, accepted moves = +1). NOT list_reduce: DuckDB
    // 1.0.0's list_reduce mis-evaluates on large grouped batches
    // (verified: user 41 folds to (6,0) alone or in a 3-user batch,
    // (7,2) in the full 150-user batch — the CTE and a python fold
    // both agree on (6,0)), so the oracle states the fold row-by-row
    // the same values from DuckDB's json extraction — representation
    // (text json vs binary variant) must not change answers
    "e26_variant" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  CAST(count(CAST(json_extract_string(props, '$.absent') AS BIGINT))
        |    AS BIGINT) AS n_absent
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the explicit 3-state optional-stage automaton, stated as the
    // identical transition table both engines fold
    // value-range frame over epoch seconds: tie-inclusive trailing
    // hour per type — both engines' RANGE frame semantics must agree
    "e29_range_frame" ->
      """WITH x AS (SELECT event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |    CAST(round(value * 100) AS BIGINT) AS val_c
        |  FROM events)
        |SELECT event_id, event_type, ts_s,
        |  CAST(count(*) OVER w AS BIGINT) AS n_trail_1h,
        |  CAST(sum(val_c) OVER w AS BIGINT) AS sum_cents_trail
        |FROM x
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts_s
        |  RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // the e27 transition table over the POST-EXPIRY state (computed
    // once in the recursive arm's subquery via lateral aliases)
    "e30_repeat_within" ->
      s"""WITH RECURSIVE u AS (SELECT user_id,
         |    list(struct_pack(
         |        c := CASE event_type WHEN 'click' THEN CAST(1 AS BIGINT)
         |          WHEN 'view' THEN 2 WHEN 'purchase' THEN 3 ELSE 0 END,
         |        t := epoch_us(ts)) ORDER BY ts, event_id) AS es
         |  FROM events GROUP BY user_id),
         |step(user_id, i, st, bc, t0, done, sumb, nexp) AS (
         |  SELECT user_id, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |    CAST(0 AS BIGINT) FROM u
         |  UNION ALL
         |  SELECT user_id, i + 1,
         |    CASE WHEN pst = 0 AND c = 1 THEN 1
         |         WHEN pst = 1 AND c = 3 THEN 0
         |         ELSE pst END,
         |    CASE WHEN pst = 0 AND c = 1 THEN 0
         |         WHEN pst = 1 AND c = 2 THEN pbc + 1
         |         WHEN pst = 1 AND c = 3 THEN 0
         |         ELSE pbc END,
         |    CASE WHEN pst = 0 AND c = 1 THEN t ELSE t0 END,
         |    done + CASE WHEN pst = 1 AND c = 3 AND pbc >= 2
         |      THEN 1 ELSE 0 END,
         |    sumb + CASE WHEN pst = 1 AND c = 3 AND pbc >= 2
         |      THEN pbc ELSE 0 END,
         |    nexp + CASE WHEN expired THEN 1 ELSE 0 END
         |  FROM (SELECT s.user_id, s.i, s.t0, s.done, s.sumb, s.nexp,
         |      u.es[s.i+1].c AS c, u.es[s.i+1].t AS t,
         |      s.st = 1 AND u.es[s.i+1].t - s.t0 > $PatternWithinMicros
         |        AS expired,
         |      CASE WHEN expired THEN 0 ELSE s.st END AS pst,
         |      CASE WHEN expired THEN 0 ELSE s.bc END AS pbc
         |    FROM step s JOIN u ON u.user_id = s.user_id
         |    WHERE s.i < len(u.es)))
         |SELECT s.user_id, s.done AS n_complete, s.sumb AS sum_b,
         |  s.nexp AS n_expired, s.st AS open_state, s.bc AS open_b
         |FROM step s JOIN u ON u.user_id = s.user_id AND s.i = len(u.es)
         |ORDER BY s.user_id""".stripMargin,
    // the bitmask fold restated as a recursive CTE: an unseen stage
    // ORs its bit in, a repeat restarts at that bit, mask 7 completes
    "e28_pattern_permute" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    list(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
        |        WHEN 'purchase' THEN 3 ELSE 0 END
        |      ORDER BY ts, event_id) AS cs
        |  FROM events GROUP BY user_id),
        |step(user_id, i, st, done) AS (
        |  SELECT user_id, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM u
        |  UNION ALL
        |  SELECT s.user_id, s.i + 1,
        |    CASE WHEN (CASE WHEN u.cs[s.i+1] = 0 THEN s.st
        |        WHEN (s.st & (1 << (u.cs[s.i+1] - 1))) <> 0
        |          THEN (1 << (u.cs[s.i+1] - 1))
        |        ELSE s.st | (1 << (u.cs[s.i+1] - 1)) END) = 7
        |      THEN 0
        |      ELSE (CASE WHEN u.cs[s.i+1] = 0 THEN s.st
        |        WHEN (s.st & (1 << (u.cs[s.i+1] - 1))) <> 0
        |          THEN (1 << (u.cs[s.i+1] - 1))
        |        ELSE s.st | (1 << (u.cs[s.i+1] - 1)) END) END,
        |    s.done + CASE WHEN (CASE WHEN u.cs[s.i+1] = 0 THEN s.st
        |        WHEN (s.st & (1 << (u.cs[s.i+1] - 1))) <> 0
        |          THEN (1 << (u.cs[s.i+1] - 1))
        |        ELSE s.st | (1 << (u.cs[s.i+1] - 1)) END) = 7
        |      THEN 1 ELSE 0 END
        |  FROM step s JOIN u ON u.user_id = s.user_id
        |  WHERE s.i < len(u.cs))
        |SELECT s.user_id, s.done AS n_complete, s.st AS open_mask
        |FROM step s JOIN u ON u.user_id = s.user_id AND s.i = len(u.cs)
        |ORDER BY s.user_id""".stripMargin,
    // the e25 transition table + one more accumulator (the open
    // attempt's B count) — the engine's streamed fold restated as the
    // recursive-CTE automaton, completions gated on bc >= 2
    // e32's chain with (t, id) pointers and the deadline filter; the
    // span rides the gate so the window arithmetic is pinned exactly
    "e34_overlap_within" ->
      s"""WITH e AS (SELECT user_id, ts, epoch_us(ts) AS t, event_id,
         |    CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
         |      WHEN 'purchase' THEN 3 ELSE 0 END AS c
         |  FROM events),
         |w AS (SELECT user_id, event_id, c, t,
         |    first_value(CASE WHEN c = 2 THEN event_id END IGNORE NULLS)
         |      OVER nxt AS nx2_id,
         |    first_value(CASE WHEN c = 3 THEN event_id END IGNORE NULLS)
         |      OVER nxt AS nx3_id,
         |    first_value(CASE WHEN c = 3 THEN t END IGNORE NULLS)
         |      OVER nxt AS nx3_t
         |  FROM e WINDOW nxt AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
         |SELECT a.user_id, a.event_id AS start_event_id,
         |  a.nx2_id AS mid_event_id, b.nx3_id AS end_event_id,
         |  b.nx3_t - a.t AS span_us
         |FROM w a JOIN w b
         |  ON a.user_id IS NOT DISTINCT FROM b.user_id AND a.nx2_id = b.event_id
         |WHERE a.c = 1 AND b.nx3_id IS NOT NULL
         |  AND b.nx3_t - a.t <= $PatternWithinMicros
         |ORDER BY a.user_id, start_event_id""".stripMargin,
    // single-pass ±1-weighted support recompute (structurally NOT the
    // engine's stored-state + merge plan): per (hour, user) the summed
    // weights give final support, bool_or the base membership — hash
    // equality proves the IVM merge ≡ the from-scratch multiset
    "e33_delta_distinct" ->
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
        |x AS (SELECT
        |    CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_s,
        |    user_id, event_type, event_id FROM events
        |  WHERE user_id IS NOT NULL),
        |w AS (
        |  SELECT hour_s, user_id, TRUE AS in_base, 1 AS w
        |    FROM x CROSS JOIN m WHERE event_id * 10 < mx * 9
        |  UNION ALL
        |  SELECT hour_s, user_id, FALSE, 1
        |    FROM x CROSS JOIN m WHERE event_id * 10 >= mx * 9
        |  UNION ALL
        |  SELECT hour_s, user_id, FALSE, -1
        |    FROM x CROSS JOIN m
        |    WHERE event_id * 10 < mx * 9 AND event_type = 'error'
        |      AND event_id % 3 = 0),
        |su AS (SELECT hour_s, user_id, bool_or(in_base) AS has_base,
        |    sum(w) AS supp
        |  FROM w GROUP BY hour_s, user_id)
        |SELECT hour_s,
        |  CAST(count(*) FILTER (WHERE has_base) AS BIGINT) AS n_before,
        |  CAST(count(*) FILTER (WHERE supp > 0) AS BIGINT) AS n_after,
        |  CAST(count(*) FILTER (WHERE NOT has_base AND supp > 0) AS BIGINT)
        |    AS n_appear,
        |  CAST(count(*) FILTER (WHERE has_base AND supp = 0) AS BIGINT)
        |    AS n_vanish
        |FROM su GROUP BY hour_s ORDER BY hour_s""".stripMargin,
    // SKIP TO NEXT ROW needs no recursive automaton: the overlapping
    // match set is the suffix-shared next-pointer chain — two
    // IGNORE-NULLS forward-frame window pointers + one join, the same
    // plan the engine states
    "e32_pattern_overlap" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
        |      WHEN 'purchase' THEN 3 ELSE 0 END AS c
        |  FROM events),
        |w AS (SELECT user_id, event_id, c,
        |    first_value(CASE WHEN c = 2 THEN event_id END IGNORE NULLS)
        |      OVER nxt AS nx2,
        |    first_value(CASE WHEN c = 3 THEN event_id END IGNORE NULLS)
        |      OVER nxt AS nx3
        |  FROM e WINDOW nxt AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT a.user_id, a.event_id AS start_event_id,
        |  a.nx2 AS mid_event_id, b.nx3 AS end_event_id
        |FROM w a JOIN w b
        |  ON a.user_id IS NOT DISTINCT FROM b.user_id AND a.nx2 = b.event_id
        |WHERE a.c = 1 AND b.nx3 IS NOT NULL
        |ORDER BY a.user_id, start_event_id""".stripMargin,
    // e27's automaton + the overflow kill: the (maxB+1)-th B fails the
    // attempt (bc > 4 branch), C completes only from bc in [2, 4]
    "e31_pattern_repeat_bounded" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    list(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
        |        WHEN 'purchase' THEN 3 ELSE 0 END
        |      ORDER BY ts, event_id) AS cs
        |  FROM events GROUP BY user_id),
        |step(user_id, i, st, bc, done, sumb, over) AS (
        |  SELECT user_id, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM u
        |  UNION ALL
        |  SELECT s.user_id, s.i + 1,
        |    CASE WHEN s.st = 0 AND u.cs[s.i+1] = 1 THEN 1
        |         WHEN s.st = 1 AND u.cs[s.i+1] = 2 AND s.bc + 1 > 4 THEN 0
        |         WHEN s.st = 1 AND u.cs[s.i+1] = 3 THEN 0
        |         ELSE s.st END,
        |    CASE WHEN s.st = 0 AND u.cs[s.i+1] = 1 THEN 0
        |         WHEN s.st = 1 AND u.cs[s.i+1] = 2 THEN
        |           CASE WHEN s.bc + 1 > 4 THEN 0 ELSE s.bc + 1 END
        |         WHEN s.st = 1 AND u.cs[s.i+1] = 3 THEN 0
        |         ELSE s.bc END,
        |    s.done + CASE WHEN s.st = 1 AND u.cs[s.i+1] = 3 AND s.bc >= 2
        |      THEN 1 ELSE 0 END,
        |    s.sumb + CASE WHEN s.st = 1 AND u.cs[s.i+1] = 3 AND s.bc >= 2
        |      THEN s.bc ELSE 0 END,
        |    s.over + CASE WHEN s.st = 1 AND u.cs[s.i+1] = 2 AND s.bc + 1 > 4
        |      THEN 1 ELSE 0 END
        |  FROM step s JOIN u ON u.user_id = s.user_id
        |  WHERE s.i < len(u.cs))
        |SELECT s.user_id, s.done AS n_complete, s.sumb AS sum_b,
        |  s.over AS n_overflow, s.st AS open_state, s.bc AS open_b
        |FROM step s JOIN u ON u.user_id = s.user_id AND s.i = len(u.cs)
        |ORDER BY s.user_id""".stripMargin,
    "e27_pattern_repeat" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    list(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
        |        WHEN 'purchase' THEN 3 ELSE 0 END
        |      ORDER BY ts, event_id) AS cs
        |  FROM events GROUP BY user_id),
        |step(user_id, i, st, bc, done, sumb) AS (
        |  SELECT user_id, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM u
        |  UNION ALL
        |  SELECT s.user_id, s.i + 1,
        |    CASE WHEN s.st = 0 AND u.cs[s.i+1] = 1 THEN 1
        |         WHEN s.st = 1 AND u.cs[s.i+1] = 3 THEN 0
        |         ELSE s.st END,
        |    CASE WHEN s.st = 0 AND u.cs[s.i+1] = 1 THEN 0
        |         WHEN s.st = 1 AND u.cs[s.i+1] = 2 THEN s.bc + 1
        |         WHEN s.st = 1 AND u.cs[s.i+1] = 3 THEN 0
        |         ELSE s.bc END,
        |    s.done + CASE WHEN s.st = 1 AND u.cs[s.i+1] = 3 AND s.bc >= 2
        |      THEN 1 ELSE 0 END,
        |    s.sumb + CASE WHEN s.st = 1 AND u.cs[s.i+1] = 3 AND s.bc >= 2
        |      THEN s.bc ELSE 0 END
        |  FROM step s JOIN u ON u.user_id = s.user_id
        |  WHERE s.i < len(u.cs))
        |SELECT s.user_id, s.done AS n_complete, s.sumb AS sum_b,
        |  s.st AS open_state, s.bc AS open_b
        |FROM step s JOIN u ON u.user_id = s.user_id AND s.i = len(u.cs)
        |ORDER BY s.user_id""".stripMargin,
    "e25_pattern_opt" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    list(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
        |        WHEN 'purchase' THEN 3 ELSE 0 END
        |      ORDER BY ts, event_id) AS cs
        |  FROM events GROUP BY user_id),
        |step(user_id, i, st, done, withb) AS (
        |  SELECT user_id, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT) FROM u
        |  UNION ALL
        |  SELECT s.user_id, s.i + 1,
        |    CASE WHEN s.st = 0 AND u.cs[s.i+1] = 1 THEN 1
        |         WHEN s.st = 1 AND u.cs[s.i+1] = 2 THEN 2
        |         WHEN s.st = 1 AND u.cs[s.i+1] = 3 THEN 0
        |         WHEN s.st = 2 AND u.cs[s.i+1] = 3 THEN 0
        |         ELSE s.st END,
        |    s.done + CASE WHEN s.st IN (1, 2) AND u.cs[s.i+1] = 3
        |      THEN 1 ELSE 0 END,
        |    s.withb + CASE WHEN s.st = 2 AND u.cs[s.i+1] = 3
        |      THEN 1 ELSE 0 END
        |  FROM step s JOIN u ON u.user_id = s.user_id
        |  WHERE s.i < len(u.cs))
        |SELECT s.user_id, s.done AS n_complete, s.withb AS n_with_b,
        |  s.st AS open_state
        |FROM step s JOIN u ON u.user_id = s.user_id AND s.i = len(u.cs)
        |ORDER BY s.user_id""".stripMargin,
    // ONE full join classified by base/delta membership — matching the
    // four-term union proves the bilinear delta decomposition exact
    "e24_delta_join" ->
      """WITH mx AS (SELECT max(event_id) AS mx FROM events),
        |c AS (SELECT user_id, event_id * 10 >= mx.mx * 9 AS cdelta
        |  FROM events, mx WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id * 10 >= mx.mx * 9 AS pdelta
        |  FROM events, mx WHERE event_type = 'purchase'),
        |j AS (SELECT c.user_id, c.cdelta, p.pdelta
        |  FROM c JOIN p USING (user_id))
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN NOT cdelta AND NOT pdelta THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bb,
        |  CAST(sum(CASE WHEN cdelta AND NOT pdelta THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_db,
        |  CAST(sum(CASE WHEN NOT cdelta AND pdelta THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bd,
        |  CAST(sum(CASE WHEN cdelta AND pdelta THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dd
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin,
    // PAA restated: same e3 values, explicit floor divisions (DuckDB
    // // truncates), list-ordered segment means, integer L2^2
    "e23_series_knn" ->
      s"""WITH s AS (SELECT user_id,
         |    CAST(round(value * 1000) AS BIGINT) AS v,
         |    CAST(row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS BIGINT) - 1 AS pos,
         |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
         |  FROM events),
         |f AS (SELECT *, CAST(floor((pos * $PaaSegs)::DOUBLE / n) AS BIGINT)
         |    AS seg FROM s WHERE n >= $PaaSegs),
         |g AS (SELECT user_id, seg,
         |    CAST(floor(sum(v)::DOUBLE / count(*)) AS BIGINT) AS m
         |  FROM f GROUP BY user_id, seg),
         |p AS (SELECT user_id, list(m ORDER BY seg) AS paa
         |  FROM g GROUP BY user_id),
         |scored AS (SELECT q.user_id AS qid, c.user_id AS nid,
         |    CAST(list_sum(list_transform(range(1, $PaaSegs + 1),
         |      i -> (q.paa[i] - c.paa[i]) * (q.paa[i] - c.paa[i])))
         |      AS BIGINT) AS dist
         |  FROM p q JOIN p c
         |    ON q.user_id < $SeriesNQ AND q.user_id <> c.user_id),
         |r AS (SELECT qid, nid, dist,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nid)
         |      AS BIGINT) AS rank
         |  FROM scored)
         |SELECT qid, rank, nid, dist FROM r WHERE rank <= $SeriesK
         |ORDER BY qid, rank""".stripMargin,
    // e19's automaton with a many-to-one stage code: 'view' OR
    // 'error' both map to stage 2 — alternation changes only the CASE
    "e22_pattern_alt" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    list(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
        |        WHEN 'error' THEN 2 WHEN 'purchase' THEN 3 ELSE 0 END
        |      ORDER BY ts, event_id) AS cs
        |  FROM events GROUP BY user_id),
        |step(user_id, i, acc) AS (
        |  SELECT user_id, 0, CAST(0 AS BIGINT) FROM u
        |  UNION ALL
        |  SELECT s.user_id, s.i + 1,
        |    CASE WHEN CAST(u.cs[s.i + 1] AS BIGINT) = 1 AND s.acc % 3 = 0 THEN s.acc + 1
        |         WHEN CAST(u.cs[s.i + 1] AS BIGINT) = 2 AND s.acc % 3 = 1 THEN s.acc + 1
        |         WHEN CAST(u.cs[s.i + 1] AS BIGINT) = 3 AND s.acc % 3 = 2 THEN s.acc + 1
        |         ELSE s.acc END
        |  FROM step s JOIN u ON u.user_id = s.user_id
        |  WHERE s.i < len(u.cs))
        |SELECT s.user_id, s.acc // 3 AS n_funnels, s.acc % 3 AS open_stage
        |FROM step s JOIN u ON u.user_id = s.user_id AND s.i = len(u.cs)
        |ORDER BY s.user_id""".stripMargin,
    "e19_pattern" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    list(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
        |        WHEN 'purchase' THEN 3 ELSE 0 END
        |      ORDER BY ts, event_id) AS cs
        |  FROM events GROUP BY user_id),
        |step(user_id, i, acc) AS (
        |  SELECT user_id, 0, CAST(0 AS BIGINT) FROM u
        |  UNION ALL
        |  SELECT s.user_id, s.i + 1,
        |    CASE WHEN CAST(u.cs[s.i + 1] AS BIGINT) = 1 AND s.acc % 3 = 0 THEN s.acc + 1
        |         WHEN CAST(u.cs[s.i + 1] AS BIGINT) = 2 AND s.acc % 3 = 1 THEN s.acc + 1
        |         WHEN CAST(u.cs[s.i + 1] AS BIGINT) = 3 AND s.acc % 3 = 2 THEN s.acc + 1
        |         ELSE s.acc END
        |  FROM step s JOIN u ON u.user_id = s.user_id
        |  WHERE s.i < len(u.cs))
        |SELECT s.user_id, s.acc // 3 AS n_funnels, s.acc % 3 AS open_stage
        |FROM step s JOIN u ON u.user_id = s.user_id AND s.i = len(u.cs)
        |ORDER BY s.user_id""".stripMargin,
    // e19's recursive automaton extended with the open cycle's start
    // id; a completion is a step whose acc incremented to a multiple
    // of k — its span is (start at that step, the consumed event)
    "e20_pattern_spans" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    list(struct_pack(
        |        c := CASE event_type WHEN 'click' THEN CAST(1 AS BIGINT)
        |          WHEN 'view' THEN 2 WHEN 'purchase' THEN 3 ELSE 0 END,
        |        id := event_id)
        |      ORDER BY ts, event_id) AS es
        |  FROM events GROUP BY user_id),
        |step(user_id, i, acc, st) AS (
        |  SELECT user_id, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM u
        |  UNION ALL
        |  SELECT s.user_id, s.i + 1,
        |    CASE WHEN u.es[s.i + 1].c >= 1
        |           AND s.acc % 3 = u.es[s.i + 1].c - 1
        |         THEN s.acc + 1 ELSE s.acc END,
        |    CASE WHEN u.es[s.i + 1].c = 1 AND s.acc % 3 = 0
        |         THEN u.es[s.i + 1].id ELSE s.st END
        |  FROM step s JOIN u ON u.user_id = s.user_id
        |  WHERE s.i < len(u.es))
        |SELECT a.user_id, a.acc // 3 AS match_no,
        |  a.st AS start_event_id, u.es[a.i].id AS end_event_id
        |FROM step a
        |JOIN step b ON b.user_id = a.user_id AND b.i = a.i - 1
        |JOIN u ON u.user_id = a.user_id
        |WHERE a.i >= 1 AND a.acc = b.acc + 1 AND a.acc % 3 = 0
        |ORDER BY a.user_id, match_no""".stripMargin,
    // the WITHIN-window automaton: state (acc, attempt start ts,
    // expiry count); expiry precedes the transition so the breaching
    // event may open a fresh attempt — identical fold both engines
    "e21_pattern_within" ->
      s"""WITH RECURSIVE u AS (SELECT user_id,
         |    list(struct_pack(
         |        c := CASE event_type WHEN 'click' THEN CAST(1 AS BIGINT)
         |          WHEN 'view' THEN 2 WHEN 'purchase' THEN 3 ELSE 0 END,
         |        t := epoch_us(ts)) ORDER BY ts, event_id) AS es
         |  FROM events GROUP BY user_id),
         |step(user_id, i, acc, start_ts, nexp) AS (
         |  SELECT user_id, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |    CAST(0 AS BIGINT) FROM u
         |  UNION ALL
         |  SELECT s.user_id, s.i + 1,
         |    CASE WHEN u.es[s.i+1].c =
         |      (CASE WHEN s.acc % 3 > 0
         |         AND u.es[s.i+1].t - s.start_ts > $PatternWithinMicros
         |       THEN 0 ELSE s.acc % 3 END) + 1
         |    THEN (CASE WHEN s.acc % 3 > 0
         |            AND u.es[s.i+1].t - s.start_ts > $PatternWithinMicros
         |          THEN s.acc - s.acc % 3 ELSE s.acc END) + 1
         |    ELSE (CASE WHEN s.acc % 3 > 0
         |            AND u.es[s.i+1].t - s.start_ts > $PatternWithinMicros
         |          THEN s.acc - s.acc % 3 ELSE s.acc END) END,
         |    CASE WHEN u.es[s.i+1].c =
         |      (CASE WHEN s.acc % 3 > 0
         |         AND u.es[s.i+1].t - s.start_ts > $PatternWithinMicros
         |       THEN 0 ELSE s.acc % 3 END) + 1
         |      AND (CASE WHEN s.acc % 3 > 0
         |             AND u.es[s.i+1].t - s.start_ts > $PatternWithinMicros
         |           THEN 0 ELSE s.acc % 3 END) = 0
         |    THEN u.es[s.i+1].t ELSE s.start_ts END,
         |    s.nexp + CASE WHEN s.acc % 3 > 0
         |        AND u.es[s.i+1].t - s.start_ts > $PatternWithinMicros
         |      THEN 1 ELSE 0 END
         |  FROM step s JOIN u ON u.user_id = s.user_id
         |  WHERE s.i < len(u.es))
         |SELECT s.user_id, s.acc // 3 AS n_funnels, s.acc % 3 AS open_stage,
         |  s.nexp AS n_expired
         |FROM step s JOIN u ON u.user_id = s.user_id AND s.i = len(u.es)
         |ORDER BY s.user_id""".stripMargin,
    // e6's funnel CTEs + discrete positional quantiles over the
    // per-transition delay histogram; // = Spark's DIV on positives
    "e18_conversion" ->
      """WITH c AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'click' GROUP BY user_id),
        |v AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN c ON e.user_id = c.user_id AND e.ts > c.t1
        |    AND e.ts <= c.t1 + INTERVAL 24 HOUR
        |  WHERE e.event_type = 'view' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN v ON e.user_id = v.user_id AND e.ts > v.t2
        |    AND e.ts <= v.t2 + INTERVAL 24 HOUR
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        |ent AS (SELECT 'click_to_view' AS transition,
        |    (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_entered,
        |    (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_converted
        |  UNION ALL SELECT 'view_to_purchase',
        |    (SELECT CAST(count(*) AS BIGINT) FROM v),
        |    (SELECT CAST(count(*) AS BIGINT) FROM p)),
        |delays AS (SELECT 'click_to_view' AS transition,
        |    CAST(floor(epoch(v.t2)) - floor(epoch(c.t1)) AS BIGINT) AS delay_s
        |  FROM c JOIN v USING (user_id)
        |  UNION ALL SELECT 'view_to_purchase',
        |    CAST(floor(epoch(p.t3)) - floor(epoch(v.t2)) AS BIGINT)
        |  FROM v JOIN p USING (user_id)),
        |cum AS (SELECT transition, delay_s, cnt,
        |    sum(cnt) OVER (PARTITION BY transition ORDER BY delay_s) AS cum_end,
        |    sum(cnt) OVER (PARTITION BY transition) AS n
        |  FROM (SELECT transition, delay_s, CAST(count(*) AS BIGINT) AS cnt
        |    FROM delays GROUP BY transition, delay_s)),
        |q AS (SELECT transition,
        |    CAST(max(CASE WHEN (n - 1) * 50 // 100 >= cum_end - cnt
        |      AND (n - 1) * 50 // 100 < cum_end THEN delay_s END) AS BIGINT) AS p50_s,
        |    CAST(max(CASE WHEN (n - 1) * 90 // 100 >= cum_end - cnt
        |      AND (n - 1) * 90 // 100 < cum_end THEN delay_s END) AS BIGINT) AS p90_s
        |  FROM cum GROUP BY transition)
        |SELECT ent.transition, ent.n_entered, ent.n_converted,
        |  ent.n_converted * 1000000 // ent.n_entered AS conv_rate_e6,
        |  q.p50_s, q.p90_s
        |FROM ent LEFT JOIN q ON ent.transition = q.transition
        |ORDER BY ent.transition""".stripMargin,
    "e7_retention" ->
      """WITH w AS (SELECT user_id,
        |    CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS week FROM events),
        |c AS (SELECT user_id, week,
        |    min(week) OVER (PARTITION BY user_id) AS cohort_week FROM w)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  count(DISTINCT user_id) AS n_users
        |FROM c GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,
  )
}
