package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Relational core: scans, filters, projections, aggregations, joins,
  * windows, sorts/limits, set operations.
  *
  * The reference engine's own relational surface is tiny (SURVEY.md §2 —
  * ordered scans + limits + projections embedded in generated SQL); this
  * module is the general query surface a Spark-native engine provides on
  * top, exercised against the driver corpus.
  *
  * Scale notes (100 TB):
  *  - every query reads through a projected/filtered parquet scan —
  *    Catalyst pushes both (verified via explain in RelationalSpec);
  *  - dimension joins (region/nation/customer) are broadcast explicitly;
  *    fact-fact joins shuffle on the join key and rely on AQE for skew;
  *  - order-sensitive double sums use int64 cents (Tables.cents) so the
  *    result is independent of partitioning/accumulation order — this is
  *    what makes the result reproducible cluster-vs-local, not just an
  *    oracle trick.
  */
object Relational {

  /** q1: TPC-H Q1-style pricing summary. groupBy + exact sums + avg. */
  def q1Agg(s: SparkSession, d: String): DataFrame =
    q1Pipeline(lineitem(s, d))

  /** q1 aggregation over a caller-supplied lineitem frame — lets tests
    * feed a differently-partitioned input to prove the int64-cents sums
    * are accumulation-order independent. */
  def q1Pipeline(li: DataFrame): DataFrame = {
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dollars(sum(cents(col("l_quantity")))).as("sum_qty"),
        dollars(sum(cents(col("l_extendedprice")))).as("sum_base_price"),
        dollars(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        (sum(cents(col("l_quantity"))).cast("double") / (lit(100.0) * count(lit(1))))
          .as("avg_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q2: filter + projection; predicate and column pruning reach the scan. */
  def q2FilterProject(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-04-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_quantity") < 10.0)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .transform(Output.ordered(_, col("l_orderkey"), col("l_linenumber")))
  }

  /** q3: 3-way join + agg + top-k revenue customers. customer is
    * broadcast (dim); orders⋈lineitem shuffles on orderkey.
    *
    * Lineitem revenue is PRE-AGGREGATED per order below the join
    * (partial-aggregate pushdown Catalyst doesn't do itself): the big
    * fact's shuffle carries map-side-combined per-order partials
    * (~4 rows/order collapse before the wire), and the aggregate's hash
    * partitioning on l_orderkey is exactly the join's requirement, so
    * the join adds no exchange for that side. Sum-of-cents is
    * associative, so regrouping by order first is exact. At 100 TB,
    * where lineitem dwarfs orders, this is the shape that survives. */
  def q3JoinAggTopK(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).select(col("c_custkey"), col("c_name"))
    val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val l = lineitem(s, d).select(
      col("l_orderkey"),
      cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("rev_c")).as("rev_c"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(dollars(sum(col("rev_c"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)
  }

  /** q4: star join over broadcast dims; counts + exact balance sums. */
  def q4BroadcastJoin(s: SparkSession, d: String): DataFrame = {
    val r = region(s, d); val n = nation(s, d)
    customer(s, d)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        dollars(sum(cents(col("c_acctbal")))).as("total_acctbal"))
      .orderBy(col("r_name"))
  }

  /** q5: window — latest order per customer (row_number over desc). */
  def q5WindowLatest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  /** q6: global sort + limit (top-k by price; Spark plans TakeOrdered —
    * no full sort materialization). */
  def q6SortLimit(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)

  /** q7: set ops — INTERSECT then EXCEPT (distinct semantics both). */
  def q7SetOps(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val oo = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val big = o.filter(col("o_totalprice") > 300000.0).select(col("o_custkey"))
    f.intersect(oo).except(big).orderBy(col("o_custkey"))
  }

  /** q8: left-semi join (EXISTS) — customers with at least one urgent order. */
  def q8SemiJoin(s: SparkSession, d: String): DataFrame = {
    val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    customer(s, d)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** q9: left-anti join (NOT EXISTS) — customers with no open ('P') orders. */
  def q9AntiJoin(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).filter(col("o_orderstatus") === "P")
      .select(col("o_custkey"))
    customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** q10: rollup (hierarchical aggregates with NULL totals). */
  def q10Rollup(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dollars(sum(cents(col("o_totalprice")))).as("total_price"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** q14: CUBE aggregation — all 2^k grouping sets in one pass (the
    * dashboard-materialization shape; rollup's lattice sibling). Spark
    * expands the sets and map-side-combines each, so the corpus is
    * scanned once regardless of the lattice width. */
  def q14Cube(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dollars(sum(cents(col("o_totalprice")))).as("total_price"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** q15: window FRAMES — the rolling-metric surface (§2.5). Three frame
    * kinds over one per-customer sort: a 3-row moving average (ROWS
    * frame), a running total (unbounded-preceding ROWS frame), and a
    * trailing-30-day order count (RANGE frame over the order date).
    * One shuffle on o_custkey serves all three windows — they share the
    * same (partition, sort) spec, so Catalyst plans a single Sort +
    * Window over one Exchange. Frame sums use int64 cents so the
    * in-frame accumulation is order-exact; the ROWS tie-break includes
    * o_orderkey so frames are deterministic under equal dates.
    * At 100 TB this is the per-entity-timeline shape: cost is one
    * hash-partition by entity + per-partition sort; no frame ever
    * buffers more than its own rows (Spark's running frames stream). */
  def q15WindowFrames(s: SparkSession, d: String): DataFrame = {
    val byCust = Window.partitionBy(col("o_custkey"))
    // SHARE THE SORT (r18, guide §2.4): the ROWS windows and the RANGE
    // window used to order by different EXPRESSIONS (raw timestamp vs
    // unix_date of it), so the plan re-sorted between the two Window
    // operators. Both now order by ONE staged `od_days` column — the
    // ROWS order keeps the raw timestamp AND the orderkey as tie-breaks
    // after it, which is the identical total order for ANY data
    // (od_days is a monotone coarsening of o_orderdate, so ordering by
    // (coarse, fine, key) ≡ (fine, key)) — and the RANGE window's
    // required (cust, od_days) is a prefix of the ROWS sort, so one
    // Sort serves all three frames (plan diff: 2 intra-window Sorts →
    // 1; plans/r18/q15_window_frames_{before,after}.txt).
    val rowOrder = byCust.orderBy(col("od_days"), col("o_orderdate"),
      col("o_orderkey"))
    val mavgW = rowOrder.rowsBetween(-2, Window.currentRow)
    val cumW = rowOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // RANGE frame keys on the date VALUE (epoch days — TZ-free, unlike
    // an epoch-seconds cast of the NTZ timestamp), so tied dates are
    // frame peers — identical semantics to SQL's `RANGE BETWEEN
    // INTERVAL 30 DAYS PRECEDING AND CURRENT ROW` on the
    // midnight-aligned order dates.
    val rangeW = byCust.orderBy(col("od_days"))
      .rangeBetween(-30L, Window.currentRow)
    orders(s, d)
      .withColumn("od_days", unix_date(col("o_orderdate").cast("date")))
      .withColumn("mavg3_price",
        sum(cents(col("o_totalprice"))).over(mavgW).cast("double") /
          (lit(100.0) * count(lit(1)).over(mavgW)))
      .withColumn("cum_spend", dollars(sum(cents(col("o_totalprice"))).over(cumW)))
      .withColumn("n_orders_30d", count(lit(1)).over(rangeW))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("mavg3_price"), col("cum_spend"), col("n_orders_30d"))
      // plain orderBy: the plan shuffles for the windows already, so the
      // range sampler replays that exchange output, not the whole query
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** q16: PIVOT — long-to-wide reshaping (one output column group per
    * order status). The pivot values are an explicit static list: with
    * them, Spark skips the driver-side `distinct` collect it would
    * otherwise run to discover the columns and the output schema is
    * known at plan time. The physical shape is the scale-correct
    * two-phase one: a map-side-combined aggregate on the COMPOSITE
    * (group, pivot) key crushes the fact table first, then `pivotfirst`
    * reshapes the tiny #groups × #values frame — so the second shuffle
    * moves pre-aggregated rows, never data. Counts for absent
    * (priority, status) combinations are coalesced to 0 to match SQL's
    * `count(*) FILTER` semantics (sums stay NULL in both engines). */
  def q16Pivot(s: SparkSession, d: String): DataFrame = {
    val statuses = Seq("F", "O", "P")
    val wide = orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", statuses)
      .agg(count(lit(1)).as("n"),
        dollars(sum(cents(col("o_totalprice")))).as("spend"))
    statuses.foldLeft(wide) { (df, st) =>
      df.withColumn(s"${st}_n", coalesce(col(s"${st}_n"), lit(0L)))
    }.orderBy(col("o_orderpriority"))
  }

  /** q17: correlated subquery — orders priced above their own
    * customer's average (`WHERE o_totalprice > (SELECT avg(...) WHERE
    * same customer)`). Spark decorrelates this class into an aggregate
    * + equi-join; we declare that form directly: one map-side-combined
    * per-customer aggregate, one shuffle join back on o_custkey. The
    * average is compared in exact cents×count integer space
    * (price·n > sum) — no division, so the predicate is bit-exact in
    * both engines and immune to FP-average rounding at any scale.
    * At 100 TB both sides shuffle on o_custkey once; the aggregate side
    * is #customers rows, and AQE turns the join into a broadcast when
    * that side crushes small enough. */
  def q17CorrelatedAvg(s: SparkSession, d: String): DataFrame = {
    val custAvg = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("sum_cents"),
        count(lit(1)).as("n_cust_orders"))
    orders(s, d)
      .join(custAvg, Seq("o_custkey"))
      .filter(cents(col("o_totalprice")) * col("n_cust_orders") > col("sum_cents"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("n_cust_orders"))
      .orderBy(col("o_orderkey"))
  }

  /** q26: the TPC-H Q2 SHAPE — minimum-cost supplier per part within a
    * region: for small parts (p_size < 10), among line items shipped
    * by EUROPE-nation suppliers, the supplier(s) achieving the MINIMUM
    * extended price for that part. The correlated `price = (SELECT
    * min(price) WHERE partkey = outer)` subquery is decorrelated into
    * one per-part aggregate joined back (q17's discipline, on min
    * instead of avg); region→nation→supplier is a broadcast dim chain
    * pruned BEFORE touching the fact table, so the fact scan joins
    * against the small qualified-supplier set — the plan Q2 wants at
    * scale. Ties (two suppliers at the min price) all emit, ordered
    * (s_acctbal desc, s_name) per the Q2 convention; top 20 rows. */
  def q26MinCost(s: SparkSession, d: String): DataFrame = {
    val euroSupp = supplier(s, d)
      .join(broadcast(nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val smallParts = part(s, d).filter(col("p_size") < 10)
      .select(col("p_partkey"), col("p_type"), col("p_size"))
    val offers = lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"),
        cents(col("l_extendedprice")).as("price_c"))
      .join(broadcast(euroSupp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
    val minPrice = offers.groupBy(col("p_partkey").as("mp_part"))
      .agg(min(col("price_c")).as("min_price_c"))
    offers
      .join(minPrice, col("p_partkey") === col("mp_part") &&
        col("price_c") === col("min_price_c"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_type"),
        dollars(col("price_c")).as("min_price"))
      .distinct()
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(20)
  }

  /** q18: UNPIVOT — wide-to-long reshaping, the inverse of q16's pivot.
    * A per-returnflag aggregate produces three metric columns, then
    * `unpivot` melts them into (l_returnflag, metric, amount) rows.
    * The unpivot itself is a NARROW Expand projection (each input row
    * emits one row per melted column, no exchange) — the only shuffle
    * is the upstream map-side-combined aggregate. That ordering matters
    * at 100 TB: melting FIRST would triple the fact table before the
    * shuffle; aggregating first means the Expand runs over #groups
    * rows. All melted values share int64-cents→dollars doubles, so the
    * common unpivot type is exact. */
  def q18Unpivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        dollars(sum(cents(col("l_quantity")))).as("sum_qty"),
        dollars(sum(cents(col("l_extendedprice")))).as("sum_base_price"),
        dollars(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
          .as("sum_disc_price"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_base_price"), col("sum_disc_price")),
        "metric", "amount")
      .orderBy(col("l_returnflag"), col("metric"))

  /** q19: GROUPING SETS — the general aggregation lattice, completing
    * the rollup (q10) / cube (q14) trio with a lattice NEITHER can
    * express: both one-dimensional margins plus the grand total, but
    * NOT the (status, priority) cross — `((status), (priority), ())`.
    * Spark plans the same single-scan Expand as rollup/cube (one row
    * per row×set, map-side-combined), so the corpus is read once no
    * matter how many sets the lattice lists. `grouping_id()` is
    * exposed so margin NULLs are distinguishable from data NULLs —
    * the standard disambiguator (DuckDB computes the identical
    * bitmask via GROUPING()). */
  def q19GroupingSets(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        dollars(sum(cents(col("o_totalprice")))).as("total_price"))
      .orderBy(asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))

  /** Exact GLOBAL rank over `order` WITHOUT the single-partition-window
    * anti-pattern (`Window.orderBy` with no partitionBy funnels the
    * whole frame through one task — the classic global-sort scale
    * killer). Scalable shape instead: (1) `repartitionByRange` on the
    * order key — partition ids ascend in sort order, equal keys
    * co-locate, and the full tie-break in `order` spreads tie runs;
    * (2) `localCheckpoint` the ranged frame so the two passes below
    * read ONE materialization (range boundaries are sampled per job —
    * un-pinned, a second computation could re-draw them and corrupt
    * the offsets; at 100 TB you persist this frame anyway — it is the
    * sorted layout you keep); (3) per-partition `row_number` — a window
    * PARTITIONED by the materialized partition id, every partition
    * ranks in parallel; (4) add per-partition offsets (cumulative
    * counts — #shuffle-partitions rows, driver-sized by contract) as a
    * literal map lookup: pure narrow projection, no join.
    * Returns the input plus a 1-based rank column named `rankCol`
    * (default "rank"). Fails fast if the input already has a `rankCol`
    * column — silently overwriting a caller's data is worse than an
    * error — and the internal partition-id column is generated
    * collision-free against the input schema, so any input column set
    * round-trips intact. */
  def globalRank(df: DataFrame, order: Seq[Column],
      rankCol: String = "rank"): DataFrame = {
    require(!df.columns.contains(rankCol),
      s"globalRank: input already has a column named '$rankCol'; " +
        "pass a different rankCol")
    val pid = Iterator.from(0)
      .map(i => if (i == 0) "_graft_pid" else s"_graft_pid$i")
      .find(n => !df.columns.contains(n)).get
    val ranged = df.repartitionByRange(order: _*)
      .withColumn(pid, spark_partition_id())
      .localCheckpoint()
    val counts = ranged.groupBy(col(pid)).agg(count(lit(1)).as("_pn"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets: Map[Int, Long] = counts.map { case (p, pn) =>
      val o = acc; acc += pn; (p, o)
    }.toMap
    val w = Window.partitionBy(col(pid)).orderBy(order: _*)
    ranged
      .withColumn(rankCol, row_number().over(w).cast("long") +
        coalesce(element_at(typedLit(offsets), col(pid)), lit(0L)))
      .drop(pid)
  }

  /** q20: DECILE analysis — customers ranked by lifetime spend, cut
    * into tenths by exact global rank, one summary row per decile (the
    * revenue-concentration report: "the top decile holds X% of
    * spend"). Decile = `(rank−1)·10 div n + 1` — the closed form both
    * engines compute identically from the same total order (spend
    * desc, custkey tie-break), rather than engine-specific NTILE
    * internals. Rank comes from [[globalRank]], so the plan has NO
    * single-partition window: the only SinglePartition stages are the
    * 1-row customer count and the 10-row presentation sort. */
  def q20Decile(s: SparkSession, d: String): DataFrame = {
    val totals = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("total_cents"))
    val ranked = globalRank(totals,
      Seq(col("total_cents").desc, col("o_custkey").asc))
    val n = ranked.agg(count(lit(1)).as("n_total"))
    ranked.crossJoin(broadcast(n))
      .withColumn("decile", expr("((rank - 1) * 10) div n_total + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        dollars(sum(col("total_cents"))).as("sum_spend"),
        dollars(min(col("total_cents"))).as("min_spend"),
        dollars(max(col("total_cents"))).as("max_spend"))
      .orderBy(col("decile"))
  }

  /** SALTED equi-join — the static skew remedy for a hot join key too
    * big for one task, when the dimension side is too big to broadcast.
    * The fact side's key is widened with a deterministic salt
    * `pmod(xxhash64(rowKey), salts)` (rowKey = any per-row-distinct
    * column set, so one hot key's rows spread across `salts` shuffle
    * partitions instead of landing on one task); the dimension side is
    * replicated once per salt value (an Expand-style generate — the
    * deliberate cost: dim shuffle volume × salts buys hot-key
    * parallelism × salts). Join on (key, salt) then drop the salt:
    * result rows are EXACTLY the plain join's — the salt never reaches
    * the output, pinned by spec and by q21's oracle, which states the
    * UNsalted join. AQE's skew-join split is the adaptive cousin; the
    * static salt is for when the skew is known and stable (a null-ish
    * sentinel key, a mega-customer), must survive with AQE off, or
    * feeds a downstream aggregation AQE cannot re-split. */
  def saltedJoin(facts: DataFrame, dim: DataFrame, key: String,
      rowKey: Seq[Column], salts: Int): DataFrame = {
    val salted = facts.withColumn("_salt",
      pmod(xxhash64(rowKey: _*), lit(salts.toLong)))
    val repl = dim.withColumn("_salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1L))))
    salted.join(repl, Seq(key, "_salt")).drop("_salt")
  }

  /** q21: revenue by order priority through a SALTED lineitem⋈orders
    * join (salts = 8, salt from the composite line identity). The
    * oracle states the ordinary join — same result set is the whole
    * point; the spec additionally pins the plan (both exchanges keyed
    * by (key, _salt)) and the hot key actually spreading. */
  def q21SaltedJoin(s: SparkSession, d: String): DataFrame =
    saltedJoin(
      lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c")),
      orders(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
      "l_orderkey", Seq(col("l_orderkey"), col("l_linenumber")), salts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), dollars(sum(col("rev_c"))).as("revenue"))
      .orderBy(col("o_orderpriority"))

  /** q22: the APPROXIMATE aggregation tier — HLL++ distinct counts
    * (rsd 0.01) and quantile sketches beside the exact forms (q13).
    * At 100 TB this tier is usually the right answer when exactness is
    * not contractual: sketches are fixed-size and merge associatively,
    * so the aggregation is one map-side-combined shuffle of KBs per
    * group however many rows feed it, where exact distinct counts
    * shuffle every distinct value and exact quantiles a histogram.
    * Both sketches are deterministic (hash-based, no RNG).
    *
    * Oracle strategy: raw sketch ESTIMATES are engine-specific by
    * nature (DuckDB cannot state Spark's HLL++ register values), so
    * the query emits ENGINE-PORTABLE columns instead — the exact
    * answers plus the booleans `approx_within_rsd` / `p50_within_band`
    * stating that this engine's sketch landed inside its advertised
    * error envelope (5× the rsd=0.01 std error for HLL++; one value
    * step of the integral quantity domain for the quantile sketch).
    * DuckDB states the same exact values and TRUE for both booleans,
    * so the driver's full rows+schema+hash gate now applies: a sketch
    * drifting out of its envelope flips a boolean and FAILS the hash
    * compare — the accuracy contract is oracle-gated, not just
    * spec-pinned. The exact median reuses q13's value-histogram shape
    * (no per-group value buffering), and the exact distinct count
    * rides the same expand the sketch comparison needs anyway. */
  def q22ApproxAgg(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val flag = col("l_returnflag")
    // exact median via the value histogram (q13's scalable shape):
    // l_quantity is integral with ≤50 distinct values, so the
    // histogram is tiny and the 0.5-dyadic interpolation is FP-exact
    val hist = li.groupBy(flag, col("l_quantity")).agg(count(lit(1)).as("cnt"))
    val byFlag = Window.partitionBy(flag)
    val cumW = byFlag.orderBy(col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum_end", sum(col("cnt")).over(cumW))
      .withColumn("cum_start", col("cum_end") - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(byFlag))
    val pos = (col("n") - 1) * 0.5
    def valueAt(p: Column): Column =
      max(when(p >= col("cum_start") && p < col("cum_end"), col("l_quantity")))
    val med = cum.groupBy(flag).agg(
      valueAt(floor(pos)).as("lo"), valueAt(ceil(pos)).as("hi"),
      min(pos - floor(pos)).as("frac"))
      .select(flag,
        (col("lo") + col("frac") * (col("hi") - col("lo"))).as("p50_qty_exact"))
    // The sketch pass and the exact-distinct pass are DELIBERATELY
    // separate aggregations: a DISTINCT aggregate in the same agg would
    // make the partial phase group by (flag, l_orderkey) — one
    // percentile_approx buffer PER DISTINCT ORDER instead of per flag
    // (measured: 41 s vs ~1 s at sf0.1). Each pass is one
    // map-side-combined shuffle to a #flags-row result; the joins are
    // broadcasts of 3-row sides.
    val sk = li.groupBy(flag).agg(
      approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("nd_approx"),
      percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("p50_approx"),
      count(lit(1)).as("n_rows"))
    val ndx = li.groupBy(flag)
      .agg(count_distinct(col("l_orderkey")).as("n_orders_exact"))
    sk.join(broadcast(ndx), Seq("l_returnflag"))
      .join(broadcast(med), Seq("l_returnflag"))
      .select(flag, col("n_rows"), col("n_orders_exact"), col("p50_qty_exact"),
        (abs(col("nd_approx") - col("n_orders_exact")) <=
          greatest(lit(5.0), lit(0.05) * col("n_orders_exact")))
          .as("approx_within_rsd"),
        (abs(col("p50_approx") - col("p50_qty_exact")) <= lit(1.0))
          .as("p50_within_band"))
      .orderBy(flag)
  }

  /** q11: scalar string/date functions (projection-only; codegen'd). */
  def q11ScalarFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        col("o_orderkey"),
        substring(col("o_orderpriority"), 1, 1).as("prio_class"),
        upper(col("o_orderstatus")).as("status_u"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        month(col("o_orderdate")).cast("long").as("order_month"),
        dayofmonth(col("o_orderdate")).cast("long").as("order_day"),
        length(col("o_orderpriority")).cast("long").as("prio_len"),
        concat(col("o_orderstatus"), lit("#"),
          col("o_orderpriority")).as("status_prio"))
      .transform(Output.ordered(_, col("o_orderkey")))

  /** q12: join + conditional aggregation (TPC-H Q12-style shipping modes
    * via priority buckets) — exercises CASE WHEN inside agg. */
  def q12CaseAgg(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
    val l = lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  /** q13: distinct-count + exact quantile aggregates per group — the
    * expand/two-shuffle distinct-agg shape plus sort-based percentile.
    * Quantiles use dyadic probabilities (0.25/0.5/0.75) over integral
    * quantities, so the interpolation is FP-exact and bit-identical
    * across engines. At 100 TB swap in `approx_count_distinct` (HLL++)
    * and `approx_percentile` (KLL) when estimates suffice — kept exact
    * here for the oracle gate. */
  /** Exact quantiles via the VALUE HISTOGRAM, not a buffering
    * percentile agg: Spark's `percentile` collects every group value on
    * one reducer — at 100 TB with 3 groups that's an OOM by design. The
    * quantile of a distribution is a pure function of its (value, count)
    * histogram, so: one map-side-combined groupBy(value) shuffle (tiny
    * output — l_quantity has ≤ 50 distinct values), a cumulative window
    * over the histogram, then interpolation between the two values
    * straddling position q·(n−1) — the same linear interpolation
    * `percentile`/`quantile_cont` define, bit-exact here because the
    * quartile fractions are dyadic. For high-cardinality value columns
    * the same shape works with a coarse pre-bucketing pass (histogram →
    * candidate range → exact pass over one bucket). */
  def q13DistinctQuantiles(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val flag = col("l_returnflag")
    val hist = li
      .groupBy(flag, col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val byFlag = Window.partitionBy(flag)
    val cumW = byFlag.orderBy(col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // value v covers 0-indexed sorted positions [cum_start, cum_end)
    val cum = hist
      .withColumn("cum_end", sum(col("cnt")).over(cumW))
      .withColumn("cum_start", col("cum_end") - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(byFlag))
    def valueAt(pos: Column): Column =
      max(when(pos >= col("cum_start") && pos < col("cum_end"), col("l_quantity")))
    def posOf(q: Double): Column = (col("n") - 1) * q // per-flag constant
    val quantAggs = Seq(25, 50, 75).flatMap { pct =>
      val q = pct / 100.0
      Seq(valueAt(floor(posOf(q))).as(s"lo_$pct"),
        valueAt(ceil(posOf(q))).as(s"hi_$pct"),
        min(posOf(q) - floor(posOf(q))).as(s"frac_$pct"))
    }
    val quants = cum.groupBy(flag).agg(quantAggs.head, quantAggs.tail: _*)
    def interp(pct: Int): Column =
      col(s"lo_$pct") + col(s"frac_$pct") * (col(s"hi_$pct") - col(s"lo_$pct"))
    val nd = li
      .groupBy(flag).agg(countDistinct(col("l_suppkey")).as("n_supp"))
    nd.join(broadcast(quants), Seq("l_returnflag"))
      .select(flag, col("n_supp"),
        interp(25).as("q25_qty"),
        interp(50).as("median_qty"),
        interp(75).as("q75_qty"))
      .orderBy(flag)
  }

  /** q23: Z-ORDER LAYOUT KEY — the Morton-interleaved locality key
    * ([[graft.functions.ZOrder16Expr]], codegen'd) over two frequently
    * co-filtered dimensions of `orders`: the customer key and the
    * order-date day ordinal. Emitting (and sorting by) `zval` is the
    * oracle-checkable half of the layout op; [[zorderLayout]] is the
    * write-side form that turns it into actual file skipping, measured
    * in RelationalSpec (a 2-D box predicate prunes most z-laid-out
    * files from footer min/max stats alone, where a single-column sort
    * prunes none for the other dimension).
    *
    * Scale notes (100 TB): layout is THE cheapest scan accelerator at
    * this scale — no index to maintain, just a write-time sort. 16-bit
    * per-dimension resolution is deliberate (file-granular clustering;
    * also keeps every spread step positive in signed 64-bit so DuckDB
    * states the identical arithmetic). The global orderBy here exists
    * only for the deterministic oracle dump; the layout form uses
    * repartitionByRange + sortWithinPartitions — no global sort. */
  def q23Zorder(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"),
        (col("o_custkey") % 65536L).as("cust_dim"),
        datediff(col("o_orderdate").cast("date"),
          to_date(lit("1992-01-01"))).cast("long").as("day_dim"))
      .withColumn("zval",
        graft.functions.GraftFunctions.zorder16(col("cust_dim"), col("day_dim")))
      .orderBy(col("zval"), col("o_orderkey"))

  /** Write-side Z-order layout: attach the Morton key over two bucketed
    * dimension columns, range-partition into `nFiles` z-contiguous
    * splits and sort within each — each written file then covers a
    * tight box in BOTH dimensions, so parquet footer min/max prune 2-D
    * box queries. No global sort, no driver state; the range
    * partitioner samples bounds distributed. */
  def zorderLayout(df: DataFrame, a: Column, b: Column, nFiles: Int): DataFrame =
    df.withColumn("zval",
        graft.functions.GraftFunctions.zorder16(a.cast("long"), b.cast("long")))
      .repartitionByRange(nFiles, col("zval"))
      .sortWithinPartitions(col("zval"))

  /** PageRank geometry — iterations fixed and small so the oracle can
    * UNROLL them as plain CTEs (standard SQL forbids aggregation inside
    * a recursive term, so a recursive CTE cannot state PageRank; six
    * unrolled aggregate-join rounds can). */
  val PrIters = 6
  /** pageRankLoop checkpoints every PrCadence-th round (and the last). */
  val PrCadence = 6
  val PrScale = 1000000000L
  val PrOffset = 1000000L

  /** q24: link-authority scoring — PageRank over the supplier↔customer
    * co-transaction graph (distinct (l_suppkey, o_custkey) pairs, edges
    * both directions), the graph-centrality tier of quality signals (a
    * web-corpus pipeline ranks domains exactly this way before
    * sampling). The ITERATIVE NUMERIC fixpoint class: d6's CC loop
    * iterates a boolean contraction, this iterates a measure —
    * per round one edge⨝rank join, one map-side-combined contribution
    * sum, one left join back to the node set.
    *
    * Exactness: ranks are e9 fixed-point integers; each contribution is
    * the INTEGRAL division (rank·85) div (deg·100) — damping 0.85 as an
    * exact rational, flooring included in the contract — so every
    * iterate is bit-identical in both engines (same policy as the CC
    * oracle, extended to numbers; mass lost to flooring is part of the
    * definition, not an error term).
    *
    * Scale shape (100 TB): the per-round cost is ONE shuffle of the
    * edge list on src (the join), one combined aggregate on dst, and a
    * node-sized left join; edges and nodes are localCheckpoint-ed once
    * so no round re-derives them, and per-round lineage truncation
    * keeps the plan flat (the CC/BPE loop discipline). At cluster
    * scale the edge list is bucketed by src and the per-round join is
    * exchange-free on the edge side — the [[Warehouse.writeBucketed]]
    * contract. */
  def q24PageRank(s: SparkSession, d: String): DataFrame =
    pageRankLoop(sharedPrInvariants(s, d), PrIters)
      .select(
        when(col("node") >= PrOffset, "customer").otherwise("supplier")
          .as("node_type"),
        (col("node") % PrOffset).as("node_id"),
        col("rank").as("rank_e9"))
      .orderBy(col("node_type"), col("node_id"))

  /** Session-scoped STANDING supplier↔customer graph — q24's
    * lineitem⋈orders distinct edge build materialized once per
    * (session, dir): the shared-stage pay-once discipline
    * ([[graft.operators.Dedup.sharedLshPairs]]) applied to the graph
    * a rank loop is re-run over (re-ranking with different damping /
    * rounds re-reads the standing edge list, exactly like a persisted
    * edge table at warehouse scale). */
  private[graft] def sharedPrGraph(s: SparkSession, d: String): DataFrame =
    graft.operators.SessionCaches.getOrBuild(prGraphCache, s, d) {
      val edges = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sn"),
          (col("o_custkey") + PrOffset).as("cn"))
        .distinct()
      edges.select(col("sn").as("src"), col("cn").as("dst"))
        .unionByName(edges.select(col("cn").as("src"), col("sn").as("dst")))
        .localCheckpoint()
    }

  private val prGraphCache = graft.operators.SessionCaches.newCache()

  /** The rank loop's INVARIANTS — (edge⨝out-degree hash-partitioned +
    * sorted on src, node set) — shared at BOTH grains: per session
    * (every q24 run re-enters the loop but never re-derives its
    * inputs) and across sessions/JVMs via the standing registry (the
    * degree-joined edge list is a pure function of the corpus, so it
    * earns the [[Warehouse.standingTable]] discipline; bucketed by
    * src, the standing scan hands the loop the same exchange-free
    * sort-merge join the in-session repartition+sort checkpoint did —
    * the "at cluster scale the edge list is bucketed by src" posture
    * stated on [[q24PageRank]], made the actual executed layout). */
  private[graft] def sharedPrInvariants(s: SparkSession,
      d: String): (DataFrame, DataFrame) =
    graft.operators.SessionCaches.getOrBuildVal(prInvCache, s, d) {
      val ed = graft.operators.Warehouse.standingTable(s, "graft_predges", d) { t =>
        val e = sharedPrGraph(s, d)
        graft.operators.Warehouse.writeStanding(
          e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src"),
          t, Seq("src"), nBuckets = 32)
      }
      (ed, prNodes(ed))
    }

  private val prInvCache =
    graft.operators.SessionCaches.newValCache[(DataFrame, DataFrame)]()

  /** The loop's node set derived from a prepared edge frame — stated
    * once so [[sharedPrInvariants]] and [[pageRank]] can never drift
    * apart on what a "node" is (every node appears as a src: the q24
    * graph is symmetric by construction, and the library contract
    * documents rank mass flowing only to reachable nodes). */
  private def prNodes(ed: DataFrame): DataFrame =
    ed.select(col("src").as("node")).distinct()
      .sortWithinPartitions("node").localCheckpoint()

  /** Library form of [[q24PageRank]] over any directed (src, dst) edge
    * frame → (node, rank) e9 fixed-point ranks after `iters` rounds;
    * presentation and node decoding left to the caller. Bit-identical
    * on any input partitioning (integer arithmetic only — pinned by
    * RelationalSpec). */
  def pageRank(e: DataFrame, iters: Int): DataFrame = {
    // (Round 11: disabling AQE for the loop was measured BOTH ways and
    // rejected — at the bench's local[32] AQE ON wins 2.4 s vs 3.7 s,
    // because partition coalescing cuts total task count more than
    // per-exchange stage materialization costs. Width clamps at 1/4/8
    // lost to full width for the same reason. The loop keeps the
    // session's adaptive setting.)
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // hash-partition AND sort the loop INVARIANT on its join key
    // before checkpointing: LogicalRDD preserves outputPartitioning
    // and outputOrdering, so every round's ed⋈rank sort-merge join
    // plans with NO exchange and NO sort on the edge side — the
    // edge-sized shuffle+sort is paid once here, and each round moves
    // only the (dst, contribution) re-key plus the node-sized rank
    // frame. (A width clamp like Components.loopWidth was measured and
    // REJECTED here, round 11: the rank loop is compute-bound at toy
    // scale already — narrowing 32→5→1 made it 1.3×→2.4× slower.)
    val ed = e.join(deg, "src").repartition(col("src"))
      .sortWithinPartitions("src").localCheckpoint()
    pageRankLoop((ed, prNodes(ed)), iters)
  }

  /** The rank loop over already-prepared invariants (the
    * [[sharedPrInvariants]] / [[pageRank]] split: q24 re-enters the
    * loop per run but shares its inputs). */
  private[graft] def pageRankLoop(inv: (DataFrame, DataFrame),
      iters: Int): DataFrame = {
    val (ed, nodes) = inv
    var rank = nodes.withColumn("rank", lit(PrScale))
    for (i <- 1 to iters) {
      val contrib = ed.join(rank, ed("src") === rank("node"))
        .select(col("dst").as("node"),
          call_function("div", col("rank") * lit(85L),
            col("deg") * lit(100L)).as("c"))
        .groupBy("node").agg(sum(col("c")).as("in_c"))
      rank = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(PrScale * 15L / 100L) + coalesce(col("in_c"), lit(0L)))
            .as("rank"))
      // checkpoint every SIXTH round (and the last): iterations compose
      // as one plan (rank feeds exactly one join per round, so no
      // subtree duplication), cutting per-round job scheduling — the
      // dominant cost at toy scale (r14 measured: cadence 1 ≈ 4.5 s,
      // 2 ≈ 2.7 s, 3 and fully-unrolled ≈ 2.1–2.5 s within noise;
      // re-measured r17 after the codegen/sweep changes: cadence 3 ≈
      // 2.9-3.1 s / 24 AQE stage-jobs, cadence 6 measurably fewer
      // barriers at PrIters = 6; no interleaved sweep table was ever
      // produced, so 6 stands on the r17 numbers); lineage still
      // truncates before planning balloons at larger `iters`.
      if (i % PrCadence == 0 || i == iters) rank = rank.localCheckpoint()
    }
    rank
  }

  /** q25: the navigation/distribution window-function surface — lag,
    * lead, percent_rank, cume_dist, nth_value over each customer's
    * order sequence: days since the previous order, days to the next,
    * the order's spend percentile within the customer, and the
    * customer's first-order price as a per-row attribute. One window
    * family = ONE exchange on o_custkey; all five functions share it
    * (plan-asserted in RelationalSpec). nth_value pins an explicit
    * unbounded frame — the engines' default frames differ exactly
    * there. Ratios ship as exact integer e6 (cross-multiplied from
    * rank positions), not engine floats. */
  def q25WindowFuncs(s: SparkSession, d: String): DataFrame = {
    val byCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("od"), col("o_orderkey"))
    val full = byCust.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("od"),
        cents(col("o_totalprice")).as("price_c"))
      // SHARE THE SORTS (r18, guide §2.4): window definitions are
      // GROUPED BY ORDERING — all (od, orderkey)-ordered frames
      // (lag/lead/nth_value) first, every price_c-ordered or
      // partition-only frame after — so the planner stacks same-order
      // Window operators adjacently and re-sorts ONCE per ordering
      // instead of re-sorting on every alternation (plan diff: 4
      // intra-window Sorts → 2, same one Exchange;
      // plans/r18/q25_window_funcs_{before,after}.txt). Pure
      // reordering of independent column definitions — values and
      // output schema are untouched (the final select fixes order).
      .withColumn("prev_gap_days",
        datediff(col("od"), lag(col("od"), 1).over(byCust)).cast("long"))
      .withColumn("next_gap_days",
        datediff(lead(col("od"), 1).over(byCust), col("od")).cast("long"))
      .withColumn("first_price",
        dollars(nth_value(col("price_c"), 1).over(full)))
      // percent_rank = (rank-1)/(n-1), cume_dist = peers_le/n — state
      // both as exact integer e6 from the integer positions
      .withColumn("rnk", rank().over(
        Window.partitionBy(col("o_custkey")).orderBy(col("price_c"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("o_custkey"))))
      .withColumn("peers_le", max(col("rnk")).over(
        Window.partitionBy(col("o_custkey"), col("price_c")))
        + count(lit(1)).over(
          Window.partitionBy(col("o_custkey"), col("price_c"))) - lit(1L))
      // the builtins too: their doubles are exact divisions of the
      // same integers, so they hash cross-engine
      .withColumn("pct_rank", percent_rank().over(
        Window.partitionBy(col("o_custkey")).orderBy(col("price_c"))))
      .withColumn("cume", cume_dist().over(
        Window.partitionBy(col("o_custkey")).orderBy(col("price_c"))))
      .select(col("o_orderkey"), col("o_custkey"),
        col("prev_gap_days"), col("next_gap_days"),
        when(col("n") > 1L,
          call_function("div", (col("rnk") - 1L) * lit(1000000L), col("n") - 1L))
          .otherwise(0L).as("pct_rank_e6"),
        call_function("div", col("peers_le") * lit(1000000L), col("n"))
          .as("cume_dist_e6"),
        col("pct_rank"), col("cume"), col("first_price"))
      .orderBy(col("o_orderkey"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"            -> q1Agg _,
    "q2_filter_project" -> q2FilterProject _,
    "q3_join_agg_topk"  -> q3JoinAggTopK _,
    "q4_broadcast_join" -> q4BroadcastJoin _,
    "q5_window_latest"  -> q5WindowLatest _,
    "q6_sort_limit"     -> q6SortLimit _,
    "q7_set_ops"        -> q7SetOps _,
    "q8_semi_join"      -> q8SemiJoin _,
    "q9_anti_join"      -> q9AntiJoin _,
    "q10_rollup"        -> q10Rollup _,
    "q14_cube"          -> q14Cube _,
    "q15_window_frames" -> q15WindowFrames _,
    "q16_pivot"         -> q16Pivot _,
    "q17_correlated_avg" -> q17CorrelatedAvg _,
    "q18_unpivot"       -> q18Unpivot _,
    "q19_grouping_sets" -> q19GroupingSets _,
    "q20_decile"        -> q20Decile _,
    "q21_salted_join"   -> q21SaltedJoin _,
    "q22_approx_agg"    -> q22ApproxAgg _,
    "q11_scalar_funcs"  -> q11ScalarFuncs _,
    "q12_case_agg"      -> q12CaseAgg _,
    "q13_distinct_quantiles" -> q13DistinctQuantiles _,
    "q23_zorder"        -> q23Zorder _,
    "q24_pagerank"      -> q24PageRank _,
    "q25_window_funcs"  -> q25WindowFuncs _,
    "q26_min_cost"      -> q26MinCost _,
  )

  def oracleSql: Map[String, String] = Map(
    // identical window family; nth_value pins the explicit unbounded
    // frame; ratio columns are exact integer e6 + the builtins' exact
    // integer-division doubles
    // the correlated min stated directly; cents-exact price equality
    "q26_min_cost" ->
      """WITH es AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |sp AS (SELECT p_partkey, p_type FROM part WHERE p_size < 10),
        |o AS (SELECT l.l_partkey, es.s_name, es.s_acctbal, es.n_name,
        |    sp.p_type, CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_c
        |  FROM lineitem l
        |  JOIN es ON l.l_suppkey = es.s_suppkey
        |  JOIN sp ON l.l_partkey = sp.p_partkey),
        |m AS (SELECT l_partkey, min(price_c) AS min_price_c
        |  FROM o GROUP BY l_partkey)
        |SELECT DISTINCT o.s_acctbal, o.s_name, o.n_name,
        |  o.l_partkey AS p_partkey, o.p_type,
        |  o.price_c::DOUBLE / 100.0 AS min_price
        |FROM o JOIN m ON o.l_partkey = m.l_partkey
        |  AND o.price_c = m.min_price_c
        |ORDER BY o.s_acctbal DESC, o.n_name, o.s_name, p_partkey
        |LIMIT 20""".stripMargin,
    "q25_window_funcs" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |    CAST(o_orderdate AS DATE) AS od,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS price_c FROM orders),
        |w0 AS (SELECT o_orderkey, o_custkey, price_c,
        |    CAST(od - lag(od, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY od, o_orderkey) AS BIGINT) AS prev_gap_days,
        |    CAST(lead(od, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY od, o_orderkey) - od AS BIGINT) AS next_gap_days,
        |    CAST(rank() OVER (PARTITION BY o_custkey ORDER BY price_c)
        |      AS BIGINT) AS rnk,
        |    CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n,
        |    percent_rank() OVER (PARTITION BY o_custkey ORDER BY price_c)
        |      AS pct_rank,
        |    cume_dist() OVER (PARTITION BY o_custkey ORDER BY price_c) AS cume,
        |    nth_value(price_c, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY od, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      / 100.0 AS first_price
        |  FROM o),
        |w AS (SELECT *,
        |    CAST(max(rnk) OVER (PARTITION BY o_custkey, price_c)
        |      + count(*) OVER (PARTITION BY o_custkey, price_c) - 1
        |      AS BIGINT) AS peers_le
        |  FROM w0)
        |SELECT o_orderkey, o_custkey, prev_gap_days, next_gap_days,
        |  CASE WHEN n > 1 THEN (rnk - 1) * 1000000 // (n - 1) ELSE 0 END
        |    AS pct_rank_e6,
        |  peers_le * 1000000 // n AS cume_dist_e6,
        |  pct_rank, cume, first_price
        |FROM w ORDER BY o_orderkey""".stripMargin,
    // six unrolled aggregate-join rounds (aggregation is illegal in a
    // recursive CTE term); // is floor division on the positive ranks,
    // identical to Spark's DIV
    "q24_pagerank" -> {
      val base =
        s"""WITH ed AS (SELECT DISTINCT l.l_suppkey AS sn,
           |    o.o_custkey + $PrOffset AS cn
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
           |e AS (SELECT sn AS src, cn AS dst FROM ed
           |  UNION ALL SELECT cn, sn FROM ed),
           |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
           |  FROM e GROUP BY src),
           |ed2 AS (SELECT e.src, e.dst, deg.deg FROM e
           |  JOIN deg ON e.src = deg.src),
           |nodes AS (SELECT DISTINCT src AS node FROM e),
           |r0 AS (SELECT node, CAST($PrScale AS BIGINT) AS rank FROM nodes)""".stripMargin
      val rounds = (1 to PrIters).map { i =>
        s""",
           |r$i AS (SELECT n.node,
           |    ${PrScale * 15L / 100L} + coalesce(x.in_c, 0) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT ed2.dst AS node,
           |      CAST(sum((r.rank * 85) // (ed2.deg * 100)) AS BIGINT) AS in_c
           |    FROM ed2 JOIN r${i - 1} r ON ed2.src = r.node
           |    GROUP BY ed2.dst) x ON n.node = x.node)""".stripMargin
      }.mkString
      base + rounds +
        s"""
           |SELECT CASE WHEN node >= $PrOffset THEN 'customer'
           |    ELSE 'supplier' END AS node_type,
           |  CAST(node % $PrOffset AS BIGINT) AS node_id,
           |  CAST(rank AS BIGINT) AS rank_e9
           |FROM r$PrIters ORDER BY node_type, node_id""".stripMargin
    },
    // the identical magic-number bit-spread (0x00FF00FF / 0x0F0F0F0F /
    // 0x33333333 / 0x55555555) stated as BIGINT arithmetic — every
    // intermediate < 2^32, so signed 64-bit math agrees bit-for-bit
    // with ZOrder.interleave16
    "q23_zorder" ->
      """WITH src AS (SELECT o_orderkey,
        |    o_custkey % 65536 AS cust_dim,
        |    CAST(date_diff('day', DATE '1992-01-01',
        |         CAST(o_orderdate AS DATE)) AS BIGINT) AS day_dim
        |  FROM orders),
        |sa AS (SELECT *, cust_dim & 65535 AS xa, day_dim & 65535 AS xb FROM src),
        |s1 AS (SELECT *, (xa | (xa << 8)) & 16711935 AS a1,
        |                 (xb | (xb << 8)) & 16711935 AS b1 FROM sa),
        |s2 AS (SELECT *, (a1 | (a1 << 4)) & 252645135 AS a2,
        |                 (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1),
        |s3 AS (SELECT *, (a2 | (a2 << 2)) & 858993459 AS a3,
        |                 (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2),
        |s4 AS (SELECT *, (a3 | (a3 << 1)) & 1431655765 AS a4,
        |                 (b3 | (b3 << 1)) & 1431655765 AS b4 FROM s3)
        |SELECT o_orderkey, cust_dim, day_dim, a4 | (b4 << 1) AS zval
        |FROM s4 ORDER BY zval, o_orderkey""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
        |  sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT))/100.0 AS sum_disc_price,
        |  count(*) AS count_order,
        |  sum(CAST(round(l_quantity*100) AS BIGINT))/(100.0*count(*)) AS avg_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |  l_extendedprice*(1.0-l_discount) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-04-01'
        |  AND l_discount >= 0.05 AND l_quantity < 10.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q3_join_agg_topk" ->
      """SELECT c_custkey, c_name,
        |  sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT))/100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,
    "q4_broadcast_join" ->
      """SELECT r_name, count(*) AS n_customers,
        |  sum(CAST(round(c_acctbal*100) AS BIGINT))/100.0 AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q5_window_latest" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q6_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q7_set_ops" ->
      """SELECT o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
        |ORDER BY o_custkey""".stripMargin,
    "q8_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q9_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "q10_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS total_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q14_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS total_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q15_window_frames" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT)) OVER mavg
        |    / (100.0 * count(*) OVER mavg) AS mavg3_price,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT)) OVER cum / 100.0 AS cum_spend,
        |  count(*) OVER r30 AS n_orders_30d
        |FROM orders
        |WINDOW
        |  mavg AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |  cum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  r30 AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q16_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_orderstatus = 'F') AS "F_n",
        |  sum(CAST(round(o_totalprice*100) AS BIGINT)) FILTER (o_orderstatus = 'F') / 100.0 AS "F_spend",
        |  count(*) FILTER (o_orderstatus = 'O') AS "O_n",
        |  sum(CAST(round(o_totalprice*100) AS BIGINT)) FILTER (o_orderstatus = 'O') / 100.0 AS "O_spend",
        |  count(*) FILTER (o_orderstatus = 'P') AS "P_n",
        |  sum(CAST(round(o_totalprice*100) AS BIGINT)) FILTER (o_orderstatus = 'P') / 100.0 AS "P_spend"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the oracle states the CORRELATED form; DuckDB decorrelates it the
    // same way our Spark plan declares it (aggregate + rejoin) — the
    // integer cents×count predicate keeps both engines bit-exact
    "q17_correlated_avg" ->
      """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
        |  (SELECT count(*) FROM orders i
        |     WHERE i.o_custkey = o.o_custkey) AS n_cust_orders
        |FROM orders o
        |WHERE CAST(round(o.o_totalprice*100) AS BIGINT) *
        |    (SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
        |  > (SELECT sum(CAST(round(i.o_totalprice*100) AS BIGINT))
        |       FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o.o_orderkey""".stripMargin,
    "q18_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
        |  sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
        |  sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT))/100.0 AS sum_disc_price
        |FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS amount FROM a
        |UNION ALL
        |SELECT l_returnflag, 'sum_base_price', sum_base_price FROM a
        |UNION ALL
        |SELECT l_returnflag, 'sum_disc_price', sum_disc_price FROM a
        |ORDER BY l_returnflag, metric""".stripMargin,
    "q19_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS n_orders,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q20_decile" ->
      """WITH t AS (SELECT o_custkey,
        |    sum(CAST(round(o_totalprice*100) AS BIGINT)) AS total_cents
        |  FROM orders GROUP BY o_custkey),
        |r AS (SELECT o_custkey, total_cents,
        |    row_number() OVER (ORDER BY total_cents DESC, o_custkey) AS rnk,
        |    count(*) OVER () AS n FROM t)
        |SELECT CAST(((rnk-1)*10)//n + 1 AS BIGINT) AS decile,
        |  count(*) AS n_customers,
        |  sum(total_cents)/100.0 AS sum_spend,
        |  min(total_cents)/100.0 AS min_spend,
        |  max(total_cents)/100.0 AS max_spend
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT))/100.0
        |    AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q11_scalar_funcs" ->
      """SELECT o_orderkey,
        |  substring(o_orderpriority, 1, 1) AS prio_class,
        |  upper(o_orderstatus) AS status_u,
        |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS order_month,
        |  CAST(day(o_orderdate) AS BIGINT) AS order_day,
        |  CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
        |  o_orderstatus || '#' || o_orderpriority AS status_prio
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q12_case_agg" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q13_distinct_quantiles" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |  quantile_cont(l_quantity, 0.25) AS q25_qty,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.75) AS q75_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q22's booleans state "this engine's sketch landed in its
    // advertised envelope" — the oracle asserts them TRUE, so an
    // out-of-envelope sketch fails the driver's hash compare
    "q22_approx_agg" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders_exact,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty_exact,
        |  TRUE AS approx_within_rsd, TRUE AS p50_within_band
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
  )
}
