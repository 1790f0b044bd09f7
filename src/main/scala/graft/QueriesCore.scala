package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.c — the general join/agg/window substrate the reference's SQL
  * examples run on (reference README.md:219-266 composes windows, joins
  * and HAVING over exactly this kind of core).
  *
  * Numeric discipline (engine-portable hashing): sums are computed in
  * exact DECIMAL and cast to DOUBLE only at the output edge, so the value
  * is independent of aggregation order on both engines; averages are a
  * single double division of two exact values.
  *
  * Scale posture: every query here is the plan you'd run at 100 TB —
  * dims broadcast (zero-shuffle joins), facts shuffle at most once on the
  * aggregation key, skew handled by two-phase salting where keys are hot.
  */
object QueriesCore {

  type Q = (SparkSession, String) => DataFrame

  import graft.sources.{Served, Tables}

  /** Scale-2 unscaled value of a 2-decimal money/rate column: 38.97 → 3897L.
    * The source doubles carry exactly two decimal digits, so `round(x*100)`
    * recovers the unscaled integer exactly (a binary fraction can never sit
    * on an exact 5×10⁻ᵏ midpoint, so HALF_UP vs HALF_EVEN is unreachable —
    * same argument the DECIMAL(18,2) cast relied on). */
  private def u100(c: String) = round(col(c) * 100).cast("long")

  /** Exact-decimal view of an unscaled-long sum at `scale`: divides back by
    * 10^scale in DECIMAL (exact — result scale ≥ 6 covers every input
    * scale used here) and emits DOUBLE only at the output edge. Runs once
    * per GROUP, so the BigDecimal division cost is nil. */
  private def descale(sumU: org.apache.spark.sql.Column, scale: Int) =
    (sumU / lit(math.pow(10, scale).toLong).cast("decimal(7,0)")).cast("double")

  /** Exact sum of an unscaled-long measure with a PURE-LONG hot loop.
    * A DECIMAL(20,0) input makes Sum carry a DECIMAL(30,0) buffer —
    * precision > 18 is byte-array-backed, so every row pays a JavaBigDecimal
    * add. Splitting at 2²⁰ keeps both accumulators long (codegen'd `+=` in
    * the Tungsten buffer): x = (x>>20)·2²⁰ + (x & 0xFFFFF) is an identity
    * in two's complement, each partial sum is exact, and the recombine runs
    * in DECIMAL once per group. Overflow headroom at the 100 TB design
    * point (≈2e11 rows/group, charge_u ≤ 4.3e11): sum_hi ≤ 2e11·(4.3e11/2²⁰)
    * ≈ 8e16, sum_lo ≤ 2e11·2²⁰ ≈ 2e17 — both 40× under Long.MaxValue.
    *
    * The headroom argument is GUARDED, not just documented: the long
    * accumulators are `try_sum` (overflow-checked adds — `Math.addExact`
    * is a JIT intrinsic, so the hot loop stays pure-long at effectively
    * the unchecked cost), and the once-per-group recombine raises if
    * either accumulator wrapped. Exceeding the design magnitudes fails
    * the job loudly instead of emitting wrapped sums. `x` must be
    * non-null (all call sites derive it from non-null source columns) —
    * an all-null group would be indistinguishable from overflow. */
  private def sumSplit(x: org.apache.spark.sql.Column, scale: Int) = {
    val hi = try_sum(shiftright(x, 20)).cast("decimal(20,0)")
    val lo = try_sum(x.bitwiseAND(lit((1L << 20) - 1))).cast("decimal(20,0)")
    val combined = when(hi.isNotNull && lo.isNotNull, hi * lit(1L << 20) + lo)
      .otherwise(raise_error(lit(
        "sumSplit: pure-long accumulator overflowed (group magnitude exceeds the " +
          "2^63 headroom) — use a DECIMAL sum for this measure")))
    descale(combined, scale)
  }

  /** TPC-H Q1 shape: multi-aggregate pricing summary over the fact table.
    * One shuffle on the (tiny-cardinality) group key; all heavy work is
    * map-side partial aggregation — the same pre-aggregation story as the
    * reference's ComponentChangedAggeragator (commit-analytics).
    *
    * Numeric fast path: Spark's `Decimal * Decimal` always routes through
    * JavaBigDecimal (two heap allocations per row, per product — Probe
    * pinned this as the entire q1 gap vs the columnar baseline). The
    * per-row chain here is therefore pure LONG arithmetic on scale-2
    * unscaled values (codegen'd integer mul/add): disc_price is scale-4,
    * charge scale-6. Rows accumulate into DECIMAL(20,0) sums — compact
    * (long-backed, same-scale fast-path adds) yet overflow-safe far past
    * 100 TB (DECIMAL(30,0) buffer ≈ 10³⁰ headroom vs ≈ 10²³ worst-case
    * charge mass at SF ~130k). Values are bit-identical to the exact
    * DECIMAL formulation the oracle runs: integer arithmetic is exact, and
    * the one division per group is done in DECIMAL before the DOUBLE edge. */
  val q1Agg: Q = (s, dir) => {
    val qty  = u100("l_quantity")
    val ext  = u100("l_extendedprice")
    val disc = u100("l_discount")
    val tax  = u100("l_tax")
    val discPriceU = ext * (lit(100L) - disc)                    // scale 4, long
    val chargeU    = ext * (lit(100L) - disc) * (lit(100L) + tax) // scale 6, long
    Tables(s, dir).lineitem
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumSplit(qty, 2).as("sum_qty"),
        sumSplit(ext, 2).as("sum_base_price"),
        sumSplit(discPriceU, 4).as("sum_disc_price"),
        sumSplit(chargeU, 6).as("sum_charge"),
        (sumSplit(qty, 2) / count(lit(1))).as("avg_qty"),
        (sumSplit(ext, 2) / count(lit(1))).as("avg_price"),
        (sumSplit(disc, 2) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** 4-way star join: fact `orders` ⋈ dims customer/nation/region.
    * nation + region are broadcast explicitly (a few KB at any SF);
    * customer rides under autoBroadcastJoinThreshold at test SFs and
    * becomes the one shuffled join at SFs where it outgrows the
    * threshold — either way the fact table shuffles at most once and the
    * two tiny dims never shuffle anything. */
  val qJoinStar: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.orders
      .join(t.customer.hint("broadcast"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        // same split-long fast path as q1_agg: no per-row BigDecimal
        sumSplit(u100("o_totalprice"), 2).as("revenue"),
        countDistinct(col("o_custkey")).as("n_customers"))
  }

  /** Top-k per group via ranked window — the distributed replacement for
    * a driver-side sort: one shuffle on the group key, heap-bounded
    * WindowGroupLimit pushdown prunes each partition to k rows before the
    * full sort (Spark's rank-limit optimization). */
  val qTopkPerGroup: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables(s, dir).orders
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
  }

  /** Same contract as [[qTopkPerGroup]] through the typed bounded-heap
    * Aggregator (operators.TopK): the shuffle carries only k rows per
    * group per map partition instead of every row — the plan you want
    * when groups are few and the fact table is 100 TB. */
  val qTopkAgg: Q = (s, dir) =>
    operators.TopK.topOrdersPerPriority(s, Tables(s, dir).orders, 3)

  /** Multi-level ROLLUP aggregate — Spark's Expand + single shuffle.
    * grouping_id disambiguates "rolled up" from a genuine NULL key, with
    * the same bit convention as DuckDB's GROUPING(a, b). */
  val qRollup: Q = (s, dir) =>
    Tables(s, dir).orders
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        sumSplit(u100("o_totalprice"), 2).as("revenue"))
      .select(col("gid"), col("o_orderstatus"), col("o_orderpriority"),
        col("n_orders"), col("revenue"))

  /** EXISTS / NOT EXISTS: left-semi and left-anti joins on the same key,
    * aggregated per nation. Both joins shuffle on c_custkey/o_custkey —
    * the only co-partitioning the query needs; orders is never
    * materialized wider than its join key. */
  val qSemiAnti: Q = (s, dir) => {
    val t = Tables(s, dir)
    val orderKeys = t.orders.select(col("o_custkey"))
    val cust = t.customer.select(col("c_custkey"), col("c_nationkey"))
    val withO = cust.join(orderKeys, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_with_orders"))
    val without = cust.join(orderKeys, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_without_orders"))
    withO.join(without, Seq("c_nationkey"), "full_outer")
      .select(col("c_nationkey"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
  }

  /** Skew-resistant two-phase aggregation: salt the hot key space into 16
    * shards, partially aggregate per (key, salt), then combine per key.
    * At 100 TB a single hot event_type would otherwise pin one reducer;
    * the salted plan bounds any reducer at ~1/16th of the hottest key
    * (and composes with AQE skew handling for joins). Results are
    * identical to the direct groupBy — the oracle is the plain GROUP BY. */
  val qSkewAgg: Q = (s, dir) =>
    Tables(s, dir).events
      .withColumn("salt", pmod(hash(col("event_id")), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(
        sum(floor(col("value")).cast("long")).as("psum"),
        count(lit(1)).as("pcnt"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("psum")).as("total_value"),
        sum(col("pcnt")).as("n_events"))

  /** As-of join (event attribution): each purchase event joins the same
    * user's most recent click at-or-before it — via [[operators.Joins
    * .asOfJoin]]'s union+window form, ONE shuffle on user_id and no
    * time-range join anywhere in the plan (asserted in PlanSpec). */
  val qAsofJoin: Q = (s, dir) => {
    val ev = Tables(s, dir).events
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    operators.Joins.asOfJoin(purchases, clicks,
        key = "user_id", ts = "ts", leftId = "event_id", rightId = "event_id",
        rightPayload = Seq("ts" -> "click_ts"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        // epoch-second longs at the output edge (engine-portable hashing
        // — same convention as the window queries)
        unix_timestamp(col("ts")).as("purchase_ts"),
        col("asof_id").as("click_id"),
        unix_timestamp(col("click_ts")).as("click_ts"))
  }

  /** Same contract and SAME ORACLE as [[qAsofJoin]], through the
    * skew-proof chunked decomposition ([[operators.Joins
    * .asOfJoinChunked]]): window partitions bounded by (user, hour)
    * instead of one user's whole history — the form a 90%-one-key
    * corpus needs (SkewSpec). Both formulations hash-match the DuckDB
    * ASOF oracle, which is the equivalence the decomposition claims. */
  val qAsofJoinChunked: Q = (s, dir) => {
    val ev = Tables(s, dir).events
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    operators.Joins.asOfJoinChunked(purchases, clicks,
        key = "user_id", ts = "ts", leftId = "event_id", rightId = "event_id",
        rightPayload = Seq("ts" -> "click_ts"), chunkSeconds = 3600L)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_timestamp(col("ts")).as("purchase_ts"),
        col("asof_id").as("click_id"),
        unix_timestamp(col("click_ts")).as("click_ts"))
  }

  /** Interval (range) aggregation: count + sum the activity falling
    * inside each sampled error event's 2-hour incident window — via
    * [[operators.Joins.rangeAggFixed]]'s segment-tree decomposition
    * (per-second + per-block pre-aggregation; an interval reads ~8 block
    * partials and 2 second-level edges). The naive formulation
    * ([[operators.Joins.rangeJoin]] + groupBy — still the right operator
    * when the caller needs the PAIRS, equivalence-tested in PlanSpec)
    * streams |probes|×overlap candidate pairs; at ScaleUp sf10 density
    * that is 5.4B pairs and 12 s, where the decomposition reads the same
    * answer out of ~3M pre-aggregated partials. */
  val qRangeJoin: Q = (s, dir) => {
    val ev = Tables(s, dir).events
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val incidents = ev
      .filter(col("event_type") === "error" && col("event_id") % 20 === 0)
      .select(col("event_id").as("iv_id"), col("ts").as("lo"))
    val activity = ev.filter(col("event_type").isin("click", "view", "purchase"))
    operators.Joins.rangeAggFixed(incidents, activity,
      ivId = "iv_id", lo = "lo", lengthSeconds = 7200L, ts = "ts",
      valueExpr = floor(col("value")).cast("long"))
  }

  /** One-scan corpus profiling with MERGEABLE SKETCHES — the data-
    * profiling pass a 100 TB ingest runs before anything else. Exact
    * per-key distincts/percentiles shuffle every distinct value; the
    * sketch formulation partial-aggregates to bounded state per
    * partition and merges — one corpus scan, two bounded exchanges,
    * never a shuffle of distinct values.
    *
    * r10: the engine-internal sketches (approx_count_distinct /
    * percentile_approx) are replaced by this library's OWN deterministic
    * sketch family, which is bit-portable — so the row that was the last
    * `no_oracle` entry now carries a FULL hash oracle:
    *   - distinct users = the [[operators.Freq.hllDistinctByGroup]]
    *     arithmetic (same 'hl|' salt, p=9, exact-integer harmonic
    *     denominator, one shared-constant IEEE division) — the
    *     q_hll_users estimator, folded into this query's aggregation;
    *   - quantiles = exact type-1 order statistics over a DETERMINISTIC
    *     md5-coin sample (keep iff the 60-bit 'pf|'-salted event hash
    *     < 2^58, rate 2^-2 here; at 100 TB the shift comes from catalog
    *     stats so the per-group sample stays ~1e5 rows — the searchRanked
    *     parameter convention, and the classic sample-quantile rank bound
    *     O(sqrt(q(1-q)/(p·n))) is the accuracy contract, asserted in
    *     PlanSpec against the exact ranks).
    * Plan shape: level 1 groups on (event_type, hll bucket) — count /
    * min / max / sampled-value list / register max all partial-aggregate
    * map-side, keys bounded by groups×(m+1) — and level 2 folds the
    * register table into the estimate and the sample into three scalar
    * DOUBLE quantile columns. Both levels' state is sketch-sized. */
  val qProfileSketch: Q = (s, dir) => {
    val p = 9; val m = 1 << p; val rMax = 60 - p + 1
    val cNum = operators.Freq.hllNumerator(p)
    val (bucket, rho) = operators.Freq.hllFields(col("user_id").cast("string"), p)
    val coin = call_function("graft_md5_60", lit("pf|"),
      col("event_id").cast("string")) < lit(1L << 58)
    val v6 = floor(col("value") * 1000000).cast("long")
    def pick(qNum: Int, qDen: Int) =
      when(size(col("sva")) > 0,
        element_at(col("sva"),
          expr(s"(size(sva) * $qNum + ${qDen - 1}) div $qDen").cast("int"))
          / lit(1000000.0))
    Tables(s, dir).events
      .select(col("event_type"), col("value"),
        bucket.as("bucket"), rho.as("rho"),
        when(coin && col("value").isNotNull, v6).as("sv6"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        collect_list(col("sv6")).as("sv"),
        max(col("rho")).as("r"))
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n_events"),
        min(col("vmin")).as("value_min"), max(col("vmax")).as("value_max"),
        sort_array(flatten(collect_list(col("sv")))).as("sva"),
        count(col("r")).as("nb"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $rMax - r)")).as("sp"))
      .select(col("event_type"), col("n_events"),
        (lit(cNum) /
          (col("sp") + (lit(m.toLong) - col("nb")) * lit(1L << rMax)))
          .as("n_users_approx"),
        // empty-register count: exact integer sketch state, carried so
        // consumers (and the accuracy test) can apply the standard
        // linear-counting correction m·ln(m/V) — ln is libm-dependent,
        // so the correction itself stays OUTSIDE the hash-matched columns.
        // nb = 0 (a type whose user_id values are ALL null) means there
        // is no sketch at all — NULL, matching the oracle's absent hll
        // row, not a fabricated all-empty register file
        when(col("nb") > 0, lit(m.toLong) - col("nb")).as("hll_n_zero"),
        pick(1, 2).as("p50"), pick(19, 20).as("p95"), pick(99, 100).as("p99"),
        col("value_min"), col("value_max"))
  }

  /** The EXACT half of the profiling pass, split out so it carries a
    * full hash oracle: count / min / max (and the non-null support
    * count) are engine-portable scalars, so everything that CAN be
    * adjudicated bit-for-bit IS — only the sketch columns
    * ([[qProfileSketch]]: HLL distinct, KLL quantiles) stay on the
    * rows-only contract, because their state is not bit-portable across
    * engines. Same one-scan, one map-side-combined shuffle shape. */
  val qProfileExact: Q = (s, dir) =>
    Tables(s, dir).events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("value")).as("n_values"),
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"),
        // exact sum at fixed scale-6: DOUBLE summation is order-
        // sensitive, so the portable formulation sums scaled LONGs
        sum(floor(col("value") * 1000000).cast("long")).as("sum_u6"))

  /** Z-order (Morton) layout key over (user bucket, time bucket) — the
    * clustering key a 100 TB events table is laid out on so a 2-D box
    * query (user range × time range) prunes files on BOTH dimensions
    * ([[operators.Layout]]; the write + pruned-read round-trip is
    * asserted in LayoutSpec). The key itself is what this row verifies:
    * pure integer bit-interleave arithmetic, identical in both engines. */
  val qZorder: Q = (s, dir) =>
    Tables(s, dir).events
      .select(col("event_id"),
        operators.Layout.zkey2(
          pmod(col("user_id"), lit(4096L)),
          pmod(unix_timestamp(col("ts")), lit(4096L)), bits = 12).as("zkey"))

  /** Gap-filled hourly resample of each user's click-value series with
    * last-observation-carried-forward — via [[operators.Windows
    * .gapFillLocf]]'s explode-the-gap form: the carried value is emitted
    * directly from the observation's window row (no spine table, no
    * LOCF second pass). Values pass through untouched (no arithmetic),
    * so the doubles hash-match the oracle exactly. */
  val qGapfill: Q = (s, dir) => {
    val clicks = Tables(s, dir).events
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    operators.Windows.gapFillLocf(clicks,
      key = "user_id", ts = "ts", tie = "event_id", value = "value",
      stepSeconds = 3600L)
  }

  /** SCD-2 dimension history from the event changelog: each user's
    * event_type stream collapses to validity intervals with change
    * suppression — via [[operators.Snapshot.scd2]]. Longs + strings
    * only (epoch-second bounds), exact on both engines. */
  val qScd2: Q = (s, dir) =>
    operators.Snapshot.scd2(
      Tables(s, dir).events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type")),
      key = "user_id", ts = "ts", tie = "event_id", attr = "event_type")

  /** Salted fact⋈dim join under hot keys: every event joins its user's
    * customer row through [[operators.Joins.saltedJoin]] — 10k events
    * over 150 hot customer keys spread across 8 salted reducers instead
    * of pinning per-key reducers, for the regime where the dim outgrows
    * broadcast AND the output feeds a downstream keyed stage (where AQE
    * skips its skew split). Result is row-identical to the plain join —
    * the oracle IS the plain join + aggregate. */
  val qSaltedJoin: Q = (s, dir) => {
    val t = Tables(s, dir)
    operators.Joins.saltedJoin(
        t.events.select(col("event_id"), col("user_id"), col("value")),
        t.customer.select(col("c_custkey"), col("c_mktsegment")),
        bigKey = "user_id", smallKey = "c_custkey", saltBy = "event_id", salts = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value")).cast("long")).as("total_value"))
  }

  /** PageRank over the part↔supplier supply graph (symmetrized, so no
    * dangling vertices): 3 damped iterations of [[operators.Graph
    * .pageRank]]'s integer-exact update. Part ids map to even vertex
    * ids, supplier ids to odd — disjoint spaces without magnitude
    * assumptions. The oracle UNROLLS the identical iterations in SQL
    * (same BIGINT truncating arithmetic), so the ranks hash-match
    * bit-exactly — pinning the whole iterative loop, the same standard
    * the k-means row set. */
  val qPagerank: Q = (s, dir) => {
    val li = Tables(s, dir).lineitem
      .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    val sym = li.unionByName(li.select(col("dst").as("src"), col("src").as("dst")))
    // cadence = iters: only the final rank materializes (r18) — at 3
    // iterations over a dim-bound vertex set the per-round
    // localCheckpoint job costs more than the deeper 3-round plan it
    // truncates; values are cadence-independent (checkpointing never
    // changes arithmetic)
    operators.Graph.pageRank(sym, "src", "dst", iters = 3, checkpointEvery = 3)
  }

  /** PageRank over a USER-scale graph — the measurement the supply-graph
    * query cannot give: its part/supplier vertex set is dim-bound (~21k
    * at every scale factor), so its at-scale cost is pure iteration
    * floor. Here the vertex set is the user population and the edge set
    * grows with the event corpus: directed handoff edges user→user
    * between consecutive events of the same type within an hour (the
    * (type, hour) windows are bounded — no giant window partition at
    * any scale), symmetrized so no vertex dangles. 10 damped iterations
    * of the same integer-exact update, unrolled bit-exactly by the
    * oracle. */
  val qPagerankEvents: Q = (s, dir) => {
    val ev = Tables(s, dir).events
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("long").as("es"))
      .withColumn("hb", expr("es DIV 3600"))
    val w = Window.partitionBy(col("event_type"), col("hb"))
      .orderBy(col("es"), col("event_id"))
    val e0 = ev.withColumn("nxt", lead(col("user_id"), 1).over(w))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("user_id"))
      .select(col("user_id").as("src"), col("nxt").as("dst"))
    val sym = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    operators.Graph.pageRank(sym, "src", "dst", iters = 10, checkpointEvery = 3)
  }

  /** Per-vertex triangle counts over a deterministic synthetic graph on
    * the part ids (each id links to up to 8 successors that survive an
    * md5 coin at p=96/256 — locality-bounded degree, triangle-rich),
    * via [[operators.Graph.triangleCounts]]' degree-oriented wedge
    * join. Orientation changes cost only, never the triangle set, so
    * the oracle counts the same triangles with plain id ordering. */
  val qTriangles: Q = (s, dir) => {
    val parts = Tables(s, dir).part.select(col("p_partkey").as("id"))
    val edges = parts
      .withColumn("nbr", explode(sequence(col("id") + 1, col("id") + 8)))
      // keep only neighbors that exist (id gaps / range end) — the
      // oracle's BETWEEN join does the same
      .join(parts.select(col("id").as("nbr")), Seq("nbr"), "left_semi")
      .filter(conv(substring(
          md5(concat_ws("|", lit("tg"), col("id"), col("nbr"))), 1, 2), 16, 10)
        .cast("int") < 96)
    operators.Graph.triangleCounts(edges, "id", "nbr")
  }

  /** Edit-distance-≤1 similarity self-join over customer names — via
    * [[operators.Fuzzy.editDistance1Pairs]]'s deletion-signature
    * blocking (provably complete for distance 1) + exact levenshtein
    * refine. Integer ids + integer distance: exact on both engines. */
  val qFuzzyJoin: Q = (s, dir) =>
    operators.Fuzzy.editDistance1Pairs(
      Tables(s, dir).customer.select(col("c_custkey"), col("c_name")),
      idCol = "c_custkey", strCol = "c_name")

  /** Edit-distance-≤2 variant (r15) — the FastSS k=2 generalization:
    * the single-deletion signature step applied twice. Customer names
    * are a DENSE distance space (numeric ids differing in ≤2 digit
    * positions are within distance 2), so this row's true pair set is
    * orders of magnitude larger than the k=1 row's — the honest
    * stress shape for the wider radius. */
  val qFuzzyJoin2: Q = (s, dir) =>
    operators.Fuzzy.editDistancePairs(
      Tables(s, dir).customer.select(col("c_custkey"), col("c_name")),
      idCol = "c_custkey", strCol = "c_name", maxDist = 2)

  /** DEPLOYMENT form of the fuzzy join (r16) — entity resolution
    * against a STANDING reference: the corpus split's
    * (c_custkey % 10 ≠ 0) deletion-signature index persists ONCE per
    * (application, corpus) bucketed on `sig` ([[operators.Fuzzy
    * .signatureIndex]] via Sinks.saveBucketed — bucket sizes
    * precomputed at build, so probe time never windows over the
    * index), and the delta (c_custkey % 10 = 0 — dirty names) probes
    * at delta cost with zero index-side exchange (asserted in
    * PlanSpec). The q_dedup_substr_served / q_sim_ivfpq_served split
    * applied to the fuzzy family: this row prices the nightly probe, a
    * cold run prices build+probe. Oracle: the same corpus/delta CTEs
    * computed from scratch — parquet round-trips names and signatures
    * exactly, so served ≡ inline by construction and the hash gate
    * proves it. */
  val qFuzzyJoinServed: Q = (s, dir) =>
    operators.Fuzzy.probeSignatureIndex(
      Tables(s, dir).customer.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_name")),
      idCol = "c_custkey", strCol = "c_name",
      index = s.table(servedFuzzyIndexTable(s, dir)), maxDist = 1)

  private def servedFuzzyIndexTable(s: SparkSession, dir: String): String =
    Served.bucketedTable(s, dir, "fuzzy_index", Seq("sig"), 32)(
      fuzzySignatures(s, dir, col("c_custkey") % 10 =!= 0))

  /** The deletion-signature index (maxDist = 1) of the customers
    * matching `keep`. */
  private def fuzzySignatures(s: SparkSession, dir: String,
      keep: Column): DataFrame =
    operators.Fuzzy.signatureIndex(
      Tables(s, dir).customer.filter(keep).select(col("c_custkey"), col("c_name")),
      idCol = "c_custkey", strCol = "c_name", maxDist = 1)

  /** INCREMENTAL form of [[qFuzzyJoinServed]] (r17) — the fuzzy
    * family's maintenance arm, the last standing artifact without one
    * (band 31c10, gram 31c4, LM 52f, phrase 33g5 all had theirs). The
    * standing reference (c_custkey % 10 ∉ {0, 5}) persists its
    * signature index ONCE; a later reference batch (% 10 = 5) lands as
    * a delta-sized log-structured SEGMENT — the standing index is never
    * rewritten — and the dirty-name delta (% 10 = 0) probes the union
    * via [[operators.Fuzzy.probeSignatureSegments]], which recomputes
    * per-signature bucket counts at probe time (delta-sized) instead of
    * trusting the stored `bsz` the append left stale (the half-dropped-
    * bucket failure mode, see the operator's docstring). The union IS
    * the served row's corpus (% 10 ≠ 0), so this row shares
    * q_fuzzy_join_served's oracle VERBATIM: the hash gate proves
    * append ≡ rebuild, drop set included. */
  val qFuzzyJoinIncremental: Q = (s, dir) => {
    val (baseTable, segPath) = servedFuzzyIncStores(s, dir)
    operators.Fuzzy.probeSignatureSegments(
      Tables(s, dir).customer.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_name")),
      idCol = "c_custkey", strCol = "c_name",
      segments = Seq(s.table(baseTable), s.read.parquet(segPath)),
      maxDist = 1)
  }

  /** The base index persists bucketed on `sig`; the append segment is a
    * plain delta-sized parquet — the probe's broadcast semi-side needs
    * no bucket layout on either, and a bucketed rewrite per append would
    * BE the rebuild the arm avoids. */
  private def servedFuzzyIncStores(s: SparkSession, dir: String)
      : (String, String) = {
    val id = col("c_custkey") % 10
    (Served.bucketedTable(s, dir, "fuzzy_index_inc", Seq("sig"), 32)(
        fuzzySignatures(s, dir, id =!= 0 && id =!= 5)),
      Served.store(s, dir, "fuzzy_seg")(
        fuzzySignatures(s, dir, id === 5).write.parquet(_)))
  }

  /** Incremental aggregate maintenance over orders: the per-customer
    * pricing state (count/sum/min/max of scale-2 unscaled totalprice)
    * materializes over the pre-2000 base — localCheckpoint stands in
    * for the PERSISTED state table a production refresh reads — and the
    * post-2000 delta's state merges in via [[operators.Snapshot
    * .refreshAggState]]. The result must be bit-identical to a full
    * recompute over all orders (the oracle IS the full recompute): the
    * refresh reads |delta| + |state|, never the base facts — the
    * nightly-refresh cost model a 100 TB corpus profile needs. */
  val qAggIncremental: Q = (s, dir) => {
    val u = round(col("o_totalprice") * 100).cast("long").as("u")
    val orders = Tables(s, dir).orders
      .select(col("o_custkey"), col("o_orderdate"), u)
    val cut = "2000-01-01"
    // NULL dates route into the BASE side explicitly: a bare </>= split
    // drops NULL rows from both halves (both predicates are NULL), and
    // the refresh would silently diverge from a full recompute. TPC-H's
    // o_orderdate is non-null, so this costs nothing here — but the
    // split pattern must be total over the partition column regardless.
    val base = operators.Snapshot.aggState(
      orders.filter(col("o_orderdate") < lit(cut).cast("timestamp") ||
        col("o_orderdate").isNull),
      Seq("o_custkey"), "u").localCheckpoint()
    val delta = operators.Snapshot.aggState(
      orders.filter(col("o_orderdate") >= lit(cut).cast("timestamp")),
      Seq("o_custkey"), "u")
    operators.Snapshot.refreshAggState(base, delta, Seq("o_custkey"))
  }

  val queries: Map[String, Q] = Map(
    "q_agg_incremental" -> qAggIncremental,
    "q_pagerank"       -> qPagerank,
    "q_pagerank_events" -> qPagerankEvents,
    "q_triangles"      -> qTriangles,
    "q_salted_join"    -> qSaltedJoin,
    "q_gapfill"        -> qGapfill,
    "q_scd2"           -> qScd2,
    "q_fuzzy_join"     -> qFuzzyJoin,
    "q_fuzzy_join2"    -> qFuzzyJoin2,
    "q_fuzzy_join_served" -> qFuzzyJoinServed,
    "q_fuzzy_join_incremental" -> qFuzzyJoinIncremental,
    "q_zorder"         -> qZorder,
    "q_asof_join"      -> qAsofJoin,
    "q_asof_join_chunked" -> qAsofJoinChunked,
    "q_profile_sketch" -> qProfileSketch,
    "q_profile_exact"  -> qProfileExact,
    "q_range_join"     -> qRangeJoin,
    "q1_agg"           -> q1Agg,
    "q_join_star"      -> qJoinStar,
    "q_topk_per_group" -> qTopkPerGroup,
    "q_topk_agg"       -> qTopkAgg,
    "q_rollup"         -> qRollup,
    "q_semi_anti"      -> qSemiAnti,
    "q_skew_agg"       -> qSkewAgg)

  // ---- DuckDB oracles ------------------------------------------------------

  /** Shared by q_fuzzy_join_served AND q_fuzzy_join_incremental: the
    * (% 10 ≠ 0) reference's signature index (bucket sizes included)
    * probed by the (% 10 = 0) delta's own deletion family. The
    * incremental row's base∪segment union IS this corpus and its probe
    * recomputes the union's bucket counts, so both rows must
    * hash-match this one inline recompute. */
  private val fuzzyServedOracleSql: String =
    """WITH cs AS (SELECT c_custkey AS id, c_name AS name FROM customer
      |            WHERE c_custkey % 10 <> 0),
      |csig0 AS (
      |  SELECT DISTINCT id, name,
      |         CASE WHEN i = 0 THEN name
      |              ELSE substr(name, 1, i - 1) || substr(name, i + 1) END AS sg
      |  FROM cs, unnest(generate_series(0, length(name))) AS t(i)),
      |csig AS (
      |  SELECT id, name, sg, count(*) OVER (PARTITION BY sg) AS bsz
      |  FROM csig0),
      |ds AS (SELECT c_custkey AS id, c_name AS name FROM customer
      |       WHERE c_custkey % 10 = 0),
      |dsig AS (
      |  SELECT DISTINCT id, name,
      |         CASE WHEN i = 0 THEN name
      |              ELSE substr(name, 1, i - 1) || substr(name, i + 1) END AS sg
      |  FROM ds, unnest(generate_series(0, length(name))) AS t(i)),
      |cand AS (
      |  SELECT DISTINCT d.id AS id_d, d.name AS name_d,
      |                  c.id AS id_c, c.name AS name_c
      |  FROM dsig d JOIN csig c ON d.sg = c.sg
      |  WHERE c.bsz <= 10000)
      |SELECT id_d, id_c, CAST(levenshtein(name_d, name_c) AS BIGINT) AS dist
      |FROM cand WHERE levenshtein(name_d, name_c) <= 1""".stripMargin

  /** Bit-interleave arithmetic of Layout.zkey2 in portable SQL: term i
    * contributes bit i of ux at position 2i and bit i of uy at 2i+1 —
    * pure BIGINT floor-div/mod/multiply, no engine bit operators. */
  private val zkeyTerms: String = (0 until 12).map(i =>
    s"((ux // ${1L << i}) % 2) * ${1L << (2 * i)} + ((uy // ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
    .mkString(" + ")

  /** Unrolled PageRank iterations in SQL (twin of Graph.pageRank over
    * the symmetrized part↔supplier graph): same BIGINT truncating
    * arithmetic — rank DIV deg per edge source, damped 85/100 with
    * teleport (scale·15) DIV 100 — so every iteration is bit-exact.
    * DuckDB's SUM(BIGINT) widens to HUGEINT; each r_i casts back to
    * BIGINT, matching Spark's long sum.
    *
    * Every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    * reference, and since e/deg/v appear in every iteration the inlined
    * tree re-runs the fact-table distinct once per reference — at the
    * 60M-row sf10 corpus that formulation spilled the host's entire
    * free disk and died; materialized, the same query runs in ~1 s.
    * (Spark-side equivalent: the operator's checkpoint of the edge
    * list.) */
  /** Unrolled integer-exact PageRank SQL: `e0Cte` supplies the directed
    * raw-edge relation (deduplicated by the symmetrizing UNION). Every
    * CTE is MATERIALIZED: DuckDB otherwise re-derives the edge relation
    * once per reference — measured at sf10 that re-derivation spilled
    * 78 GB and died. */
  private def pagerankChain(iters: Int,
      e0Cte: String =
        "SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem")
      : String = {
    val base =
      s"""WITH e0 AS MATERIALIZED (
        |  $e0Cte
        |), e AS MATERIALIZED (
        |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
        |), deg AS MATERIALIZED (
        |  SELECT src AS id, COUNT(*) AS deg FROM e GROUP BY 1
        |), v AS MATERIALIZED (
        |  SELECT DISTINCT src AS id FROM e
        |), r0 AS MATERIALIZED (
        |  SELECT id, CAST(1000000000000 AS BIGINT) AS rank FROM v
        |)""".stripMargin
    val steps = (1 to iters).map { i =>
      s""", m$i AS MATERIALIZED (
         |  SELECT e.dst AS id, SUM(r.rank // d.deg) AS m
         |  FROM e JOIN r${i - 1} r ON e.src = r.id JOIN deg d ON d.id = e.src
         |  GROUP BY 1
         |), r$i AS MATERIALIZED (
         |  SELECT v.id,
         |    CAST(150000000000 + (COALESCE(m, 0) // 100) * 85 AS BIGINT) AS rank
         |  FROM v LEFT JOIN m$i ON v.id = m$i.id
         |)""".stripMargin
    }.mkString
    base + steps + s"\nSELECT id, rank FROM r$iters"
  }

  val oracle: Map[String, String] = Map(
    // the exact half of the profile pass; value is DOUBLE, so min/max
    // compare bit-exactly and the sum is adjudicated at scale-6 LONG
    "q_profile_exact" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       COUNT(value) AS n_values,
        |       MIN(value) AS value_min, MAX(value) AS value_max,
        |       CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_u6
        |FROM events GROUP BY 1""".stripMargin,

    // the sketch half carries a FULL hash oracle since r10: the HLL twin
    // is the q_hll_users arithmetic (same salt/bucket/rho/denominator,
    // same interpolated numerator), the quantiles are exact type-1 order
    // statistics over the same 'pf|'-salted md5-coin sample (< 2^58 =
    // rate 1/4), and every emitted double is one IEEE division from
    // exact integers; LEFT joins mirror the Spark side's null output on
    // groups with no users / no sampled values
    "q_profile_sketch" ->
      s"""WITH base AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         |         MIN(value) AS value_min, MAX(value) AS value_max
         |  FROM events GROUP BY 1
         |), f AS (
         |  SELECT event_type, h60 % 512 AS bucket,
         |         52 - (CASE WHEN (h60 >> 9) = 0 THEN 0
         |               ELSE length(bin(h60 >> 9)) END) AS rho
         |  FROM (
         |    SELECT event_type, (${operators.Freq.hexToHSql}) AS h60 FROM (
         |      SELECT event_type, md5('hl|' || CAST(user_id AS VARCHAR)) AS hx
         |      FROM events WHERE user_id IS NOT NULL))
         |), regs AS (
         |  SELECT event_type, bucket, MAX(rho) AS r FROM f GROUP BY 1, 2
         |), hll AS (
         |  SELECT event_type,
         |         ${operators.Freq.hllNumerator(9)} /
         |           CAST(SUM(CAST(1 AS BIGINT) << (52 - r))
         |                + (512 - COUNT(*)) * (CAST(1 AS BIGINT) << 52) AS BIGINT)
         |           AS n_users_approx,
         |         CAST(512 - COUNT(*) AS BIGINT) AS hll_n_zero
         |  FROM regs GROUP BY 1
         |), samp AS (
         |  SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v6
         |  FROM (
         |    SELECT event_type, value,
         |           md5('pf|' || CAST(event_id AS VARCHAR)) AS hx
         |    FROM events WHERE value IS NOT NULL)
         |  WHERE (${operators.Freq.hexToHSql}) < ${1L << 58}
         |), qv AS (
         |  SELECT event_type,
         |    CASE WHEN len(sv) > 0 THEN sv[(len(sv) + 1) // 2] / 1000000.0 END AS p50,
         |    CASE WHEN len(sv) > 0 THEN sv[(len(sv) * 19 + 19) // 20] / 1000000.0 END AS p95,
         |    CASE WHEN len(sv) > 0 THEN sv[(len(sv) * 99 + 99) // 100] / 1000000.0 END AS p99
         |  FROM (SELECT event_type, list_sort(list(v6)) AS sv FROM samp GROUP BY 1)
         |)
         |SELECT b.event_type, b.n_events, hll.n_users_approx, hll.hll_n_zero,
         |       qv.p50, qv.p95, qv.p99, b.value_min, b.value_max
         |FROM base b
         |LEFT JOIN hll USING (event_type)
         |LEFT JOIN qv USING (event_type)""".stripMargin,
    // incremental refresh must be INVISIBLE in the result: the oracle is
    // the full recompute over base ∪ delta = all orders
    "q_agg_incremental" ->
      """SELECT o_custkey, COUNT(*) AS n_rows,
        |       CAST(SUM(u) AS BIGINT) AS sum_v,
        |       MIN(u) AS min_v, MAX(u) AS max_v
        |FROM (SELECT o_custkey,
        |        CAST(round(o_totalprice * 100) AS BIGINT) AS u
        |      FROM orders) t
        |GROUP BY 1
        |""".stripMargin,

    "q_pagerank" -> pagerankChain(3),

    // user-handoff graph, 10 unrolled iterations — same bit-exact BIGINT
    // update; second-truncated epoch matches the Tables.events contract
    "q_pagerank_events" -> pagerankChain(10,
      """SELECT DISTINCT user_id AS src, nxt AS dst FROM (
        |    SELECT user_id,
        |      lead(user_id) OVER (PARTITION BY event_type, es // 3600
        |                          ORDER BY es, event_id) AS nxt
        |    FROM (SELECT user_id, event_id, event_type,
        |            CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
        |          FROM events) b) x
        |  WHERE nxt IS NOT NULL AND nxt <> user_id""".stripMargin),

    // same synthetic md5-coin graph (edges already id-ordered a < b);
    // the id-ordered 3-way join counts each triangle once at u < v < w
    // — the same triangle set the degree-oriented Spark plan finds
    "q_triangles" ->
      """WITH p AS (SELECT p_partkey AS id FROM part),
        |e AS (
        |  SELECT a, b FROM (
        |    SELECT p1.id AS a, p2.id AS b,
        |      md5('tg|' || CAST(p1.id AS VARCHAR) || '|' || CAST(p2.id AS VARCHAR)) AS h
        |    FROM p p1 JOIN p p2 ON p2.id BETWEEN p1.id + 1 AND p1.id + 8) t
        |  WHERE 16 * (strpos('0123456789abcdef', substr(h, 1, 1)) - 1)
        |      + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) < 96
        |),
        |t AS (
        |  SELECT x.a AS u, x.b AS v, y.b AS w
        |  FROM e x JOIN e y ON x.a = y.a AND x.b < y.b
        |  JOIN e z ON z.a = x.b AND z.b = y.b
        |)
        |SELECT id, COUNT(*) AS n_tri FROM (
        |  SELECT u AS id FROM t
        |  UNION ALL SELECT v FROM t
        |  UNION ALL SELECT w FROM t
        |) c GROUP BY 1""".stripMargin,

    // the salted formulation is row-identical to the plain join — the
    // oracle is the plain join, which is the equivalence the salt claims
    "q_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin,
    "q_fuzzy_join" ->
      """WITH s AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        |sig0 AS (
        |  SELECT DISTINCT id, name,
        |         CASE WHEN i = 0 THEN name
        |              ELSE substr(name, 1, i - 1) || substr(name, i + 1) END AS sg
        |  FROM s, unnest(generate_series(0, length(name))) AS t(i)),
        |sig AS (
        |  SELECT id, name, sg, count(*) OVER (PARTITION BY sg) AS bsz
        |  FROM sig0),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, a.name AS name_a,
        |                  b.id AS id_b, b.name AS name_b
        |  FROM sig a JOIN sig b ON a.sg = b.sg AND a.id < b.id
        |  WHERE a.bsz BETWEEN 2 AND 10000)
        |SELECT id_a, id_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(name_a, name_b) <= 1""".stripMargin,

    // the k=2 twin: the same single-deletion step applied to sig0's
    // variants (del-of-del = the <=2-deletion family), same cap, exact
    // levenshtein refine at the wider radius
    "q_fuzzy_join2" ->
      """WITH s AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        |sig0 AS (
        |  SELECT DISTINCT id, name,
        |         CASE WHEN i = 0 THEN name
        |              ELSE substr(name, 1, i - 1) || substr(name, i + 1) END AS sg
        |  FROM s, unnest(generate_series(0, length(name))) AS t(i)),
        |sig1 AS (
        |  SELECT DISTINCT id, name,
        |         CASE WHEN i = 0 THEN sg
        |              ELSE substr(sg, 1, i - 1) || substr(sg, i + 1) END AS sg
        |  FROM sig0, unnest(generate_series(0, length(sg))) AS t(i)),
        |sig AS (
        |  SELECT id, name, sg, count(*) OVER (PARTITION BY sg) AS bsz
        |  FROM sig1),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, a.name AS name_a,
        |                  b.id AS id_b, b.name AS name_b
        |  FROM sig a JOIN sig b ON a.sg = b.sg AND a.id < b.id
        |  WHERE a.bsz BETWEEN 2 AND 10000)
        |SELECT id_a, id_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(name_a, name_b) <= 2""".stripMargin,

    // the served probe: corpus signature index (bucket sizes included,
    // exactly what the persisted artifact carries) x the delta's own
    // deletion family — parquet round-trips both exactly, so this SQL
    // is the inline recompute the served row must hash-match
    "q_fuzzy_join_served" -> fuzzyServedOracleSql,

    // the incremental probe's union (base % 10 NOT IN (0,5) plus the
    // appended % 10 = 5 segment) IS the served corpus (% 10 <> 0) and
    // probeSignatureSegments recomputes the union's bucket counts, so
    // append ≡ rebuild by construction and the row shares the served
    // oracle VERBATIM — the hash gate proves the append lost and
    // invented nothing, drop set included
    "q_fuzzy_join_incremental" -> fuzzyServedOracleSql,

    "q_gapfill" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
        |         event_id, value
        |  FROM events WHERE event_type = 'click'),
        |ranked AS (
        |  SELECT user_id, es // 3600 AS b, value,
        |         row_number() OVER (PARTITION BY user_id, es // 3600
        |                            ORDER BY es DESC, event_id DESC) AS rn
        |  FROM e),
        |obs AS (SELECT user_id, b, value AS v FROM ranked WHERE rn = 1),
        |nxt AS (SELECT user_id, b, v,
        |               lead(b) OVER (PARTITION BY user_id ORDER BY b) AS nb
        |        FROM obs)
        |SELECT user_id, g * 3600 AS b_start, v AS value, (g = b) AS observed
        |FROM (SELECT user_id, b, v,
        |             unnest(generate_series(b, coalesce(nb - 1, b))) AS g
        |      FROM nxt) t""".stripMargin,

    "q_scd2" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
        |         event_id, event_type
        |  FROM events),
        |ranked AS (
        |  SELECT user_id, es, event_type,
        |         row_number() OVER (PARTITION BY user_id, es
        |                            ORDER BY event_id DESC) AS rn
        |  FROM e),
        |latest AS (SELECT user_id, es, event_type FROM ranked WHERE rn = 1),
        |chg AS (
        |  SELECT user_id, es, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY es) AS pv,
        |         row_number() OVER (PARTITION BY user_id ORDER BY es) AS k
        |  FROM latest)
        |SELECT user_id, event_type, es AS valid_from,
        |       lead(es) OVER (PARTITION BY user_id ORDER BY es) AS valid_to,
        |       row_number() OVER (PARTITION BY user_id ORDER BY es) AS version,
        |       lead(es) OVER (PARTITION BY user_id ORDER BY es) IS NULL AS is_current
        |FROM chg WHERE k = 1 OR pv IS DISTINCT FROM event_type""".stripMargin,

    "q_zorder" ->
      s"""SELECT event_id, $zkeyTerms AS zkey
         |FROM (
         |  SELECT event_id,
         |    ((user_id % 4096) + 4096) % 4096 AS ux,
         |    ((CAST(epoch(date_trunc('second', ts)) AS BIGINT) % 4096) + 4096) % 4096 AS uy
         |  FROM events) t""".stripMargin,
    // the chunked decomposition answers the IDENTICAL question — one
    // oracle text, two Spark formulations, both hash-compared
    "q_asof_join_chunked" ->
      """WITH e AS (SELECT event_id, user_id, date_trunc('second', ts) AS ts, event_type
        |           FROM events),
        |c AS (SELECT user_id, ts, max(event_id) AS click_id
        |      FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, p.user_id,
        |       CAST(epoch(p.ts) AS BIGINT) AS purchase_ts,
        |       c.click_id, CAST(epoch(c.ts) AS BIGINT) AS click_ts
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    "q_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, date_trunc('second', ts) AS ts, event_type
        |           FROM events),
        |c AS (SELECT user_id, ts, max(event_id) AS click_id
        |      FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, p.user_id,
        |       CAST(epoch(p.ts) AS BIGINT) AS purchase_ts,
        |       c.click_id, CAST(epoch(c.ts) AS BIGINT) AS click_ts
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    "q_range_join" ->
      """WITH e AS (SELECT event_id, date_trunc('second', ts) AS ts, event_type, value
        |           FROM events),
        |iv AS (SELECT event_id AS iv_id, ts AS lo, ts + INTERVAL 2 HOUR AS hi
        |       FROM e WHERE event_type = 'error' AND event_id % 20 = 0)
        |SELECT iv_id, count(*) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS sum_val
        |FROM iv JOIN e ON e.ts >= iv.lo AND e.ts < iv.hi
        |  AND e.event_type IN ('click','view','purchase')
        |GROUP BY 1""".stripMargin,

    // DECIMAL sums are routed VARCHAR→DOUBLE at the output edge: DuckDB's
    // direct DECIMAL→DOUBLE cast double-rounds (hugeint→double, then ÷10^s)
    // and lands 1 ulp off the correctly-rounded value at ~1e11 magnitudes
    // (seen at sf3); strtod on the exact decimal string is exactly rounded,
    // which is what Spark's BigDecimal.doubleValue produces.
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY 1, 2""".stripMargin,

    "q_join_star" ->
      """SELECT r_name, n_name, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) t
        |WHERE rk <= 3""".stripMargin,

    "q_topk_agg" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) t
        |WHERE rk <= 3""".stripMargin,

    "q_rollup" ->
      """SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,

    "q_semi_anti" ->
      """SELECT c_nationkey,
        |  CAST(COALESCE(SUM(CASE WHEN has_o THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_with_orders,
        |  CAST(COALESCE(SUM(CASE WHEN has_o THEN 0 ELSE 1 END), 0) AS BIGINT) AS n_without_orders
        |FROM (
        |  SELECT c_custkey, c_nationkey,
        |    EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_o
        |  FROM customer) t
        |GROUP BY 1""".stripMargin,

    "q_skew_agg" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS total_value,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin
  )
}
