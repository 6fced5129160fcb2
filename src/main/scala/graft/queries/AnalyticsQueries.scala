package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{Scaffold, Tables}

/** Star-schema analytics headliners for the bench harness: a TPC-H-Q1
  * style pricing summary (pure map-side-combinable aggregation — the
  * throughput yardstick) and a dimension-join top-k (broadcast joins +
  * per-group window rank).
  */
object AnalyticsQueries {

  private def microLong(x: Column): Column = round(x * 1e6).cast("long")

  /** Q16: pricing summary — group-by aggregation over the full fact
    * table; all float sums exact via micro-scaled longs. */
  def q16PricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(to_date(col("l_shipdate")) <= lit("2000-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum(microLong(col("l_extendedprice"))).as("bp"),
        sum(microLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("dp"),
        sum(microLong(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")))).as("ch"),
        sum(microLong(col("l_discount"))).as("dc"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        (col("bp").cast("double") / 1e6).as("sum_base_price"),
        (col("dp").cast("double") / 1e6).as("sum_disc_price"),
        (col("ch").cast("double") / 1e6).as("sum_charge"),
        (col("sum_qty") / col("count_order")).as("avg_qty"),
        (col("bp").cast("double") / 1e6 / col("count_order")).as("avg_price"),
        (col("dc").cast("double") / 1e6 / col("count_order")).as("avg_disc"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q17: top-10 customers by order revenue per nation — broadcast the
    * dimensions, shuffle the fact once on custkey, rank per nation. */
  def q17TopCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val rev = o.groupBy("o_custkey")
      .agg(sum(microLong(col("o_totalprice"))).as("rev_l"))
    val w = Window.partitionBy("n_name").orderBy(col("rev_l").desc, col("o_custkey").asc)
    rev
      .join(Tables.dimBroadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("n_name"), col("o_custkey").as("custkey"), col("c_name"),
        (col("rev_l").cast("double") / 1e6).as("revenue"),
        col("rnk").cast("long").as("rnk"))
      .orderBy("n_name", "rnk")
  }

  /** Q32: rollup grouping sets — revenue + exact distinct counts at
    * (returnflag, linestatus), (returnflag), and grand-total levels. */
  def q32Rollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        sum(microLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev_l"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("rev_l").cast("double") / 1e6).as("revenue"),
        col("n_parts"), col("n_rows"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** q83: CUBE with grouping_id — all four aggregation levels of
    * (returnflag, linestatus) in ONE pass (Spark expands the grouping
    * sets before the shuffle, so partial aggregation still applies),
    * with grouping_id disambiguating "aggregated-away" from a genuine
    * null group value — the contract ROLLUP output alone can't give a
    * consumer. Bit order (first column = most significant) matches
    * DuckDB's GROUPING() exactly. */
  def q83Cube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().cast("long").as("gid"),
        sum("l_quantity").as("sum_qty"),
        sum(microLong(col("l_extendedprice"))).as("bp_l"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
        col("sum_qty"),
        (col("bp_l").cast("double") / 1e6).as("sum_base_price"),
        col("n_rows"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** q122: EXPLICIT grouping sets — the arbitrary-set form that
    * subsumes q32's rollup and q83's cube: (event_type, day) daily
    * detail, (event_type) per-type totals, and () grand total, chosen
    * freely rather than as a prefix/power-set family. Like cube/rollup,
    * Spark expands the sets BEFORE the shuffle (one pass, map-side
    * partial aggregation on the expanded keys — never one job per
    * set), and `grouping_id` disambiguates "aggregated-away" from a
    * genuinely null group value, same bit order as DuckDB's
    * GROUPING(). */
  def q122GroupingSets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      // day is a STRING key: an aggregated-away date would surface as a
      // typed NULL, which the comparator canonicalizes differently per
      // engine (None vs NaT) — string nulls are the q32/q83 precedent
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        round(col("value") * 1e6).cast("long").as("value_micro"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("day")), Seq(col("event_type")), Seq()),
        col("event_type"), col("day"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_rows"),
        sum("value_micro").as("sum_micro"))
      .orderBy(col("gid"), col("event_type").asc_nulls_first,
        col("day").asc_nulls_first)

  /** Q33: exact percentiles of quantity per return flag (sorted-set
    * interpolation — order-insensitive, so deterministic). */
  def q33Percentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.9)").as("p90"),
        expr("percentile(l_quantity, 0.99)").as("p99"),
        min("l_quantity").as("min_q"), max("l_quantity").as("max_q"))
      .orderBy("l_returnflag")

  /** Q34: fixed-width histogram of event values (bucket = floor(v/20)). */
  def q34Histogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(floor(col("value") / 20).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** Q35: the window-ranking family over each customer's orders:
    * row_number / rank / dense_rank / ntile / lead / lag. */
  def q35WindowFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .filter(col("o_custkey") < 20)
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        lead("o_orderkey", 1).over(w).as("next_order"),
        lag("o_orderkey", 1).over(w).as("prev_order"))
      .orderBy("o_custkey", "rn")
  }

  /** q36: the stats envelope behind the sketch story, oracle-checked
    * EXACTLY — per flag the row count, exact distinct parts, and
    * min/max price. The approximations themselves live in
    * [[approxStatsCompanion]]: sketch internals (HLL registers, GK
    * summaries) legitimately differ across engines, so no cross-engine
    * hash oracle can exist for them; instead the spec bounds their
    * error against this envelope (HLL within 5 % of n_parts, approx
    * p50 within 5 % of exact, p99 inside [min_price, max_price]). The
    * split keeps the scoreboard fully hash-checked without weakening
    * the sketch claim. */
  def q36StatsEnvelope(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_partkey")).as("n_parts"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
      .orderBy("l_returnflag")

  /** Sketch companion to [[q36StatsEnvelope]] — the 100 TB scale path
    * where exact distinct counts / percentiles are too expensive.
    * Spec-bounded rather than oracle-hashed (see q36's scaladoc). */
  def approxStatsCompanion(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap50"),
        expr("approx_percentile(l_extendedprice, 0.99, 1000)").as("ap99"))
      .orderBy("l_returnflag")

  /** q127: HyperLogLog cardinality with an ORACLE-VISIBLE accuracy
    * contract — the sketch family's classic member (count-min q57,
    * bloom q78, exact bitmap q72, histogram q79 already green).
    * `approx_count_distinct` (HLL++, rsd 0.05) is deterministic for a
    * given dataset — register maxima are order- and merge-independent
    * — but its VALUE is engine-specific, so the estimate itself can't
    * hash-match DuckDB. What can is the contract: the output carries
    * the exact distinct count and a boolean `within_10pct` (2×rsd)
    * that the oracle asserts as literal TRUE. A Spark upgrade or
    * sketch regression that drifts past the bound flips the boolean
    * and fails the hash — the approx row becomes oracle-checkable
    * without pretending two HLL implementations agree. (At 100 TB the
    * sketch is the scale path: mergeable fixed-size state per group vs
    * countDistinct's expanded shuffle; the exact side here exists to
    * judge the sketch, the way q36's envelope judges
    * [[approxStatsCompanion]].) */
  def q127HllContract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"),
        approx_count_distinct(col("user_id"), 0.05).as("_hll"))
      .select(col("event_type").as("ticker"), col("n_exact"),
        (abs(col("_hll") - col("n_exact")).cast("double") / col("n_exact")
          <= 0.10).as("within_10pct"))
      .orderBy("ticker")

  /** q57: the mergeable-sketch pipeline — per-day count-min sketches of
    * the event-type stream ([[graft.functions.CountMinAgg]]), unioned
    * across days by element-wise addition ([[CountMinMergeAgg]]) without
    * touching the raw stream again, then point-estimated per type with
    * built-in column functions. The pre-aggregate-then-merge shape is
    * the 100 TB telemetry pattern: each partition/day ships a
    * depth×width Long array, never its rows.
    *
    * The estimates are oracle-checkable EXACTLY: the sketch's buckets
    * are deterministic (one xxhash64 split into two residues, mixed per
    * row — see CountMin's class doc), the estimate never under-counts, and at
    * depth 4 × width 2048 the handful of event types do not collide in
    * every row, so `min_i bucket_i` equals the true count and the DuckDB
    * twin is a plain GROUP BY count. (CountMinSpec covers the lossy
    * regime — high-cardinality keys with bounded over-count — where no
    * exact oracle can exist.) */
  def q57CmsEventCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.CountMin._
    val depth = 4; val width = 2048
    val ev = Tables.events(spark, sfDir)
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(countMinSketch(col("event_type"), depth, width).as("sk"))
    val merged = daily.agg(countMinMerge(col("sk"), depth, width).as("sk"))
    ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(merged))
      .select(col("event_type").as("ticker"),
        estimate(col("sk"), col("event_type"), depth, width).as("est_n"))
      .orderBy("ticker")
  }

  /** q67: heavy hitters by sketch-prefilter + exact verify — THE
    * count-min deployment pattern at scale. Pass 1 builds one 4×65536
    * sketch of the l_partkey stream (map-side partials, kilobytes
    * shuffled). Pass 2 re-scans and filters each ROW by its key's
    * estimate BEFORE the exact groupBy: the estimate never
    * under-counts, so no heavy key is lost, and the shuffle carries
    * only candidate-key rows instead of the full fact table — the
    * exact HAVING then removes the few collision-inflated false
    * positives. Output = exactly the true heavy keys, so the oracle is
    * plain GROUP BY/HAVING. */
  def q67CmsHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.CountMin._
    val depth = 4; val width = 65536; val threshold = 45L
    val keys = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").cast("string").as("k"))
    val sketch = keys.agg(countMinSketch(col("k"), depth, width).as("sk"))
    keys.crossJoin(broadcast(sketch))
      .filter(estimate(col("sk"), col("k"), depth, width) >= threshold)
      .groupBy(col("k").cast("long").as("l_partkey"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .orderBy("l_partkey")
  }

  /** q69: shipping-priority top-k (TPC-H Q3 shape) — the canonical
    * selective multi-way join: a filtered dimension (one market segment
    * of `customer`) BROADCAST to the `orders` scan, the surviving
    * orders joined to `lineitem` on the shuffle key both sides already
    * need, revenue aggregated per order, and the top 10 taken via
    * TakeOrderedAndProject (per-partition top-k, only k rows to the
    * driver — no global sort). Date filters sit ON the scans (pushed
    * through `to_date`), so at 100 TB the join sees only the
    * late-shipping slice. Ordering ties break on the exact micro-long
    * revenue + order key, so the top-10 *set* is engine-stable. */
  def q69ShipPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1998-06-30")
    val c = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(spark, sfDir)
      .filter(to_date(col("o_orderdate")) < cutoff)
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, sfDir)
      .filter(to_date(col("l_shipdate")) > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.dimBroadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(microLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev_l"))
      .orderBy(col("rev_l").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), (col("rev_l").cast("double") / 1e6).as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
  }

  /** q70: regional supplier volume (TPC-H Q5 shape) — the six-way
    * star join. The dimension chain region→nation→supplier collapses
    * into ONE broadcast (100 rows after the region filter); `customer`
    * broadcasts whole. Only the two fact tables shuffle, and only on
    * l_orderkey=o_orderkey — the year filter prunes `orders` at the
    * scan first. The c_nationkey = s_nationkey "local supplier"
    * condition rides along as a broadcast-side predicate, never a
    * join explosion. */
  def q70RegionalRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val r = Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(spark, sfDir)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val s = Tables.supplier(spark, sfDir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(spark, sfDir)
      .filter(to_date(col("o_orderdate")) >= lit("1996-01-01") &&
        to_date(col("o_orderdate")) < lit("1997-01-01"))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.dimBroadcast(c), col("o_custkey") === col("c_custkey"))
      .join(Tables.dimBroadcast(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(sum(microLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev_l"))
      .orderBy(col("rev_l").desc, col("n_name"))
      .select(col("n_name"), (col("rev_l").cast("double") / 1e6).as("revenue"))
  }

  // The bitmap sketches' declared id universe, derived from the DATA
  // (next multiple of 64 above max(user_id), floor 2^14) and memoized
  // per fixture (a [[Scaffold]] of plain values) so the four bitmap
  // carriers share one bounded lookup.
  // A hardcoded 2^14 was the bench fixture's universe, not the
  // operator's contract — the round-17 sf10 sweep's shifted ids
  // (user_id·100+copy, up to ~10^5) failed its fail-fast range check
  // across all four carriers. A real deployment declares the universe
  // from its id allocator; deriving it from table stats is the
  // fixture-side equivalent (one column scan, amortized across the
  // family). The sketch result is universe-independent — only the
  // per-group bitset SIZE (maxId/8 bytes) changes.
  private val bitmapUniverses = Scaffold.values[String, Int]
  // The memo key is the sfDir PATH: within one JVM, appending data under
  // the same path would serve a stale (too-small) universe and re-trip
  // the sketch's fail-fast range check. Acceptable here because the
  // carriers read immutable driver fixtures; a deployment would key on
  // the table version / declare the universe from its id allocator.
  private def bitmapUserIdUniverse(spark: SparkSession, sfDir: String): Int =
    bitmapUniverses.once(sfDir) {
      val row = Tables.events(spark, sfDir).agg(max(col("user_id"))).collect()(0)
      require(!row.isNullAt(0),
        s"bitmap universe: events at $sfDir is empty — no max(user_id) to derive from")
      val mx = row.getLong(0)
      require(mx >= 0, s"bitmap universe: max(user_id)=$mx is negative")
      // word-align in Long FIRST, then prove the result fits Int — the
      // old `((mx/64)+1)*64).toInt` silently wrapped for ids near 2^31
      val universe = (mx / 64 + 1) * 64
      require(universe <= Int.MaxValue,
        s"bitmap universe: max(user_id)=$mx needs a $universe-bit bitmap, " +
          "past Int.MaxValue — exact bitmap sketches need a bounded id domain " +
          "(use the HLL sketch for open domains)")
      math.max(1 << 14, universe.toInt)
    }

  /** q72: exact distinct users via mergeable bitmap sketches — the
    * pre-aggregate-then-merge pattern COUNT(DISTINCT) can't do. Pass 1
    * builds one kilobyte-sized bitset per (event_type, day) with
    * map-side partials; pass 2 ORs the daily sketches per type. At
    * 100 TB the daily sketches are what you'd persist: any window's
    * exact distinct count is then a merge of stored kilobytes, with no
    * re-scan of the raw stream and no double shuffle. The oracle is
    * plain COUNT(DISTINCT) — the sketch is exact on the bounded id
    * domain. */
  def q72BitmapDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.BitmapDistinct._
    val maxId = bitmapUserIdUniverse(spark, sfDir)
    Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("event_type", "day")
      .agg(bitmapSketch(col("user_id"), maxId).as("sk"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        cardinality(bitmapMerge(col("sk"), maxId)).as("distinct_users"))
      .orderBy("event_type")
  }

  /** q78: bloom-prefiltered shuffle join — the shuffle-reduction
    * pattern for selective joins where BOTH sides are too big to
    * broadcast (the regime where q69's broadcast trick stops working).
    * Pass 1 aggregates the selective orders slice (one priority, one
    * half-year) into a 128 KB bloom bitset ([[graft.functions.Bloom]] —
    * a [[graft.functions.BitmapAgg]] over k hash positions, map-side
    * combinable). That kilobyte-scale filter broadcasts even when the
    * orders slice itself (millions of rows with payload at 100 TB)
    * cannot; `mightContain` then drops ~97% of lineitem AT THE SCAN,
    * inside whole-stage codegen, so the sort-merge shuffle carries only
    * matching + false-positive rows. No false negatives + exact join
    * after = result identical to the plain join, which is the oracle.
    * The `merge` hint models the at-scale plan where broadcast is off
    * the table. */
  def q78BloomJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Bloom
    val numBits = 1 << 20; val k = 3
    val sel = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        to_date(col("o_orderdate")) >= lit("1997-01-01") &&
        to_date(col("o_orderdate")) < lit("1997-07-01"))
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"))
    val bloom = sel.agg(Bloom.sketch(col("o_orderkey"), numBits, k).as("bf"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .crossJoin(broadcast(bloom))
      .filter(Bloom.mightContain(col("bf"), col("l_orderkey"), numBits, k))
      .drop("bf")
    li.join(sel.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        sum(microLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev_l"))
      .orderBy("month")
      .select(col("month"), col("n_orders"),
        (col("rev_l").cast("double") / 1e6).as("revenue"))
  }

  /** q79: exact quantiles from mergeable histograms — the counts-array
    * sibling of q72's bitmap story, for the statistic COUNT(DISTINCT)'s
    * trick can't reach. Pass 1 builds one bounded counts array per
    * (returnflag, linestatus) with map-side partials; pass 2 sums the
    * arrays per returnflag; p50/p90/p99 then fall out of an O(domain)
    * fold per group row in exact long arithmetic. At 100 TB the
    * per-shard histograms are what you'd persist: any rollup's EXACT
    * percentiles become a merge of kilobyte counters — no re-sort of
    * raw data, unlike percentile()'s collected sorted set, and no
    * approximation, unlike approx_percentile (q36). Oracle is DuckDB
    * quantile_disc — same smallest-value-reaching-the-fraction
    * contract, decided in integer math. */
  def q79HistQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Histogram._
    val buckets = 64 // l_quantity domain is 1..50
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(histSketch(col("q"), buckets).as("h"))
      .groupBy("l_returnflag")
      .agg(histMerge(col("h"), buckets).as("h"))
      .select(col("l_returnflag"),
        quantileDisc(col("h"), 50).as("p50"),
        quantileDisc(col("h"), 90).as("p90"),
        quantileDisc(col("h"), 99).as("p99"),
        histTotal(col("h")).as("n_rows"))
      .orderBy("l_returnflag")
  }

  /** q107: TPC-H Q18 shape — large-volume orders. The HAVING aggregate
    * (orders whose line quantities sum past a threshold) produces a
    * SMALL qualifying key set that then joins back to the fact and
    * dimension sides: aggregate once (map-side partials), and the
    * qualifying keys — data-dependent and tiny — broadcast back
    * against orders under AQE instead of re-shuffling lineitem. The
    * top-k is TakeOrderedAndProject. The "aggregate → qualify → join
    * back" shape is the standard way to filter facts by a group
    * property without carrying the groups through a wide join. */
  def q107LargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val qualifying = li.groupBy("l_orderkey")
      .agg(sum(round(col("l_quantity"))).cast("long").as("sum_qty"))
      .filter(col("sum_qty") > 250L)
    Tables.orders(spark, sfDir)
      .join(qualifying, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_orderdate"),
        round(col("o_totalprice") * 1e6).cast("long").as("price_micro"),
        col("sum_qty"))
      .orderBy(col("price_micro").desc, col("o_orderkey").asc)
      .limit(100)
  }

  /** q108: TPC-H Q21 shape — correlated EXISTS + NOT EXISTS over the
    * same fact. A supplier "blocks" an order when its line carries the
    * strictly latest ship date (no line by ANY other supplier ships
    * later) on a genuinely multi-supplier order (some line by another
    * supplier exists). The DuckDB oracle runs the textbook
    * decorrelation — semi + anti self-joins, three fact scans and two
    * fact-scale join shuffles.
    *
    * This engine answers both quantifiers from ONE pass (optimization
    * r19; before, it ran the oracle's semi/anti shape verbatim —
    * plans/r19/q108_blocking_suppliers_before.txt). The inequality
    * correlation (`ship2 > ship`) looks join-shaped but is a statement
    * about the ORDER's ship-date maxima: supplier s has a line no
    * other-supplier line ships strictly later than  iff
    * max(ship | s, o) = max(ship | o)  — ties at the max survive the
    * strict anti exactly as they satisfy the equality, and the
    * multi-supplier EXISTS is |distinct suppliers of o| > 1. So:
    * repartition the fact ONCE on l_orderkey, aggregate per
    * (order, supplier) max ship, window the order max + supplier count
    * over the SAME partitioning (guide §2.4 — aggregate and window
    * keyed the same way share one exchange; the plan has a single
    * fact-scale Exchange and zero joins), filter, count orders per
    * supplier. countDistinct becomes count(1): the grouped pass emits
    * each (order, supplier) once. Q108RewriteSpec pins the
    * formulation equivalence row-for-row against the semi/anti form
    * on the fixture plus adversarial tie cases. */
  def q108BlockingSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        to_date(col("l_shipdate")).as("ship"))
    val w = Window.partitionBy("l_orderkey")
    li.repartition(col("l_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max("ship").as("m_s"))
      .withColumn("mx", max(col("m_s")).over(w))
      .withColumn("n_supps", count(lit(1)).over(w))
      .filter(col("m_s") === col("mx") && col("n_supps") > 1)
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_blocked"))
      .orderBy(col("n_blocked").desc, col("l_suppkey").asc)
      .limit(20)
  }

  /** The q121 text — a genuinely CORRELATED scalar aggregate subquery,
    * the TPC-H Q17 shape: each line qualifies when its quantity is
    * below 20% of its part's average quantity over ALL of that part's
    * lines (so the inner aggregate cannot be folded into the outer
    * filter's scan). The arithmetic is engine-deterministic: qty is an
    * exact long, `SUM(qty) * 1.0 / COUNT(*)` is an exact-operand IEEE
    * division, and `0.2 *` / `<` are single deterministic double ops —
    * Spark and DuckDB run the identical op sequence, so the boundary
    * rows can't diverge. */
  private val Q121Sql: String =
    """SELECT p.p_brand,
      |       COUNT(*) AS n_small,
      |       CAST(SUM(l.price_micro) AS BIGINT) AS price_micro
      |FROM q121_li l JOIN q121_part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_size <= 10
      |  AND l.qty * 1.0 < 0.2 * (SELECT SUM(i.qty) * 1.0 / COUNT(*)
      |                           FROM q121_li i
      |                           WHERE i.l_partkey = l.l_partkey)
      |GROUP BY p.p_brand
      |ORDER BY p.p_brand""".stripMargin

  /** q121: correlated scalar subquery, decorrelated by the PLANNER —
    * the third classic correlation shape after q107 (HAVING-qualified
    * join-back) and q108 (EXISTS/NOT EXISTS as semi/anti joins). The
    * analyst writes the per-row subquery above verbatim; Catalyst's
    * RewriteCorrelatedScalarSubquery must turn it into ONE per-part
    * aggregate joined back to the fact — never a per-row re-execution,
    * which at 100 TB would be a lineitem scan per lineitem row.
    * CorrelatedSubquerySpec asserts exactly that plan shape: no
    * scalar-subquery node survives optimization, and the physical plan
    * is aggregate-feeds-join. The DuckDB oracle runs the same query
    * over the same prepared columns, decorrelating with its own
    * planner — two independent decorrelations agreeing on the hash. */
  def q121CorrelatedSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice") * 1e6).cast("long").as("price_micro"))
      .createOrReplaceTempView("q121_li")
    Tables.part(spark, sfDir)
      .select("p_partkey", "p_brand", "p_size")
      .createOrReplaceTempView("q121_part")
    spark.sql(Q121Sql)
  }

  /** q126: global-threshold HAVING (TPC-H Q11 shape) — keep suppliers
    * whose revenue exceeds a fraction of TOTAL revenue. The analyst
    * form is an uncorrelated scalar subquery
    * (`HAVING sum(rev) > (SELECT sum(rev) * 0.0001 FROM lineitem)`),
    * which planners execute as a SECOND full fact scan. This engine
    * derives the total FROM the grouped aggregate it already computed
    * — a broadcast one-row join over the per-supplier sums — so the
    * fact table is scanned ONCE (plan-asserted in
    * CorrelatedSubquerySpec: exactly one lineitem scan). With q121
    * (correlated scalar) and q108 (correlated EXISTS), this closes the
    * subquery taxonomy: all three classic shapes plan without per-row
    * or per-group re-execution, and the third without even a second
    * scan. Threshold arithmetic is exact: micro-long revenue,
    * `100 * value > total` instead of a fractional multiply. */
  def q126GlobalThreshold(spark: SparkSession, sfDir: String): DataFrame = {
    val perSupp = Tables.lineitem(spark, sfDir)
      .groupBy("l_suppkey")
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1e6)
        .cast("long")).as("rev_micro"))
    val total = perSupp.agg(sum("rev_micro").as("total_micro"))
    perSupp.join(broadcast(total))
      .filter(col("rev_micro") * 100 > col("total_micro"))
      .select(col("l_suppkey"), col("rev_micro"))
      .orderBy(col("rev_micro").desc, col("l_suppkey").asc)
  }

  /** q128: normalized-rank distribution analytics — PERCENT_RANK and
    * CUME_DIST over per-customer spend within each market segment, the
    * two window ranks q35's family leaves out (both need the partition
    * SIZE, not just the running position, so the window operator must
    * buffer the frame boundary — a different execution obligation than
    * row_number/rank). The fact table reduces FIRST to per-customer
    * sums (one shuffle, |orders| → |customers| rows), the dimension
    * attaches by broadcast, and the rank windows partition by segment —
    * no global single-partition sort anywhere in the plan, which is the
    * classic global-ORDER-BY window trap at 100 TB. Ranks ship as
    * micro-longs: the (spend desc, custkey asc) order is total, and
    * (rank−1)/(n−1), k/n are single IEEE divisions both engines compute
    * identically. */
  def q128RankDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(round(col("o_totalprice") * 1e6).cast("long")).as("spend_micro"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"))
    val w = Window.partitionBy("segment")
      .orderBy(col("spend_micro").desc, col("custkey").asc)
    spend.join(Tables.dimBroadcast(cust), "custkey")
      .select(col("segment"), col("custkey"), col("spend_micro"),
        round(percent_rank().over(w) * 1e6).cast("long").as("pr_micro"),
        round(cume_dist().over(w) * 1e6).cast("long").as("cd_micro"))
      .orderBy("segment", "custkey")
  }

  /** q129: NESTED decorrelation, the TPC-H Q20 shape — "suppliers that
    * shipped more than half their all-time volume of some part in
    * 1995". The analyst's form (the oracle text, run verbatim by
    * DuckDB) nests a correlated scalar aggregate inside the HAVING of
    * an IN-subquery; executed naively that is one fact scan per
    * (supplier, part) group. This engine collapses BOTH aggregates —
    * the 1995 slice and the all-time total — into ONE pass over
    * lineitem with conditional aggregation (`sum(when(...))`, the
    * map-side-combined FILTER form), then a single semi-join into the
    * supplier dim: no re-execution, and not even a second scan where
    * the classic decorrelation (q121's aggregate-joined-back) still
    * pays one. CorrelatedSubquerySpec asserts exactly one lineitem
    * scan in the physical plan. */
  def q129NestedDecorrelation(spark: SparkSession, sfDir: String): DataFrame = {
    val qualifying = Tables.lineitem(spark, sfDir)
      .groupBy("l_suppkey", "l_partkey")
      .agg(
        sum(when(year(to_date(col("l_shipdate"))) === 1995,
          round(col("l_quantity")).cast("long")).otherwise(0L)).as("qty_1995"),
        sum(round(col("l_quantity")).cast("long")).as("qty_all"))
      .filter(col("qty_1995") * 2 > col("qty_all"))
      .select(col("l_suppkey"))
    Tables.supplier(spark, sfDir)
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  /** q130: TPC-H Q22 shape — "high-balance customers gone quiet":
    * balance above the positive-balance mean (uncorrelated scalar
    * subquery) AND no orders since 2000 (NOT EXISTS), rolled up per
    * market segment. The threshold comparison stays in exact integer
    * space — `bal_cents · n_pos > total_cents` instead of comparing
    * against a floating mean — so the boundary customer cannot flip
    * between engines on summation order. Plan shape: the scalar
    * aggregate is a one-row broadcast over the dimension (never a
    * per-row re-scan), and the NOT EXISTS is a shuffle anti-join whose
    * probe side is date-pruned BEFORE the exchange, so the anti-join
    * moves only the recent slice of orders at 100 TB. */
  def q130DormantSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    val thr = cust.filter(col("bal_cents") > 0)
      .agg(sum("bal_cents").as("total_cents"), count(lit(1)).as("n_pos"))
    val recent = Tables.orders(spark, sfDir)
      .filter(to_date(col("o_orderdate")) >= lit("2000-01-01"))
      .select(col("o_custkey"))
    cust.join(broadcast(thr))
      .filter(col("bal_cents") * col("n_pos") > col("total_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_cust"), sum("bal_cents").as("bal_cents_sum"))
      .orderBy("segment")
  }

  /** q131: FILTER-clause conditional aggregation — four differently
    * predicated metrics per return flag in ONE pass over the fact
    * table. The UNION-of-filtered-scans formulation some analysts
    * write would read the 100 TB fact once per metric; here every
    * conditional is a codegen'd `when()` inside the same partial
    * aggregate (count skips nulls, so `count(when(p, 1))` IS
    * `COUNT(*) FILTER (WHERE p)`), and the plan is one scan feeding
    * one partial/final aggregate pair — asserted in
    * CorrelatedSubquerySpec. Sums carry explicit `otherwise(0)` so an
    * empty predicate slice yields 0 in both engines (DuckDB's FILTER
    * sum is NULL on empty — the oracle wraps in COALESCE). */
  def q131FilteredAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("l_discount") > 0.05, lit(1))).as("n_hi_disc"),
        sum(when(year(to_date(col("l_shipdate"))) === 1995,
          round(col("l_quantity")).cast("long")).otherwise(0L)).as("qty_1995"),
        sum(when(col("l_tax") < 0.04,
          round(col("l_extendedprice") * 1e6).cast("long")).otherwise(0L))
          .as("rev_low_tax_micro"))
      .orderBy("l_returnflag")

  /** The q132 text — ONE recursive SQL string, two engines (the q109
    * guarantee: textual identity pins the dialect). The recursion
    * generates the month spine; the anchor/terminal dates deliberately
    * overhang the data range (orders span 1995-01…2001-08) so the
    * LEFT JOIN provably exercises gap months on BOTH ends, coalesced
    * to zero — the gap-fill contract a calendar join exists for. */
  private val Q132Sql =
    """WITH RECURSIVE cal(m) AS (
      |  SELECT DATE '1994-10-01'
      |  UNION ALL
      |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM cal WHERE m < DATE '2002-03-01'
      |),
      |rev AS (
      |  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS m,
      |         CAST(SUM(CAST(ROUND(o_totalprice*1000000.0) AS BIGINT)) AS BIGINT) AS rev_micro,
      |         COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT cal.m, COALESCE(rev.rev_micro, 0) AS rev_micro,
      |       COALESCE(rev.n_orders, 0) AS n_orders
      |FROM cal LEFT JOIN rev ON rev.m = cal.m
      |ORDER BY cal.m""".stripMargin

  /** q132: recursive CTE — Spark 4's UnionLoop operator driven through
    * the SQL surface, on the classic bounded-recursion workload: a
    * calendar month spine (anchor row + INTERVAL step until the
    * terminal date) LEFT-JOINed to monthly revenue so silent gaps in
    * the fact table surface as explicit zero rows. The recursion is
    * driver-paced but each step is a distributed plan; depth is the
    * month count (90), not the data size, so the shape is 100 TB-safe
    * — the spine is 90 rows broadcast against the aggregated (already
    * small) monthly rollup. DuckDB executes the identical text with
    * its own recursive-CTE machinery. */
  def q132RecursiveSpine(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    spark.sql(Q132Sql)
  }

  /** q133: approx-percentile accuracy contract, the q127 pattern — the
    * oracle row carries the exact cents-rounded median plus the
    * contract column as a literal TRUE; if `approx_percentile` (GK
    * summary, accuracy 10000 → rank error ≤ n/10⁴) ever drifted
    * outside ±5% of the exact value the engine would emit FALSE and
    * the row would hash-fail. This turns the sketch's error bound into
    * a scoreboard-visible guarantee (q36's envelope bounds it only in
    * a spec) while the sketch internals — which legitimately differ
    * across engines — never touch the hash. */
  def q133ApproxPercentileContract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, 0.5)").as("_exact"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("_ap"))
      .select(col("l_returnflag"),
        round(col("_exact") * 100).cast("long").as("p50_cents"),
        (abs(col("_ap") - col("_exact")) <= col("_exact") * 0.05).as("within_5pct"))
      .orderBy("l_returnflag")

  /** q136: rolling 7-day distinct users — windowed COUNT(DISTINCT),
    * the engagement metric naive SQL can only compute by re-scanning
    * the raw stream once per window (exactly what the DuckDB oracle
    * twin does). The scale shape: ONE pass reduces the stream to one
    * exact bitmap sketch per day ([[graft.functions.BitmapAgg]],
    * kilobytes per row, map-side combinable), then the 7-day range
    * window merges daily sketches by bitwise OR and popcounts — work
    * proportional to days × sketch words, never a second look at the
    * events. The window's global ordering runs over |days| rows,
    * bounded by the calendar rather than the data, so the
    * single-partition window sort that makes global windows fatal at
    * 100 TB never sees more than a few thousand kilobyte-sized rows.
    * q72 merges the same sketches per type; this is their WINDOWED
    * composition — the "sketch once, roll up forever" telemetry
    * pattern in its sliding form. */
  def q136RollingDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.BitmapDistinct._
    val maxId = bitmapUserIdUniverse(spark, sfDir)
    val daily = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day").agg(bitmapSketch(col("user_id"), maxId).as("sk"))
    val w = Window
      .orderBy(datediff(col("day"), lit("1970-01-01")))
      .rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("sks", collect_list(col("sk")).over(w))
      .select(col("day"),
        cardinality(aggregate(col("sks"),
          array_repeat(lit(0L), maxId / 64),
          (acc, x) => zip_with(acc, x, (a, b) => a.bitwiseOR(b))))
          .as("users_7d"))
      .orderBy("day")
  }

  /** q137: top-k rows per group as an AGGREGATE, not a window —
    * [[graft.functions.TopKRows]] keeps an O(k) bounded heap per group
    * with map-side partial aggregation: each task ships at most k rows
    * per group to the exchange, and merge unions heaps. The
    * `row_number() <= k` window form (the oracle's formulation) must
    * instead sort EVERY group's full row set after shuffling all of
    * it — at 100 TB that is a full-data exchange plus a per-group sort
    * for an output of 5k rows. Priority is the micro-long price in
    * double (exact to 2⁵³), ties break on the zero-padded order key so
    * the k-boundary is total-ordered in both engines. */
  def q137TopkPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 10
    val o = Tables.orders(spark, sfDir).select(
      col("o_orderpriority"), col("o_orderkey"),
      round(col("o_totalprice") * 1e6).cast("long").as("price_micro"))
    val entry = struct(
      col("price_micro").cast("double").as("_pri"),
      lpad(col("o_orderkey").cast("string"), 12, "0").as("_tb"),
      struct(col("o_orderpriority"), col("o_orderkey"), col("price_micro")).as("_row"))
    o.groupBy(col("o_orderpriority"))
      .agg(graft.functions.TopKRows.topKRows(entry, k).as("_top"))
      .select(explode(col("_top")).as("_e"))
      .select(col("_e._row.*"))
      .orderBy(col("o_orderpriority"), col("price_micro").desc,
        col("o_orderkey").asc)
  }

  /** q139: distributed triangle counting over the co-shipment graph —
    * the clustering-coefficient / community-density primitive, as the
    * EDGE-ITERATOR algorithm: wedges are never materialized. A first
    * cut (wedge equi-join + semi close) measured 69 s at sf0.1 —
    * Σdeg² ≈ 300 M wedge rows through an exchange, and degree-ordering
    * the orientation only cut it 3.5× (this graph is dense-uniform,
    * not skewed). Instead: orient each edge at its (degree, id)-lower
    * endpoint — every triangle x<y<z in that total order is found
    * exactly once, on edge (x,y), as z ∈ out(x)∩out(y) — then
    * broadcast the per-vertex out-neighbor lists (|V| rows, out-degree
    * ≤ 97 at sf0.1 vs raw degree 222) and intersect per edge with
    * `array_intersect`, exploding only ACTUAL triangles. Shuffled
    * data: the edge list once (adjacency build) and the triangle rows
    * (the output size) — never a wedge. At 100 TB the adjacency side
    * outgrows broadcast and the two joins must fall back to shuffle
    * equi-joins; the no-wedge property is what survives. That fallback
    * is a real switch, not prose: `graft.triangles.broadcast=false`
    * drops every hint and leaves the join strategy to the optimizer
    * (SqlSurfaceSpec proves the shuffle plan counts identically).
    * Since round 13 the switch has a DEFAULT that scales itself:
    * unless `graft.triangles.broadcast` pins it, the decision reads
    * the scan's size-in-bytes STATISTIC (parquet footers — metadata,
    * no job) and hints broadcast only while the input is under
    * `graft.triangles.broadcastMaxInputBytes` (default 8 GiB, sized
    * so the derived adjacency still fits executor memory with slack).
    * A 100 TB lineitem therefore falls back to shuffle equi-joins
    * automatically — the strategy flip r12 measured (148 vs 443 s at
    * sf10 single-box favors broadcast; a real cluster's memory wall
    * reverses it) is now a threshold, not an operator's guess.
    * q115/q116 share this edge derivation; closes the graph family
    * (components, ranking, baskets, triangles). */
  def q139TriangleCount(spark: SparkSession, sfDir: String): DataFrame =
    triangleCount(spark, sfDir,
      spark.conf.getOption("graft.triangles.broadcast").map(_.toBoolean)
        .getOrElse(triangleBroadcastAuto(spark, sfDir)))

  /** The automatic broadcast decision: the COMMITTED pair-store bytes
    * (the table the broadcast relations actually derive from), scaled
    * by the parquet→HashedRelation expansion factor, under the
    * configured ceiling. Exposed for the spec.
    *
    * Two lessons are baked in, both from q139-at-sf10 incidents:
    *
    *  - The DEFAULT ceiling is heap-aware — min(8 GiB, maxMemory/4) —
    *    not a fixed constant: a fixed 8 GiB green-lit a broadcast an
    *    8 g driver could not host (round 14). Runtime.maxMemory is the
    *    DRIVER's heap; a broadcast must also fit every EXECUTOR heap,
    *    which in local-cluster mode is smaller (6 GiB executors under
    *    a 48 g driver in this repo's probes) — so the bound also reads
    *    spark.executor.memory when set.
    *  - The MEASURED side must be the real broadcast input, not a scan
    *    proxy. The previous implementation read the lineitem scan
    *    statistic as "a conservative proxy (the pair table is strictly
    *    smaller)" — true in bytes, wrong in kind: 815 MB of committed
    *    snappy pair parquet at sf10 deserializes to a multi-GiB
    *    LongHashedRelation (UnsafeRow rows + neighbor arrays + the
    *    map's long[] index), and 6144 MiB executors OOM'd receiving it
    *    while the column-pruned lineitem estimate sat comfortably
    *    under the ceiling (3/3 fresh JVMs; the forced-shuffle run
    *    passed in 245 s — bench/probe_r16_q139_coldstart_sf10.json).
    *    The pair store is committed before any triangle join runs, so
    *    its exact on-disk bytes are free to read; BroadcastExpansion
    *    (8×) is the measured-at-sf10 snappy→in-memory round-up.
    *
    * Pinning graft.triangles.broadcastMaxInputBytes still overrides
    * the derived ceiling, and graft.triangles.broadcast overrides the
    * whole decision. */
  private val BroadcastExpansion = 8L

  private[graft] def triangleBroadcastAuto(spark: SparkSession,
                                           sfDir: String): Boolean = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val pairBytes = coShipPairFiles(spark, sfDir).map { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hadoopConf).getFileStatus(p).getLen
      } catch { case _: Throwable => Long.MaxValue / 1024 } // unstatable ⇒ assume huge
    }.sum
    val bytes = BigInt(pairBytes) * BroadcastExpansion
    // parse with Spark's OWN interpretation of spark.executor.memory:
    // a unitless value means MiB there (byteStringAsMb upstream), so
    // byteStringAsBytes would read '6144' as 6144 BYTES and silently
    // force the shuffle plan with a ~1.5 KB ceiling
    def parseMem(s: String): Option[Long] =
      try Some(org.apache.spark.network.util.JavaUtils.byteStringAsMb(s) << 20)
      catch { case _: Throwable => None }
    val hostMem = spark.conf.getOption("spark.executor.memory")
      .flatMap(parseMem)
      .fold(Runtime.getRuntime.maxMemory)(math.min(_, Runtime.getRuntime.maxMemory))
    val ceiling = spark.conf.getOption("graft.triangles.broadcastMaxInputBytes")
      .map(_.toLong)
      .getOrElse(math.min(8L << 30, hostMem / 4))
    bytes < BigInt(ceiling)
  }

  /** The edge-iterator with the broadcast decision explicit: hinted
    * (bench scale — adjacency is |V| rows) or unhinted (100 TB — the
    * optimizer picks shuffle equi-joins from size estimates). */
  def triangleCount(spark: SparkSession, sfDir: String,
                    broadcastAdj: Boolean): DataFrame = {
    val bc: DataFrame => DataFrame = if (broadcastAdj) broadcast else identity
    // the edge list comes from the SHARED persisted pair store (distinct
    // by construction) — the lineitem self-join is paid once per fixture
    // across q115/q116/q139, not once per triangle count. The broadcast
    // auto-decision reads the committed pair parquet's exact bytes
    // (×expansion) against the heap-aware ceiling — see
    // triangleBroadcastAuto for the sf10 OOM that retired the scan-stat
    // proxy.
    // Deliberately NOT cached (measured, optimization r18): deg/o/adj
    // are referenced 2-3 times each, but their re-derivations are light
    // aggregations over the already-committed pair store, and at bench
    // scale the duplicated branches execute CONCURRENTLY — a persist
    // serializes them behind a materialization barrier and paid a
    // consistent +0.6-0.9 s in the min-of-runs A/B (3.54 baseline vs
    // 4.1-4.5 cached). At 100 TB the same reuse is real, but the right
    // mechanism there is the committed adjacency store (q115's), not a
    // session cache.
    val e = coShipPairs(spark, sfDir).select("u", "v")
    val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = e
      .join(bc(deg.select(col("x").as("u"), col("d").as("du"))), "u")
      .join(bc(deg.select(col("x").as("v"), col("d").as("dv"))), "v")
      .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"))
    val adj = o.groupBy(col("src").as("x"))
      .agg(collect_list(col("dst")).as("nbrs"))
    o.join(bc(adj.select(col("x").as("src"), col("nbrs").as("ns"))),
        "src")
      .join(bc(adj.select(col("x").as("dst"), col("nbrs").as("nd"))),
        Seq("dst"), "left")
      .select(col("src"), col("dst"),
        explode(array_intersect(col("ns"),
          coalesce(col("nd"), array().cast("array<bigint>")))).as("z"))
      .groupBy(least(col("src"), col("dst"), col("z")).as("u"))
      .agg(count(lit(1)).as("n_tri"))
      .orderBy("u")
  }

  /** q140: audience overlap — |users(view) ∩ users(purchase)| per day
    * via bitmap-sketch ALGEBRA: the q72/q136 bitmaps support not just
    * union but intersection (bitwise AND + popcount), so overlap,
    * churn, and funnel-membership questions all answer from the same
    * per-day kilobyte sketches with ZERO additional scans — here both
    * sketches and the intersection come from ONE pass over events
    * (conditional sketch per type inside the same aggregate), where
    * the exact-SQL formulation (the oracle) needs a per-user
    * membership rollup before it can count. The sketch intersection is
    * EXACT (bounded id domain), so the oracle is plain COUNT
    * DISTINCT arithmetic. */
  def q140AudienceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.BitmapDistinct._
    val maxId = bitmapUserIdUniverse(spark, sfDir)
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        bitmapSketch(when(col("event_type") === "view", col("user_id")), maxId)
          .as("bv"),
        bitmapSketch(when(col("event_type") === "purchase", col("user_id")), maxId)
          .as("bp"))
      .select(col("day"),
        cardinality(col("bv")).as("n_view"),
        cardinality(col("bp")).as("n_purchase"),
        cardinality(zip_with(col("bv"), col("bp"),
          (a, b) => a.bitwiseAND(b))).as("n_both"))
      .orderBy("day")
  }

  /** q144: growth accounting — every month's active customers
    * decomposed into new / retained / resurrected, plus churned out of
    * the prior month (the MAU ledger: active(m) = retained(m) + new(m)
    * + resurrected(m), churned(m) = active(m−1) − retained(m)). The
    * whole decomposition rides ONE fact-scale exchange: the explicit
    * `repartition(cust)` satisfies the (cust, month) distinct, the
    * per-customer lag window, AND nothing downstream touches per-row
    * data again — Catalyst inserts no further customer-keyed shuffle
    * (plan-asserted in GrowthSpec). The naive formulation — month
    * self-joined to month−1 — shuffles the activity table twice per
    * month pair; this shuffles it once, total, because classification
    * is a per-customer sequential property (lag of the active-month
    * sequence), not a set intersection. The monthly rollup and the
    * final calendar-lag pass move one row per month (~80 rows), so the
    * single-partition window there is bounded metadata, not data.
    * Months absent from the data contribute zero actives; churn out of
    * an absent month is therefore 0 by the calendar-month guard (lag
    * must be exactly month−1 to carry actives forward). */
  def q144GrowthAccounting(spark: SparkSession, sfDir: String): DataFrame = {
    val cm = Tables.orders(spark, sfDir)
      .select(col("o_custkey").as("cust"),
        date_trunc("month", to_date(col("o_orderdate"))).cast("date").as("m"))
      .repartition(col("cust"))
      .distinct()
    val perCust = Window.partitionBy("cust").orderBy("m")
    val cls = cm.withColumn("pm", lag("m", 1).over(perCust))
      .select(col("m"),
        when(col("pm").isNull, "new")
          .when(col("pm") === add_months(col("m"), -1), "retained")
          .otherwise("resurrected").as("cls"))
    val monthly = cls.groupBy("m").agg(
      count(lit(1)).as("n_active"),
      count(when(col("cls") === "new", 1)).as("n_new"),
      count(when(col("cls") === "retained", 1)).as("n_retained"),
      count(when(col("cls") === "resurrected", 1)).as("n_resurrected"))
    val byMonth = Window.orderBy("m") // one row per month: bounded
    monthly
      .withColumn("prev_m", lag("m", 1).over(byMonth))
      .withColumn("prev_active", lag("n_active", 1).over(byMonth))
      .withColumn("n_churned",
        when(col("prev_m") === add_months(col("m"), -1),
          col("prev_active")).otherwise(lit(0L)) - col("n_retained"))
      .select("m", "n_active", "n_new", "n_retained", "n_resurrected",
        "n_churned")
      .orderBy("m")
  }

  /** q145: islands & gaps — each user's activity compressed into
    * maximal runs of consecutive active days via the row_number
    * difference trick: within a user's sorted distinct days,
    * `day − row_number()` is constant exactly along a gap-free run, so
    * run membership is a pure per-row expression over one window — no
    * self-join, no inequality join, no per-row gap probing. The entire
    * query runs on ONE exchange (plan-asserted): `repartition(user)`
    * satisfies the distinct on (user, day), the per-user window, the
    * per-run rollup on (user, run), and the per-user summary on (user)
    * — four logical regroupings, one physical shuffle, because every
    * key is a superset-or-equal of the user partitioning. At 100 TB
    * this is the difference between a streak computation that moves
    * the event log once and one that moves it four times. */
  def q145IslandsGaps(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .repartition(col("user_id"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("d")
    val runs = ud
      .withColumn("grp", datediff(col("d"), lit("2024-01-01").cast("date"))
        - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), min("d").as("run_start"))
    runs.groupBy("user_id")
      .agg(sum("len").as("n_active_days"),
        count(lit(1)).as("n_islands"),
        max("len").as("longest_streak"),
        min("run_start").as("first_day"))
      .orderBy("user_id")
  }

  /** q146: distributed skyline (pareto frontier) — the parts no other
    * part beats on BOTH axes (higher retail price AND smaller-or-equal
    * size, or equal price and strictly smaller size). The classic
    * single-machine answer is a global sort + running max — a
    * one-partition bottleneck at scale. This is the bucketed sweep
    * instead: coarse size buckets partition the sweep axis, an
    * in-bucket range-frame window computes max price over strictly
    * smaller sizes (range -1 excludes ties, range [0,0] spans them, so
    * strict-vs-equal domination is frame arithmetic, not a self-join),
    * and cross-bucket domination collapses to a prefix max over ~5
    * per-bucket maxima (bounded metadata joined back by bucket id).
    * One fact exchange on the bucket key, everything else kilobytes:
    * the same plan at 50 size values or 50 million, because the only
    * global structure is the per-bucket summary. Domination is decided
    * in exact cents (micro-long price); the DuckDB oracle answers from
    * the definition — NOT EXISTS a strictly dominating part — so the
    * sweep's frame logic is checked against an independent
    * formulation, not itself. */
  def q146Skyline(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Tables.part(spark, sfDir)
      .select(col("p_size").cast("int").as("p_size"),
        round(col("p_retailprice") * 100).cast("long").as("price_c"))
      .withColumn("bkt", expr("(p_size - 1) div 10"))
    val inBkt = Window.partitionBy("bkt").orderBy("p_size")
    val smaller = inBkt.rangeBetween(Window.unboundedPreceding, -1)
    val ties = inBkt.rangeBetween(Window.currentRow, Window.currentRow)
    val swept = parts
      .withColumn("max_smaller_in_bkt", max("price_c").over(smaller))
      .withColumn("max_same_size", max("price_c").over(ties))
    // per-bucket maxima → prefix max of all EARLIER buckets: every size
    // in an earlier bucket is strictly smaller, so its max price
    // dominates at >= (strict on size). ~5 rows; broadcast back.
    val bktMax = parts.groupBy("bkt").agg(max("price_c").as("bkt_max"))
    val byBkt = Window.orderBy("bkt") // one row per bucket: bounded
    val prefix = bktMax
      .withColumn("earlier_max",
        max("bkt_max").over(byBkt.rowsBetween(Window.unboundedPreceding, -1)))
      .select("bkt", "earlier_max")
    swept.join(broadcast(prefix), "bkt")
      .filter(col("price_c") === col("max_same_size") &&
        (col("max_smaller_in_bkt").isNull ||
          col("price_c") > col("max_smaller_in_bkt")) &&
        (col("earlier_max").isNull || col("price_c") > col("earlier_max")))
      .groupBy("p_size", "price_c")
      .agg(count(lit(1)).as("n_parts"))
      .orderBy("p_size", "price_c")
  }

  /** q147: the persisted sketch mart — "sketch once, roll up forever".
    * q136/q140 build bitmap sketches in-plan; this is the operational
    * form a 100 TB telemetry stack actually runs: ONE pass over the raw
    * events writes a daily mart of kilobyte bitmap sketches, and every
    * later rollup (here weekly exact distinct users) reads ONLY the
    * mart — ~one row per day — never the raw log again. Because bitmap
    * union is exact and associative, the weekly number from merged
    * daily sketches is bit-identical to recounting raw data, which is
    * precisely what the oracle checks (it recounts from raw events).
    * `sum_daily_distinct` rides along to make the dedup effect
    * oracle-visible: Σ daily distincts ≥ weekly distinct, with
    * equality only if no user is active on two days. The mart is
    * kilobytes per day regardless of event volume — the rollup's input
    * scales with TIME, not data. */
  private val q147Marts = Scaffold.dirs[String]

  def q147SketchRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.BitmapDistinct._
    val maxId = bitmapUserIdUniverse(spark, sfDir)
    // mart built once per source dir (a Scaffold): the mart is the
    // PERSISTED artifact, so re-invocations read it rather than
    // strewing a fresh copy per call
    val tmp = q147Marts.inDir(sfDir, "graft_q147") { d =>
      val dir = d.toString
      Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(bitmapSketch(col("user_id"), maxId).as("sk"),
          count(lit(1)).as("n_events"))
        .write.mode("overwrite").parquet(s"$dir/daily")
      dir
    }
    spark.read.parquet(s"$tmp/daily")
      .withColumn("week", date_trunc("week", col("day")).cast("date"))
      .withColumn("du", cardinality(col("sk")))
      .groupBy("week")
      .agg(count(lit(1)).as("n_days"),
        sum("n_events").as("n_events"),
        sum("du").as("sum_daily_distinct"),
        cardinality(bitmapMerge(col("sk"), maxId)).as("distinct_users"))
      .orderBy("week")
  }

  /** q148: multiset set operations — INTERSECT ALL / EXCEPT ALL with
    * bag semantics (per-key multiplicities min(m₁,m₂) and
    * max(0, m₁−m₂)), the §2.8 close-out beyond q14/q85's set-semantics
    * dedup and diff. One SQL text runs verbatim in BOTH engines (the
    * q109/q132 bridge guarantee), so what's being pinned is semantic
    * agreement on bag arithmetic, not a hand-translated reimplementation.
    * Catalyst rewrites both operators into a single shuffle on the key
    * with per-side counts and a replicate — never a sort of the union
    * or an all-pairs probe — so the plan scales like any groupBy. */
  private val Q148Sql =
    """WITH r AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
      |     a AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'),
      |     i AS (SELECT l_partkey FROM r INTERSECT ALL SELECT l_partkey FROM a),
      |     e AS (SELECT l_partkey FROM r EXCEPT ALL SELECT l_partkey FROM a)
      |SELECT 'intersect_all' AS op, COUNT(*) AS n_rows, COUNT(DISTINCT l_partkey) AS n_keys FROM i
      |UNION ALL
      |SELECT 'except_all' AS op, COUNT(*) AS n_rows, COUNT(DISTINCT l_partkey) AS n_keys FROM e
      |ORDER BY op""".stripMargin

  def q148SetOps(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    spark.sql(Q148Sql)
  }

  /** q149: exact equi-depth histogram without a global row sort. The
    * naive form — NTILE over a full orderBy — collapses 100 TB into one
    * task; the distributed form rolls rows up to (value, count) and
    * runs [[graft.operators.Packing.withRunningTotal]]'s two-phase
    * prefix sum over the DISTINCT VALUES (bin-local window cumsums plus
    * a per-bin offset table — every phase parallel, the only global
    * window over one row per bin). Each value's bucket is then pure
    * arithmetic, `⌊cum_before · B / N⌋`, with N read off the prefix sum
    * itself (max cum) as a one-row broadcast — no second scan. Bucket
    * assignment is value-granular (all rows of a tied value land
    * where the value's run starts), which is the deterministic contract
    * the DuckDB twin reproduces exactly. Output: B buckets with row
    * counts and exact [lo, hi] value bounds — the scan-pruning /
    * join-sizing statistic at 100 TB, computed with shuffles bounded by
    * DISTINCT values, not rows. */
  def q149EquiDepth(spark: SparkSession, sfDir: String): DataFrame = {
    val buckets = 10
    val vals = Tables.lineitem(spark, sfDir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      .groupBy("price_c").agg(count(lit(1)).as("cnt"))
    // the grand total rides the prefix sum's own broadcast offsets
    // frame (totalCol) — the old crossJoin(agg(max(cum))) re-derived
    // the entire scan+agg+window subtree for one number (plan audit
    // r18: 4 lineitem scans -> 1)
    val cum = graft.operators.Packing
      .withRunningTotal(vals, "price_c", "cnt", "cum",
        totalCol = Some("n_total"), materializeInput = true)
    cum
      .withColumn("bkt",
        least(lit(buckets - 1),
          expr(s"((cum - cnt) * $buckets) div n_total")).cast("int"))
      .groupBy("bkt")
      .agg(sum("cnt").as("n_rows"),
        min("price_c").as("lo"), max("price_c").as("hi"))
      .orderBy("bkt")
  }

  /** q150: interval-overlap join without an inequality join. Which
    * user activity streaks (q145's islands) overlapped a site incident
    * window (runs of the top-3 busiest days)? The naive plan is an
    * interval × interval inequality join — BroadcastNestedLoopJoin, an
    * all-pairs probe at 100 TB. The scale shape used here: intervals
    * decompose to their atomic grain (days), overlap becomes an
    * EQUI-join on the grain, and the fact side never re-explodes
    * because the user-day table IS the exploded form of the streaks —
    * each day carries its streak id from the same one-exchange window
    * pass q145 uses. The incident side (a handful of day rows) is
    * broadcast. Per-pair overlap length falls out as the matched-day
    * COUNT, which must equal the interval arithmetic
    * `least(ends) − greatest(starts) + 1` the DuckDB oracle computes —
    * two genuinely different formulations of overlap, agreeing only if
    * both the streak construction and the join are right.
    * GrowthSkylineSpec asserts the plan has no nested-loop join. */
  def q150IntervalOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val ud = ev.repartition(col("user_id")).distinct()
    val perUser = Window.partitionBy("user_id").orderBy("d")
    val streakDays = ud.withColumn("grp",
      datediff(col("d"), lit("2024-01-01").cast("date"))
        - row_number().over(perUser))
    // incidents: top-3 busiest days (ties by date), merged into runs —
    // ~30 daily rows, so the unpartitioned windows are bounded metadata
    val daily = ev.groupBy("d").agg(count(lit(1)).as("n"))
    val byLoad = Window.orderBy(col("n").desc, col("d"))
    val hot = daily.withColumn("r", row_number().over(byLoad))
      .filter(col("r") <= 3).select("d")
    val byDay = Window.orderBy("d")
    val incDays = hot.withColumn("ig",
        datediff(col("d"), lit("2024-01-01").cast("date"))
          - row_number().over(byDay))
      .withColumn("i_start", min("d").over(Window.partitionBy("ig")))
      .withColumn("i_end", max("d").over(Window.partitionBy("ig")))
      .select(col("d"), col("i_start"), col("i_end"))
    val pairs = streakDays.join(broadcast(incDays), "d")
      .groupBy("user_id", "grp", "i_start", "i_end")
      .agg(count(lit(1)).as("overlap_days"))
    pairs.groupBy("i_start", "i_end")
      .agg(countDistinct(col("user_id"), col("grp")).as("n_streaks"),
        countDistinct(col("user_id")).as("n_users"),
        max("overlap_days").as("max_overlap_days"),
        sum("overlap_days").as("sum_overlap_days"))
      .orderBy("i_start")
  }

  /** q152: the star-snowflake join classic (TPC-H Q5 shape) — revenue
    * by nation for one region-year where the supplier sits in the
    * customer's nation. Join-planning is the point: `region`, `nation`,
    * `supplier` carry explicit broadcast hints (at 100 TB they are the
    * map-side dimensions: kilobytes to ~100 MB), while
    * lineitem ⋈ orders ⋈ customer is left to the optimizer — broadcast
    * at bench scale, shuffle-on-key at 100 TB, which is exactly the
    * decision AQE should own (the hint encodes what is ALWAYS true, the
    * optimizer decides what is scale-dependent). The year filter on
    * orders and the region filter on the dim chain both apply before
    * the fact join, so the shuffled orders side is one year, not seven,
    * and the broadcast nation list is one region, not five. The
    * customer–supplier nation equality rides the join condition (the
    * snowflake twist that makes Q5 more than a star), not a
    * post-filter. GrowthSkylineSpec asserts the dims broadcast and
    * nothing degenerates to a nested loop. */
  def q152RegionalRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val region = Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, sfDir)
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val ord = Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === 1996)
      .select("o_orderkey", "o_custkey")
    val supp = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1e6)
          .cast("long").as("rev_micro"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_lines"), sum("rev_micro").as("rev_micro"))
      .orderBy("n_name")
  }

  /** q153: market share (TPC-H Q8 shape) — the fraction of a region's
    * revenue supplied by one nation, per year. TPC-H's reference text
    * scans the join twice (numerator and denominator branches); this is
    * the q131 discipline instead: ONE pass through the join with
    * conditional aggregation, share computed per year in exact integer
    * space. The ratio is ppm via pre-scaled integral division
    * (`(nr/1000 · 10⁶) div (tr/1000)`) to stay far inside Long range —
    * both engines floor the same way, so the share is bit-deterministic
    * where a double division would drift in the last ulp. Same
    * broadcast-dims / optimizer-owned-fact-joins discipline as q152. */
  def q153MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val region = Tables.region(spark, sfDir).filter(col("r_name") === "EUROPE")
    val nation = Tables.nation(spark, sfDir)
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("yr"))
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_nationkey"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1e6)
          .cast("long").as("rev_micro"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("yr")
      .agg(
        sum(when(col("s_nationkey") === 7, col("rev_micro"))
          .otherwise(lit(0L))).as("nation_rev_micro"),
        sum("rev_micro").as("total_rev_micro"))
      .withColumn("share_ppm",
        expr("((nation_rev_micro div 1000) * 1000000) div (total_rev_micro div 1000)"))
      .orderBy("yr")
  }

  /** q159: min-cost supplier per part (TPC-H Q2 shape) — the
    * correlated-min classic where the SUBQUERY ITSELF is a join chain:
    * "suppliers in EUROPE offering part p at the minimum European
    * cost". The reference SQL (the oracle text) repeats the
    * partsupp⋈supplier⋈nation⋈region tree inside the correlated
    * subquery; the engine never duplicates it — the European offer
    * frame is built ONCE (dims broadcast into the offer scan), the
    * per-part minimum is a window over that same frame, and the
    * equality filter rides the window output, so one exchange on
    * `pk` serves both the min and the selection. Offers derive from
    * lineitem (this schema's partsupp): per (part, supplier) minimum
    * observed price in exact cents. Ties keep every minimal supplier,
    * exactly like the reference text. Closes the subquery taxonomy's
    * last cell: correlation onto a JOINED subquery (q121: single
    * table; q126: uncorrelated global; q129: nested HAVING; q130:
    * scalar + NOT EXISTS). */
  def q159MinCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val euroSupp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)
          .filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name")
    // the broadcast supplier filter cuts lineitem to European offers
    // BEFORE the first shuffle, the (pk, sk) aggregate ships map-side
    // combined rows, and the window's pk exchange moves only the
    // aggregated offer table — two small exchanges instead of the
    // reference text's duplicated subquery join tree (plan-asserted)
    val offers = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .join(broadcast(euroSupp), col("sk") === col("s_suppkey"))
      .groupBy("pk", "sk", "s_name")
      .agg(min(col("cents")).as("cost_cents"))
    // the p_size join drops whole pk groups, never individual offers,
    // so it is sound BELOW the per-pk window — the window exchange
    // carries only qualifying parts' offers
    offers
      .join(Tables.part(spark, sfDir).filter(col("p_size") <= 10)
          .select("p_partkey"),
        col("pk") === col("p_partkey"))
      .withColumn("min_cents",
        min(col("cost_cents")).over(Window.partitionBy("pk")))
      .filter(col("cost_cents") === col("min_cents"))
      .select(col("p_partkey"), col("s_name"), col("cost_cents"))
      .orderBy("p_partkey", "s_name")
  }

  /** q160: sole-problem-supplier count (TPC-H Q21 shape) — the
    * benchmark's hardest query: for finalized orders, count per
    * supplier the orders where that supplier flagged a problem line
    * (this schema's lateness stand-in: `l_returnflag = 'R'`; ref
    * etl.py has no commit/receipt dates) while ANOTHER supplier was
    * also on the order (EXISTS) and NO other supplier flagged one
    * (NOT EXISTS). The analyst text (the oracle, run verbatim) scans
    * lineitem THREE times — the base join plus one per quantified
    * subquery — and the classic plans execute it as a semi-join
    * stacked on an anti-join, two extra fact-scale shuffles.
    *
    * q108's oracle runs this taxonomy cell the way a planner
    * DECORRELATES it — semi + anti self-joins (its NOT EXISTS
    * correlates on an INEQUALITY, ship2 > ship, which since r19 the
    * engine answers as an order-max equality in one grouped pass).
    * Here both quantifiers correlate on equality alone, which
    * unlocks the strictly stronger rewrite a planner cannot always
    * reach: both are statements about the ORDER's supplier roster, so
    * this engine answers them from ONE grouped pass:
    * per (orderkey, suppkey) count the problem lines; per orderkey
    * count suppliers, problem suppliers, and the problem-line total —
    * then `n_supps > 1 AND n_prob_supps = 1` IS the EXISTS/NOT-EXISTS
    * pair, and the sole problem supplier plus their line count fall
    * out of the same row (`max(when(prob, sk))` is exact because the
    * filter pins exactly one problem supplier). One lineitem scan
    * (plan-asserted), two cascaded map-side-combinable aggregations
    * whose second input is |distinct pairs|, one orderkey join to the
    * status filter, one broadcast of the supplier dim. At 100 TB the
    * text's formulation shuffles the fact three times; this shuffles
    * it once. numwait counts qualifying problem LINES, exactly like
    * the text's COUNT(*) over its join. */
  def q160SoleProblemSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        (col("l_returnflag") === "R").cast("long").as("prob"))
      .groupBy("ok", "sk")
      .agg(sum("prob").as("prob_lines"))
    val orders = pairs
      .groupBy("ok")
      .agg(count(lit(1)).as("n_supps"),
        sum((col("prob_lines") > 0).cast("long")).as("n_prob_supps"),
        max(when(col("prob_lines") > 0, col("sk"))).as("sole_sk"),
        sum(when(col("prob_lines") > 0, col("prob_lines"))
          .otherwise(0L)).as("numwait_lines"))
      .filter(col("n_supps") > 1 && col("n_prob_supps") === 1)
    // status filter joins on the orderkey the aggregate already
    // produced; at bench SF the optimizer broadcasts the filtered
    // orders side, at 100 TB AQE keeps it a shuffle join on `ok`
    orders
      .join(Tables.orders(spark, sfDir)
          .filter(col("o_orderstatus") === "F").select("o_orderkey"),
        col("ok") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, sfDir)
          .select(col("s_suppkey"), col("s_name"))),
        col("sole_sk") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(sum("numwait_lines").as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** q161: runtime bloom-filter join pushdown — Catalyst's
    * InjectRuntimeFilter, the OPTIMIZER-NATIVE form of the semi-join
    * reduction q78 hand-builds with this engine's own bloom sketch
    * (q78 proves the mechanism; this query proves the engine
    * configuration that makes Catalyst do it automatically): a
    * selective equality filter on the orders side plants a bloom
    * filter of the surviving orderkeys as a subquery on the LINEITEM
    * side, so fact rows that cannot join are dropped at the scan —
    * BEFORE the fact shuffle — instead of after it. The join is
    * hint-pinned to sort-merge because that is the 100 TB shape the
    * rule exists for: when the filtered build side no longer
    * broadcasts, the bloom is what keeps the probe-side exchange from
    * carrying the 97% of rows the join will discard. At bench SF the
    * optimizer would happily broadcast and the filter changes nothing
    * — RuntimeFilterSpec asserts the `might_contain` subquery is in
    * the optimized plan and that both paths (bloom-pruned shuffle
    * join, plain broadcast join) return identical results, so the
    * reduction is provably a pure optimization.
    *
    * The runtime-filter thresholds are session confs, so the query
    * builds on a CLONED session (`newSession`: shared context and
    * catalog, private conf) — the tuned thresholds cannot leak into
    * other queries' plans in the same JVM (the bench-isolation lesson
    * from round 8 applied to confs, not just caches). */
  def q161RuntimeFilterJoin(spark0: SparkSession, sfDir: String): DataFrame = {
    val spark = spark0.newSession()
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // the rule only sees "benefit" when the creation side will NOT
    // broadcast (at bench SF everything broadcasts; at 100 TB nothing
    // does) — turning auto-broadcast off on the CLONE reproduces the
    // at-scale planning condition the rule exists for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // fire on any probe scan (default 10 GiB: tuned for real clusters,
    // never reachable at bench SF — sf0.001's whole fact file is under
    // 1 MiB); keep the build-side cap generous — it gates on the
    // filtered orders ESTIMATE, not the file size
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64MB")
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"),
        microLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev_micro"))
      .join(urgent.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n_lines"), sum("rev_micro").as("rev_micro"))
      .orderBy("month")
  }

  /** q162: global total-order rank — the terasort shape. A global
    * ORDER BY at 100 TB must never become a single-partition sort or a
    * partition-less window (the classic trap: `row_number() OVER
    * (ORDER BY …)` plans an Exchange SinglePartition and one executor
    * sorts the world). The scalable form is exactly what
    * `RangePartitioner` + per-partition offsets give: sample the key
    * distribution, range-partition into disjoint, ORDERED key ranges
    * (`repartitionByRange` — parallel sampled exchange), sort within
    * each partition, then assign ranks as partition-offset + local
    * position. The offsets need only the per-partition COUNTS — a
    * count job over already-materialized blocks — and the local
    * positions are a per-partition integer walk: `zipWithIndex`, the
    * one genuinely per-partition-imperative step (this is how Spark's
    * own `RDD.zipWithIndex` terasort lineage does it; no data moves,
    * no partition sees another). Rank is repartition-invariant: the
    * (price desc, orderkey) order is TOTAL, so boundary placement
    * cannot change any rank. GlobalRankSpec asserts the plan carries
    * `rangepartitioning` and no SinglePartition exchange. */
  def q162GlobalRank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sorted = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").cast("long").as("ok"),
        microLong(col("o_totalprice")).as("price_micro"))
      .repartitionByRange(col("price_micro").desc, col("ok").asc)
      .sortWithinPartitions(col("price_micro").desc, col("ok").asc)
    // zipWithIndex runs TWO jobs over its parent (per-partition counts,
    // then the indexed pass) — cut lineage so the range sort runs once
    // and the second job walks materialized blocks
    graft.operators.Lineage.truncate(sorted).as[(Long, Long)]
      .rdd.zipWithIndex
      .map { case ((ok, price), i) => (i + 1L, ok, price) }
      .toDF("rnk", "o_orderkey", "price_micro")
  }

  /** q154: k-anonymity release — the privacy-preserving publication
    * counterpart to q92's redaction and q151's deletion: publish
    * per-(segment, nation) customer counts only where the group is
    * large enough to hide an individual (k=10); smaller groups collapse
    * into a single suppressed bucket whose total is published but whose
    * quasi-identifiers are not. One aggregation over the table, then a
    * metadata-scale split on the group size — suppression cost does not
    * depend on data volume, only on group cardinality. The suppressed
    * bucket is emitted ALWAYS (zero when nothing is small), so the
    * result schema and row set are stable across scale factors — at
    * sf0.1 every group clears k and the bucket reports 0; at sf0.001
    * nearly everything is suppressed; the oracle reproduces both ends
    * from the same rule. */
  def q154KAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 10L
    val groups = Tables.customer(spark, sfDir)
      .groupBy(col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("n_customers"))
    val released = groups.filter(col("n_customers") >= k)
    val suppressed = groups.filter(col("n_customers") < k)
      .agg(coalesce(sum("n_customers"), lit(0L)).as("n_customers"))
      .select(lit("*").as("segment"), lit(-1L).as("nation"),
        col("n_customers"))
    released.unionByName(suppressed).orderBy("segment", "nation")
  }

  /** q115: PageRank over the part co-shipment graph (parts are linked
    * when they appear in the same order), five synchronous iterations
    * in EXACT fixed-point arithmetic: ranks are micro-longs, each
    * node's contribution is `rank div degree` (floor), and the damping
    * update is `150000 + (850000 · Σcontrib) div 1000000` — integer
    * sums are order-independent, so the DuckDB twin (the same five
    * steps unrolled as CTEs) is bit-exact where double PageRank would
    * drift with aggregation order. Per iteration: ONE join of the edge
    * list to the compact rank table + one aggregation — the classic
    * distributed PageRank step; `Lineage.truncate` cuts lineage so
    * plan depth stays O(1) in the iteration count (the q48/q59
    * discipline) — localCheckpoint for the local bench, reliable
    * `checkpoint()` under `graft.checkpoint.reliable=true` so an
    * executor loss mid-iteration doesn't fail the job at 100 TB. Edges are DISTINCT pairs, so hot co-shipments don't
    * multi-count; every node has degree ≥ 1 by construction (no
    * dangling-mass term needed). */
  /** q115's adjacency, persisted: the part co-shipment adjacency list
    * is DETERMINISTIC per fixture, and its derivation (lineitem
    * self-join + collect_set — ~|E| intermediate rows) dominated the
    * query's cold start (first-trial sf10 multi-JVM 111 s vs 65 s
    * steady state, round 14). A deterministic derived table that every
    * run rebuilds is exactly what a table store is for: build it ONCE,
    * commit it as a [[graft.sources.TableStore]] version fingerprinted
    * by the lineitem file set (paths + sizes), and read the committed
    * parquet back everywhere else — including a FRESH JVM pointed at
    * the same store via `graft.q115.adjacencyDir` (unset ⇒ a
    * run-scoped TempDirs store, which still amortizes the build across
    * bench trials within one JVM). A fingerprint mismatch — other
    * fixture at the same dir, regenerated files — rebuilds and commits
    * the next version instead of serving stale adjacency; the pointer
    * flip is atomic, so a reader never sees a half-written store.
    * Returns the committed data-file paths (memoized per store+fixture
    * so repeat calls skip even the pointer read). */
  /** The SHARED co-shipment pair table: one row per unordered item
    * pair {u < v} sharing at least one order, with its co-occurrence
    * count n_ab — the fact-table self-join q115 (PageRank edges), q116
    * (market baskets), and q139 (triangles) each re-derived every run
    * until round 16. Persisted once per lineitem fingerprint via
    * [[graft.sources.DerivedStore]] (conf root `graft.coship.pairsDir`,
    * scoped per fixture; unset = run-scoped temp store that still
    * amortizes across bench trials in one JVM). Each consumer's view is
    * a projection: q139 drops n_ab (the pairs are distinct by
    * construction), q116 keeps it, q115 unions both directions and
    * re-aggregates to adjacency lists. The self-join is the single
    * most expensive derivation in the graph family — at 100 TB it is
    * paid once per source version, exactly like a materialized view. */
  private[graft] def coShipPairFiles(spark: SparkSession,
                                     sfDir: String): Seq[String] = {
    import graft.sources.DerivedStore
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
    val storeDir = DerivedStore.storeDirFor(spark, "graft.coship.pairsDir",
      "coship_pairs", sfDir)
    // the derivation tag versions the LOGIC alongside the input: a
    // changed build query must not serve a previous code version's rows
    val fp = DerivedStore.fingerprint(spark, li) + ":coship_pairs_v1"
    DerivedStore.filesFor(spark, storeDir, fp) { dataDir =>
      val d = li.distinct()
      d.as("a").join(d.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .agg(count(lit(1)).as("n_ab"))
        .write.mode("overwrite").parquet(dataDir)
    }
  }

  private[graft] def coShipPairs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(coShipPairFiles(spark, sfDir): _*)

  /** q115's adjacency-list table (u, vs = out-neighbor set), derived
    * from the shared pair store above — the union of both directions
    * re-aggregated — and persisted as ITS OWN DerivedStore
    * (`graft.q115.adjacencyDir`): PageRank re-reads the adjacency
    * every one of its 5 iterations, so the |V|-row collect_set form is
    * worth its own committed table rather than a per-run reshape of
    * the |E|-row pairs. Fingerprint-guarded like the pair store; a
    * regenerated fixture rebuilds both. */
  private[graft] def q115AdjacencyFiles(spark: SparkSession,
                                        sfDir: String): Seq[String] = {
    import graft.sources.DerivedStore
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
    val storeDir = DerivedStore.storeDirFor(spark, "graft.q115.adjacencyDir",
      "q115_adj", sfDir)
    val fp = DerivedStore.fingerprint(spark, li) + ":adjacency_v2"
    DerivedStore.filesFor(spark, storeDir, fp) { dataDir =>
      val pairs = coShipPairs(spark, sfDir)
      pairs.select(col("u"), col("v"))
        .unionAll(pairs.select(col("v").as("u"), col("u").as("v")))
        .groupBy("u").agg(collect_set(col("v")).as("vs"))
        .write.mode("overwrite").parquet(dataDir)
    }
  }

  /** Loop partition count for q115's iterations, derived from the
    * committed adjacency parquet's BYTES — never from the core count
    * (optimization r19, guide §2). The iteration loop runs 5 eager
    * jobs (one localCheckpoint barrier each); every stage in them has
    * `shuffle.partitions` tasks, so a partition count inherited from
    * `local[32]` puts ~20 barrier-synchronized 32-task stages under a
    * few MB of data and the query gets SLOWER with more cores (driver
    * r18 scaling: 18.35 s at 32c vs ~2.8 s at 8c on identical code —
    * the inverse of scale-safe). Sizing from data instead: one loop
    * partition per ~16 MiB of adjacency parquet (~128 MiB in-memory at
    * the 8x parquet→UnsafeRow expansion measured on the pair store),
    * floor 1, ceiling 4x the runtime's parallelism (past that, more
    * partitions buy no parallelism the executors can use — they only
    * re-grow the barrier cost this rule exists to remove). sf0.1
    * lands at 1; a 100 TB adjacency saturates the ceiling, which grows
    * with the cluster. `graft.q115.loopPartitions` pins it. */
  private[graft] def q115LoopPartitionsAuto(adjBytes: Long,
                                            parallelism: Int): Int = {
    val byData = adjBytes >> 24 // one partition per 16 MiB of parquet
    math.max(1L, math.min(byData, 4L * parallelism)).toInt
  }

  def q115PageRank(spark: SparkSession, sfDir: String): DataFrame = {
    // The graph is cached in ADJACENCY-LIST form — one row per node
    // with its out-neighbor set — not as an edge list: same longs, but
    // |V| UnsafeRow headers instead of |E| (the sf10 probe measured
    // the edge-list form hitting the storage pool's ceiling from the
    // first iteration; row overhead was ~40% of that footprint), the
    // out-degree comes free as size(vs), and collect_set dedupes
    // in-aggregate so the build is ONE shuffle, not distinct + groupBy.
    // Set order is nondeterministic but nothing downstream reads it:
    // deg is a size, contributions explode into an order-independent
    // integer sum. The adjacency itself comes from the fingerprinted
    // store above (built once per fixture, read back thereafter — the
    // round-14 cold-start fix), is partitioned by its join key ONCE,
    // before the lineage cut, and the cut PRESERVES that partitioning
    // (truncateKeepPartitioning) — so every iteration's adj⋈rank join
    // reads the checkpointed blocks in place and shuffles only the
    // COMPACT rank table. At 100 TB the graph is the dominant
    // relation; re-exchanging it per iteration would multiply the
    // job's shuffle volume by the round count (and did, until the
    // partitioning survived the cut — see Lineage.truncateKeepPartitioning).
    // The per-iteration gather (groupBy node over exploded
    // contributions) still moves ~|E| rows — inherent to scatter-
    // gather PageRank; on N executors that is |E|/N each.
    // Loop parallelism is sized from the adjacency store's BYTES (see
    // q115LoopPartitionsAuto), and shuffle.partitions is pinned to it
    // for the eager iteration jobs that run inside this call — the
    // contribution gather (groupBy node) and both loop joins then plan
    // data-sized exchanges instead of core-count-sized ones. The conf
    // is restored before returning; only the final join/orderBy (lazy,
    // planned at the caller's action) sees the session default, and
    // its inputs are already co-partitioned at loopParts.
    val adjFiles = q115AdjacencyFiles(spark, sfDir)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val adjBytes = adjFiles.map { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hadoopConf).getFileStatus(p).getLen
      } catch { case _: Throwable => Long.MaxValue >> 20 } // unstatable ⇒ huge
    }.sum
    val loopParts = spark.conf.getOption("graft.q115.loopPartitions")
      .map(_.toInt)
      .getOrElse(q115LoopPartitionsAuto(adjBytes,
        spark.sparkContext.defaultParallelism))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    try {
    val adj = spark.read
      .parquet(adjFiles: _*)
      .repartition(loopParts, col("u"))
      .transform(graft.operators.Lineage.truncateKeepPartitioning)
    // The rank table is SLIM — (node, rank_micro) only. deg = size(vs)
    // is read off the adjacency row it already travels with inside the
    // scatter, and the output deg re-derives from the cached adjacency
    // at the end, so the per-iteration state the loop exchanges and
    // checkpoints is 1/3 smaller. Both loop joins carry SHUFFLE_HASH
    // hints building on the |V|-sized side: without them Spark plans
    // sort-merge and re-SORTS the cached adjacency — |V| rows dragging
    // ~|E| array cells — TWICE per iteration (sorts the r12 plan paid;
    // the round-13 sf1 probe measured the hints + slim state at
    // 13.0 -> 9.4 s). rank is cut with truncateKeepPartitioning, so
    // its hash(node) layout survives each round and the joins against
    // the node-partitioned sides run exchange-free; project aliases
    // (node <-> u) preserve the partitioning attribution.
    val nodes = adj.select(col("u").as("node"))
    var rank = nodes.select(col("node"), lit(1000000L).as("rank_micro"))
      .transform(graft.operators.Lineage.truncateKeepPartitioning)
    // The per-iteration cut STAYS (measured, optimization r19):
    // batching it to every 2nd iteration was implemented and re-probed
    // — loop5 went 1.5 → 1.8-2.3 s at both core counts (the un-cut
    // iterations double each cut job's plan and exchange count, which
    // costs more than the ~0.3 s barrier it saves) — so it was backed
    // out. The real fix for the 32c pathology is the data-sized
    // loopParts above: with it the loop is core-count-flat
    // (bench/probe_r19_q115.json: steady-state loop5 ≈ 1.5 s at BOTH
    // 8 and 32 cores vs 18.35-at-32c/2.8-at-8c before).
    for (_ <- 1 to 5) {
      val contrib = adj
        .join(rank.select(col("node").as("u"), col("rank_micro"))
          .hint("SHUFFLE_HASH"), "u")
        .select(explode(col("vs")).as("node"),
          expr("rank_micro div size(vs)").as("c"))
        .groupBy("node").agg(sum("c").as("sumc"))
      rank = nodes
        .join(contrib.hint("SHUFFLE_HASH"), Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + expr("(850000 * coalesce(sumc, 0)) div 1000000"))
            .as("rank_micro"))
        .transform(graft.operators.Lineage.truncateKeepPartitioning)
    }
    adj.select(col("u").as("node"), size(col("vs")).as("deg"))
      .join(rank.hint("SHUFFLE_HASH"), "node")
      .select(col("node").as("l_partkey"), col("deg"), col("rank_micro"))
      .orderBy("l_partkey")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** The q115 oracle: the identical five fixed-point steps unrolled as
    * CTEs (generated, like the simhash SQL, so Spark and SQL can't
    * drift apart on the update rule). */
  private val Q115Sql: String = {
    val steps = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT d.u AS node, d.deg,
         |         150000 + (850000 * COALESCE(c.sumc, 0)) // 1000000 AS rank_micro
         |  FROM deg d LEFT JOIN (
         |    SELECT e.v AS node, SUM(r.rank_micro // r.deg) AS sumc
         |    FROM edges e JOIN r${i - 1} r ON e.u = r.node
         |    GROUP BY e.v) c ON c.node = d.u)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |deg AS (
       |  SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
       |r0 AS (
       |  SELECT u AS node, deg, CAST(1000000 AS BIGINT) AS rank_micro FROM deg),
       |$steps
       |SELECT node AS l_partkey, deg, CAST(rank_micro AS BIGINT) AS rank_micro
       |FROM r5 ORDER BY l_partkey""".stripMargin
  }

  /** q116: market-basket co-occurrence — item pairs sharing an order,
    * with exact integer lift (`n_ab · N_orders · 10⁶ div (n_a · n_b)`).
    * The pair explosion is bounded by the per-order line count (~4
    * lines → ≤ 6 pairs per order), which is what keeps basket analysis
    * tractable at 100 TB: the self-join is equi on the order key and
    * per-key quadratic only in that small width (the q108 argument);
    * item-frequency sides are broadcast-sized aggregates. Top 25 pairs
    * by support with deterministic tiebreaks. */
  def q116MarketBasket(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct()
    val nOrders = li.select("l_orderkey").distinct().count()
    val itemN = li.groupBy("l_partkey").agg(count(lit(1)).as("n_item"))
    // support counts come from the shared persisted pair store — the
    // per-order-quadratic self-join is the build, paid once per fixture;
    // the single-item sides (itemN, nOrders) stay one cheap scan each
    val pairs = coShipPairs(spark, sfDir)
      .select(col("u").as("item_a"), col("v").as("item_b"), col("n_ab"))
    pairs
      .join(Tables.dimBroadcast(itemN.select(col("l_partkey").as("item_a"),
        col("n_item").as("n_a"))), "item_a")
      .join(Tables.dimBroadcast(itemN.select(col("l_partkey").as("item_b"),
        col("n_item").as("n_b"))), "item_b")
      .withColumn("lift_micro",
        expr(s"(n_ab * ${nOrders}L * 1000000L) div (n_a * n_b)"))
      .select("item_a", "item_b", "n_ab", "n_a", "n_b", "lift_micro")
      .orderBy(col("n_ab").desc, col("item_a").asc, col("item_b").asc)
      .limit(25)
  }

  /** q118: per-ticker OLS price trend — the regression-by-aggregation
    * shape: ONE pass collects (n, Σx, Σy, Σxy, Σx²) per group
    * (map-side partials, one shuffle), the slope closes over them.
    * slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²). Per-row products fit
    * BIGINT (x ≤ ~10³ day index, y milli-scaled ≤ ~10⁹), but the sums
    * and their cross products do NOT once groups grow: at sf1 the sf1
    * probe hit `n·Σxy ≈ 6·10¹⁹ > Long.Max` and ANSI mode rightly
    * refused. So the moments are summed and combined in DECIMAL(38,0)
    * — Spark's 128-bit decimal, headroom through ~10¹² rows/group —
    * mirrored by HUGEINT (int128) in the DuckDB oracle. The nano-scaled
    * quotient is the exact two-step `q·10⁹ + (r·10⁹) div den` on the
    * |numerator| with the sign reapplied — the quotient and remainder
    * terms re-enter BIGINT range by construction, and the non-negative
    * division sidesteps the Spark-`div`-truncates vs DuckDB-`//`-floors
    * sign disagreement. This is how distributed ML fits anything linear
    * at 100 TB: 128-bit sufficient statistics by aggregation, never a
    * row-wise solver. */
  def q118TrendSlope(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    Tables.events(spark, sfDir)
      .select(col("event_type").as("ticker"),
        datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("x"),
        round(col("value") * 1e3).cast("long").as("y_milli"))
      .groupBy("ticker")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"),
        sum(col("y_milli").cast(d38)).as("sy"),
        sum((col("x") * col("y_milli")).cast(d38)).as("sxy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"))
      .withColumn("num",
        col("n").cast(d38) * col("sxy") - col("sx") * col("sy"))
      .withColumn("den",
        col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope_nano",
        expr("""CASE WHEN num < 0 THEN -1 ELSE 1 END *
               |((abs(num) div den) * 1000000000L +
               | ((abs(num) % den) * 1000000000L) div den)""".stripMargin))
      .select("ticker", "n", "slope_nano")
      .orderBy("ticker")
  }

  /** ONE SQL text, two engines: q109 runs this string verbatim through
    * `spark.sql` AND hands the very same string to the DuckDB oracle —
    * the SQL-bridge guarantee is textual identity, so the dialect
    * subset used here (EXTRACT, window RANK, CTEs, explicit BIGINT
    * casts) is pinned by construction. Micro-long revenue keeps the
    * SUM order-independent as everywhere else. */
  private val Q109Sql =
    """WITH m AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) AS BIGINT) AS y,
      |         CAST(EXTRACT(MONTH FROM CAST(l_shipdate AS DATE)) AS BIGINT) AS mo,
      |         CAST(ROUND(l_extendedprice*(1.0-l_discount)*1000000.0) AS BIGINT) AS rm
      |  FROM lineitem),
      |g AS (
      |  SELECT flag, y, mo, COUNT(*) AS n, CAST(SUM(rm) AS BIGINT) AS rev_micro
      |  FROM m GROUP BY flag, y, mo)
      |SELECT flag, y, mo, n, rev_micro,
      |       CAST(RANK() OVER (PARTITION BY flag ORDER BY rev_micro DESC) AS BIGINT) AS rnk
      |FROM g
      |ORDER BY flag, y, mo""".stripMargin

  /** q109: the SQL→DataFrame bridge, proven end-to-end — the reference
    * "disappears" its SQL layer into pandas (SURVEY S7); here the
    * declarative text IS the program: registered temp view, one
    * `spark.sql` call, Catalyst plans it like any DataFrame query
    * (same pushdown/partial-agg/window machinery), and the DuckDB
    * oracle executes the IDENTICAL string. */
  def q109SqlBridge(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    spark.sql(Q109Sql)
  }

  val oracle: Map[String, String] = Map(
    "q109_sql_bridge" -> Q109Sql,

    "q115_pagerank" -> Q115Sql,

    // the recursive text is shared verbatim — see Q132Sql's scaladoc
    "q132_recursive_spine" -> Q132Sql,

    // the per-window re-scan formulation the sketch pipeline avoids —
    // see q136's scaladoc
    "q136_rolling_distinct" ->
      """WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |r AS (SELECT d.day, COUNT(DISTINCT e.user_id) AS users_7d
        |      FROM d JOIN events e
        |        ON CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day
        |      GROUP BY d.day)
        |SELECT day, users_7d FROM r ORDER BY day""".stripMargin,

    "q139_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |      FROM li a JOIN li b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        |SELECT e1.u, COUNT(*) AS n_tri
        |FROM e e1 JOIN e e2 ON e2.u = e1.v
        |JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        |GROUP BY e1.u ORDER BY e1.u""".stripMargin,

    // the exact formulation needs a per-(day,user) membership rollup
    // BEFORE it can count — the sketch algebra answers from the same
    // one-pass bitmaps; see q140's scaladoc
    "q140_audience_overlap" ->
      """WITH u AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id,
        |         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
        |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hp
        |  FROM events GROUP BY 1, 2)
        |SELECT day, CAST(SUM(hv) AS BIGINT) AS n_view,
        |       CAST(SUM(hp) AS BIGINT) AS n_purchase,
        |       CAST(SUM(hv * hp) AS BIGINT) AS n_both
        |FROM u GROUP BY day ORDER BY day""".stripMargin,

    "q144_growth_accounting" ->
      """WITH cm AS (
        |  SELECT DISTINCT o_custkey AS cust,
        |         date_trunc('month', CAST(o_orderdate AS DATE)) AS m
        |  FROM orders),
        |x AS (
        |  SELECT m, lag(m) OVER (PARTITION BY cust ORDER BY m) AS pm FROM cm),
        |mo AS (
        |  SELECT m,
        |    COUNT(*) AS n_active,
        |    COUNT(CASE WHEN pm IS NULL THEN 1 END) AS n_new,
        |    COUNT(CASE WHEN pm = m - INTERVAL 1 MONTH THEN 1 END) AS n_retained,
        |    COUNT(CASE WHEN pm IS NOT NULL AND pm < m - INTERVAL 1 MONTH THEN 1 END) AS n_resurrected
        |  FROM x GROUP BY m)
        |SELECT CAST(m AS DATE) AS m, n_active, n_new, n_retained, n_resurrected,
        |  CAST(COALESCE(CASE WHEN lag(m) OVER (ORDER BY m) = m - INTERVAL 1 MONTH
        |       THEN lag(n_active) OVER (ORDER BY m) ELSE 0 END, 0) - n_retained AS BIGINT) AS n_churned
        |FROM mo ORDER BY m""".stripMargin,

    "q145_islands_gaps" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |r AS (
        |  SELECT user_id, d,
        |    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
        |  FROM ud),
        |runs AS (
        |  SELECT user_id, grp, COUNT(*) AS len, MIN(d) AS run_start
        |  FROM r GROUP BY user_id, grp)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  COUNT(*) AS n_islands, CAST(MAX(len) AS BIGINT) AS longest_streak,
        |  MIN(run_start) AS first_day
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the oracle answers the skyline from the DEFINITION (no strictly
    // dominating part exists), independent of the bucketed sweep
    "q146_skyline" ->
      """WITH p AS (
        |  SELECT p_size, CAST(ROUND(p_retailprice*100) AS BIGINT) AS price_c
        |  FROM part)
        |SELECT p_size, price_c, COUNT(*) AS n_parts
        |FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.p_size <= a.p_size AND b.price_c >= a.price_c
        |    AND (b.p_size < a.p_size OR b.price_c > a.price_c))
        |GROUP BY p_size, price_c ORDER BY p_size, price_c""".stripMargin,

    // the oracle recounts weekly distincts from the RAW events — a
    // hash match proves merged daily sketches lose nothing
    "q147_sketch_rollup" ->
      """WITH base AS (SELECT date_trunc('week', CAST(ts AS DATE)) AS week,
        |                     CAST(ts AS DATE) AS day, user_id FROM events),
        |wk AS (SELECT week, COUNT(DISTINCT user_id) AS distinct_users,
        |              COUNT(*) AS n_events, COUNT(DISTINCT day) AS n_days
        |       FROM base GROUP BY week),
        |dy AS (SELECT week, day, COUNT(DISTINCT user_id) AS du FROM base GROUP BY week, day),
        |ds AS (SELECT week, CAST(SUM(du) AS BIGINT) AS sum_daily_distinct FROM dy GROUP BY week)
        |SELECT CAST(wk.week AS DATE) AS week, n_days, n_events, sum_daily_distinct, distinct_users
        |FROM wk JOIN ds USING (week) ORDER BY week""".stripMargin,

    // one text, both engines — the q109 verbatim-bridge guarantee
    "q148_set_ops" -> Q148Sql,

    "q149_equi_depth" ->
      """WITH v AS (SELECT CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_c, COUNT(*) AS cnt
        |           FROM lineitem GROUP BY 1),
        |c AS (SELECT price_c, cnt, SUM(cnt) OVER (ORDER BY price_c) AS cum FROM v),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM v)
        |SELECT CAST(LEAST(9, ((cum - cnt) * 10) // n_total) AS INT) AS bkt,
        |       CAST(SUM(cnt) AS BIGINT) AS n_rows, MIN(price_c) AS lo, MAX(price_c) AS hi
        |FROM c, t GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle joins INTERVALS with an inequality predicate and
    // interval arithmetic; the engine counts matched days — agreement
    // checks both the streak construction and the overlap join
    "q150_interval_overlap" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |s AS (SELECT user_id, d,
        |        d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
        |      FROM ud),
        |streaks AS (SELECT user_id, grp, MIN(d) AS s_start, MAX(d) AS s_end
        |            FROM s GROUP BY user_id, grp),
        |daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events GROUP BY 1),
        |hot AS (SELECT d FROM (SELECT d, row_number() OVER (ORDER BY n DESC, d) AS r FROM daily) WHERE r <= 3),
        |ih AS (SELECT d, d - CAST(row_number() OVER (ORDER BY d) AS INTEGER) AS ig FROM hot),
        |inc AS (SELECT MIN(d) AS i_start, MAX(d) AS i_end FROM ih GROUP BY ig),
        |p AS (SELECT st.user_id, st.grp, i.i_start, i.i_end,
        |        (LEAST(st.s_end, i.i_end) - GREATEST(st.s_start, i.i_start) + 1) AS overlap_days
        |      FROM streaks st JOIN inc i
        |        ON st.s_start <= i.i_end AND i.i_start <= st.s_end)
        |SELECT i_start, i_end, COUNT(*) AS n_streaks,
        |       COUNT(DISTINCT user_id) AS n_users,
        |       CAST(MAX(overlap_days) AS BIGINT) AS max_overlap_days,
        |       CAST(SUM(overlap_days) AS BIGINT) AS sum_overlap_days
        |FROM p GROUP BY i_start, i_end ORDER BY i_start""".stripMargin,

    "q154_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_mktsegment AS segment, CAST(c_nationkey AS BIGINT) AS nation,
        |         COUNT(*) AS n_customers
        |  FROM customer GROUP BY 1, 2)
        |SELECT segment, nation, n_customers FROM g WHERE n_customers >= 10
        |UNION ALL
        |SELECT '*' AS segment, CAST(-1 AS BIGINT) AS nation,
        |       CAST(COALESCE(SUM(n_customers), 0) AS BIGINT) AS n_customers
        |FROM g WHERE n_customers < 10
        |ORDER BY segment, nation""".stripMargin,

    "q152_regional_revenue" ->
      """SELECT n_name, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*1000000.0) AS BIGINT)) AS BIGINT) AS rev_micro
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey AND year(CAST(o_orderdate AS DATE)) = 1996
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q153_market_share" ->
      """WITH j AS (
        |  SELECT year(CAST(o_orderdate AS DATE)) AS yr, s_nationkey,
        |         CAST(ROUND(l_extendedprice*(1.0-l_discount)*1000000.0) AS BIGINT) AS rev_micro
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE')
        |SELECT yr,
        |  CAST(SUM(CASE WHEN s_nationkey = 7 THEN rev_micro ELSE 0 END) AS BIGINT) AS nation_rev_micro,
        |  CAST(SUM(rev_micro) AS BIGINT) AS total_rev_micro,
        |  CAST(((SUM(CASE WHEN s_nationkey = 7 THEN rev_micro ELSE 0 END)//1000) * 1000000) // (SUM(rev_micro)//1000) AS BIGINT) AS share_ppm
        |FROM j GROUP BY yr ORDER BY yr""".stripMargin,

    // the bloom runtime filter is a pure optimization — the oracle is
    // the plain join (see q161RuntimeFilterJoin; RuntimeFilterSpec
    // asserts the bloom actually injects)
    "q161_runtime_filter_join" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |       COUNT(*) AS n_lines,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*1000000.0) AS BIGINT)) AS BIGINT) AS rev_micro
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the partition-less window the range-partitioned rank replaces —
    // fine for DuckDB, a single-partition sort for a distributed engine
    "q162_global_rank" ->
      """SELECT row_number() OVER (
        |         ORDER BY CAST(ROUND(o_totalprice*1000000.0) AS BIGINT) DESC,
        |                  o_orderkey ASC) AS rnk,
        |       o_orderkey,
        |       CAST(ROUND(o_totalprice*1000000.0) AS BIGINT) AS price_micro
        |FROM orders""".stripMargin,

    // the analyst-written TPC-H Q21 text: three lineitem scans (base +
    // EXISTS + NOT EXISTS); the engine answers all three quantifiers
    // from one grouped pass (see q160SoleProblemSupplier)
    "q160_sole_problem_supplier" ->
      """SELECT s.s_name AS s_name, COUNT(*) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s_name""".stripMargin,

    // the analyst-written TPC-H Q2 text: the correlated subquery REPEATS
    // the offer->supplier->nation->region join tree; the engine answers
    // it with one windowed pass instead (see q159MinCostSupplier)
    "q159_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |         MIN(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS cost_cents
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p.p_partkey AS p_partkey, s.s_name AS s_name,
        |       ps.cost_cents AS cost_cents
        |FROM part p, ps, supplier s, nation n, region r
        |WHERE ps.pk = p.p_partkey AND ps.sk = s.s_suppkey
        |  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
        |  AND r.r_name = 'EUROPE' AND p.p_size <= 10
        |  AND ps.cost_cents = (
        |    SELECT MIN(ps2.cost_cents)
        |    FROM ps ps2, supplier s2, nation n2, region r2
        |    WHERE ps2.pk = p.p_partkey AND ps2.sk = s2.s_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        |ORDER BY p_partkey, s_name""".stripMargin,

    // the full-sort window formulation the O(k) heap replaces — see
    // q137's scaladoc
    "q137_topk_per_group" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         CAST(ROUND(o_totalprice*1000000.0) AS BIGINT) AS price_micro,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |             ORDER BY CAST(ROUND(o_totalprice*1000000.0) AS BIGINT) DESC,
        |                      o_orderkey ASC) AS rn
        |  FROM orders)
        |SELECT o_orderpriority, o_orderkey, price_micro
        |FROM r WHERE rn <= 10
        |ORDER BY o_orderpriority, price_micro DESC, o_orderkey ASC""".stripMargin,

    "q128_rank_distribution" ->
      """WITH s AS (
        |  SELECT o_custkey AS custkey,
        |         CAST(SUM(CAST(ROUND(o_totalprice*1000000.0) AS BIGINT)) AS BIGINT) AS spend_micro
        |  FROM orders GROUP BY o_custkey)
        |SELECT c.c_mktsegment AS segment, s.custkey, s.spend_micro,
        |       CAST(ROUND(PERCENT_RANK() OVER w * 1000000.0) AS BIGINT) AS pr_micro,
        |       CAST(ROUND(CUME_DIST() OVER w * 1000000.0) AS BIGINT) AS cd_micro
        |FROM s JOIN customer c ON c.c_custkey = s.custkey
        |WINDOW w AS (PARTITION BY c.c_mktsegment
        |             ORDER BY s.spend_micro DESC, s.custkey ASC)
        |ORDER BY segment, custkey""".stripMargin,

    // the analyst's nested form: correlated scalar aggregate inside
    // the HAVING of an IN-subquery — DuckDB decorrelates it with its
    // own planner; the engine computes both aggregates in one scan
    "q129_nested_decorrelation" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l.l_suppkey FROM lineitem l
        |  WHERE EXTRACT(YEAR FROM CAST(l.l_shipdate AS DATE)) = 1995
        |  GROUP BY l.l_suppkey, l.l_partkey
        |  HAVING SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) * 2 >
        |         (SELECT SUM(CAST(ROUND(i.l_quantity) AS BIGINT))
        |          FROM lineitem i
        |          WHERE i.l_suppkey = l.l_suppkey
        |            AND i.l_partkey = l.l_partkey))
        |ORDER BY s_suppkey""".stripMargin,

    "q130_dormant_segments" ->
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment,
        |         CAST(ROUND(c_acctbal*100.0) AS BIGINT) AS bal_cents
        |  FROM customer)
        |SELECT c_mktsegment AS segment, COUNT(*) AS n_cust,
        |       CAST(SUM(bal_cents) AS BIGINT) AS bal_cents_sum
        |FROM c
        |WHERE bal_cents * (SELECT COUNT(*) FROM c WHERE bal_cents > 0) >
        |      (SELECT SUM(bal_cents) FROM c WHERE bal_cents > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND CAST(o.o_orderdate AS DATE) >= DATE '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY segment""".stripMargin,

    "q131_filtered_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n_total,
        |       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_hi_disc,
        |       CAST(COALESCE(SUM(CAST(ROUND(l_quantity) AS BIGINT))
        |           FILTER (WHERE EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) = 1995), 0) AS BIGINT) AS qty_1995,
        |       CAST(COALESCE(SUM(CAST(ROUND(l_extendedprice*1000000.0) AS BIGINT))
        |           FILTER (WHERE l_tax < 0.04), 0) AS BIGINT) AS rev_low_tax_micro
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // exact median to the cent; the sketch's ±5% contract as a
    // literal — the q127 pattern (see q133's scaladoc)
    "q133_approx_percentile_contract" ->
      """SELECT l_returnflag,
        |       CAST(ROUND(quantile_cont(l_extendedprice, 0.5) * 100.0) AS BIGINT) AS p50_cents,
        |       TRUE AS within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the oracle sees the exact count and asserts the accuracy
    // contract as a literal — see q127's scaladoc
    "q127_hll_contract" ->
      """SELECT event_type AS ticker,
        |       COUNT(DISTINCT user_id) AS n_exact,
        |       TRUE AS within_10pct
        |FROM events GROUP BY event_type ORDER BY ticker""".stripMargin,

    // the analyst's scalar-subquery formulation — DuckDB may scan
    // twice; the engine's single-scan derivation must agree exactly
    "q126_global_threshold" ->
      """WITH s AS (
        |  SELECT l_suppkey,
        |         CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*1000000.0) AS BIGINT)) AS BIGINT) AS rev_micro
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT l_suppkey, rev_micro FROM s
        |WHERE rev_micro * 100 > (SELECT SUM(rev_micro) FROM s)
        |ORDER BY rev_micro DESC, l_suppkey ASC""".stripMargin,

    // the same correlated text over CTE-prepared columns — DuckDB
    // decorrelates with its own planner, independently of Catalyst
    "q121_correlated_subquery" ->
      s"""WITH q121_li AS (
         |  SELECT l_partkey,
         |         CAST(ROUND(l_quantity) AS BIGINT) AS qty,
         |         CAST(ROUND(l_extendedprice*1000000.0) AS BIGINT) AS price_micro
         |  FROM lineitem),
         |q121_part AS (
         |  SELECT p_partkey, p_brand, p_size FROM part)
         |${Q121Sql}""".stripMargin,

    "q118_trend_slope" ->
      """WITH p AS (
        |  SELECT event_type AS ticker,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |         CAST(ROUND(value*1000.0) AS BIGINT) AS y_milli
        |  FROM events),
        |a AS (
        |  SELECT ticker, COUNT(*) AS n,
        |         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y_milli AS HUGEINT)) AS sy,
        |         SUM(CAST(x*y_milli AS HUGEINT)) AS sxy,
        |         SUM(CAST(x*x AS HUGEINT)) AS sxx
        |  FROM p GROUP BY ticker),
        |s AS (
        |  SELECT ticker, n, CAST(n AS HUGEINT)*sxy - sx*sy AS num,
        |         CAST(n AS HUGEINT)*sxx - sx*sx AS den FROM a)
        |SELECT ticker, n,
        |       CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |            ((abs(num) // den) * 1000000000 +
        |             ((abs(num) % den) * 1000000000) // den) AS BIGINT) AS slope_nano
        |FROM s ORDER BY ticker""".stripMargin,

    "q116_market_basket" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (
        |  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
        |item AS (
        |  SELECT l_partkey, COUNT(*) AS n_item FROM li GROUP BY l_partkey),
        |pairs AS (
        |  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, COUNT(*) AS n_ab
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT p.item_a, p.item_b, p.n_ab,
        |       ia.n_item AS n_a, ib.n_item AS n_b,
        |       CAST((p.n_ab * n.n_orders * 1000000) // (ia.n_item * ib.n_item) AS BIGINT) AS lift_micro
        |FROM pairs p
        |JOIN item ia ON ia.l_partkey = p.item_a
        |JOIN item ib ON ib.l_partkey = p.item_b
        |CROSS JOIN n
        |ORDER BY p.n_ab DESC, p.item_a ASC, p.item_b ASC LIMIT 25""".stripMargin,

    "q107_large_orders" ->
      """WITH q AS (
        |  SELECT l_orderkey, CAST(SUM(ROUND(l_quantity)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(ROUND(l_quantity)) AS BIGINT) > 250)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey,
        |       CAST(o.o_orderdate AS DATE) AS o_orderdate,
        |       CAST(ROUND(o.o_totalprice*1000000.0) AS BIGINT) AS price_micro,
        |       q.sum_qty
        |FROM orders o JOIN q ON o.o_orderkey = q.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY price_micro DESC, o.o_orderkey ASC LIMIT 100""".stripMargin,

    "q108_blocking_suppliers" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey, CAST(l_shipdate AS DATE) AS ship
        |  FROM lineitem)
        |SELECT l_suppkey, COUNT(DISTINCT l_orderkey) AS n_blocked
        |FROM li l1
        |WHERE EXISTS (SELECT 1 FROM li l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM li l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.ship > l1.ship)
        |GROUP BY l_suppkey
        |ORDER BY n_blocked DESC, l_suppkey ASC LIMIT 20""".stripMargin,

    "q36_stats_envelope" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |       COUNT(DISTINCT l_partkey) AS n_parts,
        |       MIN(l_extendedprice) AS min_price,
        |       MAX(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q79_hist_quantiles" ->
      """SELECT l_returnflag,
        |       quantile_disc(CAST(l_quantity AS BIGINT), 0.5) AS p50,
        |       quantile_disc(CAST(l_quantity AS BIGINT), 0.9) AS p90,
        |       quantile_disc(CAST(l_quantity AS BIGINT), 0.99) AS p99,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q83_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |       SUM(l_quantity) AS sum_qty,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS sum_base_price,
        |       COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q78_bloom_join" ->
      """SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
        |       COUNT(DISTINCT o_orderkey) AS n_orders,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-07-01'
        |GROUP BY 1 ORDER BY month""".stripMargin,

    "q69_ship_priority" ->
      """SELECT l_orderkey,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS revenue,
        |       CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1998-06-30'
        |  AND CAST(l_shipdate AS DATE) > DATE '1998-06-30'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        |ORDER BY SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*1000000.0) AS BIGINT)) DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q70_regional_revenue" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY n_name
        |ORDER BY SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*1000000.0) AS BIGINT)) DESC, n_name""".stripMargin,

    "q72_bitmap_distinct" ->
      """SELECT event_type, COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
        |       COUNT(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q67_cms_heavy_hitters" ->
      """SELECT l_partkey, COUNT(*) AS n FROM lineitem
        |GROUP BY l_partkey HAVING COUNT(*) >= 45
        |ORDER BY l_partkey""".stripMargin,

    "q57_cms_event_counts" ->
      """SELECT event_type AS ticker, COUNT(*) AS est_n
        |FROM events GROUP BY event_type ORDER BY ticker""".stripMargin,

    "q122_grouping_sets" ->
      """WITH e AS (
        |  SELECT event_type, STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |         CAST(ROUND(value*1000000.0) AS BIGINT) AS value_micro
        |  FROM events)
        |SELECT event_type, day,
        |       CAST(GROUPING(event_type, day) AS BIGINT) AS gid,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(value_micro) AS BIGINT) AS sum_micro
        |FROM e
        |GROUP BY GROUPING SETS ((event_type, day), (event_type), ())
        |ORDER BY gid, event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin,

    "q32_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS revenue,
        |       COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q33_percentiles" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.5) AS p50,
        |       quantile_cont(l_quantity, 0.9) AS p90,
        |       quantile_cont(l_quantity, 0.99) AS p99,
        |       MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q34_histogram" ->
      """SELECT CAST(FLOOR(value/20) AS BIGINT) AS bucket, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q35_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(row_number() OVER w AS BIGINT) AS rn,
        |       CAST(rank() OVER w AS BIGINT) AS rnk,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       lead(o_orderkey, 1) OVER w AS next_order,
        |       lag(o_orderkey, 1) OVER w AS prev_order
        |FROM orders WHERE o_custkey < 20
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,

    "q16_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS sum_base_price,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS sum_disc_price,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS sum_charge,
        |       SUM(l_quantity)/COUNT(*) AS avg_qty,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0/COUNT(*) AS avg_price,
        |       CAST(SUM(CAST(ROUND(l_discount*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0/COUNT(*) AS avg_disc,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q17_top_customers" ->
      """WITH rev AS (
        |  SELECT o_custkey, SUM(CAST(ROUND(o_totalprice*1000000.0) AS BIGINT)) AS rev_l
        |  FROM orders GROUP BY o_custkey),
        |ranked AS (
        |  SELECT n_name, o_custkey AS custkey, c_name,
        |         CAST(rev_l AS DOUBLE)/1000000.0 AS revenue,
        |         row_number() OVER (PARTITION BY n_name
        |                            ORDER BY rev_l DESC, o_custkey ASC) AS rnk
        |  FROM rev
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey)
        |SELECT n_name, custkey, c_name, revenue, rnk
        |FROM ranked WHERE rnk <= 10
        |ORDER BY n_name, rnk""".stripMargin
  )
}
