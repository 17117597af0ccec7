package graft

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.ext._
import graft.gen.Generator
import graft.pipeline.VotePipeline
import graft.streaming.StreamOps

/** Driver contract (see SURVEY.md §7 + builder prompt): one `queries` entry
  * per implemented operator from SURVEY.md §2, with matching DuckDB
  * `oracleSql` where SQL-expressible. Column names are aliased identically
  * on both sides (the driver's compare sorts columns by name).
  */
object SparkEntry {

  private val Parties = Generator.Parties
  private def partyCase(keyExpr: String): String =
    s"CASE $keyExpr % 3 WHEN 0 THEN '${Parties(0)}' WHEN 1 THEN '${Parties(1)}' ELSE '${Parties(2)}' END"

  /** Capacity fence for the approx_top_k seats — TWO distinct bounds,
    * not one (they were conflated through round 15): (1) the sketch's
    * `maxItemsTracked` (passed explicitly below) bounds EXACTNESS —
    * beyond it the DataSketches frequent-items estimates genuinely
    * approximate and the seats' `sketch_exact = true` oracle no longer
    * holds; (2) the returned-list size `k` bounds the graded JOIN SHAPE
    * — the seats grade an all-items differential (exact histogram LEFT
    * JOIN the sketch's top-k list), so an 11th type inside exactness
    * range would still surface as an un-replayed NULL row. Both fail
    * loudly with the bound that actually broke, so a capacity-valid
    * fixture is never mis-blamed on the sketch. The distinct count is
    * one tiny agg job over a low-cardinality column, memoized per
    * (session, fixture) so the pair of seats pays it once. */
  private val typeCardMemo = SessionMemo[String, Long]("type_cardinality")
  private def assertTopKCapacity(s: SparkSession, d: String, k: Int,
                                 maxItemsTracked: Int): Unit = {
    val n = typeCardMemo(s, d) {
      Tables.events(s, d).select("event_type").distinct().count()
    }
    require(n <= maxItemsTracked,
      s"approx_top_k exactness holds only to maxItemsTracked=" +
        s"$maxItemsTracked distinct items; fixture $d has $n — the " +
        "sketch is genuinely approximate here, re-grade the regime " +
        "(the over-capacity behavior is spec'd separately)")
    require(n <= k,
      s"the approx_top_k seats grade an ALL-items differential, so " +
        s"every tracked type must fit the returned top-$k list; fixture " +
        s"$d has $n distinct types (exactness itself still holds to " +
        s"$maxItemsTracked) — raise k in the seat + its oracle")
  }

  /** Flagship query on sf0.001 — A1 votes-per-candidate, the reference's
    * headline semantic (`.../Note_Projet1_...txt:34-37`). */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.votesPerCandidate(
      Tables.events(spark, "/root/testdata/sf0.001"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregations (SURVEY §2.4) ----
    "a1_votes_per_candidate" -> ((s, d) =>
      Aggregates.votesPerCandidate(Tables.events(s, d))),
    "a1_salted_skew" -> ((s, d) =>
      Aggregates.votesPerCandidateSalted(Tables.events(s, d))),
    "a2_turnout_by_location" -> ((s, d) =>
      Aggregates.turnoutByLocation(Tables.customer(s, d), Tables.nation(s, d))),
    "a3_dedup_first_per_user" -> ((s, d) =>
      Dedup.firstPerKey(Tables.events(s, d), "user_id", "event_id")
        .select("user_id", "event_id", "event_type")),
    "a4_count_events" -> ((s, d) =>
      Aggregates.countRows(Tables.events(s, d))),
    "a5_winner" -> ((s, d) =>
      Aggregates.winner(Tables.events(s, d))),
    "a6_distinct_users" -> ((s, d) =>
      Aggregates.distinctUsers(Tables.events(s, d))),
    "a6_approx_distinct_users" -> ((s, d) =>
      Aggregates.approxDistinctUsers(Tables.events(s, d))),
    // approximate heavy hitters: exact counts + freqItems verdict
    // (differential sketch grading, same contract as a6/a7)
    "a10_heavy_hitters" -> ((s, d) =>
      Aggregates.heavyHittersApprox(Tables.events(s, d))),
    // mergeable-sketch rollups (the 100 TB pattern: per-partition
    // sketches, union for any rollup — raw rows never re-scanned);
    // graded by the differential sketch contract (exact + honest verdict)
    "sketch_hll_merge" -> ((s, d) =>
      Sketches.hllMergeDistinct(Tables.events(s, d))),
    "sketch_cms_heavy" -> ((s, d) =>
      Sketches.cmsHeavyHitters(Tables.events(s, d))),
    // audience overlap via inclusion-exclusion on HLL sketches: exact
    // sizes replayed by the oracle, IE-estimate tolerance verdicts
    // computed honestly by the engine
    "sketch_hll_overlap" -> ((s, d) =>
      Sketches.hllOverlap(Tables.events(s, d), "click", "purchase")),
    // quantile rollup: per-day Greenwald-Khanna summaries unioned per
    // type; the merged p50/p90/p99 graded on the RANK guarantee
    "sketch_quantile_rollup" -> ((s, d) =>
      Sketches.quantileRollup(Tables.events(s, d))),
    // Spark 4.1's native approx_top_k (DataSketches frequent-items):
    // below maxItemsTracked the sketch is EXACT by contract — graded
    // against the exact histogram with per-item verdicts (the a10/CMS
    // differential discipline); the approximation regime is spec'd on
    // a deterministic over-capacity fixture
    "sketch_approx_topk" -> ((s, d) => {
      assertTopKCapacity(s, d, 10, 10000)
      val ev = Tables.events(s, d)
      val approx = ev.agg(expr("approx_top_k(event_type, 10, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("event_type"), col("e.count").as("approx_n"))
      ev.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
        .join(approx, Seq("event_type"), "left")
        .select(col("event_type"), col("approx_n"), col("n_exact"),
          (col("approx_n") === col("n_exact")).as("sketch_exact"))
    }),
    // the MERGEABLE form (accumulate per shard → combine → estimate) —
    // the pre-aggregated-rollup pattern: shard sketches once, merge for
    // any report, raw rows never re-scanned (the sketch_hll_merge
    // contract on the 4.1 frequent-items sketch)
    "sketch_approx_topk_merge" -> ((s, d) => {
      assertTopKCapacity(s, d, 10, 10000)
      val ev = Tables.events(s, d)
      val shards = ev
        .withColumn("par", pmod(col("event_id"), lit(2)))
        .groupBy("par")
        .agg(expr("approx_top_k_accumulate(event_type, 10000)").as("st"))
      // grouped on a constant, not a global aggregate: a global
      // aggregate emits a partial buffer for every EMPTY input partition,
      // and Spark 4.1's combine cannot serialize one (MatchError in
      // genSketchSerDe: no sketch, no item type) — with static plans the
      // two shard rows leave shuffle partitions empty; a grouped
      // aggregate emits nothing for them
      val approx = shards.groupBy(lit(true))
        .agg(expr("approx_top_k_combine(st)").as("c"))
        .select(explode(expr("approx_top_k_estimate(c, 10)")).as("e"))
        .select(col("e.item").as("event_type"), col("e.count").as("approx_n"))
      ev.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
        .join(approx, Seq("event_type"), "left")
        .select(col("event_type"), col("approx_n"), col("n_exact"),
          (col("approx_n") === col("n_exact")).as("sketch_exact"))
    }),
    "q1_pricing_summary" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
             round(sum("l_extendedprice"), 2).as("sum_base_price"),
             round(avg("l_discount"), 4).as("avg_disc"),
             count(lit(1)).as("n"))),
    "q6_filtered_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_quantity") < 25 &&
                col("l_discount").between(0.02, 0.08))
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"))),
    // TPC-H q3 shape: the canonical 3-table join — selective dim filter
    // (customer segment) broadcasts into the orders scan, the fact-side
    // lineitem join shuffles on the key it aggregates on (one exchange
    // serves both), TakeOrdered caps the result. The shape whose join
    // ORDER matters at 100 TB: filter-first, small-side broadcast.
    "q3_shipping_priority" -> ((s, d) => {
      val cutoff = "1998-01-01"
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    }),
    // TPC-H q18 shape: the AGGREGATE-BUILDS-THE-FILTER pattern — the
    // large-order key set comes from a groupBy+HAVING over the fact table
    // itself, then semi-joins back as a broadcast (84 keys here; at scale
    // a bloom-filter side-channel). No second full-fact shuffle.
    "q18_large_orders" -> ((s, d) => {
      val big = Tables.lineitem(s, d).groupBy("l_orderkey")
        .agg(sum("l_quantity").as("q")).filter(col("q") > 280)
        .select(col("l_orderkey").as("big_okey"))
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .join(broadcast(big), col("o_orderkey") === col("big_okey"), "left_semi")
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_name")),
              col("o_custkey") === col("c_custkey"))
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
        .join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(round(sum("l_quantity"), 2).as("total_qty"))
        .select(col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          round(col("o_totalprice"), 2).as("total_price"),
          col("total_qty"))
        .orderBy(desc("total_qty"), asc("o_orderkey"))
        .limit(20)
    }),
    // TPC-H q5 shape: the 6-table star-with-a-twist — lineitem joined to
    // orders→customer AND supplier, with the LOCAL-supplier cross-branch
    // predicate c_nationkey = s_nationkey tying the two dimension arms
    // together. Dims (region→nation→customer / →supplier) reduce and
    // broadcast; at 100 TB orders no longer broadcasts and the
    // lineitem⋈orders leg becomes the one shuffle on orderkey — every
    // other edge stays a broadcast hash join, so the plan has exactly one
    // wide exchange regardless of scale.
    "q5_local_supplier" -> ((s, d) => {
      val nr = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = Tables.customer(s, d)
        .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
      val ordc = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
      val sup = Tables.supplier(s, d)
        .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(broadcast(ordc), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    }),
    // TPC-H q7 shape: the SAME dimension in TWO ROLES — nation joined once
    // through the supplier arm and once through the customer arm, with the
    // pair predicate across roles. Role-specific aliases keep the two
    // broadcasts independent; the nation filter pushes into each arm
    // BEFORE its join (the pair disjunction alone would defeat pushdown)
    "q7_volume_shipping" -> ((s, d) => {
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate",
          "l_extendedprice", "l_discount")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
                (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .select(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(round(sum("volume"), 2).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),
    // TPC-H q8 shape: national market share — a conditional-sum ratio
    // over a 6-table star. Every dimension edge (part-type filter,
    // customer→nation→region chain, supplier→nation) broadcasts; the
    // lineitem fact streams through unshuffled into the single final
    // 2-row aggregate. At 100 TB the date-filtered orders leg is the one
    // edge that outgrows the broadcast threshold and becomes the plan's
    // wide exchange on orderkey (same note as q5/q7).
    "q8_market_share" -> ((s, d) => {
      val nat = Tables.nation(s, d)
      val partEco = Tables.part(s, d)
        .filter(col("p_type") === "ECONOMY").select("p_partkey")
      val custAsia = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        .join(broadcast(nat.select("n_nationkey", "n_regionkey")),
              col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)
                .filter(col("r_name") === "ASIA").select("r_regionkey")),
              col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(broadcast(custAsia), col("o_custkey") === col("c_custkey"))
      val supN = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
                col("n_name").as("supp_nation"))),
              col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_discount")
        .join(broadcast(partEco), col("l_partkey") === col("p_partkey"))
        .join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .select(year(col("o_orderdate")).as("o_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"),
          col("supp_nation"))
        .groupBy("o_year")
        .agg(round(
          sum(when(col("supp_nation") === "NATION_2", col("volume"))
            .otherwise(0.0)) / sum("volume"), 6).as("mkt_share"))
        .orderBy("o_year")
    }),
    // TPC-H q10 shape: returned-item revenue per customer — aggregate the
    // fact FIRST (J3 discipline: the returnflag+quarter filters shrink
    // lineitem to the quarter's customers before any dim join), THEN
    // broadcast-enrich with customer/nation. TakeOrdered caps at 20.
    "q10_returned_items" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-10-01").cast("timestamp") &&
                col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .join(broadcast(Tables.customer(s, d)
                .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")),
              col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
              col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    }),
    // TPC-H q9 SHAPE (adapted: the testdata has no partsupp, so
    // p_retailprice plays the unit-cost leg): profit per (nation, year) =
    // revenue − cost over the part+supplier star. Both dim edges
    // broadcast; the fact shuffles once into the 125-row group fold.
    "q9_profit_shape" -> ((s, d) => {
      val supN = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        .join(broadcast(Tables.nation(s, d)
                .select("n_nationkey", "n_name")),
              col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name")
      Tables.lineitem(s, d)
        .select("l_partkey", "l_suppkey", "l_shipdate",
          "l_quantity", "l_extendedprice", "l_discount")
        .join(broadcast(Tables.part(s, d)
                .select("p_partkey", "p_retailprice")),
              col("l_partkey") === col("p_partkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .select(col("n_name").as("nation"),
          year(col("l_shipdate")).as("o_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))
            - col("p_retailprice") * col("l_quantity")).as("amount"))
        .groupBy("nation", "o_year")
        .agg(round(sum("amount"), 2).as("sum_profit"))
        .orderBy(asc("nation"), desc("o_year"))
    }),
    // TPC-H q12 SHAPE (adapted: no l_shipmode/commitdate in the testdata):
    // late shipments — lineitems shipped > 90 days after their order date
    // counted per order priority, with the on-time share alongside. The
    // non-equi lateness predicate rides the orderkey equi join.
    "q12_late_shipments" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_shipdate")
        .join(Tables.orders(s, d)
                .select("o_orderkey", "o_orderdate", "o_orderpriority"),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
            .otherwise(0L)).as("n_late"),
          sum(when(col("l_shipdate") <=
            col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
            .otherwise(0L)).as("n_on_time"))
        .orderBy("o_orderpriority")),
    // TPC-H q14 shape: promotion revenue share — one broadcast dim edge
    // (part type), one conditional-sum ratio, zero exchanges beyond the
    // final 1-row fold. The month filter pushes to the lineitem scan.
    "q14_promo_revenue" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
                col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .select("l_partkey", "l_extendedprice", "l_discount")
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
              col("l_partkey") === col("p_partkey"))
        .select((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("volume"), col("p_type"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", col("volume")).otherwise(0.0))
          / sum("volume"), 2).as("promo_revenue"))),
    // TPC-H q15 shape: top supplier — the revenue "view" computed once,
    // its 1-row max broadcast back as the filter (the correlated
    // scalar-subquery decorrelation), winner(s) enriched from the
    // supplier dim. Revenue is rounded BEFORE the max/equality compare on
    // both engine and oracle sides, so the tie semantics are exact.
    "q15_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"))
      rev.join(broadcast(rev.agg(max("total_revenue").as("mx"))),
               col("total_revenue") === col("mx"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
              col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    }),
    // TPC-H q4 shape: EXISTS as a LEFT SEMI join with a non-equi residual
    // (l_shipdate > o_orderdate rides the l_orderkey equi key). The date
    // window prunes the probe side at the scan; at 100 TB both sides
    // shuffle once on orderkey and the residual evaluates inside the
    // join — no decorrelation materializes the subquery.
    // (This dataset has no l_commitdate/l_receiptdate, so the "late
    // delivery" predicate becomes returned-after-order-date.)
    "q4_order_priority" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val returned = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_shipdate")
      ord.join(returned,
          col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),
    // TPC-H q13 shape: outer-join count distribution. The scale-correct
    // order: aggregate orders per custkey FIRST (shuffle carries one row
    // per customer, not per order), THEN left-join customers so the
    // zero-order customers survive as coalesce(0). Joining raw orders and
    // counting after would drag every order row through the outer join.
    // The URGENT-only filter keeps the zero bucket populated at every SF
    // (the unfiltered distribution has no empty customers in this data,
    // which would leave the outer join's null-extension ungraded).
    "q13_customer_distribution" -> ((s, d) => {
      val ordc = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      Tables.customer(s, d).select("c_custkey")
        .join(ordc, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),
    // TPC-H q16 shape: NOT IN as a broadcast LEFT ANTI join. The part
    // predicate reduces 2000 parts to ~300 and broadcasts into the fact
    // scan; the excluded-supplier set broadcasts as the anti side; the
    // one exchange is the final count-distinct aggregate. lineitem's
    // (partkey, suppkey) pairs stand in for partsupp; countDistinct
    // absorbs the duplicate pairs without a pre-distinct shuffle.
    // (No s_comment here, so "customer complaints" becomes negative
    // account balance.)
    "q16_supplier_count" -> ((s, d) => {
      val parts = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#5" &&
                !col("p_type").startsWith("MEDIUM") &&
                col("p_size").isin(1, 4, 9, 14, 19, 24, 28, 35))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val badSupp = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("bad_skey"))
      Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(badSupp), col("l_suppkey") === col("bad_skey"),
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"),
                 asc("p_size"))
    }),
    // TPC-H q17 shape: correlated scalar subquery (per-part average over
    // the WHOLE lineitem history of that part) decorrelated into a window
    // over the brand-restricted slice — legal because the correlation key
    // is l_partkey, so restricting by partkey-set keeps each group
    // complete. ONE shuffle on l_partkey serves both the average and the
    // filter; the two-pass groupBy+self-join alternative would shuffle
    // twice.
    "q17_small_quantity" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val brandParts = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#3").select("p_partkey")
      Tables.lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
        .withColumn("avg_qty",
          avg("l_quantity").over(Window.partitionBy("l_partkey")))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(round(sum("l_extendedprice") / 7.0, 2).as("avg_yearly"))
    }),
    // TPC-H q21 shape: the EXISTS + NOT EXISTS pair of correlated
    // self-joins on the fact table, decorrelated into ONE per-order
    // aggregate — exists(other supplier) ⇔ distinct suppliers > 1;
    // not-exists(other supplier also returned) ⇔ distinct RETURNING
    // suppliers = 1 (given this row returned). Two fact-table self-joins
    // collapse into one groupBy whose output arrives at the probe join
    // already partitioned on orderkey — one wide exchange total.
    "q21_waiting_supplier" -> ((s, d) => {
      // ONE lineitem pass: the (orderkey, suppkey) pre-aggregate
      // (a dual countDistinct would Expand the fact
      // table to 2 copies before its shuffle), and the per-order fold
      // derives not just the distinct-supplier counts but also the
      // UNIQUE R supplier and its R line-item count — so the textbook
      // shape's second lineitem scan + fact-side join for the probe
      // rows is gone entirely; per-order rows then meet two broadcast
      // dims and numwait is the sum of carried R row counts (identical
      // to counting the probe rows it replaced).
      // r17: ONE wide exchange, not two (guide §2.4) — the explicit
      // repartition on l_orderkey satisfies the clustering requirement
      // of BOTH aggregates (okey ⊆ {okey,skey}), so the (okey,skey)
      // pre-aggregate and the per-order fold plan exchange-free on top
      // of it. The (okey,skey) groups are near-distinct per lineitem
      // row here (~0.95 rows/group), so the retired partial-agg step
      // reduced almost nothing and its second full-width exchange was
      // pure cost; the R-flag CASE projects to an int BEFORE the
      // exchange so the string never rides the shuffle. Plan diff:
      // plans/r17/q21_waiting_supplier_{before,after}.txt (2 wide
      // Exchange + partial/final pairs → 1 repartition Exchange +
      // complete aggregates).
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("so_okey"),
                col("l_suppkey").as("so_skey"),
                when(col("l_returnflag") === "R", 1).otherwise(0).as("is_r"))
        // explicit width (the session's configured shuffle width, so it
        // scales with the deployment, not a local constant): a countless
        // repartition is AQE-coalescible, and the 8 MB advisory folded
        // this ~12 MB exchange to 2 partitions — the complete aggregate
        // then ran 2-way (measured: q21 1.01 s at the coalesced width vs
        // 0.61 s at the configured width)
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("so_okey"))
      val orderStats = li
        .groupBy("so_okey", "so_skey")
        .agg(max(col("is_r")).as("has_r"),
             sum(col("is_r").cast("long")).as("n_r_rows"))
        .groupBy("so_okey")
        .agg(count(lit(1)).as("n_supp"), sum("has_r").as("n_rsupp"),
             max(when(col("has_r") === 1, col("so_skey"))).as("r_skey"),
             sum(when(col("has_r") === 1, col("n_r_rows")).otherwise(0L))
               .as("r_rows"))
      val fOrders = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F").select("o_orderkey")
      orderStats
        .filter(col("n_supp") > 1 && col("n_rsupp") === 1)
        .join(broadcast(fOrders), col("so_okey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
              col("r_skey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(sum("r_rows").as("numwait"))
        .orderBy(desc("numwait"), asc("s_name"))
        .limit(10)
    }),
    // TPC-H q22 shape: global scalar subquery + anti join. The average
    // is a 1-row aggregate broadcast as a nested-loop join (1×N is a
    // map-side compare, not a real cross product); customers-without-
    // urgent-orders is a LEFT ANTI on custkey — the one shuffle that
    // must happen, since orders cannot broadcast at scale. (No c_phone
    // column, so "country code" becomes the last digit of c_name; the
    // urgent-only anti side keeps the result non-empty at every SF —
    // every customer in this data has SOME order.)
    "q22_sales_opportunity" -> ((s, d) => {
      val codes = Seq("1", "3", "5", "7")
      val cust = Tables.customer(s, d)
        .select(expr("right(c_name, 1)").as("cntrycode"),
                col("c_acctbal"), col("c_custkey"))
        .filter(col("cntrycode").isin(codes: _*))
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg(avg("c_acctbal").as("avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(Tables.orders(s, d)
                .filter(col("o_orderpriority") === "1-URGENT")
                .select("o_custkey"),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(count(lit(1)).as("numcust"),
             round(sum("c_acctbal"), 2).as("totacctbal"))
        .orderBy("cntrycode")
    }),
    // TPC-H q2 shape: min-cost supplier — the correlated MIN subquery
    // over a derived "supplycost" table (no partsupp here; unit cost =
    // min(l_extendedprice/l_quantity) per (part,supplier), the same
    // lineitem stand-in q16 uses). Decorrelation: the EUROPE-filtered
    // cost table computes min-per-part as a partition window — legal
    // because the correlation key is p_partkey and the subquery's own
    // region filter is applied BEFORE the window, so each partkey group
    // is exactly the subquery's group. Supplycost stays a RAW double:
    // both engines do the identical IEEE division and an exact MIN, so
    // equality and the output hash are bit-deterministic (rounding, per
    // round-5's token_budget_select lesson, is where engines diverge).
    // At 100 TB: one shuffle for the (part,supp) groupBy, one for the
    // per-part window; suppliers+nations+region and the filtered part
    // list broadcast. LIMIT is TakeOrdered with a total tiebreak key.
    "q2_min_cost_supplier" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val eur = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
              col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)
                .filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
      // r17: ONE wide exchange, not two (guide §2.4) — pre-partition by
      // l_partkey; the (partkey, suppkey) aggregate completes in place
      // (partkey ⊆ the grouping key) and the per-part min window below
      // reuses the same partitioning, paying only a local sort. The
      // retired shape shuffled the near-distinct (partkey,suppkey)
      // partial aggregate twice (agg exchange + window exchange).
      // Measured interleaved at sf0.1: 1.05–1.33 s → 0.88–1.01 s; plan
      // diff: plans/r17/q2_min_cost_supplier_{before,after}.txt.
      val cost = Tables.lineitem(s, d)
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        // explicit width for the same reason as q21's repartition: keep
        // AQE from folding the one wide exchange below the session's
        // configured parallelism
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("supplycost"))
      cost.join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
        .withColumn("min_cost",
          min("supplycost").over(Window.partitionBy("l_partkey")))
        .filter(col("supplycost") === col("min_cost"))
        .join(broadcast(Tables.part(s, d)
                .filter(col("p_type") === "LARGE" && col("p_size") < 15)
                .select("p_partkey")),
              col("l_partkey") === col("p_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "supplycost")
        .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"),
                 asc("p_partkey"))
        .limit(100)
    }),
    // TPC-H q11 shape: important stock — per-part value share vs a
    // GLOBAL scalar aggregate. Value is EXACT INTEGER cents
    // (round(price*100)::long × qty::long) so the HAVING compare and the
    // output hash are fold-order-independent on both engines; the share
    // threshold is the cross-multiplied rational
    // val·nparts·2 > total·3 (i.e. > 1.5× mean share) — scale-free, so
    // the predicate binds at every SF where TPC-H's 0.0001/SF constant
    // would not. At 100 TB: region-filtered suppliers broadcast into the
    // fact scan, ONE shuffle on partkey builds the value table, the
    // 1-row total broadcasts back as a nested-loop compare.
    "q11_important_stock" -> ((s, d) => {
      val asiaSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
              col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)
                .filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey")
      val value = Tables.lineitem(s, d)
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
                 col("l_quantity").cast("long")).as("val_cents"))
      value.crossJoin(broadcast(
          value.agg(sum("val_cents").as("total"),
                    count(lit(1)).as("nparts"))))
        .filter(col("val_cents") * col("nparts") * 2 > col("total") * 3)
        .select("l_partkey", "val_cents")
        .orderBy(desc("val_cents"), asc("l_partkey"))
    }),
    // TPC-H q19 shape: the DISJUNCTIVE join — three (brand, size,
    // quantity) conjunct groups OR'ed together. The part side pre-filters
    // to the UNION of the brand/size predicates (pushed to its scan) and
    // broadcasts; the quantity legs can't split from the join key, so
    // they evaluate as the post-join residual inside the ONE broadcast
    // hash join — no union-of-three-joins, the fact table is scanned
    // once. Revenue follows the q3/q6 green precedent: round(sum, 2).
    "q19_disjunctive_revenue" -> ((s, d) => {
      val parts = Tables.part(s, d)
        .filter((col("p_brand") === "Brand#1" && col("p_size").between(1, 15)) ||
                (col("p_brand") === "Brand#2" && col("p_size").between(10, 25)) ||
                (col("p_brand") === "Brand#3" && col("p_size").between(20, 40)))
        .select("p_partkey", "p_brand", "p_size")
      Tables.lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
             col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 25) &&
             col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 40) &&
             col("l_quantity").between(20, 40)))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    }),
    // TPC-H q20 shape: potential part promotion — the nested
    // subquery chain (suppliers ⊇ partsupp ⊇ correlated lineitem sum)
    // collapsed to ONE conditional aggregate: per (part,supp) the
    // all-time and 1996 shipped quantities come from the same groupBy
    // (exact long sums — quantity is integral), the HAVING
    // qty_all > 10·qty_1996 marks 1996-dormant pairs, and suppliers
    // arrive via LEFT SEMI join (the IN). The name-filtered part list
    // broadcasts into the fact scan, so the one shuffle carries only
    // widget rows keyed by (part,supp). Threshold 10 (data spans 7
    // years) keeps the predicate selective-but-non-empty at every SF.
    "q20_potential_promotion" -> ((s, d) => {
      val widgetParts = Tables.part(s, d)
        .filter(col("p_name").endsWith("widget")).select("p_partkey")
      val dormant = Tables.lineitem(s, d)
        .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
        .join(broadcast(widgetParts), col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("qty_all"),
             sum(when(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                      col("l_shipdate") < lit("1997-01-01").cast("timestamp"),
                      col("l_quantity").cast("long")).otherwise(0L))
               .as("qty_1996"))
        .filter(col("qty_1996") > 0 && col("qty_all") > lit(10) * col("qty_1996"))
        .select("l_suppkey")
      Tables.supplier(s, d)
        .join(dormant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    }),
    // the ANALYZE seat: one-pass per-column profile of the fact table —
    // min/max/null-count/EXACT-distinct as ONE multi-aggregate projection
    // (no per-column scans; exact distinct costs an Expand and is what
    // the DuckDB oracle can replay — at 100 TB swap for
    // approx_count_distinct and grade differentially like the a6 pair)
    "profile_lineitem" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        round(min("l_quantity"), 2).as("min_qty"),
        round(max("l_quantity"), 2).as("max_qty"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"),
        round(min("l_extendedprice"), 2).as("min_price"),
        round(max("l_extendedprice"), 2).as("max_price"),
        countDistinct("l_returnflag").as("n_returnflags"),
        countDistinct("l_orderkey").as("n_orders"),
        date_format(min("l_shipdate"), "yyyy-MM-dd").as("min_shipdate"),
        date_format(max("l_shipdate"), "yyyy-MM-dd").as("max_shipdate"))),
    // statistical profile: the relationship/centrality aggregates an
    // ANALYZE-style pass adds on top of min/max/distinct — all one-pass
    // streaming aggregates except median (percentile holds a per-group
    // digest; at 100 TB swap for approx_percentile like the a7 pair)
    "profile_stats" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2)
          .as("covar_qty_price"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 2)
          .as("slope_price_on_qty"),
        round(median(col("l_extendedprice")), 2).as("median_price"),
        mode(col("l_returnflag")).as("mode_returnflag"))),
    // histogram: fixed-width binning as pure arithmetic (portable to any
    // engine — no reliance on a width_bucket builtin), one groupBy over
    // 16 bins; the shape every profiler/quality dashboard draws
    "profile_histogram" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(least(floor(col("l_extendedprice") / 7000).cast("long"),
          lit(15L)).as("bin"),
          col("l_extendedprice"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("bin")),
    // EQUI-DEPTH histogram (the ANALYZE statistic fixed-width bins can't
    // give): ~n/B rows per bucket with exact integer-cent edges. Scale
    // shape is agg-FIRST: fold the fact table to (distinct value, count)
    // — the only data-sized exchange — then the cumulative bucket
    // assignment windows over |distinct values| rows only, never the
    // data. bucket = floor(rows_before · B / N) in pure integer
    // arithmetic, so the oracle replays it bit-for-bit.
    "profile_histogram_equidepth" -> ((s, d) => {
      val B = 8
      val v = Tables.events(s, d)
        .select((round(col("value") * 100)).cast("long").as("cents"))
        .groupBy("cents").agg(count(lit(1)).as("n"))
      val total = v.agg(sum("n").as("total"))
      val w = v.crossJoin(broadcast(total))
        .withColumn("cum", coalesce(
          sum("n").over(org.apache.spark.sql.expressions.Window
            .orderBy("cents").rowsBetween(Long.MinValue, -1)), lit(0L)))
        .withColumn("bucket", expr(s"cum * $B div total"))
      w.groupBy("bucket")
        .agg(count(lit(1)).as("n_values"),
          sum("n").as("n_rows"),
          min("cents").as("lo_cents"),
          max("cents").as("hi_cents"))
        .orderBy("bucket")
    }),
    // event analytics (ops/EventAnalytics): the dashboard-consumer seat —
    // ordered funnel (per-stage correlated first-after decorrelated into
    // user_id-partitioned min-aggregates), cohort retention triangle,
    // and zero-filled hourly time series
    "funnel_stages" -> ((s, d) =>
      EventAnalytics.funnel(Tables.events(s, d),
        Seq("view", "click", "purchase"))),
    "retention_cohorts" -> ((s, d) =>
      EventAnalytics.retentionCohorts(Tables.events(s, d), "2024-01-01")),
    // Markov view of user paths: (from -> to) transition counts + lift
    // vs independence; one user_id shuffle, lift folds on |types|^2 rows
    "seq_transition_matrix" -> ((s, d) =>
      EventAnalytics.transitionMatrix(Tables.events(s, d))),
    "ts_gapfill_hourly" -> ((s, d) =>
      EventAnalytics.gapfillHourly(Tables.events(s, d))),
    // trailing-7-day distinct actives: dedup to (user, day), bounded
    // explode to the 7 window-days each contributes to — the fact table
    // is touched once; never a per-day trailing self-join of events
    "trailing_active_users" -> ((s, d) =>
      EventAnalytics.trailingActiveUsers(Tables.events(s, d), 7)),
    // the sketch form: per-day HLL partials unioned per trailing window —
    // raw rows touched once, windows are KB-sketch unions, never re-scans
    "sketch_hll_sliding" -> ((s, d) =>
      Sketches.trailingActiveSketch(Tables.events(s, d), 7)),
    // linear interpolation of gap cells on the hourly series — exact
    // integer arithmetic ((pv*(nh-hx) + nv*(hx-ph)) div gap, all terms
    // non-negative), where gapfill zero-fills
    "ts_interpolate_hourly" -> ((s, d) =>
      EventAnalytics.interpolateHourly(Tables.events(s, d))),
    // time-series similarity search: top-k users by hour-of-day profile
    // cosine vs the query user — sparse dot via hour equi-join, integer
    // dot/norms, one rounded float at the end
    "ts_profile_topk" -> ((s, d) =>
      EventAnalytics.profileTopK(Tables.events(s, d), 10)),
    // fixed-width OHLC downsampling (15-min bars): open/close via
    // min_by/max_by on event time, six map-side-combinable scalars per
    // bar — the shuffle never carries a bar's rows
    "ts_ohlc_bars" -> ((s, d) =>
      EventAnalytics.ohlcBars(Tables.events(s, d))),
    // hierarchical rollup: 1h bars REAGGREGATED from 15-min bars (ticks
    // touched once); oracle computes the 1h bars direct from ticks —
    // equality proves OHLC mergeability
    "ts_ohlc_rollup" -> ((s, d) =>
      EventAnalytics.ohlcRollup(Tables.events(s, d))),
    // trailing-24h 3-sigma anomaly flags in cross-multiplied INTEGER
    // arithmetic — no float variance recursion to diverge between engines
    "ts_anomaly_flags" -> ((s, d) =>
      EventAnalytics.anomalyFlags(Tables.events(s, d))),
    // schema-on-read over the semi-structured props column: JSON path
    // extraction as a pure projection (no UDF, codegen'd GetJsonObject),
    // then a keyed aggregate — ints sum exactly under 2^53 so the
    // cross-engine avg is bit-stable
    "props_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(avg("k"), 4).as("avg_k"),
          min("k").as("min_k"),
          max("k").as("max_k"))
        .orderBy("event_type")),
    // the VARIANT form (Spark 4's semi-structured type): parse once into
    // the binary variant encoding, typed path extraction via variant_get
    // — at scale the parse happens at ingest and every downstream
    // extraction reads the compact encoding instead of re-parsing text
    // (get_json_object re-parses per call); integer sum keeps the fold
    // order-insensitive
    "props_variant_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("k").as("sum_k"),
          min("k").as("min_k"),
          max("k").as("max_k"))
        .orderBy("event_type")),

    "a7_percentiles" -> ((s, d) =>
      Tables.events(s, d).groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
             round(expr("percentile(value, 0.9)"), 4).as("p90"))),
    // winsorized robust stats: exact per-group p05/p95 bounds broadcast
    // back onto the fact scan, values clipped before the mean — two
    // scan-parallel passes, never a percentile-window funnel; clip
    // counts + integer-micro winsorized sum keep the compare exact
    "a11_winsorized_stats" -> ((s, d) =>
      Aggregates.winsorizedStats(Tables.events(s, d))),
    // Spark 4's ordered string aggregation (listagg WITHIN GROUP):
    // per-type id roster of the heavy rows, deterministic because the
    // order clause is total; the 100 TB note is that listagg
    // materializes the group's full concatenation — bound the group
    // first (the value > 90 gate keeps rosters short by construction)
    "a12_listagg" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("value") > 90)
        .groupBy("event_type")
        .agg(expr("listagg(cast(event_id AS string), ',') " +
               "WITHIN GROUP (ORDER BY event_id)").as("id_roster"),
             count(lit(1)).as("n"))),
    // error-tolerant arithmetic (try_divide / try_add): NULL instead of
    // raising under div-by-zero and long overflow — the semantics ETL
    // needs when a poison row must not kill a 100 TB job; the oracle
    // replays with guards (DuckDB raises where Spark's try_* nulls)
    "f13_try_arithmetic" -> ((s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        try_divide(col("value"), col("user_id") % 7)
          .as("per_bucket"),
        try_add(lit(Long.MaxValue), col("user_id")).as("overflowed"))
        .withColumn("per_bucket", round(col("per_bucket"), 6))),
    // scale path: KLL/GK-style approx_percentile (bounded sketch per
    // partition, no full sort) graded differentially — the exact median is
    // the oracle-checkable truth, the sketch must land within 2% of it
    "a7_approx_percentiles" -> ((s, d) =>
      Tables.events(s, d).groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
             expr("approx_percentile(value, 0.5, 10000)").as("ap50"))
        .select(col("event_type"), col("p50"),
          (abs(col("ap50") - col("p50")) <=
            greatest(abs(col("p50")) * lit(0.02), lit(0.5)))
            .as("approx_within_2pct"))),
    "a8_rollup_turnout" -> ((s, d) =>
      Tables.customer(s, d)
        .rollup("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))),
    // PIVOT: long->wide tally (one column per event type). Spark leaves
    // empty cells null; coalesce to 0 to match SQL's FILTER-count semantics
    "a9_pivot_tally" -> ((s, d) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val wide = Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      wide.select(col("user_id") +: types.map(t =>
        coalesce(col(t), lit(0L)).as(t)): _*)
    }),
    // UNPIVOT: the inverse melt — wide per-type counts back to long
    // (metric, n) rows. Round-trips through the SAME pivot, so the pair
    // proves pivot∘unpivot is lossless; zero cells are kept (ids must
    // survive the melt) and the unpivot itself is a pure Expand — no
    // shuffle beyond the pivot's own aggregate.
    "a9_unpivot_tally" -> ((s, d) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val wide = Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      wide.select(col("user_id") +: types.map(t =>
          coalesce(col(t), lit(0L)).as(t)): _*)
        .unpivot(Array(col("user_id")), types.map(col).toArray, "metric", "n")
        .orderBy("user_id", "metric")
    }),
    "w5_lag_lead" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        lag("event_id", 1).over(w).as("prev_event_id"),
        lead("event_id", 1).over(w).as("next_event_id"),
        (unix_timestamp(col("ts")) -
          unix_timestamp(lag("ts", 1).over(w))).as("gap_prev_s"))
    }),
    "w6_ntile_deciles" -> ((s, d) =>
      Windows.ntileDeciles(Tables.events(s, d))),
    "a8_cube_turnout" -> ((s, d) =>
      Tables.customer(s, d)
        .cube("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))),
    // explicit GROUPING SETS (not the full cube): only the asked-for
    // rollup levels expand — the Expand factor is |sets|, not 2^cols,
    // which is what you want when a 100 TB fact table only needs three
    // of the eight cube slices
    "a8_grouping_sets" -> ((s, d) =>
      Tables.customer(s, d)
        .groupingSets(
          Seq(Seq(col("c_mktsegment"), col("c_nationkey")),
              Seq(col("c_mktsegment")), Seq()),
          col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))),
    "setop_combo" -> ((s, d) => {
      val e = Tables.events(s, d)
      def ids(t: String) = e.filter(col("event_type") === t).select("user_id")
      ids("purchase").union(ids("signup")).distinct()
        .intersect(ids("view"))
        .except(ids("error"))
    }),
    // BAG-semantics set ops: INTERSECT ALL / EXCEPT ALL keep
    // multiplicities (min / truncated difference of per-key counts) —
    // a different operator from the distinct forms above, planned as a
    // count-compare, not a dedup. Result: each user's click-ids
    // multiset ∩ view-count, minus their error-count — aggregated back
    // to counts so the oracle is order-free.
    "setop_bag_combo" -> ((s, d) => {
      val e = Tables.events(s, d)
      def ids(t: String) = e.filter(col("event_type") === t).select("user_id")
      ids("click").intersectAll(ids("view"))
        .exceptAll(ids("error"))
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy("user_id")
    }),
    // FULL OUTER join: users totalled on either side survive with the
    // other side null→0 — at scale both derived aggregates shuffle once
    // on user_id and the outer join reuses that partitioning (the only
    // join type where neither side can be the broadcast build side)
    "j6_full_outer_totals" -> ((s, d) =>
      Joins.fullOuterTotals(Tables.events(s, d))),
    "sessionize_users" -> ((s, d) =>
      graft.ops.Sessionize.sessionsPerUser(s, Tables.events(s, d))),
    // DYNAMIC-GAP session windows: session_window with a PER-EVENT gap
    // expression (purchases hold a session open 60 min, clicks 30) —
    // the engine merges the per-event [ts, ts+gap) intervals; the
    // oracle replays the merge as gaps-and-islands with a running
    // cumulative max of interval ends (new session iff ts >= cummax)
    "sessionize_dynamic_gap" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // the gap expression must evaluate to a CALENDAR interval:
      // string literals cast to it, ANSI day-time interval types do not
      val gap = when(col("event_type") === "purchase", lit("60 minutes"))
        .otherwise(lit("30 minutes"))
      ev.groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"),
          col("n_events"))
    }),
    "sessionize_users_bigkey" -> ((s, d) =>
      graft.ops.Sessionize.sessionsPerUserSecondarySort(s, Tables.events(s, d))),
    // gaps-and-islands: per-user consecutive-day activity streaks
    "streaks_active_days" -> ((s, d) =>
      graft.ops.Sessionize.activityStreaks(Tables.events(s, d))),

    // ---- joins (SURVEY §2.3) ----
    "j1_broadcast_enrich" -> ((s, d) =>
      Joins.enrich(Tables.events(s, d), Tables.customer(s, d),
                   "user_id", "c_custkey")
        .select("event_id", "event_type", "c_name", "c_mktsegment")),
    "j2_assign_one_of_n" -> ((s, d) =>
      Joins.assignOneOfN(Tables.events(s, d), "user_id", Parties, "party")
        .select("event_id", "party")),
    "j3_agg_then_enrich" -> ((s, d) =>
      Joins.aggThenEnrich(Tables.events(s, d), Tables.customer(s, d))),

    "j4_asof_attribution" -> ((s, d) =>
      AsOfJoin.attribution(Tables.events(s, d), "purchase", "click", 3600L)),
    "j4_asof_forward" -> ((s, d) =>
      AsOfJoin.attributionForward(Tables.events(s, d), "purchase", "click", 3600L)),
    "j5_range_join" -> ((s, d) =>
      RangeJoin.trailingWindowPairs(Tables.events(s, d), "purchase", "click", 1800L)),
    // linear multi-touch attribution over the bucketed range join;
    // credit in integer micro-units so the rollup is exact on both sides
    "attrib_linear" -> ((s, d) =>
      RangeJoin.linearAttribution(Tables.events(s, d), "purchase", "click", 3600L)),
    // salted shuffle join: the skew fix when a hot probe key would
    // straggle one task and the build side can't broadcast — probe rows
    // salt by row-id hash, build replicates once per salt, join on
    // (key, salt). Semantics-transparent: the oracle replays the
    // UNSALTED join (row multiplicity provably identical)
    "j7_salted_join" -> ((s, d) =>
      Joins.saltedJoin(
          Tables.events(s, d).select("event_id", "user_id", "value"),
          Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
          "user_id", "c_custkey", "event_id", 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
             round(sum("value"), 2).as("total_value"))
        .orderBy("c_mktsegment")),
    // the same salted join graded under GENUINE skew: ~90% of probe rows
    // share one deterministic hot key (inject-then-handle, like the
    // heavy-hitter fixture) — the shape that straggles one task unsalted
    "j7b_salted_join_skewed" -> ((s, d) =>
      Joins.saltedJoin(
          Joins.injectSkewKey(Tables.events(s, d)),
          Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
          "skew_key", "c_custkey", "event_id", 16)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
             round(sum("value"), 2).as("total_value"))
        .orderBy("c_mktsegment")),
    // the same injected skew handled WITHOUT a salt: plain shuffle join
    // (MERGE-hinted so broadcast can't paper over it), AQE's runtime
    // skew split does the spreading — graded beside j7b to demonstrate
    // the engine is correct with and without the plan-level hint
    "j7c_aqe_skew_join" -> ((s, d) =>
      Joins.skewJoinAqe(
          Joins.injectSkewKey(Tables.events(s, d)),
          Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
          "skew_key", "c_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
             round(sum("value"), 2).as("total_value"))
        .orderBy("c_mktsegment")),

    // edit-distance similarity join (entity resolution): deterministic
    // typo injection over part entities, then the PassJoin-style
    // pigeonhole-segment blocked join back to the clean dimension —
    // candidates from a constant-factor probe explode + one equi-join,
    // exact levenshtein verify; never N·M (the oracle brute-forces the
    // same predicate, so one lost candidate pair flips the row set)
    "j8_fuzzy_match" -> ((s, d) =>
      FuzzyJoin.fuzzyPartMatch(Tables.part(s, d))),
    // native codegen Jaro-Winkler vs DuckDB's own implementation — the
    // true-match score must beat the neighbor control on every row
    "j8b_jaro_winkler_match" -> ((s, d) =>
      FuzzyJoin.jaroWinklerPartMatch(Tables.part(s, d))),
    // unrestricted Damerau-Levenshtein vs plain Levenshtein over a
    // transposition fixture, both regraded by DuckDB's own functions
    "j8c_damerau_match" -> ((s, d) =>
      FuzzyJoin.damerauPartMatch(Tables.part(s, d))),
    // runtime BLOOM-pruned shuffle join — the row-level sibling of
    // storage_dpp_join: a bloom filter built over the filtered orders'
    // keys kills non-joining lineitem rows AT THE SCAN, before the
    // exchange (injection + neutrality pinned by BloomFilterJoinSpec)
    "j9_bloom_join" -> ((s, d) =>
      Joins.bloomPrunedJoin(s, Tables.lineitem(s, d), Tables.orders(s, d))),

    // ---- decode chain / projections (SURVEY §2.2) ----
    "p1p3_decode_flatten" -> ((s, d) =>
      Decode.kafkaRoundTrip(Tables.events(s, d),
        "event_id BIGINT, event_type STRING, value DOUBLE",
        col("event_id"), col("event_type"), col("value"))),
    "p6_empty_guard" -> ((s, d) =>
      Aggregates.emptyGuardCount(Tables.events(s, d))),
    "p7_json_null_filter" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), expr("from_json(props, 'k INT').k").as("k"))
        .filter(col("k").isNotNull && col("k") >= 50)),

    // ---- windows / top-k (SURVEY §2.5) ----
    "w1_rank_leaderboard" -> ((s, d) =>
      Windows.leaderboard(Tables.events(s, d))),
    "w2_topk_spenders" -> ((s, d) =>
      Windows.topKByAggregate(Tables.events(s, d), 10)),
    "w3_running_total" -> ((s, d) =>
      Windows.runningTotalPerUser(Tables.events(s, d))),
    // RANGE frame (value-based trailing hour) — the moving-average
    // semantics a ROWS frame can't express; see Windows.movingAvgTrailing
    "w7_moving_avg_range" -> ((s, d) =>
      Windows.movingAvgTrailing(Tables.events(s, d), 3600L)),
    // percent_rank + cume_dist over the per-user aggregate (key
    // cardinality — the unpartitioned window never sees the fact table)
    "w8_percent_rank" -> ((s, d) =>
      Windows.relativeSpendRank(Tables.events(s, d))),
    // group-wise top-k over the aggregated (group, user) totals — each
    // group ranks only its own key-cardinality slice
    "w9_topk_per_group" -> ((s, d) =>
      Windows.topKPerGroup(Tables.events(s, d), 3)),
    "w4_topk_aggregator" -> ((s, d) => {
      val topk = udaf(new graft.functions.TopKAggregator(3),
                      Encoders.product[graft.functions.TopKItem])
      Tables.events(s, d).groupBy("event_type")
        .agg(topk(col("value"), col("event_id")).as("top_ids"))
    }),

    // ---- scalar layer (SURVEY §2.7) ----
    "f1_concat" -> ((s, d) =>
      Scalars.tag(Tables.customer(s, d), "c_custkey", "c_name", "c_mktsegment")),
    "f2_party_pick" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
                Scalars.pickByMod(col("c_custkey"), Parties).as("party"))),
    "f3_parity_pick" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
                Scalars.parityPick(col("c_custkey"), "female", "male").as("gender"))),
    "f4_time_format" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
                Scalars.formatTime(col("ts"), "yyyy-MM-dd HH").as("hour_str"))),
    "f5_json_roundtrip" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
                Scalars.toJsonCol(col("event_type"), col("value")).as("js"))),
    // XML wire round trip (to_xml → from_xml, Spark 4 built-ins): DuckDB
    // has no to_xml, so the grade is the LOSSLESS identity — the decoded
    // row must hash-match the source (Double.toString text is
    // round-trip-exact, so value survives the text form bit-for-bit)
    "f5b_xml_roundtrip" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          expr("to_xml(struct(event_type, value))").as("x"))
        .select(col("event_id"),
          expr("from_xml(x, 'event_type STRING, value DOUBLE')").as("s"))
        .select(col("event_id"), col("s.event_type").as("event_type"),
          col("s.value").as("value"))),
    "f9_format_string" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
                Scalars.formatLog("%s#%03d", col("event_type"),
                                  pmod(col("user_id"), lit(100))).as("tag"))),
    // COLLATION-aware analytics (Spark 4 UTF8_LCASE): three deterministic
    // case-spellings of each event type (UPPER / Initcap / as-is by
    // event_id mod 3) collapse back to ONE group and ONE dim match under
    // the collated comparison — grouping, count(DISTINCT) and the
    // broadcast equi-join all run on collated keys in the engine (no
    // lower() normalization column materialized); the output label is
    // lower()ed only because a collated group returns an arbitrary
    // representative spelling. The oracle replays with lower(), which is
    // exactly what UTF8_LCASE equality means
    "f11_collation_group" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("etype_mixed",
          when(pmod(col("event_id"), lit(3)) === 0, upper(col("event_type")))
            .when(pmod(col("event_id"), lit(3)) === 1,
                  initcap(col("event_type")))
            .otherwise(col("event_type")))
      val dim = Tables.events(s, d).select(col("event_type")).distinct()
        .select(col("event_type").as("etype_dim"),
                concat(lit("cat_"), col("event_type")).as("label"))
      ev.join(broadcast(dim),
          collate(col("etype_mixed"), "UTF8_LCASE") ===
            collate(col("etype_dim"), "UTF8_LCASE"))
        .groupBy(collate(col("etype_mixed"), "UTF8_LCASE").as("k"))
        .agg(count(lit(1)).as("n_events"),
             countDistinct(collate(col("etype_mixed"), "UTF8_LCASE"))
               .as("n_spellings_collated"),
             max(col("label")).as("label"))
        // normalize the key back to the default binary collation: the
        // result schema (and the parquet the driver hashes) must not
        // carry the session-internal collation annotation
        .select(collate(lower(col("k")), "UTF8_BINARY").as("event_type"),
                col("label"), col("n_events"), col("n_spellings_collated"))
    }),

    // ---- file-source formats (SURVEY §2.1 S4): schema-on-read round-trips ----
    "s4_json_source" -> ((s, d) => {
      val tmp = graft.TmpDirs.create("graft_json_").toString
      Tables.events(s, d).select("event_id", "event_type", "value")
        .write.mode("overwrite").json(tmp)
      s.read.schema("event_id BIGINT, event_type STRING, value DOUBLE").json(tmp)
        .groupBy("event_type")
        .agg(round(sum("value"), 2).as("total_value"),
             count(lit(1)).as("n_events"))
    }),
    // XML source (bundled in Spark 4 — the former spark-xml package):
    // write → read round trip with a declared schema, same fold as the
    // JSON seat so the three self-describing text formats share an oracle
    // shape; exact integer CENTS ride along to catch value coercion
    "s4_xml_source" -> ((s, d) => {
      val tmp = graft.TmpDirs.create("graft_xml_").toString
      Tables.events(s, d).select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .write.mode("overwrite").format("xml").option("rowTag", "event")
        .save(tmp)
      s.read.schema("event_id BIGINT, event_type STRING, cents BIGINT")
        .format("xml").option("rowTag", "event").load(tmp)
        .groupBy("event_type")
        .agg(sum("cents").as("total_cents"), count(lit(1)).as("n_events"))
        .orderBy("event_type")
    }),
    "s4_csv_source" -> ((s, d) => {
      val tmp = graft.TmpDirs.create("graft_csv_").toString
      Tables.events(s, d).select("event_id", "event_type", "value")
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.schema("event_id BIGINT, event_type STRING, value DOUBLE")
        .option("header", "true").csv(tmp)
        .groupBy("event_type")
        .agg(round(sum("value"), 2).as("total_value"),
             count(lit(1)).as("n_events"))
    }),
    // raw text-log round-trip: the unstructured-ingest shape — formatted
    // lines written with text(), parsed back by regexp extraction
    // (schema-on-read over logs), then folded; the parse is a codegen'd
    // projection, so at scale this is scan + map, no shuffle before the agg
    "s4_text_log_source" -> ((s, d) => {
      val tmp = graft.TmpDirs.create("graft_txt_").toString
      Tables.events(s, d)
        .select(format_string("%s|%d|%.2f", col("event_type"),
          col("event_id"), col("value")).as("value"))
        .write.mode("overwrite").text(tmp)
      s.read.text(tmp)
        .select(
          regexp_extract(col("value"), "^([^|]+)\\|", 1).as("event_type"),
          regexp_extract(col("value"), "\\|(\\d+)\\|", 1)
            .cast("long").as("event_id"),
          regexp_extract(col("value"), "\\|([0-9.]+)$", 1)
            .cast("double").as("v"))
        .groupBy("event_type")
        .agg(round(sum("v"), 2).as("total_value"),
             count(lit(1)).as("n_events"),
             max("event_id").as("max_id"))
    }),
    // ORC round-trip: Spark's second built-in columnar format — same
    // pushdown/pruning machinery as parquet, graded the same way
    "s4_orc_source" -> ((s, d) => {
      val tmp = graft.TmpDirs.create("graft_orc_").toString
      Tables.events(s, d).select("event_id", "event_type", "value")
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy("event_type")
        .agg(round(sum("value"), 2).as("total_value"),
             count(lit(1)).as("n_events"))
    }),

    // ---- storage layout: co-bucketed tables -> zero-shuffle join ----
    // Hive-partitioned write + directory-pruned read: the filter resolves
    // against the partition listing (PartitionFilters), zero bytes read
    // from other event types — asserted by a plan spec
    // small-files compaction: a 64-file writer layout compacted to
    // ~2500-row files; the file count is arithmetic (ceil(rows/target) —
    // oracle-replayable) and the aggregate proves the data survived
    "storage_compact" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "user_id", "value")
      val (outDir, nFiles) = Storage.compactRoundTrip(ev, 64, 2500L)
      s.read.parquet(outDir)
        .agg(count(lit(1)).as("n_rows"),
          round(sum("value"), 2).as("sum_value"))
        .withColumn("n_files", lit(nFiles))
        .select("n_files", "n_rows", "sum_value")
    }),
    // schema-evolving table: batch 2's producer gained a column; the
    // mergeSchema read unions the generations (old rows null-fill) and
    // the aggregate proves no generation was silently dropped
    "storage_evolving_read" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val b1 = ev.filter(pmod(col("user_id"), lit(2)) === 0)
        .select("event_id", "user_id", "value")
      val b2 = ev.filter(pmod(col("user_id"), lit(2)) === 1)
        .select("event_id", "user_id", "value", "event_type")
      val dir = Storage.evolvingRoundTrip(b1, b2)
      Storage.evolvingRead(s, dir)
        .agg(count(lit(1)).as("n_rows"),
          count(col("event_type")).as("n_with_type"),
          round(sum("value"), 2).as("sum_value"))
    }),
    "storage_partition_pruning" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
      val dir = Storage.partitionedRoundTrip(ev, "event_type")
      Storage.prunedScan(s, dir, "event_type", "click")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"),
             round(sum("value"), 2).as("click_value"))
    }),
    // Z-order clustering: lineitem rewritten in Morton order of
    // (partkey, suppkey), then a two-dimensional box scan — each file
    // covers a key-space rectangle, so the box prunes most files via
    // parquet min/max stats (the skipping itself is asserted by
    // ZorderSpec; the result here is layout-transparent and oracled)
    "storage_zorder_scan" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_partkey", "l_suppkey", "l_quantity", "l_returnflag")
      val dir = Storage.zorderRoundTrip(li, "l_partkey", "l_suppkey", 16)
      s.read.parquet(dir)
        .filter(col("l_partkey").between(50, 149) &&
                col("l_suppkey").between(2, 7))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
             sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    // dynamic partition overwrite: restate ONLY the click partition
    // (values doubled); every other partition must survive untouched
    "storage_dynamic_overwrite" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
      val restated = ev.filter(col("event_type") === "click")
        .withColumn("value", col("value") * 2)
      val dir = Storage.dynamicOverwriteRoundTrip(ev, restated, "event_type")
      s.read.parquet(dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
             round(sum("value"), 2).as("sum_value"))
        .orderBy("event_type")
    }),
    // globally-sorted export (range partition + within-partition sort:
    // non-overlapping per-file key ranges, no single-partition sort);
    // layout-transparent values, graded differentially
    "storage_sorted_export" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "user_id", "value")
      val dir = Storage.sortedExportRoundTrip(ev, "event_id", 8)
      s.read.parquet(dir)
        .agg(count(lit(1)).as("n_rows"),
             sum("event_id").cast("long").as("sum_ids"),
             round(sum("value"), 2).as("sum_value"))
    }),
    // zstd codec round trip: compression is a pure storage knob — the
    // readback must be bit-identical to the source rows
    "storage_codec_zstd" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "user_id", "value")
      val dir = Storage.codecRoundTrip(ev, "zstd")
      s.read.parquet(dir)
        .agg(count(lit(1)).as("n_rows"),
             sum("event_id").cast("long").as("sum_ids"),
             round(sum("value"), 2).as("sum_value"))
    }),
    // Dynamic partition pruning: the DIM side carries the selective
    // predicate (conv_flag — deliberately NOT on the join key, so no
    // static filter can be inferred onto the fact), the FACT side is a
    // layout partitioned on the join key. Catalyst injects a
    // DynamicPruningExpression on the fact scan: only the partition
    // directories the filtered dim selects are read at runtime — the
    // 100 TB star-join shape where the dim filter, not a literal,
    // decides which fact partitions exist in the plan. Values are
    // layout-transparent and oracled; the runtime pruning itself is
    // asserted by StorageSpec.
    "storage_dpp_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
      val factDir = Storage.partitionedRoundTrip(ev, "event_type")
      // flag is an INT compared to a literal (not a bare boolean):
      // PartitionPruning only fires behind a likely-selective dim
      // predicate, and a boolean attribute simplifies to a bare ref,
      // which the selectivity heuristic rejects
      val dim = ev.select(col("event_type").as("type_name")).distinct()
        .withColumn("conv_flag",
          col("type_name").isin("purchase", "signup").cast("int"))
      val dimDir = Storage.codecRoundTrip(dim, "snappy")
      s.read.parquet(dimDir).filter(col("conv_flag") === 1)
        .join(s.read.parquet(factDir), col("type_name") === col("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
             round(sum("value"), 2).as("sum_value"))
        .orderBy("event_type")
    }),
    // Nested schema pruning: a struct-typed layout read for ONE leaf —
    // the scan must materialize struct<meta:struct<event_type>> only,
    // not the whole struct (scan WIDTH is the other half of the 100 TB
    // scan bill next to partition pruning; at wide telemetry structs a
    // full-struct read is a 10-50× I/O overhead). Values are
    // layout-transparent and oracled; the pruned ReadSchema is asserted
    // by StorageSpec.
    "storage_nested_pruning" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"),
        struct(col("user_id"), col("event_type"), col("value")).as("meta"))
      val dir = Storage.codecRoundTrip(ev, "snappy")
      s.read.parquet(dir)
        .groupBy(col("meta.event_type").as("event_type"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("event_type")
    }),
    // cost-based optimization: a 3-table star join written in the worst
    // syntactic order; ANALYZEd catalog stats + CBO join reorder put the
    // selective dim join first (reorder asserted by CboSpec)
    "storage_cbo_stats" -> ((s, d) => Storage.cboStarJoin(s, d)),
    "storage_bucketed_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .groupBy("user_id").agg(round(sum("value"), 2).as("total_value"))
      graft.ops.Storage.writeBucketedPair(s,
        ev, "g_user_totals", "user_id",
        Tables.customer(s, d).select("c_custkey", "c_name", "c_mktsegment"),
        "g_customers", "c_custkey", buckets = 8)
      graft.ops.Storage.bucketedJoin(s, "g_user_totals", "user_id",
                                     "g_customers", "c_custkey")
        .select("c_name", "c_mktsegment", "total_value")
    }),

    // Avro container files through the avro-mapred InputFormat bridge
    // (spark-avro DataSource unbundled offline; format swap when present)
    "s4_avro_source" -> ((s, d) =>
      graft.sources.AvroIO.roundTripAggregate(s, Tables.events(s, d))),

    // ---- JDBC source/sink (SURVEY §2.1 S4/S5): real embedded-Derby trip ----
    "s5_jdbc_roundtrip" -> ((s, d) =>
      graft.sources.JdbcIO.roundTrip(s, Tables.events(s, d))),
    // S5c: streaming upsert with every epoch applied TWICE (injected
    // at-least-once replay) — the idempotent sink must converge to the
    // batch per-user totals the oracle recomputes
    "s5c_jdbc_upsert_replay" -> ((s, d) =>
      StreamOps.jdbcUpsertReplay(s, d)),
    // the delta-sink sibling: stateless increments, exactly-once carried
    // by the (batch, partition) transaction log; every epoch applied twice
    "s5d_jdbc_txnlog_replay" -> ((s, d) =>
      StreamOps.jdbcTxnLogReplay(s, d)),

    // ---- SQL surface / DDL (SURVEY §2.1 S6) ----
    "s6_sql_over_view" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_v")
      s.sql("""SELECT event_type, count(*) AS n FROM events_v
               WHERE value > 10 GROUP BY event_type HAVING count(*) > 5""")
    }),
    // RECURSIVE SQL (Spark 4's WITH RECURSIVE / UnionLoop executor):
    // bounded ascending-path closure over the near-dup pair DAG —
    // doc_a < doc_b orients every edge upward, so the recursion is
    // acyclic and UNION ALL (the only recursive-term operator Spark
    // supports) terminates without the hop guard ever truncating a
    // clique-sized component. The edge view is the session-wide truth
    // memo; DuckDB replays the identical recursion from the raw pair
    // CTE. n_reach counts distinct docs reachable within 3 ascending
    // hops — the "how deep does this dup neighborhood go" audit in
    // pure SQL, the surface a warehouse user would actually write.
    "s6b_recursive_cte" -> ((s, d) => {
      ext.DedupOps.truthPairsAbove(Tables.documents(s, d), 3, tau = 0.5)
        .createOrReplaceTempView("g_neardup_dag")
      s.sql("""
        WITH RECURSIVE reach AS (
          SELECT doc_a AS src, doc_b AS dst, 1 AS hop FROM g_neardup_dag
          UNION ALL
          SELECT r.src, e.doc_b, r.hop + 1
          FROM reach r JOIN g_neardup_dag e ON e.doc_a = r.dst
          WHERE r.hop < 3
        )
        SELECT src AS doc_id, count(DISTINCT dst) AS n_reach
        FROM reach GROUP BY src ORDER BY doc_id""")
    }),
    // Spark 4's SQL PIPE syntax (|> operators): the same filtered
    // aggregate a warehouse user would write left-to-right — the parser
    // surface is new, the plan is the ordinary WHERE+GROUP BY (the
    // oracle replays exactly that)
    "s6c_sql_pipe" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_v")
      s.sql("""FROM events_v
               |> WHERE value > 10
               |> AGGREGATE count(*) AS n, round(sum(value), 2) AS total_value
                    GROUP BY event_type
               |> ORDER BY event_type""")
    }),
    // SQL scripting (BEGIN/DECLARE/SET/WHILE): instant-runoff election
    // over the seeded voters — the iterative generalization of the
    // reference's plurality tally that genuinely needs a loop; the
    // fixture forces a real elimination round and a 1-vote majority
    "s6d_sql_scripting" -> ((s, _) => Scripting.instantRunoff(s, 1000L)),
    // SQL SCALAR UDFs (Spark 4 CREATE FUNCTION ... RETURN <expr>): the
    // body inlines at ANALYSIS time into plain Catalyst expressions —
    // named, reusable warehouse logic with zero call overhead (stays
    // inside whole-stage codegen, unlike a Scala/Python UDF), so the
    // 100 TB plan is identical to hand-inlined SQL
    "s6e_sql_udf" -> ((s, d) => {
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_rev(
                 p DOUBLE, d DOUBLE) RETURNS DOUBLE
               RETURN p * (1.0d - d)""")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_qty_band(q DOUBLE)
               RETURNS STRING
               RETURN CASE WHEN q < 10 THEN 'small'
                           WHEN q < 30 THEN 'mid'
                           ELSE 'bulk' END""")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_udf_v")
      s.sql("""SELECT l_returnflag, graft_qty_band(l_quantity) AS qty_band,
                      round(sum(graft_disc_rev(l_extendedprice, l_discount)), 2)
                        AS revenue,
                      count(*) AS n
               FROM lineitem_udf_v
               GROUP BY 1, 2""")
    }),
    // SQL TABLE UDF (RETURNS TABLE): a parameterized view — the
    // function body is a query, expanded and optimized in place
    // (filter pushdown reaches the scan through the function boundary)
    "s6f_sql_table_udf" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_udf_v")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_prio_orders(
                 prio STRING)
               RETURNS TABLE (o_orderkey BIGINT, o_custkey BIGINT,
                              o_totalprice DOUBLE)
               RETURN SELECT o_orderkey, o_custkey, o_totalprice
                      FROM orders_udf_v WHERE o_orderpriority = prio""")
      s.sql("""SELECT count(*) AS n_urgent,
                      round(sum(o_totalprice), 2) AS urgent_total,
                      count(DISTINCT o_custkey) AS n_customers
               FROM graft_prio_orders('1-URGENT')""")
    }),
    // DSv2 FUNCTION CATALOG: functions resolved by three-part name from
    // a pluggable CatalogPlugin+FunctionCatalog — the connector-side
    // compute surface. disc_rev is a V2 ScalarFunction bound through
    // its MAGIC invoke method (direct codegen call, no row boxing);
    // geo_mean is a V2 AggregateFunction with the full distributed
    // lifecycle (partition update → shuffle merge → produceResult)
    "s7f_v2_function_catalog" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.graft_fns",
        classOf[sources.GraftFunctionCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v2fn")
      s.sql("""SELECT l_returnflag,
                      round(sum(graft_fns.ext.disc_rev(l_extendedprice,
                                                       l_discount)), 2)
                        AS revenue,
                      round(graft_fns.ext.geo_mean(l_quantity), 6)
                        AS geo_qty,
                      count(*) AS n
               FROM lineitem_v2fn GROUP BY l_returnflag""")
    }),
    // PARAMETERIZED SQL: named parameter markers (:name) bound through
    // the sql(text, args) API, plus the IDENTIFIER() clause binding a
    // parameter as a TABLE reference — the injection-safe templating
    // surface a warehouse exposes to applications. Parameters fold to
    // literals at analysis, so :minVal reaches the parquet scan as an
    // ordinary pushed filter (asserted by spec)
    "s6g_parameterized_sql" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_param_v")
      s.sql(
        """SELECT event_type, count(*) AS n,
                  round(sum(value), 2) AS total_value
           FROM IDENTIFIER(:tbl) WHERE value > :minVal
           GROUP BY event_type""",
        Map("tbl" -> "events_param_v", "minVal" -> 25))
    }),
    // DYNAMIC SQL: EXECUTE IMMEDIATE over a query string with a
    // positional USING binding — the other half of the templating
    // surface (s6g binds into a static string; this executes a string
    // built at runtime, the admin/BI-tool path). The bound parameter
    // folds to a literal exactly like s6g's
    "s6h_execute_immediate" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_dyn_v")
      val q = "SELECT event_type, count(*) AS n, " +
        "round(avg(value), 2) AS avg_value " +
        "FROM events_dyn_v WHERE value > ? GROUP BY event_type"
      s.sql(s"EXECUTE IMMEDIATE '$q' USING 40")
    }),
    // correlated LATERAL subquery with per-row LIMIT — top-3 balances
    // per market segment written as the SQL a warehouse user reaches
    // for; Catalyst decorrelates the lateral into a join (no per-row
    // re-execution), which is what makes the surface safe at 100 TB
    "j10_lateral_topn" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""SELECT seg.c_mktsegment, t.c_custkey, t.c_acctbal
               FROM (SELECT DISTINCT c_mktsegment FROM customer_v) seg,
               LATERAL (SELECT c_custkey, c_acctbal FROM customer_v c
                        WHERE c.c_mktsegment = seg.c_mktsegment
                        ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
               ORDER BY seg.c_mktsegment, t.c_acctbal DESC, t.c_custkey""")
    }),

    // ---- generator / golden pipeline (SURVEY §2.1 S7) ----
    "s7_generator" -> ((s, _) => Generator.voters(s, 1000)),
    // the same generator behind a full DataSource V2 CONNECTOR: id-range
    // filters are pushed INTO the source (pruned rows never generated —
    // GenSourceSpec asserts the narrowed interval in the scan), columns
    // are pruned at the leaf, the residual gender filter re-checks above
    "s7b_pushdown_source" -> ((s, _) =>
      s.read.format(classOf[graft.sources.GenSource].getName)
        .option("rows", 1000).option("partitions", 4).load()
        .filter(col("voter_id") >= 100 && col("voter_id") < 600 &&
                col("gender") === "female")
        .select("voter_id", "party_affiliation", "registered_age")
        .orderBy("voter_id")),
    // COUNT(*) pushed INTO the connector (SupportsPushDownAggregates):
    // each partition answers by arithmetic, no row ever generated —
    // the metadata-count path parquet footers give a warehouse scan
    "s7c_count_pushdown" -> ((s, _) =>
      s.read.format(classOf[graft.sources.GenSource].getName)
        .option("rows", 1000).option("partitions", 4).load()
        .filter(col("voter_id") >= 100 && col("voter_id") < 600)
        .selectExpr("count(*) AS n_rows")),
    // the STREAMING read path of the same connector: a MicroBatchStream
    // with a real offset log + admission control (step ids per trigger →
    // ceil(rows/step) genuine micro-batches) — the Kafka-shaped source
    // surface minus the broker, graded against the batch formula
    "s7e_stream_source" -> ((s, _) =>
      StreamOps.customSourceStreamTally(s, rows = 1000L, step = 256L)),
    // the WRITE half of the connector story: a DSv2 sink running the
    // real two-phase commit protocol (task temp files → driver rename +
    // _SUCCESS manifest; abort sweeps) — the round trip through it must
    // be value-lossless (CommitSinkSpec pins truncate and abort)
    "s7d_sink_commit" -> ((s, d) => {
      val agg = Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
             sum(round(col("value") * 100).cast("long")).as("total_cents"))
      val dir = graft.TmpDirs.create("graft_sink_").toString
      agg.write.format(classOf[graft.sources.CommitSink].getName)
        .option("path", dir).mode("append").save()
      s.read.schema("event_type STRING, n_events BIGINT, total_cents BIGINT")
        .csv(dir).orderBy("event_type")
    }),
    // the sink's OVERWRITE path graded end-to-end, including its crash
    // safety: generation A (click-only tally) is committed; an overwrite
    // attempt is then FAILED mid-commit via the crash-injection hook —
    // Spark aborts, the sink must restore generation A exactly (graded
    // as phase 'after_abort'); the retried overwrite must then replace
    // it wholesale, old rows fully gone (phase 'final')
    "s7d_commit_overwrite" -> ((s, d) => {
      val evs = Tables.events(s, d)
      def tally(df: DataFrame) = df.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
             sum(round(col("value") * 100).cast("long")).as("total_cents"))
      val dir = graft.TmpDirs.create("graft_sink_ow_").toString
      val fmt = classOf[graft.sources.CommitSink].getName
      tally(evs.filter(col("event_type") === "click"))
        .write.format(fmt).option("path", dir).mode("append").save()
      graft.sources.CommitSinkFailpoints.set(dir, step =>
        if (step == "stage-stale") sys.error("injected mid-commit crash"))
      try tally(evs).write.format(fmt).option("path", dir)
        .mode("overwrite").save()
      catch { case _: Throwable => () }
      finally graft.sources.CommitSinkFailpoints.clear(dir)
      val readSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_type STRING, n_events BIGINT, total_cents BIGINT")
      // pin the restored generation's rows BEFORE the retried overwrite
      // replaces the files (csv reads are lazy); the restored tally is
      // one row per gated event type — a driver-side constant, not data
      val restored = s.read.schema(readSchema).csv(dir).collect().toSeq
      tally(evs).write.format(fmt).option("path", dir)
        .mode("overwrite").save()
      s.createDataFrame(java.util.Arrays.asList(restored: _*), readSchema)
        .withColumn("phase", lit("after_abort"))
        .unionAll(s.read.schema(readSchema).csv(dir)
          .withColumn("phase", lit("final")))
        .select("phase", "event_type", "n_events", "total_cents")
        .orderBy("phase", "event_type")
    }),
    "gen_votes_golden" -> ((s, _) => Generator.goldenTally(s, 1000)),

    // ---- full 21-field vote pipeline (P2/P4/F8 over VoteSchema) ----
    "vote_e2e_party_tally" -> ((s, _) =>
      VotePipeline.partyTally(s, VotePipeline.gradedNVoters)),
    "vote_e2e_turnout_by_state" -> ((s, _) =>
      VotePipeline.turnoutByState(s, VotePipeline.gradedNVoters)),
    "vote_e2e_stream_tally" -> ((s, _) =>
      VotePipeline.streamingPartyTally(s, VotePipeline.gradedNVoters)),
    "vote_e2e_live_results" -> ((s, _) =>
      VotePipeline.streamingLiveResults(s, VotePipeline.gradedNVoters)),
    // the full loop: stream-aggregate -> keyed JSON wire emit to a second
    // topic -> downstream re-consume (P1-P3) -> broadcast dim enrich
    "vote_e2e_reemit" -> ((s, _) =>
      VotePipeline.streamingReEmit(s, VotePipeline.gradedNVoters)),

    // ---- streaming (SURVEY §2.8) — real MemoryStream executions ----
    "t3_stream_cumulative" -> ((s, d) =>
      StreamOps.cumulativeTally(s, d)),
    // same tally consumed through the Wire seam as binary key/value frames
    // (S1 wire schema + P1-P3 decode chain on the graded path)
    "t3b_wire_tally" -> ((s, d) =>
      StreamOps.wireCumulativeTally(s, d)),
    // checkpointed aggregate killed after batch 1 and restarted: the full
    // tally can only come from recovered state (offset log bars a re-read)
    "t1_stream_recover" -> ((s, d) =>
      StreamOps.recoverableTally(s, d)),
    // exactly-once parquet sink across a kill-restart: the sink's
    // _spark_metadata log is what the re-read trusts; match vs the
    // source is proof of no loss AND no reprocessing
    "s9_file_sink_exactly_once" -> ((s, d) =>
      StreamOps.fileSinkExactlyOnce(s, d)),
    // exactly-once EMIT through the wire seam: every epoch's Kafka-shaped
    // frames delivered TWICE (injected producer retry); the consumer's
    // (epoch, key) dedup — the transactional-producer shape without the
    // broker — must still reproduce the batch truth
    "s10_wire_emit_exactly_once" -> ((s, d) =>
      StreamOps.wireEmitExactlyOnce(s, d)),
    "t2_stream_hourly_window" -> ((s, d) =>
      StreamOps.hourlyWindowCounts(s, d)),
    // sliding 2h/1h event-time windows: each event lands in TWO
    // overlapping windows; the oracle replays the expansion as a UNION ALL
    "t16_stream_sliding_window" -> ((s, d) =>
      StreamOps.slidingWindowCounts(s, d)),
    // dynamic-gap session windows as a STATEFUL STREAMING aggregate —
    // stream/batch parity graded by the batch seat's gaps-and-islands
    // oracle (state = open sessions, merged across micro-batches)
    "t44_stream_dynamic_sessions" -> ((s, d) =>
      StreamOps.streamingDynamicGapSessions(s, d)),
    // the corpus-preparation front end as a STREAM over the documents
    // table: language+quality gates as in-query scan predicates, exact
    // dedup as a content-digest stateful agg (canonical id, multiplicity,
    // token count); duplicates span the two arrivals, so the oracle's
    // batch GROUP BY md5(text) only matches if dedup state crossed batches
    "t45_stream_canonical_dedup" -> ((s, d) =>
      StreamOps.streamingCanonicalDedup(s, d)),
    // two stateful queries live CONCURRENTLY in one session/state pool —
    // the multi-tenant deployment property; oracle replays both sides
    "t46_stream_concurrent_queries" -> ((s, d) =>
      StreamOps.concurrentSharedSession(s, d)),
    // kill + restart of the t45 corpus front end from its checkpoint:
    // spanning digests keep their cross-arrival counts only via
    // recovered state (same oracle as t45 — recovery is semantics-free)
    "t47_stream_corpus_recover" -> ((s, d) =>
      StreamOps.corpusFrontEndRecover(s, d)),
    // two-hop pipeline chained through an exactly-once parquet sink:
    // hop B tails hop A's sink log; totals match batch truth only if
    // every event crossed the storage handoff exactly once
    "t48_stream_two_hop" -> ((s, d) =>
      StreamOps.twoHopPipeline(s, d)),
    // BOUNDED-state corpus dedup: digest state evicted past the ingest
    // watermark — duplicates planted inside AND beyond the horizon, so
    // the oracle proves the eviction semantics (n_emits = 2 iff evicted)
    "t49_stream_dedup_evicted" -> ((s, d) =>
      StreamOps.streamingDedupEvicted(s, d)),
    // streaming multimodal ingest: real PNG bytes decoded per batch,
    // malformed payloads quarantined, per-geometry admission counters
    "t50_stream_mm_gate" -> ((s, d) =>
      StreamOps.streamingMediaGate(s, d)),
    // the audio modality on the same continuous path: JDK WAV decode
    // per micro-batch, reader-rejected payloads quarantined, per-rate
    // admission counters against the closed-form PCM sample sums
    "t54_stream_audio_gate" -> ((s, d) =>
      StreamOps.streamingAudioGate(s, d)),
    // the video modality completes the streaming codec sweep: RIFF
    // demux + per-frame JPEG decode per micro-batch, truncated clips
    // quarantined, per-frame-count counters + header-vs-decode verdicts
    "t55_stream_video_gate" -> ((s, d) =>
      StreamOps.streamingVideoGate(s, d)),
    // additive schema drift mid-topic: narrow pre-drift files read as
    // NULL-filled under the wide declared schema, no restart
    "t51_stream_schema_drift" -> ((s, d) =>
      StreamOps.streamingSchemaDrift(s, d)),
    // the t48 run's observed conservation counters as a graded row:
    // rows hop A committed == rows hop B read == batch count(*)
    "t52_stream_two_hop_lineage" -> ((s, d) =>
      StreamOps.twoHopLineage(s, d)),
    // the crawler topology: the dedup_incremental triage run per
    // micro-batch against the sealed corpus — per-doc status depends
    // only on doc-vs-corpus, so the streamed union equals the batch
    // triage and shares its oracle
    "t53_stream_incremental_dedup" -> ((s, d) =>
      StreamOps.streamingIncrementalDedup(s, d)),
    // dead-letter routing: poison rows quarantined per micro-batch, the
    // rest aggregated — conservation (valid + dead = all) oracle-checked
    "t17_stream_dead_letter" -> ((s, d) =>
      StreamOps.deadLetterSplit(s, d)),
    // dead-letter triage under injected key skew: ~90% of quarantined
    // rows share one key; the offender count folds through the salted
    // two-level aggregation instead of straggling one task
    "t17b_dead_letter_skew_triage" -> ((s, d) =>
      StreamOps.deadLetterTriageSkewed(s, d)),
    // incremental sketch maintenance: per-batch HLL partials union'd with
    // the prior KB-sized snapshot — history never re-scanned
    "t18_stream_sketch_maintain" -> ((s, d) =>
      StreamOps.streamingSketchMaintenance(s, d)),
    // incremental time-series maintenance: per-batch OHLC partials merged
    // into the prior bar snapshot (open/close as min/max(struct(ts,val)),
    // volume in integer cents); final snapshot folds to hour bars, oracle
    // computes them direct from ticks
    "t19_stream_ohlc_maintain" -> ((s, d) =>
      StreamOps.streamingOhlcMaintenance(s, d)),
    // late rows (held-back fifth, delivered after the watermark advanced)
    // are DROPPED; append mode emits only watermark-finalized windows
    "t4_stream_late_drop" -> ((s, d) =>
      StreamOps.lateDropHourly(s, d)),
    // shared pipeline run with t27 (dedupPipelineRun): t5 grades the
    // append emissions, t27 the checkpoint's state read
    "t5_stream_dedup_users" -> ((s, d) =>
      StreamOps.streamingDedupUsersShared(s, d)),
    // bounded-state dedup: late re-delivered duplicates (batch 2, 1h older)
    // land within the watermark and must be suppressed
    "t5b_stream_dedup_watermarked" -> ((s, d) =>
      StreamOps.streamingDedupUsersWatermarked(s, d)),
    // t5's keyed-state dedup with state in ROCKSDB — the disk-backed
    // backend a 100 TB deployment runs (heap-backed default caps state at
    // JVM memory); same oracle as t5, so the hash match grades the
    // backend swap as semantics-free on the driver's own gate
    "t25_stream_rocksdb_dedup" -> ((s, d) =>
      StreamOps.streamingDedupUsersRocksDB(s, d)),
    // t25's backend under CHANGELOG checkpointing + kill-and-restart:
    // per-batch checkpoints upload only state deltas, recovery replays
    // changelog over snapshot; the union of the two phases' emissions
    // hash-matches t5's oracle only if phase 2 recovered the store
    "t35_stream_changelog_recover" -> ((s, d) =>
      StreamOps.changelogRecoverDedup(s, d)),
    // Spark 4's transformWithState (arbitrary typed state cells behind a
    // StatefulProcessor, RocksDB-only backend): per-user running totals,
    // last emit per key graded against the batch GROUP BY
    "t26_stream_transform_with_state" -> ((s, d) =>
      StreamOps.transformWithStateTotals(s, d)),
    // TWS MapState cell: per-(user, type) running totals — one state
    // row per map ENTRY, the layout a growing per-key map needs
    "t32_stream_tws_map_state" -> ((s, d) =>
      StreamOps.twsMapStateTotals(s, d)),
    // TWS ListState cell: bounded last-3-events buffer per user —
    // incremental append + trim, the recent-activity window shape
    "t33_stream_tws_list_state" -> ((s, d) =>
      StreamOps.twsListStateLastK(s, d, k = 3)),
    // TWS state TTL: two staged micro-batches under a 1 ms
    // processing-time TTL — batch 0's cells have EXPIRED when batch 1
    // reads them, so the odd half re-counts from zero; the union of
    // both batches' emissions only matches the per-half oracle if
    // expiry really reset the fold
    "t34_stream_tws_ttl" -> ((s, d) =>
      StreamOps.twsTtlTotals(s, d)),
    // TWS INITIAL STATE: keyed state warm-starts from a batch frame
    // (prior deployment's even-half totals), the stream folds only the
    // odd half — the serving view must equal the full-table GROUP BY
    // (t26's oracle), proving the handoff lost and re-read nothing
    "t37_stream_tws_initial_state" -> ((s, d) =>
      StreamOps.twsInitialStateTotals(s, d)),
    // state data source over TWS state: read the "totals" ValueState
    // cell back out of the checkpoint (stateVarName addressing, column
    // families, state schema v2) — the audit must equal the batch
    // GROUP BY, certifying writer and reader at once
    "t39_tws_state_source_read" -> ((s, d) =>
      StreamOps.twsStateSourceAudit(s, d)),
    // Spark 4's state data source: read the dedup state back OUT of the
    // checkpoint as a batch frame — the state-audit surface; the keys
    // must be exactly the distinct-user set (t5's oracle)
    "t27_state_source_read" -> ((s, d) =>
      StreamOps.stateSourceDedupAudit(s, d)),
    // state TIME-TRAVEL over a changelog checkpoint: as-of read at
    // batchId=0 (must be the even half alone — no backward leakage) +
    // the change feed from batch 1 (exactly the odd half's new users);
    // the post-incident state-audit surface
    "t41_state_time_travel" -> ((s, d) =>
      StreamOps.stateTimeTravelDedup(s, d)),
    // checkpoint UPGRADE: restart the TWS totals stream on the same
    // checkpoint with a WIDENED state schema (V2 adds a since-upgrade
    // counter) under the Avro state encoding — totals must keep
    // accumulating across the code swap, the evolved field must count
    // exactly the post-upgrade events
    "t28_stream_state_upgrade" -> ((s, d) =>
      StreamOps.stateSchemaUpgradeTotals(s, d)),
    // streaming IVF ingest: new vectors arrive in micro-batches, are
    // assigned to their nearest build-time cell, and land in the
    // partitioned layout; top-k is then served against the GROWN corpus
    // (base ∪ ingested, probed cells only) — the oracle replays the
    // assignment, the probe, and the post-ingest ranking exactly
    "t29_stream_ivf_ingest" -> ((s, d) =>
      StreamOps.streamingIvfIngestServe(s, d)),
    // the batched serving shape over the SAME grown corpus (memoized
    // ingest): 10 queries — five of them JUST-INGESTED vectors — one
    // pruned scan of their probe-cell union, bounded-heap top-k
    "t29b_stream_ivf_batch_serve" -> ((s, d) =>
      StreamOps.streamingIvfIngestBatchServe(s, d)),
    "t8_stream_asof" -> ((s, d) =>
      StreamOps.streamingAsOfAttribution(s, d)),
    // streaming SCD2: each change CLOSES the key's open version (append
    // mode); open versions live in state, so the oracle is the batch
    // lead() assembly filtered to closed intervals
    "t13_stream_scd2" -> ((s, d) =>
      StreamOps.streamingScd2(s, d)),
    // streaming decontamination feed: per-batch window explode + broadcast
    // eval-window semi join (stateless), per-lang contaminated counts in
    // complete mode; the batch decontaminate's quarantine side, live
    "t14_stream_decontaminate" -> ((s, d) =>
      StreamOps.streamingDecontaminationFeed(s, d)
        .orderBy("lang")),
    // timer-based session close (EventTimeTimeout): in-batch closes on
    // gap-exceed, tail sessions close when the watermark passes
    // last + gap — the oracle replays the exec's exact ms fire condition
    "t15_stream_timeout_sessions" -> ((s, d) =>
      StreamOps.streamingTimeoutSessions(s, d)
        .orderBy("user_id", "start_us")),
    // the SAME session machine on transformWithState TIMERS
    // (registerTimer/deleteTimer/handleExpiredTimer, TimeMode.EventTime)
    // — graded by t15's oracle, so a hash match certifies the two timer
    // APIs' close semantics are identical (the TWS migration contract)
    "t30_stream_tws_timer_sessions" -> ((s, d) =>
      StreamOps.twsTimerSessions(s, d)
        .orderBy("user_id", "start_us")),
    // Trigger.AvailableNow: drain the backlog in admission-controlled
    // micro-batches, then the ENGINE stops itself — termination is the
    // query's own decision, graded by reaching the full tally
    "t31_stream_available_now" -> ((s, d) =>
      StreamOps.availableNowTally(s, d)
        .orderBy("event_type")),
    // data-quality audit: scan rules fold in ONE multi-aggregate pass,
    // referential integrity is the one anti join; the fixture is clean,
    // so violations are INJECTED deterministically (the pii/a10
    // inject-then-detect pattern) — identical VALUES on the oracle side
    // in-flight DQ counters: observe/CollectMetrics folds the meters
    // inside the SAME pass that consumes the data — no second scan; the
    // re-emitted metric row must equal the oracle's direct recompute
    "dq_observe" -> ((s, d) =>
      graft.ops.Quality.observedCounters(Tables.events(s, d))),
    "dq_audit" -> ((s, d) => {
      val bad = s.sql(
        """SELECT * FROM VALUES
             (CAST(NULL AS BIGINT), 1L, 1L, 1, 10.0D, 100.0D, 0.05D, 0.02D,
              'N', 'O', TIMESTAMP '1996-06-01'),
             (-999L, 1L, 1L, 1, 10.0D, 100.0D, 0.05D, 0.02D,
              'N', 'O', TIMESTAMP '1996-06-01'),
             (0L, 1L, 1L, 1, 10.0D, -5.0D, 0.05D, 0.02D,
              'N', 'O', TIMESTAMP '1996-06-01'),
             (0L, 1L, 1L, 1, 10.0D, 100.0D, 2.0D, 0.02D,
              'N', 'O', TIMESTAMP '1996-06-01'),
             (0L, 1L, 1L, 1, 0.0D, 100.0D, 0.05D, 0.02D,
              'N', 'O', TIMESTAMP '1996-06-01'),
             (0L, 1L, 1L, 1, 10.0D, 100.0D, 0.05D, 0.02D,
              'N', 'O', TIMESTAMP '1990-01-01')
           AS t(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                l_extendedprice, l_discount, l_tax, l_returnflag,
                l_linestatus, l_shipdate)""")
      Quality.auditLineitem(
        Tables.lineitem(s, d).unionByName(bad), Tables.orders(s, d))
    }),
    // incremental aggregate maintenance: per-batch PARTIAL aggregates
    // (integer cents — associative, so two-level == one-level exactly)
    // merged by re-aggregation, never recomputed from raw history — the
    // materialized-view refresh shape at 100 TB
    "incr_agg_merge" -> ((s, d) =>
      Aggregates.incrementalMerge(Tables.events(s, d))),
    // the JOIN sibling: refresh = old ∪ (ΔE ⋈ D) ∪ (E₀ ⋈ ΔD) — delta
    // batches join the other side once; the full-join oracle goes red if
    // the decomposition loses or doubles any term
    "incr_join_merge" -> ((s, d) =>
      Joins.incrementalJoinMerge(Tables.events(s, d), Tables.customer(s, d))),
    // distribution-drift audit: PSI per event_type between two snapshot
    // halves (even ids vs odd ids with 60% of odd clicks dropped — a
    // deterministic injected mix shift, so the click PSI term is large
    // and the others are near zero at every SF)
    "dq_drift_psi" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "event_type")
      val base = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      val cur = ev.filter(pmod(col("event_id"), lit(2)) === 1 &&
        !(col("event_type") === "click" &&
          pmod(col("event_id"), lit(5)) < 3))
      Quality.driftPsi(base, cur, "event_type").orderBy("event_type")
    }),
    // the same PSI audit over a CONTINUOUS column: bin value into
    // 25-wide buckets clamped at 3 (all four bins populated at every
    // SF), injected shift = 60% of odd low-value rows dropped
    "dq_drift_psi_numeric" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          least(floor(col("value") / 25), lit(3L)).as("value_bin"))
      val base = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      val cur = ev.filter(pmod(col("event_id"), lit(2)) === 1 &&
        !(col("value_bin") === 0 && pmod(col("event_id"), lit(5)) < 3))
      Quality.driftPsi(base.select("value_bin"), cur.select("value_bin"),
        "value_bin").orderBy("value_bin")
    }),
    // stream-stream interval join: every click within the hour before the
    // purchase, both sides streaming + watermarked (state evicted by the
    // range condition); oracle = the batch SQL range join
    "t10_stream_stream_join" -> ((s, d) =>
      StreamOps.streamStreamIntervalJoin(s, d)),
    // stream-stream LEFT OUTER interval join: matched pairs emit as they
    // match; unmatched purchases emit a NULL-click row when the watermark
    // evicts their state (the no-data batch) — purchases inside the final
    // watermark delay stay in state, as live pipelines leave them
    "t20_stream_left_outer_join" -> ((s, d) =>
      StreamOps.streamStreamLeftOuterJoin(s, d)),
    // stream-stream FULL OUTER interval join: null rows emit on BOTH
    // eviction directions — unmatched purchases when the watermark
    // passes purchase_ts, unmatched clicks when it passes
    // click_ts + tolerance (no future purchase can land in range)
    "t36_stream_full_outer_join" -> ((s, d) =>
      StreamOps.streamStreamFullOuterJoin(s, d)),
    // stream-stream LEFT SEMI: the existence flavor — one row per
    // matched purchase regardless of click fan-out, unmatched never
    // emit; the batch EXISTS is the oracle (no eviction arithmetic)
    "t38_stream_semi_join" -> ((s, d) =>
      StreamOps.streamStreamSemiJoin(s, d)),
    // stream-stream RIGHT OUTER: the last supported flavor — null rows
    // emit ONLY on the click side, when the watermark passes
    // click_ts + tolerance (t36's second eviction direction alone);
    // unmatched purchases never emit
    "t40_stream_right_outer_join" -> ((s, d) =>
      StreamOps.streamStreamRightOuterJoin(s, d)),
    // streaming observability: observe() counters ride the scan (zero
    // extra jobs) and surface per micro-batch in the progress log —
    // the alerting surface a 100 TB pipeline monitors; oracle replays
    // each batch's counters from the parity arrival split
    "t43_stream_observe" -> ((s, d) =>
      StreamOps.streamingObservedGate(s, d)),
    // MULTIPLE STATEFUL OPERATORS in one query: hourly windowed counts
    // chained into epoch-aligned 4 h buckets (append mode, one job —
    // the single-query rollup topology instead of a two-hop pipeline);
    // n_hours counts populated hourly windows per bucket, a value only
    // the two-level chain can produce
    "t42_stream_chained_agg" -> ((s, d) =>
      StreamOps.chainedWindowRollup(s, d)),
    // live leaderboard: stream maintains ONLY the O(keys) tally state;
    // rank / share / gap-to-leader computed over the |keys|-row snapshot
    // (ranking inside the stream would global-sort state per batch)
    "t21_stream_leaderboard" -> ((s, d) =>
      StreamOps.streamingLeaderboard(s, d)),
    // streaming CDC apply: latest-wins compaction as a mergeable
    // complete-mode max(struct) — O(keys) state — then the tombstone
    // MERGE on the snapshot; the batch oracle grades stream/batch parity
    "t22_stream_merge_delete" -> ((s, d) =>
      StreamOps.streamingMergeDelete(s, d,
        Tables.customer(s, d).select("c_custkey", "c_acctbal"))),
    // streaming drift monitor: the dq_drift_psi audit run continuously —
    // per-category counters in complete mode (O(categories) state),
    // PSI scored on the emitted snapshot vs the pinned batch baseline
    "t23_stream_drift_psi" -> ((s, d) =>
      StreamOps.streamingDriftPsi(s, d)),
    "t9_stream_sessions" -> ((s, d) =>
      StreamOps.streamingSessionCounts(s, d)),
    // streaming corpus curation: the language+quality scan gates applied
    // to a document stream, per-lang survivor counts in complete mode
    // t24: stateful streaming dedup keyed on the native nfc_normalize —
    // two byte-different spellings per doc collapse to one state entry
    "t24_stream_nfc_dedup" -> ((s, d) =>
      StreamOps.streamingNfcDedup(s, d)),
    "t12_stream_quality_gate" -> ((s, d) =>
      StreamOps.streamingQualityGate(s, d)),
    // streaming funnel: the batch funnel_stages semantics as a keyed
    // monotone stage machine (O(1) state per user); same oracle SQL
    "t11_stream_funnel" -> ((s, d) =>
      StreamOps.streamingFunnel(s, d)),
    "s8_write_then_emit" -> ((s, d) => StreamOps.writeThenEmit(s, d)),

    // ---- LLM pipeline: dedup family ----
    "dedup_exact" -> ((s, d) =>
      Dedup.exactByContent(Tables.documents(s, d))),
    "dedup_ngram_jaccard" -> ((s, d) =>
      DedupOps.ngramJaccardTopPairs(Tables.documents(s, d), 3, 20)),
    // asymmetric containment: catches subset duplication (doc quoted
    // whole inside a larger one) that Jaccard under-scores
    "dedup_containment" -> ((s, d) =>
      DedupOps.containmentTopPairs(Tables.documents(s, d), 3, 20)),
    "dedup_minhash_recall" -> ((s, d) =>
      DedupOps.minHashRecall(Tables.documents(s, d), 3, bands = 8, rows = 2,
                             tau = 0.5, minRecall = 0.8)),
    // the banding's OTHER contract: false-positive candidates are what
    // the exact-Jaccard verify stage pays for at 100 TB. Precision is a
    // CONFIG property — the recall-tuned 8×2's FP rate grows with the
    // corpus (0.22 → 0.80 across the fixture SFs), so the graded config
    // is the PRECISION-tuned re-banding of the same 16-hash budget
    // (4×4: background admission ~4·j⁴), held to BOTH contracts: FP
    // rate ≤ 0.25 and recall ≥ 0.8 (measured: 0 FPs, full truth, at
    // every fixture SF)
    "dedup_minhash_precision" -> ((s, d) =>
      DedupOps.minHashPrecision(Tables.documents(s, d), 3, bands = 4,
                                rows = 4, tau = 0.5, maxFpRate = 0.25,
                                minRecall = 0.8)),
    // 4×16-bit banding catches ALL pairs at hamming <= 3 (pigeonhole) and
    // most at 4-5 (a band must stay clean); the fixture's planted dups sit
    // at hamming 0-5, so the gate recall is 23/25 = 0.92 here.
    "dedup_simhash_recall" -> ((s, d) =>
      DedupOps.simHashRecall(Tables.documents(s, d), maxHamming = 5, n = 3,
                             tau = 0.5, minRecall = 0.8)),
    "dedup_embedding_cosine" -> ((s, d) =>
      SimilarityOps.nearDupPairsWithinLabel(Tables.embeddings(s, d), 20)),
    "dedup_clusters" -> ((s, d) =>
      DedupOps.duplicateClusters(Tables.documents(s, d), 3, tau = 0.5)),
    // iterative graph scoring (the Pregel seat): 3 rounds of FIXED-POINT
    // PageRank over the symmetric near-dup pair graph — integer
    // arithmetic end to end, so the per-destination fold is
    // order-insensitive and the recurrence replays exactly in SQL
    "graph_pagerank_neardup" -> ((s, d) =>
      GraphOps.nearDupPageRank(Tables.documents(s, d), 3, tau = 0.5,
        iters = 3)),
    // per-node triangle membership over the same pair graph — the local
    // clustering signal that separates true dup CLIQUES from chain-shaped
    // false positives; ordered wedge join, never an all-pairs product
    "graph_triangles_neardup" -> ((s, d) =>
      GraphOps.nearDupTriangles(Tables.documents(s, d), 3, tau = 0.5)),
    // bounded multi-source BFS (level-synchronous frontier loop): hop
    // distance from each near-dup node to its component's canonical rep
    // — the transitivity-depth audit behind the dedup drop; replayed by
    // a recursive-CTE oracle over the same pair graph
    "graph_hops_to_canonical" -> ((s, d) =>
      GraphOps.nearDupHopsToCanonical(Tables.documents(s, d), 3, tau = 0.5,
        maxHops = 6)),
    // cluster → kept representative (longest member, tie min doc_id):
    // the deduplicated corpus the cluster step exists to produce
    "dedup_canonical" -> ((s, d) =>
      DedupOps.canonicalPerCluster(Tables.documents(s, d), 3, tau = 0.5)),
    // two-stage semantic near-dup: the embedding band gate proposes the
    // top-20 pairs, the lexical exact-Jaccard verifies each — the verify
    // cost follows the CANDIDATES (semi-joined corpus), never the corpus
    "dedup_semantic_verified" -> ((s, d) => {
      val pairs = SimilarityOps
        .nearDupPairsWithinLabel(Tables.embeddings(s, d), 20)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
          col("cosine"))
      DedupOps.jaccardForPairs(Tables.documents(s, d), pairs, 3)
        .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"),
          col("cosine"), col("jaccard"))
        .orderBy(desc("cosine"), asc("vec_a"), asc("vec_b"))
    }),
    // substring-level (13-token-window) duplicated-span mass per doc —
    // the Lee et al. exact-substring family, inverted-index shape
    "dedup_substring_spans" -> ((s, d) =>
      DedupOps.substringDupSpans(Tables.documents(s, d))),
    // incremental ingest: doc_id % 5 == 0 plays the new crawl batch, the
    // rest is the existing corpus. The fixture has no verbatim cross-set
    // copies, so the increment also carries deterministic RECRAWLS
    // (corpus docs re-keyed at doc_id + 10000) — both the exact gate and
    // the cross-set near-dup gate bind; the oracle replays the injection
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val increment = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select("doc_id", "text")
        .union(corpus.filter(pmod(col("doc_id"), lit(7)) === 3)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      DedupOps.incrementalDedup(increment, corpus, 3, tau = 0.5)
    }),
    // the same triage with the exact gate served through an explicit
    // Bloom pre-filter (no false negatives; false positives die in the
    // exact rejoin) — bit-identical result, shared oracle; the 100 TB
    // form where the corpus digest set rides a broadcastable sketch
    "dedup_incremental_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val increment = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select("doc_id", "text")
        .union(corpus.filter(pmod(col("doc_id"), lit(7)) === 3)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      DedupOps.incrementalDedupBloom(increment, corpus, 3, tau = 0.5)
    }),
    // eval-set decontamination: flag corpus docs sharing any 13-token
    // window with the held-out split (doc_id % 20 == 0 plays the eval set)
    "dedup_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(20)) === 0))
    }),

    // raw-FILE sources — the multimodal ingestion path: a directory of
    // per-document blobs read back through Spark's binaryFile source
    // (whole file -> one row, content as binary); losslessness graded by
    // hash-matching the decoded text against the documents table
    "s4_binary_source" -> ((s, d) => {
      val dir = graft.sources.MediaFiles.textFileDir(s, d)
      s.read.format("binaryFile").load(dir)
        .select(
          regexp_extract(col("path"), "(\\d+)\\.bin", 1).cast("long")
            .as("doc_id"),
          decode(col("content"), "UTF-8").as("text"))
        .orderBy("doc_id")
    }),
    // the image DATASOURCE over real JDK-encoded PNG files: ImageIO
    // decode at the source, dims/channels surfaced as columns — graded
    // against the closed-form fixture dims
    "s4_image_source" -> ((s, d) => {
      val dir = graft.sources.MediaFiles.pngFileDir(s, d)
      s.read.format("image").load(dir)
        .select(
          regexp_extract(col("image.origin"), "(\\d+)\\.png", 1).cast("long")
            .as("doc_id"),
          col("image.width").cast("long").as("width"),
          col("image.height").cast("long").as("height"),
          col("image.nChannels").cast("long").as("n_channels"))
        .orderBy("doc_id")
    }),

    // ---- LLM pipeline: similarity search ----
    "ann_cosine_topk" -> ((s, d) =>
      SimilarityOps.bruteForceTopK(Tables.embeddings(s, d), 0L, 10)),
    "ann_cosine_topk_native" -> ((s, d) => {
      graft.functions.GraftExtensions.register(s)
      SimilarityOps.bruteForceTopKNative(Tables.embeddings(s, d), 0L, 10)
    }),
    "ann_ivf_topk" -> ((s, d) =>
      SimilarityOps.ivfTopK(Tables.embeddings(s, d), 0L, 10, nprobe = 3)),
    // same probe executed against the Hive-partitioned cell layout: the
    // scan reads ONLY the probed cell directories (PartitionFilters,
    // asserted by spec) — the executable form of the 100 TB IVF claim
    "ann_ivf_topk_pruned" -> ((s, d) =>
      SimilarityOps.ivfTopKPruned(Tables.embeddings(s, d), 0L, 10, nprobe = 3)),
    // the serving shape: 10 query vectors, one corpus scan, per-query
    // top-10 via the bounded-heap aggregator (map-side combined)
    "ann_batch_topk" -> ((s, d) =>
      SimilarityOps.bruteForceTopKBatch(Tables.embeddings(s, d), 0L to 9L, 10)),
    // batched IVF: the same 10 queries served by ONE partition-pruned scan
    // of the union of their nprobe=3 probe cells (PartitionFilters asserted
    // by spec), each row scored only against the queries that probed its
    // cell — the corpus-scale serving shape (ann_batch_topk brute-forces
    // the full corpus; ann_ivf_topk_pruned prunes for one query)
    "ann_ivf_batch_topk" -> ((s, d) =>
      SimilarityOps.ivfTopKBatchPruned(Tables.embeddings(s, d), 0L to 9L, 10,
        nprobe = 3)),
    // IVF approximation quality at small nprobe, graded like
    // dedup_minhash_recall: truth = brute-force top-10, verdict = recall@10
    // of the nprobe=3 probe. The DuckDB oracle recomputes BOTH sides
    // (brute-force truth and the probe replay) independently from the raw
    // embeddings, so a systematic scoring bug in SimilarityOps cannot
    // self-grade its way past the gate.
    // (nprobe=3 of 10 cells scans ~30% of this uniform corpus; measured
    // recall here is 4/10 — the bound 0.3 is the honest floor for a
    // coarse quantizer with no real cluster structure to exploit.)
    "ann_ivf_recall" -> ((s, d) => {
      val bf = SimilarityOps.bruteForceTopK(Tables.embeddings(s, d), 0L, 10)
        .select("vec_id")
      val iv = SimilarityOps.ivfTopK(Tables.embeddings(s, d), 0L, 10, nprobe = 3)
        .select("vec_id")
      bf.join(iv, "vec_id")
        .agg(count(lit(1)).as("n_hits"))
        .select(col("n_hits"), (col("n_hits") >= lit(3L)).as("recall_ok"))
    }),
    // nprobe >= #cells makes IVF exhaustive, so the exact brute-force SQL
    // oracles the whole probe machinery (the recall contract at its
    // boundary); small-nprobe behavior is covered by the mechanism spec
    "ann_ivf_topk_full" -> ((s, d) =>
      SimilarityOps.ivfTopK(Tables.embeddings(s, d), 0L, 10, nprobe = 1000)),
    "ann_lsh_buckets" -> ((s, d) =>
      SimilarityOps.lshBuckets(Tables.embeddings(s, d), 8)),
    "vec_quantize_int8" -> ((s, d) =>
      SimilarityOps.quantizeInt8(Tables.embeddings(s, d))),
    // serving-path ANN on the int8 codes (scale cancels in cosine, no
    // dequantize); measured 10/10 vs float truth here, bound 9 leaves
    // one boundary flip of margin
    "ann_int8_recall" -> ((s, d) =>
      SimilarityOps.int8TopKRecall(Tables.embeddings(s, d), 0L, 10, minHits = 9)),
    // two-stage serving: int8 coarse scan keeps a 50-candidate pool (4x
    // less scan bandwidth), exact float re-rank returns the top-10 — the
    // full-precision table is touched for pool rows, not N
    "ann_int8_rerank" -> ((s, d) =>
      SimilarityOps.int8RerankTopK(Tables.embeddings(s, d), 0L, 10, pool = 50)),
    // product quantization: 8 subspace codes per vector (32x smaller
    // than float32), deterministic label-centroid codebooks, ADC
    // serving via a driver-built lookup table — the scan reads codes,
    // never vectors; the oracle replays codebooks/codes/LUT/ranking
    "ann_pq_adc_topk" -> ((s, d) =>
      SimilarityOps.pqAdcTopK(Tables.embeddings(s, d), 0L, 10)),
    // two-stage PQ serving: the ADC code-scan keeps an N/10 candidate
    // pool, exact dot re-ranks it — the full-precision table is touched
    // for pool rows, not N
    "ann_pq_rerank" -> ((s, d) =>
      SimilarityOps.pqRerankTopK(Tables.embeddings(s, d), 0L, 10)),
    // PQ approximation quality of the RERANKED top-10 vs the exact-dot
    // truth (ADC approximates dot, so dot is the apples-to-apples side).
    // Measured 5/4/3 hits at sf0.01/0.001/0.1 — this near-uniform
    // synthetic corpus is the worst case for a coarse quantizer (the
    // ann_ivf_recall 0.3-floor rationale); bound 2 leaves one boundary
    // flip of margin below the weakest measurement
    "ann_pq_recall" -> ((s, d) =>
      SimilarityOps.pqRecall(Tables.embeddings(s, d), 0L, 10, minHits = 2)),
    "ann_kmeans_cells" -> ((s, d) =>
      SimilarityOps.kmeansCells(Tables.embeddings(s, d), 2)
        .orderBy("vec_id")),

    // ---- LLM pipeline: text analysis ----
    "text_stats" -> ((s, d) => TextOps.stats(Tables.documents(s, d))),
    "text_quality" -> ((s, d) => TextOps.quality(Tables.documents(s, d))),
    // model-based quality filtering, TRAINING side: 3 full-batch GD
    // steps of a logistic regression on rounded per-doc features, each
    // step ONE map-side-combined aggregate + a 1-row driver collect;
    // labels come from the rule gate the classifier generalizes. The
    // oracle replays the identical iterations as chained CTEs
    "quality_lr_train" -> ((s, d) =>
      ext.ClassifierOps.lrTrain(Tables.documents(s, d))),
    // the SERVING side: score + gate every doc with the trained
    // (session-memoized) weights — one codegen'd scan, zero shuffles,
    // the train-once / score-everything shape of corpus filtering
    "quality_lr_score" -> ((s, d) =>
      ext.ClassifierOps.lrScore(Tables.documents(s, d))),
    "text_langid" -> ((s, d) => TextOps.langId(Tables.documents(s, d))),
    // classifier-eval rollup: langid prediction vs the labeled lang column
    "text_langid_confusion" -> ((s, d) =>
      TextOps.langIdConfusion(Tables.documents(s, d))),
    "text_token_counts" -> ((s, d) => TextOps.tokenCounts(Tables.documents(s, d))),
    // web preprocessing: HTML-to-text extraction over a deterministic
    // injected wrapper (script/style blocks dropped WITH contents,
    // entities unescaped amp-last) — zero-shuffle scalar pipeline
    "web_html_extract" -> ((s, d) =>
      graft.ext.WebOps.htmlExtract(Tables.documents(s, d))),
    // crawl-dedup key: URL canonicalization (fragment, case, www,
    // default port, trailing slash, utm params, query-param sort)
    "web_url_canonicalize" -> ((s, d) =>
      graft.ext.WebOps.urlCanonicalize(Tables.documents(s, d))),
    // per-domain cap on the bounded-heap top-k aggregator: O(k) state
    // per domain, map-side merged — never a rank window sorting a
    // mega-domain through one partition
    "web_domain_cap" -> ((s, d) =>
      graft.ext.WebOps.domainCap(Tables.documents(s, d))),
    "text_fingerprints" -> ((s, d) => TextOps.fingerprints(Tables.documents(s, d))),

    "text_tfidf_top3" -> ((s, d) =>
      TextOps.tfIdfTopTerms(Tables.documents(s, d), 3)),
    // BM25 retrieval top-10 for a 3-term query — per-term contributions
    // in integer micro-units (associative sum), top-k via
    // TakeOrderedAndProject, never a corpus-wide rank window
    "text_bm25_topk" -> ((s, d) =>
      TextOps.bm25TopK(Tables.documents(s, d),
        Seq("spark", "join", "window"), 10)),
    // PMI collocation mining: top-20 bigrams by pointwise mutual
    // information with an n>=5 support floor — counts aggregate
    // map-side, PMI is one mirrored expression over longs
    "text_pmi_bigrams" -> ((s, d) =>
      TextOps.pmiBigrams(Tables.documents(s, d), minCount = 5L, k = 20)),
    // cross-source contamination matrix: distinct shared trigrams per
    // source pair via a source-level inverted index (df ≤ #sources)
    "text_source_overlap" -> ((s, d) =>
      TextOps.crossSourceOverlap(Tables.documents(s, d), 3)),
    // boilerplate removal: per-source high-df 8-word blocks dropped and
    // the documents reassembled — banner injected deterministically so
    // the drop rule binds (pii_redact pattern); output all-integer+text
    "text_boilerplate" -> ((s, d) =>
      TextOps.boilerplateRemove(
        TextOps.withInjectedBoilerplate(Tables.documents(s, d)),
        blockWords = 8, maxDf = 3)),
    // unicode NFC canonicalization (native expression over the JDK
    // normalizer, graded byte-for-byte against DuckDB's nfc_normalize):
    // composed and decomposed spellings of the same word — injected by
    // doc parity — collapse to identical bytes, the precondition every
    // digest/shingle dedup key needs on real web text
    "text_nfc_dedup" -> ((s, d) => {
      graft.functions.GraftExtensions.register(s)
      val nfc = graft.functions.NfcNormalize
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" "),
            when(pmod(col("doc_id"), lit(2)) === 0, lit("caf\u00e9"))
              .otherwise(lit("cafe\u0301"))).as("t"))
        .select(col("doc_id"),
          length(col("t")).as("len_raw"),
          length(nfc(col("t"))).as("len_nfc"),
          expr("right(nfc_normalize(t), 4)").as("tail_nfc"))
        .orderBy("doc_id")
    }),
    // Gopher-style repetition gates: top-bigram share + duplicate-word
    // fraction, with the keep verdict as a composable predicate
    "text_repetition" -> ((s, d) =>
      TextOps.repetition(Tables.documents(s, d))),
    // tokenizer-prep vocabulary: top-30 words by count with df and rank
    "text_vocabulary" -> ((s, d) =>
      TextOps.vocabulary(Tables.documents(s, d), 30)),
    // vocabulary APPLICATION (the encode step): word → top-30 rank,
    // OOV → 0; per-doc integer invariants pin the full id sequence
    "text_tokenize_ids" -> ((s, d) =>
      TextOps.tokenizeStats(Tables.documents(s, d), 30)),
    // tokenizer TRAINING: the BPE merge loop — 8 iterative pair-merge
    // rounds over the distinct-word table (one distributed pair
    // aggregation + a 1-row argmax per round; corpus touched once)
    "text_bpe_merges" -> ((s, d) =>
      TextOps.bpeMerges(Tables.documents(s, d), 8)),
    // the apply half: per-doc word + BPE token counts under the trained
    // merges (merges applied on the distinct-word table, corpus joins
    // the |vocab|-row segment side; training shared via memo)
    "text_bpe_encode" -> ((s, d) =>
      TextOps.bpeEncode(Tables.documents(s, d), 8)),
    // the decode half closing the tokenizer loop: text → ids → text
    // through the inverted vocab (26 letters ∪ trained merges, so the
    // id space is closed over any corpus); graded per doc by
    // decode(encode(x)) = normalize(x) plus the exact token count
    "text_bpe_roundtrip" -> ((s, d) =>
      TextOps.bpeRoundtrip(Tables.documents(s, d), 8)),
    // unigram-LM quality signal (poor-man's perplexity): per-doc mean
    // log-probability under the corpus's own unigram distribution
    "text_unigram_score" -> ((s, d) =>
      TextOps.unigramScore(Tables.documents(s, d))),
    // count-pruned bigram LM with stupid backoff — the KenLM-shaped
    // filter; pruning makes the backoff path non-vacuous under
    // self-scoring (singleton bigrams fall to alpha·P(w2))
    "text_bigram_lm_score" -> ((s, d) =>
      TextOps.bigramLmScore(Tables.documents(s, d))),
    "text_chunks" -> ((s, d) =>
      TextOps.chunks(Tables.documents(s, d), chunkSize = 64, overlap = 8)),
    // content-defined chunking: boundaries where the trailing-3-word
    // rolling hash ≡ 0 mod 16 — edit-robust chunk dedup units
    "text_cdc_chunks" -> ((s, d) =>
      TextOps.cdcChunks(Tables.documents(s, d), 16)),
    "pack_sequences" -> ((s, d) =>
      PackOps.packSequences(Tables.documents(s, d), budget = 512, shards = 8)),

    // ---- LLM pipeline: sampling / split assignment ----
    "sample_systematic" -> ((s, d) =>
      SampleOps.systematic(Tables.events(s, d), "event_id", 20)
        .select("event_id", "user_id", "event_type")),
    "sample_stratified" -> ((s, d) =>
      SampleOps.stratified(Tables.events(s, d), "event_type", "event_id",
                           Map("click" -> 2, "error" -> 5), defaultK = 10)
        .select("event_id", "event_type")),
    "split_assign" -> ((s, d) =>
      SampleOps.splitAssign(Tables.documents(s, d), "doc_id")
        .select("doc_id", "split")),
    // leakage-safe split: hash the near-dup CLUSTER label, not the doc —
    // no near-duplicate pair can straddle train/eval (the contamination
    // a per-doc hash split cannot prevent); singletons hash their own id
    "split_group_aware" -> ((s, d) =>
      SampleOps.groupAwareSplit(Tables.documents(s, d), 3, tau = 0.5)),
    // data-mix rebalancing on the skewed column (lang: en is ~3x the
    // others at every SF, so the cap genuinely binds — `source` is
    // uniform and would grade nothing)
    "mix_rebalance" -> ((s, d) =>
      SampleOps.rebalanceToMeanShare(Tables.documents(s, d), "lang", "doc_id")),
    // temperature mixing (α=1/2): per-language targets ∝ sqrt(n) —
    // upweights small languages without flattening the mix; all-integer
    // target arithmetic (floor∘sqrt is exact for counts < 2^50)
    "mix_temperature" -> ((s, d) =>
      SampleOps.temperatureMix(Tables.documents(s, d), "lang", "doc_id")),
    // SCD Type 2 over the event log: every change becomes a versioned
    // [valid_from, valid_to) interval per user — epoch-micros longs, so
    // the cross-engine compare is integer-exact
    // point-in-time correct enrichment (the feature-store join): each
    // purchase inherits the tier version valid AT ITS EVENT TIME —
    // equi-join on user + interval residual, never a later version
    "pit_enrich" -> ((s, d) =>
      Cdc.pitEnrich(Tables.events(s, d))),
    "cdc_scd2_history" -> ((s, d) =>
      Cdc.scd2History(Tables.events(s, d))),
    // MERGE as a full outer join: the latest-wins-compacted change batch
    // (key remapped ×11 so some changes target ids OUTSIDE the dimension
    // — both the insert and the keep branch stay populated at every SF)
    // applied onto the customer dim; values pass through UNROUNDED (stored
    // doubles, no arithmetic to diverge)
    "cdc_merge_upsert" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(desc("ts"), desc("event_id"))
      val changes = Tables.events(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select((col("user_id") * 11).as("ckey"), col("value").as("cval"))
      Cdc.mergeUpsert(
        Tables.customer(s, d).select("c_custkey", "c_acctbal"),
        changes, "c_custkey", "ckey", "c_acctbal", "cval")
    }),
    // MERGE with DELETE tombstones: the change batch carries a
    // Debezium-style op column (latest event per user; 'error' latest →
    // delete) — all five action classes (update/insert/keep/delete/
    // noop_delete) are non-vacuous at every SF via the ×11 key remap
    "cdc_merge_delete" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(desc("ts"), desc("event_id"))
      val changes = Tables.events(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select((col("user_id") * 11).as("ckey"), col("value").as("cval"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"))
      Cdc.mergeApplyTombstones(
        Tables.customer(s, d).select("c_custkey", "c_acctbal"),
        changes, "c_custkey", "ckey", "c_acctbal", "cval", "op")
    }),
    // snapshot differencing: two deterministic snapshots of events
    // (old drops id%97==13; new drops id%89==7 and bumps value where
    // id%11==0) diffed by per-side xxhash64 digest — the engine compares
    // ONE long per key, the oracle compares the columns directly; both
    // classify added/removed/changed identically
    "cdc_snapshot_diff" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select("event_id", "event_type", "value")
      val oldSnap = ev.filter(pmod(col("event_id"), lit(97)) =!= 13)
      val newSnap = ev.filter(pmod(col("event_id"), lit(89)) =!= 7)
        .withColumn("value",
          when(pmod(col("event_id"), lit(11)) === 0, col("value") + 1.0)
            .otherwise(col("value")))
      Cdc.snapshotDiff(oldSnap, newSnap, "event_id",
        Seq("event_type", "value")).orderBy("event_id")
    }),
    // lakehouse time travel: state AS OF commit 5, replayed from the
    // append-only op log (upserts + error tombstones, commit order
    // (batch_id, ts, event_id)); one key shuffle, commit horizon pruned
    // before anything moves
    "cdc_time_travel" -> ((s, d) =>
      Cdc.timeTravelAsOf(
        Cdc.opLogFromEvents(Tables.events(s, d)), asOfBatch = 5)
        .orderBy("user_id")),
    // quality-weighted importance sampling: keep probability = the
    // integer basis-point ttr (the token_budget_select priority signal),
    // realized deterministically as hash(key) mod scale < weight
    "sample_importance" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"),
          expr("(size(array_distinct(words)) * 10000L) div size(words)")
            .as("w"))
      SampleOps.importanceSample(scored, "doc_id", col("w"), 10000)
        .select("doc_id", "w")
    }),
    // EXACT-k weighted selection (priority sampling, Duffield et al.):
    // integer priorities, bit-identical rank order across engines,
    // top-k via per-partition heaps — "the best 500 docs by quality,
    // weight-proportionally" with a hard cardinality guarantee
    "sample_weighted_exact_k" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"),
          expr("(size(array_distinct(words)) * 10000L) div size(words)")
            .as("ttr"))
      SampleOps.weightedExactK(scored, "doc_id", col("ttr"), 500)
    }),
    // deterministic negative sampling for contrastive pairs: pure index
    // arithmetic probes, first different-label hit kept
    "sample_negatives" -> ((s, d) =>
      SampleOps.negativePairs(Tables.embeddings(s, d), "vec_id", "label")),
    // fill half the corpus token budget with the most lexically diverse
    // documents first (two-level prefix sum — see PackOps)
    "token_budget_select" -> ((s, d) =>
      PackOps.tokenBudgetSelect(Tables.documents(s, d), 0.5)),
    // PII scrub: deterministic injection (fixture carries no PII), then
    // regex count + redact — engine and oracle replay the same injection
    "pii_redact" -> ((s, d) =>
      PiiOps.redact(PiiOps.withInjectedPii(Tables.documents(s, d)))),
    // reproducible global shuffle: contiguous 0..N-1 training order in
    // keyed-hash order, assigned via the two-level prefix pattern
    "corpus_shuffle" -> ((s, d) =>
      PackOps.shuffleOrder(Tables.documents(s, d))),
    // padding-minimizing batch assignment: similar-length docs batched
    // together in deterministic keyed-hash order (two-level prefix —
    // no bucket ever sorts in one task)
    "pack_length_batches" -> ((s, d) =>
      PackOps.lengthBatches(Tables.documents(s, d),
        bucketWidth = 32, batchSize = 8)),

    // ---- LLM pipeline: end-to-end corpus preparation (composition) ----
    // the full modern recipe: + repetition gate + eval-set decontamination
    "corpus_prepare_full" -> ((s, d) =>
      CorpusPipeline.prepareFull(s, Tables.documents(s, d))),
    "corpus_prepare" -> ((s, d) =>
      CorpusPipeline.prepare(s, Tables.documents(s, d))),

    // ---- LLM pipeline: multimodal columns ----
    "mm_media_meta" -> ((s, d) => MultimodalOps.mediaMeta(Tables.documents(s, d))),
    "mm_decode_stub" -> ((s, d) => MultimodalOps.decodeStub(s, Tables.documents(s, d))),
    "mm_frame_sample" -> ((s, d) =>
      MultimodalOps.frameSample(Tables.documents(s, d), 8, 16)
        .select(col("doc_id"),
          posexplode(col("frame_bytes")).as(Seq("frame_idx", "byte_val")))),
    // feature-extract stub: per-partition batch loop (the embedding-model
    // shape), fixed 8-bucket byte histogram per blob
    "mm_feature_extract" -> ((s, d) =>
      MultimodalOps.featureExtract(s, Tables.documents(s, d))),
    // resize stub: 1-D nearest-neighbor downsample to a 16-byte thumbnail
    "mm_resize" -> ((s, d) =>
      MultimodalOps.resizeStub(Tables.documents(s, d), 16)),
    // ---- REAL image codec path (JDK javax.imageio — public API) ----
    // Payloads come from the session-staged media tables
    // (ext/MediaPayloads.scala): real encoded bytes scanned as a binary
    // COLUMN, staged once per fixture — the graded surface is the
    // decode/parse side, run fresh per seat.
    // IHDR header parse of genuine PNG bytes, pure codegen'd column ops;
    // dims/depth/type recoverable by the oracle from the fixture formula
    "mm_png_dims" -> ((s, d) =>
      MultimodalOps.pngDims(MediaPayloads.payload(s, d, "png"))
        .orderBy("doc_id")),
    // SOF marker scan of genuine JPEG bytes (variable-length segment walk)
    "mm_jpeg_dims" -> ((s, d) =>
      ImageCodec.jpegDims(s, MediaPayloads.payload(s, d, "jpg"))
        .orderBy("doc_id")),
    // REAL pixel decode (lossless PNG round-trip): exact integer pixel sum
    "mm_decode_brightness" -> ((s, d) =>
      ImageCodec.decodeBrightness(s, MediaPayloads.payload(s, d, "png"))
        .orderBy("doc_id")),
    // nearest-neighbor 4x4 thumbnail over real decoded pixels
    "mm_resize_thumb" -> ((s, d) =>
      ImageCodec.resampleThumb(s, MediaPayloads.payload(s, d, "png"), 4, 4)
        .orderBy("doc_id", "j", "i")),
    // REAL audio codec (JDK javax.sound.sampled): RIFF/WAVE header parse
    // in column ops over genuine WAV bytes
    "mm_wav_meta" -> ((s, d) =>
      AudioCodec.wavMeta(MediaPayloads.payload(s, d, "wav"))
        .orderBy("doc_id")),
    // REAL PCM decode (lossless): exact signed-16-bit sample sum
    "mm_wav_decode" -> ((s, d) =>
      AudioCodec.wavDecode(s, MediaPayloads.payload(s, d, "wav"))
        .orderBy("doc_id")),
    // REAL video container: MJPEG-in-AVI demux — generic RIFF chunk walk
    // + real JPEG frame decode; header claims vs decoded frame truth.
    // Clips ride every EVEN doc (media is sparse in a real corpus) —
    // that filter is part of the staged fixture definition
    "mm_avi_demux" -> ((s, d) =>
      VideoCodec.demuxAvi(s, MediaPayloads.payload(s, d, "avi"))
        .orderBy("doc_id", "frame_idx"))
  )

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "a1_votes_per_candidate" ->
      """SELECT event_type, round(sum(value), 2) AS total_value, count(*) AS n_events
         FROM events GROUP BY event_type""",
    "a1_salted_skew" ->
      """SELECT event_type, round(sum(value), 2) AS total_value, count(*) AS n_events
         FROM events GROUP BY event_type""",
    "a2_turnout_by_location" ->
      """SELECT n.n_name AS location, count(*) AS turnout
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY n.n_name""",
    "a3_dedup_first_per_user" ->
      """SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
           FROM events) t WHERE rn = 1""",
    "a4_count_events" -> "SELECT count(*) AS n FROM events",
    "a5_winner" ->
      """SELECT event_type, round(sum(value), 2) AS total_value, count(*) AS n_events
         FROM events GROUP BY event_type
         ORDER BY n_events DESC, event_type LIMIT 1""",
    "a6_distinct_users" ->
      "SELECT count(DISTINCT user_id) AS n_users FROM events",
    // the HLL sketch itself is engine-internal; the differential contract
    // is: exact cardinality matches, and the sketch landed within its
    // (loosened) error bound — a sketch regression flips the boolean.
    "a6_approx_distinct_users" ->
      "SELECT count(DISTINCT user_id) AS n_users, true AS approx_within_5pct FROM events",
    // the sketch's candidate set is engine-internal; the differential
    // contract is: exact heavy-hitter counts match, and freqItems found
    // every one of them (its no-false-negative guarantee) — a sketch
    // regression flips the boolean
    "a10_heavy_hitters" ->
      """WITH k AS (SELECT CASE WHEN user_id % 5 < 2 THEN 7
                                WHEN user_id % 5 = 2 THEN 13
                                ELSE user_id % 1000 END AS hot_key
                    FROM events),
              t AS (SELECT count(*) AS total FROM k),
              c AS (SELECT hot_key, count(*) AS n FROM k GROUP BY hot_key)
         SELECT hot_key, n, true AS found_by_sketch
         FROM c, t WHERE n * 20 >= total ORDER BY hot_key""",
    // the HLL sketches (global AND per-day-merged) are engine-internal;
    // the contract is: exact distinct matches, the daily-merged estimate
    // landed within 5% of exact, and merge-vs-global agree within 1% —
    // any sketch or merge regression flips a boolean
    "sketch_hll_merge" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
                true AS merged_within_5pct,
                true AS merge_vs_global_within_1pct
         FROM events GROUP BY event_type""",
    // audience overlap: exact sizes replayed; the engine's IE-estimate
    // verdicts must all be true (a sketch regression flips one)
    "sketch_hll_overlap" ->
      """WITH f AS (SELECT user_id,
                  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ia,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ib
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY user_id)
         SELECT CAST(sum(ia) AS BIGINT) AS n_a,
                CAST(sum(ib) AS BIGINT) AS n_b,
                CAST(sum(ia * ib) AS BIGINT) AS n_inter,
                true AS a_within_5pct, true AS b_within_5pct,
                true AS union_within_5pct, true AS inter_within_10pct
         FROM f""",
    // below-capacity contract of the 4.1 frequent-items sketch: every
    // item tracked exactly, so both the estimate column and the verdict
    // replay as the exact histogram
    "sketch_approx_topk" ->
      """SELECT event_type, count(*) AS approx_n, count(*) AS n_exact,
                true AS sketch_exact
         FROM events GROUP BY 1""",
    "sketch_approx_topk_merge" ->
      """SELECT event_type, count(*) AS approx_n, count(*) AS n_exact,
                true AS sketch_exact
         FROM events GROUP BY 1""",
    // the count-min sketch is engine-internal; the contract is: exact
    // counts of the top-5 keys match, and each CMS point estimate obeys
    // the (never-undercount, overcount <= ceil(eps*N)) guarantee
    "sketch_cms_heavy" ->
      """WITH k AS (SELECT CASE WHEN user_id % 5 < 2 THEN 7
                                WHEN user_id % 5 = 2 THEN 13
                                ELSE user_id % 1000 END AS hot_key
                    FROM events),
              c AS (SELECT hot_key, count(*) AS n_exact FROM k GROUP BY hot_key)
         SELECT hot_key, n_exact, true AS cms_within_bound
         FROM c ORDER BY n_exact DESC, hot_key LIMIT 5""",
    // the per-day quantile sketches and their union are engine-internal;
    // the contract is: exact row count matches and the merged estimate's
    // RANK sits within eps*n (+1) of p*n for each (type, p) — the actual
    // Greenwald-Khanna guarantee, verified by the engine against raw data
    "sketch_quantile_rollup" ->
      """SELECT event_type, CAST(p AS DOUBLE) AS p, count(*) AS n_rows,
                true AS rank_ok
         FROM events
         CROSS JOIN (VALUES (0.5), (0.9), (0.99)) pr(p)
         GROUP BY event_type, p
         ORDER BY event_type, p""",
    "a7_percentiles" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
                round(quantile_cont(value, 0.9), 4) AS p90
         FROM events GROUP BY event_type""",
    "a7_approx_percentiles" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
                true AS approx_within_2pct
         FROM events GROUP BY event_type""",
    // ordered listagg ≡ DuckDB's ordered string_agg; the order clause
    // is total (event_id), so the roster string is deterministic
    "a12_listagg" ->
      """SELECT event_type,
                string_agg(CAST(event_id AS VARCHAR), ','
                           ORDER BY event_id) AS id_roster,
                count(*) AS n
         FROM events WHERE value > 90 GROUP BY 1""",
    // try_* semantics replayed with explicit guards: DuckDB would raise
    // where Spark's try_divide/try_add return NULL
    "f13_try_arithmetic" ->
      """SELECT event_id,
                round(CASE WHEN user_id % 7 = 0 THEN NULL
                           ELSE value / (user_id % 7) END, 6) AS per_bucket,
                CASE WHEN user_id <= 0
                     THEN CAST(9223372036854775807 AS BIGINT) + user_id
                     ELSE CAST(NULL AS BIGINT) END AS overflowed
         FROM events""",
    // winsorize replay: same exact interpolated percentiles
    // (quantile_cont ≡ Spark percentile), same strict-< clip counts,
    // same integer-micros fold of the clipped value
    "a11_winsorized_stats" ->
      """WITH b AS (SELECT event_type,
                           quantile_cont(value, 0.05) AS p05,
                           quantile_cont(value, 0.95) AS p95
                    FROM events GROUP BY event_type)
         SELECT e.event_type, count(*) AS n,
                CAST(sum(CASE WHEN e.value < b.p05 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_clip_low,
                CAST(sum(CASE WHEN e.value > b.p95 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_clip_high,
                round(any_value(b.p05), 4) AS p05_r,
                round(any_value(b.p95), 4) AS p95_r,
                CAST(sum(CAST(round(least(greatest(e.value, b.p05), b.p95)
                                    * 1000000) AS BIGINT)) AS BIGINT)
                  AS win_micros
         FROM events e JOIN b USING (event_type)
         GROUP BY e.event_type
         ORDER BY e.event_type""",
    "a8_rollup_turnout" ->
      """SELECT c_mktsegment, c_nationkey, count(*) AS n,
                GROUPING(c_mktsegment, c_nationkey) AS gid
         FROM customer GROUP BY ROLLUP (c_mktsegment, c_nationkey)""",
    "a9_pivot_tally" ->
      """SELECT user_id,
                count(*) FILTER (WHERE event_type = 'click') AS click,
                count(*) FILTER (WHERE event_type = 'view') AS view,
                count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS signup,
                count(*) FILTER (WHERE event_type = 'error') AS error
         FROM events GROUP BY user_id""",
    "a9_unpivot_tally" ->
      """WITH wide AS (
           SELECT user_id,
                  count(*) FILTER (WHERE event_type = 'click') AS click,
                  count(*) FILTER (WHERE event_type = 'view') AS view,
                  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                  count(*) FILTER (WHERE event_type = 'signup') AS signup,
                  count(*) FILTER (WHERE event_type = 'error') AS error
           FROM events GROUP BY user_id)
         SELECT user_id, metric, n
         FROM wide
         UNPIVOT INCLUDE NULLS (n FOR metric IN (click, view, purchase,
                                                 signup, error))
         ORDER BY user_id, metric""",
    "w5_lag_lead" ->
      """SELECT event_id, user_id,
                lag(event_id) OVER w AS prev_event_id,
                lead(event_id) OVER w AS next_event_id,
                date_diff('second', lag(ts) OVER w, ts) AS gap_prev_s
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "w6_ntile_deciles" ->
      """SELECT event_type, decile, count(*) AS n,
                round(min(value), 2) AS min_value,
                round(max(value), 2) AS max_value
         FROM (SELECT event_type, value,
                      ntile(10) OVER (PARTITION BY event_type
                                      ORDER BY value DESC, event_id) AS decile
               FROM events) t
         GROUP BY event_type, decile
         ORDER BY event_type, decile""",
    "a8_cube_turnout" ->
      """SELECT c_mktsegment, c_nationkey, count(*) AS n,
                GROUPING(c_mktsegment, c_nationkey) AS gid
         FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)""",
    "a8_grouping_sets" ->
      """SELECT c_mktsegment, c_nationkey, count(*) AS n,
                GROUPING(c_mktsegment, c_nationkey) AS gid
         FROM customer
         GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey),
                                 (c_mktsegment), ())""",
    "setop_combo" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type IN ('purchase', 'signup')
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'view'
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'error'""",
    "setop_bag_combo" ->
      """WITH m AS (SELECT user_id FROM events WHERE event_type = 'click'
                    INTERSECT ALL
                    SELECT user_id FROM events WHERE event_type = 'view'),
              d AS (SELECT user_id FROM m
                    EXCEPT ALL
                    SELECT user_id FROM events WHERE event_type = 'error')
         SELECT user_id, count(*) AS n FROM d
         GROUP BY user_id ORDER BY user_id""",
    "j6_full_outer_totals" ->
      """WITH c AS (SELECT user_id, count(*) AS n_clicks FROM events
                    WHERE event_type = 'click' GROUP BY user_id),
              p AS (SELECT user_id, round(sum(value), 2) AS purchase_value
                    FROM events
                    WHERE event_type = 'purchase' GROUP BY user_id)
         SELECT coalesce(c.user_id, p.user_id) AS user_id,
                coalesce(n_clicks, 0) AS n_clicks,
                coalesce(purchase_value, 0.0) AS purchase_value
         FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
         ORDER BY 1""",
    // the salted join is semantics-transparent: the oracle is the plain
    // unsalted join
    "j7_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_events,
                round(sum(value), 2) AS total_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",
    // same join replayed over the skew-injected key: CASE mirrors the
    // engine's derivation exactly (event_id >= 0, so % == pmod)
    "j7b_salted_join_skewed" ->
      """WITH e AS (SELECT event_id,
                           CASE WHEN event_id % 100 < 90 THEN 1
                                ELSE user_id END AS skew_key,
                           value
                    FROM events)
         SELECT c_mktsegment, count(*) AS n_events,
                round(sum(value), 2) AS total_value
         FROM e JOIN customer ON skew_key = c_custkey
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",
    // AQE skew handling is runtime-only — the logical result is the same
    // plain join, so the oracle is identical to j7b's
    "j7c_aqe_skew_join" ->
      """WITH e AS (SELECT event_id,
                           CASE WHEN event_id % 100 < 90 THEN 1
                                ELSE user_id END AS skew_key,
                           value
                    FROM events)
         SELECT c_mktsegment, count(*) AS n_events,
                round(sum(value), 2) AS total_value
         FROM e JOIN customer ON skew_key = c_custkey
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",
    // brute-force replay of the blocked fuzzy join: same deterministic
    // typo injection (integer surgery on p_partkey, 1-based substr on
    // both engines), then levenshtein <= 2 over dirty × distinct-clean.
    // The engine's segment blocking must reproduce this row set exactly
    // — completeness of the candidate generator is what's graded.
    "j8_fuzzy_match" ->
      """WITH base AS (
           SELECT p_partkey, p_name || ' ' || p_brand AS s FROM part),
         d0 AS (
           SELECT p_partkey, s, 2 + (p_partkey % (length(s) - 3)) AS pos
           FROM base WHERE p_partkey % 3 = 0),
         d1 AS (
           SELECT p_partkey,
                  CASE (p_partkey // 3) % 3
                    WHEN 0 THEN substr(s, 1, pos - 1) || 'z' || substr(s, pos + 1)
                    WHEN 1 THEN substr(s, 1, pos - 1) || substr(s, pos + 1)
                    ELSE substr(s, 1, pos) || 'q' || substr(s, pos + 1)
                  END AS d1
           FROM d0),
         dirty AS (
           SELECT p_partkey AS dirty_id,
                  CASE WHEN p_partkey % 5 = 0
                    THEN substr(d1, 1, 1 + ((p_partkey // 7) % (length(d1) - 3)))
                         || 'x' ||
                         substr(d1, 3 + ((p_partkey // 7) % (length(d1) - 3)))
                    ELSE d1 END AS dirty_name
           FROM d1),
         clean AS (SELECT DISTINCT s AS entity FROM base)
         SELECT d.dirty_id, d.dirty_name, c.entity,
                CAST(levenshtein(d.dirty_name, c.entity) AS BIGINT) AS dist
         FROM dirty d JOIN clean c
           ON levenshtein(d.dirty_name, c.entity) <= 2""",
    // same typo fixture, scored by DuckDB's jaro_winkler_similarity —
    // the engine's native expression implements the identical classic
    // definition, so the 6-dp scores must agree exactly
    "j8b_jaro_winkler_match" ->
      """WITH base AS (
           SELECT p_partkey, p_name || ' ' || p_brand AS s FROM part),
         d0 AS (
           SELECT p_partkey, s, 2 + (p_partkey % (length(s) - 3)) AS pos
           FROM base WHERE p_partkey % 3 = 0),
         d1 AS (
           SELECT p_partkey,
                  CASE (p_partkey // 3) % 3
                    WHEN 0 THEN substr(s, 1, pos - 1) || 'z' || substr(s, pos + 1)
                    WHEN 1 THEN substr(s, 1, pos - 1) || substr(s, pos + 1)
                    ELSE substr(s, 1, pos) || 'q' || substr(s, pos + 1)
                  END AS d1
           FROM d0),
         dirty AS (
           SELECT p_partkey AS dirty_id,
                  CASE WHEN p_partkey % 5 = 0
                    THEN substr(d1, 1, 1 + ((p_partkey // 7) % (length(d1) - 3)))
                         || 'x' ||
                         substr(d1, 3 + ((p_partkey // 7) % (length(d1) - 3)))
                    ELSE d1 END AS dirty_name
           FROM d1)
         SELECT d.dirty_id, d.dirty_name,
                round(jaro_winkler_similarity(d.dirty_name, b.s), 6)
                  AS jw_self,
                round(jaro_winkler_similarity(d.dirty_name, n.s), 6)
                  AS jw_next,
                round(jaro_winkler_similarity(d.dirty_name, b.s), 6)
                  > round(jaro_winkler_similarity(d.dirty_name, n.s), 6)
                  AS self_wins
         FROM dirty d
         JOIN base b ON b.p_partkey = d.dirty_id
         JOIN base n ON n.p_partkey = d.dirty_id + 3
         ORDER BY d.dirty_id""",
    // DuckDB recomputes BOTH distances with its own damerau_levenshtein
    // and levenshtein over the same swap derivation
    "j8c_damerau_match" ->
      """WITH base AS (
           SELECT p_partkey, p_name || ' ' || p_brand AS s FROM part),
         d0 AS (
           SELECT p_partkey, s, 2 + (p_partkey % (length(s) - 3)) AS pos
           FROM base WHERE p_partkey % 3 = 1),
         sw AS (
           SELECT p_partkey AS dirty_id, s,
                  substr(s, 1, pos - 1) || substr(s, pos + 1, 1) ||
                  substr(s, pos, 1) || substr(s, pos + 2) AS swapped
           FROM d0)
         SELECT dirty_id, swapped,
                CAST(damerau_levenshtein(swapped, s) AS INTEGER) AS dl_dist,
                CAST(levenshtein(swapped, s) AS INTEGER) AS lev_dist,
                (damerau_levenshtein(swapped, s) < levenshtein(swapped, s)
                 OR damerau_levenshtein(swapped, s) = 0)
                  AS transposition_detected
         FROM sw ORDER BY dirty_id""",
    // the bloom probe is a pure row-filter side channel: the oracle
    // replays the plain join (false positives die in the join itself)
    "j9_bloom_join" ->
      """SELECT o_orderkey, round(sum(l_extendedprice), 2) AS rev
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 400000
         GROUP BY o_orderkey
         ORDER BY o_orderkey""",
    // same truth as sessionize_dynamic_gap: the stream/batch parity gate
    // batch replay of the streamed corpus front end: the same gates as
    // the corpus_prepare oracle, then canonical exact dedup per content
    "t45_stream_canonical_dedup" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w
                    FROM documents),
              kept AS (SELECT doc_id, text, len(w) AS n_tokens FROM t
                       WHERE round(len(list_filter(w, x -> x IN ('the','a')))
                                   / CAST(len(w) AS DOUBLE), 4) > 0.03
                         AND len(w) >= 10 AND len(w) <= 10000
                         AND round(len(list_distinct(w))
                                   / CAST(len(w) AS DOUBLE), 4) > 0.1)
         SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
                CAST(min(n_tokens) AS BIGINT) AS n_tokens
         FROM kept GROUP BY md5(text) ORDER BY doc_id""",
    // each concurrent query's result is a plain batch aggregate; the
    // graded union proves neither query saw interference from the other
    "t46_stream_concurrent_queries" ->
      """SELECT * FROM (
           SELECT 'by_type' AS metric, event_type AS k,
                  CAST(count(*) AS BIGINT) AS n,
                  round(sum(value), 2) AS total
           FROM events GROUP BY event_type
           UNION ALL
           SELECT 'by_bucket' AS metric, CAST(user_id % 8 AS VARCHAR) AS k,
                  CAST(count(*) AS BIGINT) AS n,
                  round(sum(value), 2) AS total
           FROM events GROUP BY user_id % 8)
         ORDER BY metric, k""",
    // the two-hop handoff replayed flat: cents are assigned in hop A,
    // aggregated in hop B — one SQL expression covers both hops
    "t48_stream_two_hop" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    // identical to t45's oracle: checkpoint recovery must be
    // semantics-free on the corpus front end
    "t47_stream_corpus_recover" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w
                    FROM documents),
              kept AS (SELECT doc_id, text, len(w) AS n_tokens FROM t
                       WHERE round(len(list_filter(w, x -> x IN ('the','a')))
                                   / CAST(len(w) AS DOUBLE), 4) > 0.03
                         AND len(w) >= 10 AND len(w) <= 10000
                         AND round(len(list_distinct(w))
                                   / CAST(len(w) AS DOUBLE), 4) > 0.1)
         SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
                CAST(min(n_tokens) AS BIGINT) AS n_tokens
         FROM kept GROUP BY md5(text) ORDER BY doc_id""",
    // the eviction replayed flat: a gated digest is re-emitted by the
    // batch-1 re-delivery iff its batch-0 ingest time put it on the
    // evicted (even-text-length) side of the watermark horizon
    "t49_stream_dedup_evicted" ->
      """WITH t AS (SELECT text, string_split(text, ' ') AS w
                    FROM documents),
              kept AS (SELECT text, len(w) AS n_tokens FROM t
                       WHERE round(len(list_filter(w, x -> x IN ('the','a')))
                                   / CAST(len(w) AS DOUBLE), 4) > 0.03
                         AND len(w) >= 10 AND len(w) <= 10000
                         AND round(len(list_distinct(w))
                                   / CAST(len(w) AS DOUBLE), 4) > 0.1)
         SELECT md5(text) AS digest,
                CAST(CASE WHEN length(text) % 2 = 0 THEN 2 ELSE 1 END
                     AS BIGINT) AS n_emits,
                CAST(min(n_tokens) AS BIGINT) AS n_tokens
         FROM kept GROUP BY text ORDER BY digest""",
    // the mm gate replayed from the fixture's closed forms: geometry and
    // exact pixel sums per admitted width group; every seventh payload
    // is staged corrupt and must land in the quarantine row
    "t50_stream_mm_gate" ->
      """WITH px AS (
           SELECT d.doc_id, d.doc_id % 13 + 4 AS w, d.doc_id % 11 + 4 AS h,
                  sum(CASE WHEN xs.x < d.doc_id % 13 + 4
                            AND ys.y < d.doc_id % 11 + 4
                       THEN (xs.x * 7 + ys.y * 13 + d.doc_id * 31) % 256
                       ELSE 0 END) AS ps
           FROM documents d, generate_series(0, 15) xs(x),
                generate_series(0, 13) ys(y)
           GROUP BY d.doc_id),
           g AS (
           SELECT CASE WHEN doc_id % 7 = 0 THEN 'quarantined'
                       ELSE 'w' || CAST(w AS VARCHAR) END AS k,
                  CASE WHEN doc_id % 7 = 0 THEN 0 ELSE w * h END AS npx,
                  CASE WHEN doc_id % 7 = 0 THEN 0 ELSE ps END AS ps
           FROM px)
         SELECT k, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(npx) AS BIGINT) AS total_px,
                CAST(sum(ps) AS BIGINT) AS pix_sum
         FROM g GROUP BY k ORDER BY k""",
    // audio fixture formulas: rate = 8000 + (doc_id%5)*4000,
    // n = doc_id%96+32, sample(i) = (31i + 13*doc_id) mod 65536 - 32768
    // (all operands non-negative, so DuckDB % == the encoder's mod)
    "t54_stream_audio_gate" ->
      """WITH s AS (
           SELECT d.doc_id,
                  8000 + (d.doc_id % 5) * 4000 AS rate,
                  d.doc_id % 96 + 32 AS n,
                  sum(CASE WHEN t.i < d.doc_id % 96 + 32
                       THEN (t.i * 31 + d.doc_id * 13) % 65536 - 32768
                       ELSE 0 END) AS ss
           FROM documents d, generate_series(0, 127) t(i)
           GROUP BY d.doc_id),
           g AS (
           SELECT CASE WHEN doc_id % 7 = 0 THEN 'quarantined'
                       ELSE 'r' || CAST(rate AS VARCHAR) END AS k,
                  CASE WHEN doc_id % 7 = 0 THEN 0 ELSE n END AS n,
                  CASE WHEN doc_id % 7 = 0 THEN 0 ELSE ss END AS ss
           FROM s)
         SELECT k, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n) AS BIGINT) AS total_samples,
                CAST(sum(ss) AS BIGINT) AS sample_sum
         FROM g GROUP BY k ORDER BY k""",
    // video fixture formulas over the even-doc clip population:
    // n_frames = doc_id%4+2 (2 or 4 for even ids), frame dims at the
    // image-tier geometry; valid clips are always header-consistent
    "t55_stream_video_gate" ->
      """WITH g AS (
           SELECT CASE WHEN doc_id % 7 = 0 THEN 'quarantined'
                       ELSE 'f' || CAST(doc_id % 4 + 2 AS VARCHAR) END AS k,
                  CASE WHEN doc_id % 7 = 0 THEN 0
                       ELSE doc_id % 4 + 2 END AS n,
                  CASE WHEN doc_id % 7 = 0 THEN 0
                       ELSE (doc_id % 4 + 2) * (doc_id % 13 + 4)
                            * (doc_id % 11 + 4) END AS px,
                  CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS hok
           FROM documents WHERE doc_id % 2 = 0)
         SELECT k, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n) AS BIGINT) AS total_frames,
                CAST(sum(px) AS BIGINT) AS total_px,
                CAST(sum(hok) AS BIGINT) AS n_hdr_ok
         FROM g GROUP BY k ORDER BY k""",
    // the drift replayed from the generation split: even-parity docs
    // streamed through the narrow pre-drift layout (lang NULL-filled →
    // 'pre_drift'), odd-parity docs through the wide one
    "t51_stream_schema_drift" ->
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'pre_drift' ELSE lang END
                  AS lang_k,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         FROM documents GROUP BY 1 ORDER BY 1""",
    // t48's totals plus the observed conservation row: rows hop A
    // committed and rows hop B read back both equal count(*)
    "t52_stream_two_hop_lineage" ->
      """SELECT * FROM (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS total_cents
           FROM events GROUP BY event_type
           UNION ALL
           SELECT '__lineage', CAST(count(*) AS BIGINT),
                  CAST(count(*) AS BIGINT)
           FROM events)
         ORDER BY event_type""",
    "t44_stream_dynamic_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
                           epoch_us(ts) + CASE WHEN event_type = 'purchase'
                                               THEN 3600000000
                                               ELSE 1800000000 END AS end_us
                    FROM events),
              o AS (SELECT user_id, ts_us, end_us,
                           max(end_us) OVER (PARTITION BY user_id
                             ORDER BY ts_us, end_us
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_max_end
                    FROM e),
              f AS (SELECT user_id, ts_us, end_us,
                           CASE WHEN prev_max_end IS NULL
                                  OR ts_us >= prev_max_end
                                THEN 1 ELSE 0 END AS new_s
                    FROM o),
              g AS (SELECT user_id, ts_us, end_us,
                           sum(new_s) OVER (PARTITION BY user_id
                             ORDER BY ts_us, end_us
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sid
                    FROM f)
         SELECT user_id, min(ts_us) AS start_us, max(end_us) AS end_us,
                count(*) AS n_events
         FROM g GROUP BY user_id, sid""",
    // dynamic-gap merge replayed as gaps-and-islands over the per-event
    // [ts, ts+gap) intervals: sorted by start, an event joins the open
    // session iff its start lies below the running cummax of ends
    "sessionize_dynamic_gap" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
                           epoch_us(ts) + CASE WHEN event_type = 'purchase'
                                               THEN 3600000000
                                               ELSE 1800000000 END AS end_us
                    FROM events),
              o AS (SELECT user_id, ts_us, end_us,
                           max(end_us) OVER (PARTITION BY user_id
                             ORDER BY ts_us, end_us
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_max_end
                    FROM e),
              f AS (SELECT user_id, ts_us, end_us,
                           CASE WHEN prev_max_end IS NULL
                                  OR ts_us >= prev_max_end
                                THEN 1 ELSE 0 END AS new_s
                    FROM o),
              g AS (SELECT user_id, ts_us, end_us,
                           sum(new_s) OVER (PARTITION BY user_id
                             ORDER BY ts_us, end_us
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sid
                    FROM f)
         SELECT user_id, min(ts_us) AS start_us, max(end_us) AS end_us,
                count(*) AS n_events
         FROM g GROUP BY user_id, sid""",
    "sessionize_users" ->
      """WITH o AS (SELECT user_id, ts,
                           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
                    FROM events),
              m AS (SELECT user_id,
                           CASE WHEN pts IS NULL
                                  OR date_diff('second', pts, ts) > 1800
                                THEN 1 ELSE 0 END AS new_s
                    FROM o)
         SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
         FROM m GROUP BY user_id""",
    "streaks_active_days" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                       FROM events),
              isl AS (SELECT user_id, d,
                             date_diff('day', DATE '2024-01-01', d)
                               - row_number() OVER (PARTITION BY user_id
                                                    ORDER BY d) AS island
                      FROM days),
              runs AS (SELECT user_id, island, count(*) AS len
                       FROM isl GROUP BY user_id, island)
         SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
                CAST(max(len) AS BIGINT) AS max_streak,
                count(*) AS n_streaks
         FROM runs GROUP BY user_id""",
    "sessionize_users_bigkey" ->
      """WITH o AS (SELECT user_id, ts,
                           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
                    FROM events),
              m AS (SELECT user_id,
                           CASE WHEN pts IS NULL
                                  OR date_diff('second', pts, ts) > 1800
                                THEN 1 ELSE 0 END AS new_s
                    FROM o)
         SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
         FROM m GROUP BY user_id""",
    "q3_shipping_priority" ->
      """SELECT l_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey FROM lineitem
                      GROUP BY l_orderkey HAVING sum(l_quantity) > 280)
         SELECT c_name, o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                round(o_totalprice, 2) AS total_price,
                round(sum(l_quantity), 2) AS total_qty
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM big)
         GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
         ORDER BY total_qty DESC, o_orderkey LIMIT 20""",
    "q5_local_supplier" ->
      """SELECT n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",
    "mix_rebalance" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
              cap AS (SELECT CAST(floor(avg(n)) AS BIGINT) AS cap FROM c),
              r AS (SELECT doc_id, lang,
                           row_number() OVER (PARTITION BY lang
                             ORDER BY (doc_id * 2654435761) % 1000000007,
                                      doc_id) AS rk
                    FROM documents)
         SELECT doc_id, lang FROM r, cap WHERE rk <= cap""",
    "mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n,
                           CAST(floor(sqrt(count(*))) AS BIGINT) AS w
                    FROM documents GROUP BY lang),
              t AS (SELECT lang,
                           least(n, ((SELECT sum(n) FROM c) // 2) * w
                                    // (SELECT sum(w) FROM c)) AS target
                    FROM c),
              r AS (SELECT doc_id, lang,
                           row_number() OVER (PARTITION BY lang
                             ORDER BY (doc_id * 2654435761) % 1000000007,
                                      doc_id) AS rk
                    FROM documents)
         SELECT r.doc_id, r.lang
         FROM r JOIN t ON r.lang = t.lang WHERE r.rk <= t.target""",
    "pit_enrich" ->
      """WITH dim AS (SELECT user_id, event_id % 5 AS tier,
                             epoch_us(ts) AS valid_from_us,
                             epoch_us(lead(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id))
                               AS valid_to_us
                      FROM events WHERE event_type = 'signup'),
              f AS (SELECT event_id AS purchase_id, user_id,
                           epoch_us(ts) AS ts_us
                    FROM events WHERE event_type = 'purchase')
         SELECT f.purchase_id, f.user_id, dim.tier
         FROM f JOIN dim ON f.user_id = dim.user_id
          AND f.ts_us >= dim.valid_from_us
          AND (dim.valid_to_us IS NULL OR f.ts_us < dim.valid_to_us)""",
    "cdc_scd2_history" ->
      """SELECT user_id, event_id, event_type,
                epoch_us(ts) AS valid_from_us,
                epoch_us(lead(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id))
                  AS valid_to_us,
                lead(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL AS is_current
         FROM events""",
    "t13_stream_scd2" ->
      """WITH h AS (SELECT user_id, event_id, event_type,
                           epoch_us(ts) AS valid_from_us,
                           epoch_us(lead(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id))
                             AS valid_to_us
                    FROM events)
         SELECT user_id, event_id, event_type, valid_from_us, valid_to_us
         FROM h WHERE valid_to_us IS NOT NULL""",
    // the stream's per-batch window explode + broadcast semi join uses
    // the same window expression as the batch decontaminate, so this
    // batch replay grades the streaming execution
    "t14_stream_decontaminate" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words
                    FROM documents
                    WHERE len(string_split(text, ' ')) >= 13),
              wins AS (SELECT doc_id, lang,
                              unnest(list_transform(range(0, len(words) - 12),
                                i -> array_to_string(words[i+1:i+13], ' '))) AS win
                       FROM w),
              ev AS (SELECT DISTINCT win FROM wins WHERE doc_id % 20 = 0)
         SELECT lang, count(DISTINCT w2.doc_id) AS n_contaminated
         FROM wins w2 JOIN ev USING (win)
         WHERE w2.doc_id % 20 <> 0
         GROUP BY lang ORDER BY lang""",
    // sessions replayed in µs arithmetic; the tail session's timeout uses
    // the exec's fire condition — timeout MS strictly below watermark MS
    "t15_stream_timeout_sessions" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) AS us, event_id,
                           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS pus
                    FROM events),
              m AS (SELECT user_id, us,
                           sum(CASE WHEN pus IS NULL OR us - pus > 1800000000
                                    THEN 1 ELSE 0 END)
                             OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
                    FROM o),
              s AS (SELECT user_id, sid, min(us) AS start_us,
                           max(us) AS end_us, count(*) AS n_events
                    FROM m GROUP BY user_id, sid),
              mx AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
              tl AS (SELECT user_id, max(sid) AS last_sid FROM s
                     GROUP BY user_id)
         SELECT s.user_id, s.start_us, s.end_us, s.n_events
         FROM s JOIN tl USING (user_id) CROSS JOIN mx
         WHERE s.sid < tl.last_sid
            OR (s.end_us + 1800000000) // 1000 < mx.max_us // 1000
         ORDER BY s.user_id, s.start_us""",
    // t15's oracle VERBATIM: the TWS-timer form must close the exact
    // same sessions under the exact same ms fire condition — the
    // API-migration parity this seat grades
    "t30_stream_tws_timer_sessions" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) AS us, event_id,
                           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS pus
                    FROM events),
              m AS (SELECT user_id, us,
                           sum(CASE WHEN pus IS NULL OR us - pus > 1800000000
                                    THEN 1 ELSE 0 END)
                             OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
                    FROM o),
              s AS (SELECT user_id, sid, min(us) AS start_us,
                           max(us) AS end_us, count(*) AS n_events
                    FROM m GROUP BY user_id, sid),
              mx AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
              tl AS (SELECT user_id, max(sid) AS last_sid FROM s
                     GROUP BY user_id)
         SELECT s.user_id, s.start_us, s.end_us, s.n_events
         FROM s JOIN tl USING (user_id) CROSS JOIN mx
         WHERE s.sid < tl.last_sid
            OR (s.end_us + 1800000000) // 1000 < mx.max_us // 1000
         ORDER BY s.user_id, s.start_us""",
    // AvailableNow reaches the same complete-mode tally as t3 before the
    // engine stops itself
    "t31_stream_available_now" ->
      """SELECT event_type, round(sum(value), 2) AS total_value, count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type""",
    // identical injected VALUES; the null-key row counts under BOTH
    // null_orderkey and orphan_orderkey (null never matches the parent)
    "dq_audit" ->
      """WITH bad(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                  l_extendedprice, l_discount, l_tax, l_returnflag,
                  l_linestatus, l_shipdate) AS (VALUES
             (CAST(NULL AS BIGINT), 1, 1, 1, 10.0, 100.0, 0.05, 0.02,
              'N', 'O', TIMESTAMP '1996-06-01'),
             (-999, 1, 1, 1, 10.0, 100.0, 0.05, 0.02,
              'N', 'O', TIMESTAMP '1996-06-01'),
             (0, 1, 1, 1, 10.0, -5.0, 0.05, 0.02,
              'N', 'O', TIMESTAMP '1996-06-01'),
             (0, 1, 1, 1, 10.0, 100.0, 2.0, 0.02,
              'N', 'O', TIMESTAMP '1996-06-01'),
             (0, 1, 1, 1, 0.0, 100.0, 0.05, 0.02,
              'N', 'O', TIMESTAMP '1996-06-01'),
             (0, 1, 1, 1, 10.0, 100.0, 0.05, 0.02,
              'N', 'O', TIMESTAMP '1990-01-01')),
              li AS (SELECT l_orderkey, l_quantity, l_extendedprice,
                            l_discount, l_shipdate FROM lineitem
                     UNION ALL
                     SELECT l_orderkey, l_quantity, l_extendedprice,
                            l_discount, l_shipdate FROM bad),
              scan AS (
                SELECT 'null_orderkey' AS rule,
                       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_violations FROM li
                UNION ALL
                SELECT 'nonpositive_price',
                       CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0
                                END) AS BIGINT)
                  FROM li
                UNION ALL
                SELECT 'quantity_out_of_range',
                       CAST(sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50
                                THEN 1 ELSE 0 END) AS BIGINT) FROM li
                UNION ALL
                SELECT 'discount_out_of_range',
                       CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                                THEN 1 ELSE 0 END) AS BIGINT) FROM li
                UNION ALL
                SELECT 'shipdate_out_of_range',
                       CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01'
                                  OR l_shipdate >= TIMESTAMP '2010-01-01'
                                THEN 1 ELSE 0 END) AS BIGINT) FROM li
                UNION ALL
                SELECT 'orphan_orderkey',
                       count(*) FROM li
                WHERE NOT EXISTS (SELECT 1 FROM orders
                                  WHERE o_orderkey = li.l_orderkey))
         SELECT rule, n_violations FROM scan ORDER BY rule""",
    // the oracle aggregates the raw history in ONE level; the engine's
    // two-level partial merge matches bit-for-bit because the sums are
    // integer cents (associative) and min/max/count fold freely
    "incr_agg_merge" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents,
                min(value) AS min_value, max(value) AS max_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    // binaryFile round trip: files are the docs' own UTF-8 bytes — the
    // decoded read-back must hash-match the table
    "s4_binary_source" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",
    // image source: real PNG decode at the source; dims are closed-form
    // in doc_id (ImageCodec fixture), grayscale = 1 channel
    "s4_image_source" ->
      """SELECT doc_id,
                CAST(doc_id % 13 + 4 AS BIGINT) AS width,
                CAST(doc_id % 11 + 4 AS BIGINT) AS height,
                CAST(1 AS BIGINT) AS n_channels
         FROM documents ORDER BY doc_id""",
    // the incremental decomposition must equal the ONE full join
    "incr_join_merge" ->
      """SELECT c_nationkey, count(*) AS n_rows,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    // PSI per category; the ln argument mirrors the engine's exact
    // arithmetic order ((n_cur/t_cur) * (t_base/n_base)) so the rounded
    // doubles are bit-identical
    "dq_drift_psi" ->
      """WITH b AS (SELECT event_type, count(*) AS n_base FROM events
                    WHERE event_id % 2 = 0 GROUP BY event_type),
              c AS (SELECT event_type, count(*) AS n_cur FROM events
                    WHERE event_id % 2 = 1
                      AND NOT (event_type = 'click' AND event_id % 5 < 3)
                    GROUP BY event_type),
              j AS (SELECT event_type,
                           CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
                           CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
                    FROM b FULL OUTER JOIN c USING (event_type)),
              t AS (SELECT CAST(sum(n_base) AS BIGINT) AS t_base,
                           CAST(sum(n_cur) AS BIGINT) AS t_cur FROM j)
         SELECT event_type, n_base, n_cur,
                round((n_cur / t_cur - n_base / t_base)
                        * ln(n_cur / t_cur * (t_base / n_base)), 6)
                  AS psi_term
         FROM j CROSS JOIN t ORDER BY event_type""",
    "dq_drift_psi_numeric" ->
      """WITH e AS (SELECT event_id,
                           least(CAST(floor(value / 25) AS BIGINT), 3)
                             AS value_bin
                    FROM events),
              b AS (SELECT value_bin, count(*) AS n_base FROM e
                    WHERE event_id % 2 = 0 GROUP BY value_bin),
              c AS (SELECT value_bin, count(*) AS n_cur FROM e
                    WHERE event_id % 2 = 1
                      AND NOT (value_bin = 0 AND event_id % 5 < 3)
                    GROUP BY value_bin),
              j AS (SELECT value_bin,
                           CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
                           CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
                    FROM b FULL OUTER JOIN c USING (value_bin)),
              t AS (SELECT CAST(sum(n_base) AS BIGINT) AS t_base,
                           CAST(sum(n_cur) AS BIGINT) AS t_cur FROM j)
         SELECT value_bin, n_base, n_cur,
                round((n_cur / t_cur - n_base / t_base)
                        * ln(n_cur / t_cur * (t_base / n_base)), 6)
                  AS psi_term
         FROM j CROSS JOIN t ORDER BY value_bin""",
    "cdc_merge_upsert" ->
      """WITH r AS (SELECT user_id, value,
                           row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rk
                    FROM events),
              ch AS (SELECT user_id * 11 AS ckey, value AS cval
                     FROM r WHERE rk = 1)
         SELECT coalesce(c_custkey, ckey) AS key,
                CASE WHEN c_custkey IS NULL THEN 'insert'
                     WHEN ckey IS NULL THEN 'keep'
                     ELSE 'update' END AS action,
                coalesce(cval, c_acctbal) AS value
         FROM customer FULL OUTER JOIN ch ON c_custkey = ckey""",
    // tombstone replay: same latest-wins compaction plus the op column;
    // delete nulls the value, delete-of-unknown-key surfaces as noop
    "cdc_merge_delete" ->
      """WITH r AS (SELECT user_id, value, event_type,
                           row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rk
                    FROM events),
              ch AS (SELECT user_id * 11 AS ckey, value AS cval,
                            CASE WHEN event_type = 'error' THEN 'delete'
                                 ELSE 'upsert' END AS op
                     FROM r WHERE rk = 1)
         SELECT coalesce(c_custkey, ckey) AS key,
                CASE WHEN ckey IS NULL THEN 'keep'
                     WHEN op = 'delete' AND c_custkey IS NULL
                       THEN 'noop_delete'
                     WHEN op = 'delete' THEN 'delete'
                     WHEN c_custkey IS NULL THEN 'insert'
                     ELSE 'update' END AS action,
                CASE WHEN op = 'delete' THEN CAST(NULL AS DOUBLE)
                     ELSE coalesce(cval, c_acctbal) END AS value
         FROM customer FULL OUTER JOIN ch ON c_custkey = ckey""",
    // the engine compares a per-side xxhash64 digest; the oracle compares
    // the value columns directly — identical classification (a divergence
    // would need a same-key 64-bit collision)
    "cdc_snapshot_diff" ->
      """WITH o AS (SELECT event_id, event_type, value FROM events
                    WHERE ((event_id % 97) + 97) % 97 <> 13),
              n AS (SELECT event_id, event_type,
                           CASE WHEN ((event_id % 11) + 11) % 11 = 0
                                THEN value + 1.0 ELSE value END AS value
                    FROM events
                    WHERE ((event_id % 89) + 89) % 89 <> 7)
         SELECT event_id, status FROM (
           SELECT coalesce(o.event_id, n.event_id) AS event_id,
                  CASE WHEN o.event_id IS NULL THEN 'added'
                       WHEN n.event_id IS NULL THEN 'removed'
                       WHEN o.value IS DISTINCT FROM n.value
                         OR o.event_type IS DISTINCT FROM n.event_type
                         THEN 'changed'
                       ELSE 'unchanged' END AS status
           FROM o FULL OUTER JOIN n ON o.event_id = n.event_id)
         WHERE status <> 'unchanged'
         ORDER BY event_id""",
    // time travel: replay the op log to commit 5 — last op per key in
    // commit order (batch_id, ts, event_id), tombstoned keys absent
    "cdc_time_travel" ->
      """WITH log AS (
           SELECT user_id,
                  ((event_id % 8) + 8) % 8 AS batch_id,
                  CAST(epoch_us(ts) AS BIGINT) AS ts_us,
                  event_id,
                  CASE WHEN event_type = 'error' THEN 'delete'
                       ELSE 'upsert' END AS op,
                  value
           FROM events),
         snap AS (
           SELECT *, row_number() OVER (
                    PARTITION BY user_id
                    ORDER BY batch_id DESC, ts_us DESC, event_id DESC) AS rn
           FROM log WHERE batch_id <= 5)
         SELECT user_id, round(value, 2) AS value
         FROM snap WHERE rn = 1 AND op = 'upsert'
         ORDER BY user_id""",
    "sample_importance" ->
      """WITH t AS (SELECT doc_id,
                           (len(list_distinct(string_split(text, ' '))) * 10000)
                             // len(string_split(text, ' ')) AS w
                    FROM documents)
         SELECT doc_id, w FROM t
         WHERE (doc_id * 2654435761) % 10000 < w""",
    "sample_negatives" ->
      """WITH n AS (SELECT count(*) AS n_total FROM embeddings),
              pr AS (SELECT e.vec_id AS anchor_id, e.label AS anchor_label,
                            p.j,
                            (e.vec_id * 37 + 11 * p.j + 1) % n.n_total
                              AS cand_id
                     FROM embeddings e, n, (VALUES (0), (1), (2)) AS p(j)),
              v AS (SELECT pr.*, b.label AS neg_label
                    FROM pr JOIN embeddings b ON b.vec_id = pr.cand_id
                    WHERE b.label <> pr.anchor_label),
              best AS (SELECT anchor_id, min(j) AS j FROM v GROUP BY anchor_id)
         SELECT v.anchor_id, v.anchor_label, v.cand_id AS neg_id, v.neg_label
         FROM v JOIN best USING (anchor_id, j)""",
    "token_budget_select" ->
      """WITH t AS (SELECT doc_id,
                           (len(list_distinct(string_split(text, ' '))) * 10000)
                             // len(string_split(text, ' ')) AS ttr_i,
                           len(string_split(text, ' ')) AS n_tok
                    FROM documents),
              b AS (SELECT CAST(floor(0.5 * sum(n_tok)) AS BIGINT) AS budget
                    FROM t),
              c AS (SELECT doc_id, n_tok,
                           CAST(sum(n_tok) OVER (ORDER BY ttr_i DESC, doc_id
                                                 ROWS UNBOUNDED PRECEDING)
                                AS BIGINT) AS cum
                    FROM t)
         SELECT doc_id, n_tok, cum AS cum_tokens FROM c, b
         WHERE cum <= budget""",
    "corpus_shuffle" ->
      """SELECT doc_id,
                row_number() OVER (ORDER BY (doc_id * 2654435761) % 1048576,
                                   doc_id) - 1 AS pos
         FROM documents""",
    // the sub-bucket split is monotone in the hash, so the oracle's
    // single per-bucket window replays the engine's two-level positions
    "pack_length_batches" ->
      """WITH t AS (SELECT doc_id,
                           len(string_split(text, ' ')) // 32 AS bucket,
                           (doc_id * 2654435761) % 1048576 AS h
                    FROM documents),
              r AS (SELECT doc_id, bucket,
                           row_number() OVER (PARTITION BY bucket
                             ORDER BY h, doc_id) - 1 AS pos
                    FROM t)
         SELECT doc_id, bucket, pos // 8 AS batch_id FROM r""",
    "pii_redact" ->
      """WITH p AS (SELECT doc_id,
                           text || ' reach u' || doc_id
                                || '@mail.example.org or call 555-'
                                || lpad(CAST((doc_id * 7919) % 10000 AS VARCHAR),
                                        4, '0') AS t
                    FROM documents)
         SELECT doc_id,
                regexp_replace(
                  regexp_replace(t,
                    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                    '<EMAIL>', 'g'),
                  '555-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g') AS text_redacted,
                len(regexp_extract_all(t,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
                len(regexp_extract_all(t,
                  '555-[0-9][0-9][0-9][0-9]')) AS n_phones
         FROM p""",
    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year,
                round(sum(volume), 2) AS revenue
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                      year(l_shipdate) AS l_year,
                      l_extendedprice * (1 - l_discount) AS volume
               FROM supplier
               JOIN lineitem ON s_suppkey = l_suppkey
               JOIN orders ON o_orderkey = l_orderkey
               JOIN customer ON c_custkey = o_custkey
               JOIN nation n1 ON s_nationkey = n1.n_nationkey
               JOIN nation n2 ON c_nationkey = n2.n_nationkey
               WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                  OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) t
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",
    "q8_market_share" ->
      """WITH v AS (SELECT year(o.o_orderdate) AS o_year,
                           l.l_extendedprice * (1 - l.l_discount) AS volume,
                           sn.n_name AS supp_nation
                    FROM lineitem l
                    JOIN part p ON l.l_partkey = p.p_partkey
                     AND p.p_type = 'ECONOMY'
                    JOIN orders o ON l.l_orderkey = o.o_orderkey
                    JOIN customer c ON o.o_custkey = c.c_custkey
                    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
                    JOIN region r ON cn.n_regionkey = r.r_regionkey
                     AND r.r_name = 'ASIA'
                    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
                    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
                      AND o.o_orderdate < TIMESTAMP '1997-01-01')
         SELECT o_year,
                round(sum(CASE WHEN supp_nation = 'NATION_2'
                               THEN volume ELSE 0 END) / sum(volume), 6)
                  AS mkt_share
         FROM v GROUP BY o_year ORDER BY o_year""",
    "q10_returned_items" ->
      """WITH rev AS (SELECT o.o_custkey,
                             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                               AS revenue
                      FROM lineitem l
                      JOIN orders o ON l.l_orderkey = o.o_orderkey
                      WHERE l.l_returnflag = 'R'
                        AND o.o_orderdate >= TIMESTAMP '1995-10-01'
                        AND o.o_orderdate < TIMESTAMP '1996-01-01'
                      GROUP BY o.o_custkey)
         SELECT c.c_custkey, c.c_name, rev.revenue, c.c_acctbal, n.n_name
         FROM rev
         JOIN customer c ON rev.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         ORDER BY rev.revenue DESC, c.c_custkey LIMIT 20""",
    "q9_profit_shape" ->
      """SELECT n.n_name AS nation, year(l.l_shipdate) AS o_year,
                round(sum(l.l_extendedprice * (1 - l.l_discount)
                          - p.p_retailprice * l.l_quantity), 2) AS sum_profit
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         GROUP BY n.n_name, year(l.l_shipdate)
         ORDER BY nation, o_year DESC""",
    "q12_late_shipments" ->
      """SELECT o.o_orderpriority,
                CAST(sum(CASE WHEN l.l_shipdate >
                                   o.o_orderdate + INTERVAL 90 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                CAST(sum(CASE WHEN l.l_shipdate <=
                                   o.o_orderdate + INTERVAL 90 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""",
    "q14_promo_revenue" ->
      """SELECT round(100.0 *
                      sum(CASE WHEN p.p_type = 'PROMO'
                               THEN l.l_extendedprice * (1 - l.l_discount)
                               ELSE 0 END)
                      / sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                  AS promo_revenue
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
           AND l.l_shipdate < TIMESTAMP '1996-10-01'""",
    // revenue rounded BEFORE max/equality on both sides — exact ties
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
                             round(sum(l_extendedprice * (1 - l_discount)), 2)
                               AS total_revenue
                      FROM lineitem
                      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                        AND l_shipdate < TIMESTAMP '1996-04-01'
                      GROUP BY l_suppkey)
         SELECT s.s_suppkey, s.s_name, r.total_revenue
         FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
         WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
         ORDER BY s.s_suppkey""",
    // the oracle states q4 as the literal correlated EXISTS the Spark
    // side expresses as a semi join — independent formulations, same rows
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_returnflag = 'R'
                         AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "q13_customer_distribution" ->
      """WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
                     FROM customer
                     LEFT OUTER JOIN orders
                       ON c_custkey = o_custkey
                      AND o_orderpriority = '1-URGENT'
                     GROUP BY c_custkey)
         SELECT c_count, count(*) AS custdist
         FROM co GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    // the oracle states q16 as the literal NOT IN the Spark side
    // expresses as a broadcast anti join
    "q16_supplier_count" ->
      """SELECT p_brand, p_type, p_size,
                count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand <> 'Brand#5'
           AND p_type NOT LIKE 'MEDIUM%'
           AND p_size IN (1, 4, 9, 14, 19, 24, 28, 35)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    // the oracle keeps the CORRELATED scalar subquery q17 is defined by;
    // the Spark side decorrelates it into a partition window
    "q17_small_quantity" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#3'
           AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p_partkey)""",
    // the oracle keeps q21's literal EXISTS / NOT EXISTS self-join pair;
    // the Spark side proves the per-order-aggregate decorrelation
    "q21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
         FROM supplier
         JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN orders ON o_orderkey = l1.l_orderkey
         WHERE o_orderstatus = 'F'
           AND l1.l_returnflag = 'R'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
         GROUP BY s_name
         ORDER BY numwait DESC, s_name LIMIT 10""",
    // the oracle keeps q2's literal correlated MIN subquery; the Spark
    // side proves the window decorrelation. supplycost is a RAW double —
    // identical IEEE division + exact MIN on both engines, no rounding
    "q2_min_cost_supplier" ->
      """WITH cost AS (SELECT l_partkey, l_suppkey,
                              min(l_extendedprice / l_quantity) AS supplycost
                       FROM lineitem GROUP BY 1, 2),
              eur AS (SELECT s_suppkey, s_acctbal, s_name, n_name
                      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
                      WHERE r_name = 'EUROPE')
         SELECT s_acctbal, s_name, n_name, p_partkey, supplycost
         FROM cost JOIN eur ON l_suppkey = s_suppkey
         JOIN part ON p_partkey = l_partkey
         WHERE p_type = 'LARGE' AND p_size < 15
           AND supplycost = (SELECT min(c2.supplycost)
                             FROM cost c2
                             JOIN eur e2 ON c2.l_suppkey = e2.s_suppkey
                             WHERE c2.l_partkey = p_partkey)
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
    // exact integer cents on both sides; share threshold cross-multiplied
    "q11_important_stock" ->
      """WITH val AS (SELECT l_partkey,
                             CAST(sum(
                                 CAST(round(l_extendedprice * 100) AS BIGINT)
                                 * CAST(l_quantity AS BIGINT)) AS BIGINT)
                               AS val_cents
                      FROM lineitem
                      JOIN supplier ON l_suppkey = s_suppkey
                      JOIN nation ON s_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
                      WHERE r_name = 'ASIA'
                      GROUP BY l_partkey),
              tot AS (SELECT sum(val_cents) AS total, count(*) AS nparts
                      FROM val)
         SELECT l_partkey, val_cents
         FROM val, tot
         WHERE val_cents * nparts * 2 > total * 3
         ORDER BY val_cents DESC, l_partkey""",
    "q19_disjunctive_revenue" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
                AND l_quantity BETWEEN 10 AND 30)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40
                AND l_quantity BETWEEN 20 AND 40)""",
    // the oracle keeps q20's literal IN-chain; the Spark side proves the
    // one-aggregate collapse + semi join
    "q20_potential_promotion" ->
      """SELECT s_name, s_acctbal
         FROM supplier
         WHERE s_suppkey IN (
           SELECT l_suppkey
           FROM lineitem JOIN part ON p_partkey = l_partkey
           WHERE p_name LIKE '%widget'
           GROUP BY l_partkey, l_suppkey
           HAVING sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                            AND l_shipdate < TIMESTAMP '1997-01-01'
                           THEN CAST(l_quantity AS BIGINT) ELSE 0 END) > 0
              AND sum(CAST(l_quantity AS BIGINT)) >
                  10 * sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                                 AND l_shipdate < TIMESTAMP '1997-01-01'
                                THEN CAST(l_quantity AS BIGINT) ELSE 0 END))
         ORDER BY s_name""",
    "q22_sales_opportunity" ->
      """SELECT cntrycode, count(*) AS numcust,
                round(sum(c_acctbal), 2) AS totacctbal
         FROM (SELECT right(c_name, 1) AS cntrycode, c_acctbal, c_custkey
               FROM customer
               WHERE right(c_name, 1) IN ('1', '3', '5', '7')) c
         WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                            WHERE c_acctbal > 0
                              AND right(c_name, 1) IN ('1', '3', '5', '7'))
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY cntrycode
         ORDER BY cntrycode""",
    "profile_lineitem" ->
      """SELECT count(*) AS n_rows,
                round(min(l_quantity), 2) AS min_qty,
                round(max(l_quantity), 2) AS max_qty,
                CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS null_qty,
                round(min(l_extendedprice), 2) AS min_price,
                round(max(l_extendedprice), 2) AS max_price,
                count(DISTINCT l_returnflag) AS n_returnflags,
                count(DISTINCT l_orderkey) AS n_orders,
                strftime(min(l_shipdate), '%Y-%m-%d') AS min_shipdate,
                strftime(max(l_shipdate), '%Y-%m-%d') AS max_shipdate
         FROM lineitem""",
    "profile_stats" ->
      """SELECT round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
                round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
                round(regr_slope(l_extendedprice, l_quantity), 2) AS slope_price_on_qty,
                round(median(l_extendedprice), 2) AS median_price,
                mode(l_returnflag) AS mode_returnflag
         FROM lineitem""",
    "profile_histogram" ->
      """SELECT least(CAST(floor(l_extendedprice / 7000) AS BIGINT), 15) AS bin,
                count(*) AS n_rows,
                round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem
         GROUP BY 1 ORDER BY 1""",
    // equi-depth replay: same agg-first fold and the same integer bucket
    // arithmetic (rows_before * 8 // N with non-negative operands, so
    // DuckDB's floor-div and Spark's integer division coincide)
    "profile_histogram_equidepth" ->
      """WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                           count(*) AS n
                    FROM events GROUP BY 1),
              t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM v),
              w AS (SELECT cents, n,
                           coalesce(sum(n) OVER (ORDER BY cents
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS cum
                    FROM v)
         SELECT CAST(w.cum * 8 // t.total AS BIGINT) AS bucket,
                count(*) AS n_values,
                CAST(sum(n) AS BIGINT) AS n_rows,
                min(cents) AS lo_cents,
                max(cents) AS hi_cents
         FROM w, t
         GROUP BY 1 ORDER BY 1""",
    // the oracle states the funnel as the correlated first-X-after-Y
    // CTE chain the Spark side decorrelates
    "funnel_stages" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
              c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
                    JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
                    WHERE e.event_type = 'click' GROUP BY e.user_id),
              p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
                    JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
                    WHERE e.event_type = 'purchase' GROUP BY e.user_id)
         SELECT (SELECT count(*) FROM v) AS n_view,
                (SELECT count(*) FROM c) AS n_click,
                (SELECT count(*) FROM p) AS n_purchase""",
    // transitions replay the same (ts, event_id)-ordered lead; lift is a
    // division of exact integers, IEEE-identical across engines
    "seq_transition_matrix" ->
      """WITH pairs AS (
           SELECT event_type AS from_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n_trans
               FROM pairs WHERE to_type IS NOT NULL
               GROUP BY from_type, to_type)
         SELECT from_type, to_type, n_trans,
                round(CAST(n_trans AS DOUBLE)
                      * (sum(n_trans) OVER ())
                      / ((sum(n_trans) OVER (PARTITION BY from_type))
                         * (sum(n_trans) OVER (PARTITION BY to_type))),
                      4) AS lift
         FROM c ORDER BY from_type, to_type""",
    // priority sampling: the oracle replays the integer priorities and
    // the (priority DESC, doc_id) rank order exactly
    "sample_weighted_exact_k" ->
      """WITH t AS (SELECT doc_id,
                           (len(list_distinct(string_split(text, ' '))) * 10000)
                             // len(string_split(text, ' ')) AS w
                    FROM documents),
              p AS (SELECT doc_id, w,
                           (w * 2147483647) //
                             ((doc_id * 2654435761) % 2147483647 + 1)
                             AS priority
                    FROM t)
         SELECT doc_id, CAST(w AS BIGINT) AS w,
                CAST(priority AS BIGINT) AS priority
         FROM p ORDER BY priority DESC, doc_id LIMIT 500""",
    // the streaming funnel must land on the BATCH funnel's exact counts —
    // same oracle, reached through the keyed state machine
    "t11_stream_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
              c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
                    JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
                    WHERE e.event_type = 'click' GROUP BY e.user_id),
              p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
                    JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
                    WHERE e.event_type = 'purchase' GROUP BY e.user_id)
         SELECT (SELECT count(*) FROM v) AS n_view,
                (SELECT count(*) FROM c) AS n_click,
                (SELECT count(*) FROM p) AS n_purchase""",
    "trailing_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id,
                            date_diff('day', DATE '2024-01-01',
                              CAST(ts AS DATE)) AS day
                     FROM events),
              spine AS (SELECT DISTINCT day AS win_day FROM ud)
         SELECT s.win_day, count(DISTINCT u.user_id) AS n_active
         FROM spine s JOIN ud u ON u.day BETWEEN s.win_day - 6 AND s.win_day
         GROUP BY s.win_day""",
    // sketch contract: exact trailing distinct replayed here; the engine
    // derives the verdict honestly from the merged day-sketch estimates
    "sketch_hll_sliding" ->
      """WITH ud AS (SELECT DISTINCT user_id,
                            date_diff('day', DATE '2024-01-01',
                              CAST(ts AS DATE)) AS day
                     FROM events),
              spine AS (SELECT DISTINCT day AS win_day FROM ud)
         SELECT s.win_day, count(DISTINCT u.user_id) AS n_active,
                true AS sketch_within_5pct
         FROM spine s JOIN ud u ON u.day BETWEEN s.win_day - 6 AND s.win_day
         GROUP BY s.win_day ORDER BY s.win_day""",
    "retention_cohorts" ->
      """WITH f AS (SELECT user_id,
                           CAST(floor(datediff('day', DATE '2024-01-01',
                             CAST(min(ts) AS DATE)) / 7) AS BIGINT)
                             AS cohort_week
                    FROM events GROUP BY user_id)
         SELECT f.cohort_week,
                CAST(floor(datediff('day', DATE '2024-01-01',
                  CAST(e.ts AS DATE)) / 7) AS BIGINT) - f.cohort_week
                  AS week_offset,
                count(DISTINCT e.user_id) AS n_users
         FROM events e JOIN f ON e.user_id = f.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // integer replay of the cross-multiplied 3-sigma test — HUGEINT keeps
    // every term exact, mirroring the engine's decimal(38,0)
    "ts_anomaly_flags" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                           count(*) AS n
                    FROM events GROUP BY 1, 2),
              t AS (SELECT event_type, hour, n,
                           CAST(floor(epoch(hour)) AS BIGINT) AS hs FROM h),
              wd AS (SELECT event_type, hour, n,
                            count(*) OVER w AS c,
                            sum(n) OVER w AS s,
                            sum(n * n) OVER w AS sq
                     FROM t
                     WINDOW w AS (PARTITION BY event_type ORDER BY hs
                       RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING))
         SELECT event_type, strftime(hour, '%Y-%m-%d %H:00') AS hour, n,
                (c >= 2 AND
                 CAST(n * c - s AS HUGEINT) * CAST(n * c - s AS HUGEINT)
                   * (c - 1)
                 > 9 * CAST(c AS HUGEINT)
                     * (CAST(sq AS HUGEINT) * c
                        - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)))
                  AS is_anomaly
         FROM wd ORDER BY event_type, hour""",
    // 900 s buckets: DuckDB time_bucket's 2000-01-01 origin and Spark
    // window()'s 1970 epoch alignment coincide (946684800 ≡ 0 mod 900)
    "ts_ohlc_bars" ->
      """SELECT event_type,
                strftime(time_bucket(INTERVAL 900 SECONDS, ts),
                         '%Y-%m-%d %H:%M') AS bar_start,
                round(arg_min(value, ts), 2) AS open,
                round(max(value), 2) AS high,
                round(min(value), 2) AS low,
                round(arg_max(value, ts), 2) AS close,
                count(*) AS n_events,
                round(sum(value), 2) AS volume
         FROM events
         GROUP BY event_type, time_bucket(INTERVAL 900 SECONDS, ts)
         ORDER BY event_type, bar_start""",
    // direct-from-ticks replay of the engine's two-level fold — equality
    // IS the mergeability proof; volume in integer cents
    "ts_ohlc_rollup" ->
      """SELECT event_type,
                strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS bar_start,
                round(arg_min(value, ts), 2) AS open,
                round(max(value), 2) AS high,
                round(min(value), 2) AS low,
                round(arg_max(value, ts), 2) AS close,
                count(*) AS n_events,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  AS vol_cents
         FROM events
         GROUP BY event_type, date_trunc('hour', ts)""",
    "ts_gapfill_hourly" ->
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0,
                           date_trunc('hour', max(ts)) AS h1 FROM events),
              spine AS (SELECT unnest(generate_series(h0, h1,
                          INTERVAL 1 HOUR)) AS hour FROM b),
              types AS (SELECT DISTINCT event_type FROM events),
              hourly AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                                count(*) AS n
                         FROM events GROUP BY 1, 2)
         SELECT strftime(s.hour, '%Y-%m-%d %H:00') AS hour, t.event_type,
                CAST(coalesce(h.n, 0) AS BIGINT) AS n
         FROM spine s CROSS JOIN types t
         LEFT JOIN hourly h ON h.hour = s.hour AND h.event_type = t.event_type
         ORDER BY 1, 2""",
    // sparse-join dot equals the dense profile dot (missing hours are 0);
    // dot and norms integer-exact, cosine one identical float expression
    "ts_profile_topk" ->
      """WITH c AS (SELECT user_id, CAST(hour(ts) AS INTEGER) AS h,
                           count(*) AS n
                    FROM events GROUP BY 1, 2),
              q AS (SELECT min(user_id) AS qu FROM events),
              cq AS (SELECT c.h, c.n AS qn FROM c, q WHERE c.user_id = q.qu),
              qn2 AS (SELECT sum(qn * qn) AS q2 FROM cq),
              dots AS (SELECT c.user_id, sum(c.n * cq.qn) AS dot
                       FROM c JOIN cq USING (h) GROUP BY c.user_id),
              norms AS (SELECT user_id, sum(n * n) AS n2
                        FROM c GROUP BY user_id)
         SELECT d.user_id AS other_user,
                round(d.dot / sqrt(CAST(n.n2 AS DOUBLE) * q2), 6) AS cosine
         FROM dots d JOIN norms n USING (user_id), qn2, q
         WHERE d.user_id <> q.qu
         ORDER BY cosine DESC, other_user LIMIT 10""",
    // same spine as gapfill; interpolation replayed in the same
    // non-negative integer arithmetic ((pv*(nh-hx)+nv*(hx-ph)) // gap —
    // truncating and flooring division coincide on non-negatives)
    "ts_interpolate_hourly" ->
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0,
                           date_trunc('hour', max(ts)) AS h1 FROM events),
              spine AS (SELECT unnest(generate_series(h0, h1,
                          INTERVAL 1 HOUR)) AS hour FROM b),
              types AS (SELECT DISTINCT event_type FROM events),
              hourly AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                                CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                                  AS BIGINT) AS v
                         FROM events GROUP BY 1, 2),
              s AS (SELECT sp.hour, t.event_type, h.v,
                           CAST(epoch(sp.hour) AS BIGINT) // 3600 AS hx
                    FROM spine sp CROSS JOIN types t
                    LEFT JOIN hourly h ON h.hour = sp.hour
                                      AND h.event_type = t.event_type),
              wnd AS (SELECT *,
                        last_value(v IGNORE NULLS) OVER
                          (PARTITION BY event_type ORDER BY hx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS pv,
                        last_value(CASE WHEN v IS NOT NULL THEN hx END
                                   IGNORE NULLS) OVER
                          (PARTITION BY event_type ORDER BY hx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS ph,
                        first_value(v IGNORE NULLS) OVER
                          (PARTITION BY event_type ORDER BY hx
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                          AS nv,
                        first_value(CASE WHEN v IS NOT NULL THEN hx END
                                    IGNORE NULLS) OVER
                          (PARTITION BY event_type ORDER BY hx
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                          AS nh
                      FROM s)
         SELECT strftime(hour, '%Y-%m-%d %H:00') AS hour, event_type,
                CAST(coalesce(v, (pv * (nh - hx) + nv * (hx - ph))
                                   // (nh - ph)) AS BIGINT) AS v_cents,
                (v IS NULL) AS interpolated
         FROM wnd""",
    "props_json_extract" ->
      """SELECT event_type, count(*) AS n,
                round(avg(CAST(props->>'$.k' AS BIGINT)), 4) AS avg_k,
                min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
                max(CAST(props->>'$.k' AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    // the observe meter re-emits its counters as one row; the oracle
    // recomputes them directly — a meter that drops rows goes red
    "dq_observe" ->
      """SELECT count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS cents,
                count(*) FILTER (WHERE value > 100.0) AS n_high,
                count(*) FILTER (WHERE props IS NULL) AS n_null_props
         FROM events""",
    // variant path extraction must agree with plain JSON extraction
    "props_variant_extract" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
                min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
                max(CAST(props->>'$.k' AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(avg(l_discount), 4) AS avg_disc,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q6_filtered_agg" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
         FROM lineitem
         WHERE l_quantity < 25 AND l_discount BETWEEN 0.02 AND 0.08""",
    "j1_broadcast_enrich" ->
      """SELECT e.event_id, e.event_type, c.c_name, c.c_mktsegment
         FROM events e JOIN customer c ON e.user_id = c.c_custkey""",
    "j2_assign_one_of_n" ->
      s"SELECT event_id, ${partyCase("user_id")} AS party FROM events",
    "j3_agg_then_enrich" ->
      """SELECT c.c_name, t.total_value
         FROM (SELECT user_id, round(sum(value), 2) AS total_value
               FROM events GROUP BY user_id) t
         JOIN customer c ON t.user_id = c.c_custkey""",
    "j4_asof_attribution" ->
      """WITH u AS (
           SELECT user_id, ts, event_id, 1 AS tag,
                  CAST(NULL AS BIGINT) AS r_id, CAST(NULL AS TIMESTAMP) AS r_ts
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, ts, event_id, 0 AS tag, event_id AS r_id, ts AS r_ts
           FROM events WHERE event_type = 'click'),
         w AS (
           SELECT *,
                  last_value(r_id IGNORE NULLS) OVER
                    (PARTITION BY user_id ORDER BY ts, tag, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_r_id,
                  last_value(r_ts IGNORE NULLS) OVER
                    (PARTITION BY user_id ORDER BY ts, tag, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_r_ts
           FROM u)
         SELECT event_id AS left_id, user_id,
                CASE WHEN last_r_ts IS NOT NULL
                          AND date_diff('second', last_r_ts, ts) <= 3600
                     THEN last_r_id END AS matched_right_id,
                CASE WHEN last_r_ts IS NOT NULL
                          AND date_diff('second', last_r_ts, ts) <= 3600
                     THEN date_diff('second', last_r_ts, ts) END AS gap_s
         FROM w WHERE tag = 1""",
    "j4_asof_forward" ->
      """WITH u AS (
           SELECT user_id, ts, event_id, 1 AS tag,
                  CAST(NULL AS BIGINT) AS r_id, CAST(NULL AS TIMESTAMP) AS r_ts
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, ts, event_id, 0 AS tag, event_id AS r_id, ts AS r_ts
           FROM events WHERE event_type = 'click'),
         w AS (
           SELECT *,
                  last_value(r_id IGNORE NULLS) OVER
                    (PARTITION BY user_id ORDER BY ts DESC, tag, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_r_id,
                  last_value(r_ts IGNORE NULLS) OVER
                    (PARTITION BY user_id ORDER BY ts DESC, tag, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_r_ts
           FROM u)
         SELECT event_id AS left_id, user_id,
                CASE WHEN next_r_ts IS NOT NULL
                          AND date_diff('second', ts, next_r_ts) <= 3600
                     THEN next_r_id END AS matched_right_id,
                CASE WHEN next_r_ts IS NOT NULL
                          AND date_diff('second', ts, next_r_ts) <= 3600
                     THEN date_diff('second', ts, next_r_ts) END AS gap_s
         FROM w WHERE tag = 1""",
    "j5_range_join" ->
      """SELECT l.event_id AS left_id, r.event_id AS right_id, l.user_id,
                date_diff('second', r.ts, l.ts) AS gap_s
         FROM events l JOIN events r
           ON l.user_id = r.user_id
          AND l.event_type = 'purchase' AND r.event_type = 'click'
          AND date_diff('second', r.ts, l.ts) BETWEEN 0 AND 1800""",
    "attrib_linear" ->
      """WITH p AS (SELECT l.event_id AS left_id, r.event_id AS right_id,
                           r.ts AS r_ts
                    FROM events l JOIN events r
                      ON l.user_id = r.user_id
                     AND l.event_type = 'purchase'
                     AND r.event_type = 'click'
                     AND date_diff('second', r.ts, l.ts) BETWEEN 0 AND 3600),
              n AS (SELECT left_id, count(*) AS n_touches
                    FROM p GROUP BY left_id)
         SELECT CAST(hour(p.r_ts) AS INTEGER) AS touch_hour,
                CAST(sum(1000000 // n.n_touches) AS BIGINT) AS credit_micro,
                count(*) AS n_touches_total
         FROM p JOIN n USING (left_id) GROUP BY touch_hour""",
    "p1p3_decode_flatten" ->
      "SELECT event_id, event_type, value FROM events",
    "p6_empty_guard" ->
      "SELECT count(*) AS n_matching FROM events WHERE event_type = '__nonexistent__'",
    "p7_json_null_filter" ->
      """SELECT event_id, CAST(props->>'k' AS INTEGER) AS k FROM events
         WHERE CAST(props->>'k' AS INTEGER) >= 50""",
    "w1_rank_leaderboard" ->
      """SELECT event_type, n_events,
                rank() OVER (ORDER BY n_events DESC, event_type) AS rnk
         FROM (SELECT event_type, count(*) AS n_events FROM events
               GROUP BY event_type) t""",
    "w2_topk_spenders" ->
      """SELECT user_id, round(sum(value), 2) AS total_value
         FROM events GROUP BY user_id
         ORDER BY total_value DESC, user_id LIMIT 10""",
    "w3_running_total" ->
      """SELECT event_id, user_id,
                round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                  AS running_value
         FROM events""",
    "w7_moving_avg_range" ->
      """WITH t AS (SELECT event_id, user_id, value,
                           CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
                    FROM events)
         SELECT event_id, user_id,
                round(avg(value) OVER (PARTITION BY user_id ORDER BY ts_s
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4)
                  AS mov_avg
         FROM t""",
    "w8_percent_rank" ->
      """WITH s AS (SELECT user_id, round(sum(value), 2) AS spend
                    FROM events GROUP BY user_id)
         SELECT user_id, spend,
                round(percent_rank() OVER (ORDER BY spend, user_id), 6)
                  AS pct_rank,
                round(cume_dist() OVER (ORDER BY spend, user_id), 6) AS cume
         FROM s ORDER BY user_id""",
    "w9_topk_per_group" ->
      """WITH t AS (SELECT event_type, user_id,
                           round(sum(value), 2) AS total_value
                    FROM events GROUP BY event_type, user_id)
         SELECT event_type, user_id, total_value,
                rnk
         FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                         ORDER BY total_value DESC, user_id) AS rnk
               FROM t) r
         WHERE rnk <= 3""",
    "w4_topk_aggregator" ->
      """WITH r AS (SELECT event_type, event_id,
                           row_number() OVER (PARTITION BY event_type
                                              ORDER BY value DESC, event_id) AS rn
                    FROM events)
         SELECT event_type,
                string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS top_ids
         FROM r WHERE rn <= 3 GROUP BY event_type""",
    "f1_concat" ->
      "SELECT c_custkey, concat_ws('|', c_name, c_mktsegment) AS tag FROM customer",
    "f2_party_pick" ->
      s"SELECT c_custkey, ${partyCase("c_custkey")} AS party FROM customer",
    "f3_parity_pick" ->
      """SELECT c_custkey,
                CASE WHEN c_custkey % 2 = 1 THEN 'female' ELSE 'male' END AS gender
         FROM customer""",
    "f4_time_format" ->
      "SELECT event_id, strftime(ts, '%Y-%m-%d %H') AS hour_str FROM events",
    "f5_json_roundtrip" ->
      """SELECT event_id,
                to_json(struct_pack(event_type := event_type, value := value)) AS js
         FROM events""",
    "f5b_xml_roundtrip" ->
      "SELECT event_id, event_type, value FROM events",
    "f9_format_string" ->
      "SELECT event_id, printf('%s#%03d', event_type, user_id % 100) AS tag FROM events",
    // collated equality ≡ lower() equality; the fixture's event_type is
    // already lowercase, so lower(mixed) = event_type and the collated
    // dim join matches every row; the collated count(DISTINCT) sees one
    // case-class per group
    "f11_collation_group" ->
      """SELECT event_type, 'cat_' || event_type AS label,
                count(*) AS n_events,
                CAST(1 AS BIGINT) AS n_spellings_collated
         FROM events GROUP BY 1""",
    "s4_json_source" ->
      """SELECT event_type, round(sum(value), 2) AS total_value, count(*) AS n_events
         FROM events GROUP BY event_type""",
    "s4_xml_source" ->
      """SELECT event_type,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents,
                count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type""",
    "s4_csv_source" ->
      """SELECT event_type, round(sum(value), 2) AS total_value, count(*) AS n_events
         FROM events GROUP BY event_type""",
    "s4_orc_source" ->
      """SELECT event_type, round(sum(value), 2) AS total_value, count(*) AS n_events
         FROM events GROUP BY event_type""",
    // the %.2f wire format is lossless for this 2-decimal data, so the
    // parsed fold must equal the original-table fold exactly
    "s4_text_log_source" ->
      """SELECT event_type, round(sum(value), 2) AS total_value,
                count(*) AS n_events, max(event_id) AS max_id
         FROM events GROUP BY event_type""",
    "storage_compact" ->
      """SELECT CAST(ceil(count(*) / 2500.0) AS BIGINT) AS n_files,
                count(*) AS n_rows,
                round(sum(value), 2) AS sum_value
         FROM events""",
    // replayed from the source table: the odd-user batch is the one
    // whose generation carries event_type
    "storage_evolving_read" ->
      """SELECT count(*) AS n_rows,
                CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_with_type,
                round(sum(value), 2) AS sum_value
         FROM events""",
    "storage_partition_pruning" ->
      """SELECT user_id, count(*) AS n_clicks,
                round(sum(value), 2) AS click_value
         FROM events WHERE event_type = 'click' GROUP BY user_id""",
    // the z-order layout is result-transparent: the oracle replays the
    // box scan against the source table
    "storage_zorder_scan" ->
      """SELECT l_returnflag, count(*) AS n_rows,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem
         WHERE l_partkey BETWEEN 50 AND 149
           AND l_suppkey BETWEEN 2 AND 7
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",
    // the partitioned/staged layouts are result-transparent: the oracle
    // replays the dim filter + join against the source table
    "storage_dpp_join" ->
      """WITH dim AS (SELECT DISTINCT event_type AS type_name,
                             CASE WHEN event_type IN ('purchase', 'signup')
                                  THEN 1 ELSE 0 END AS conv_flag
                      FROM events)
         SELECT e.event_type, count(*) AS n_rows,
                round(sum(e.value), 2) AS sum_value
         FROM events e
         JOIN dim ON dim.conv_flag = 1 AND e.event_type = dim.type_name
         GROUP BY e.event_type
         ORDER BY e.event_type""",
    // struct layout is result-transparent: the oracle replays the
    // group-count against the flat source table
    "storage_nested_pruning" ->
      """SELECT event_type, count(*) AS n_rows
         FROM events GROUP BY event_type ORDER BY event_type""",
    // catalog stats + join reorder are plan-side only: the oracle
    // replays the same star join against the source tables
    "storage_cbo_stats" ->
      """SELECT c_mktsegment, count(*) AS n_items,
                round(sum(l_extendedprice), 2) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",
    "storage_bucketed_join" ->
      """SELECT c.c_name, c.c_mktsegment, t.total_value
         FROM (SELECT user_id, round(sum(value), 2) AS total_value
               FROM events GROUP BY user_id) t
         JOIN customer c ON t.user_id = c.c_custkey""",
    // dynamic-overwrite replay: click values doubled, everything else as
    // written by the base load — partitions outside the restated set
    // must be byte-for-byte the original data
    "storage_dynamic_overwrite" ->
      """WITH t AS (SELECT event_type,
                           CASE WHEN event_type = 'click' THEN value * 2
                                ELSE value END AS v
                    FROM events)
         SELECT event_type, count(*) AS n_rows,
                round(sum(v), 2) AS sum_value
         FROM t GROUP BY event_type ORDER BY event_type""",
    "storage_codec_zstd" ->
      """SELECT count(*) AS n_rows,
                CAST(sum(event_id) AS BIGINT) AS sum_ids,
                round(sum(value), 2) AS sum_value
         FROM events""",
    "storage_sorted_export" ->
      """SELECT count(*) AS n_rows,
                CAST(sum(event_id) AS BIGINT) AS sum_ids,
                round(sum(value), 2) AS sum_value
         FROM events""",
    // the Avro write→read trip is value-transparent: the oracle replays
    // the summary straight from the source table (doubles round-trip
    // bit-exactly through Avro)
    "s4_avro_source" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS cents,
                max(event_id) AS max_id
         FROM events GROUP BY event_type ORDER BY event_type""",
    "s5_jdbc_roundtrip" ->
      """SELECT count(*) AS n_users, round(sum(total_value), 2) AS sum_total
         FROM (SELECT user_id, round(sum(value), 2) AS total_value
               FROM events GROUP BY user_id) t""",
    // the table the doubly-applied streaming upsert must converge to:
    // plain per-user totals in exact integer cents
    "s5c_jdbc_upsert_replay" ->
      """SELECT user_id,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM events GROUP BY user_id ORDER BY user_id""",
    // same ground truth as s5c: the delta sink must converge to the batch
    // per-user totals despite double delivery of every epoch
    "s5d_jdbc_txnlog_replay" ->
      """SELECT user_id,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM events GROUP BY user_id ORDER BY user_id""",
    "s6_sql_over_view" ->
      """SELECT event_type, count(*) AS n FROM events
         WHERE value > 10 GROUP BY event_type HAVING count(*) > 5""",
    // the scalar-UDF bodies inlined — what Spark's analyzer does
    "s6e_sql_udf" ->
      """SELECT l_returnflag,
                CASE WHEN l_quantity < 10 THEN 'small'
                     WHEN l_quantity < 30 THEN 'mid'
                     ELSE 'bulk' END AS qty_band,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                count(*) AS n
         FROM lineitem GROUP BY 1, 2""",
    // the catalog functions replayed natively: disc_rev is the revenue
    // expression, geo_mean is exp(avg(ln)) over the positive domain
    "s7f_v2_function_catalog" ->
      """SELECT l_returnflag,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2)
                  AS revenue,
                round(exp(avg(ln(l_quantity))), 6) AS geo_qty,
                count(*) AS n
         FROM lineitem GROUP BY 1""",
    // the dynamic statement with its positional binding inlined
    "s6h_execute_immediate" ->
      """SELECT event_type, count(*) AS n,
                round(avg(value), 2) AS avg_value
         FROM events WHERE value > 40 GROUP BY event_type""",
    // the parameter bindings inlined as literals — what Spark's
    // ResolveParameterizedQuery does before optimization
    "s6g_parameterized_sql" ->
      """SELECT event_type, count(*) AS n,
                round(sum(value), 2) AS total_value
         FROM events WHERE value > 25
         GROUP BY event_type""",
    // the table-UDF body inlined as a parameterized subquery
    "s6f_sql_table_udf" ->
      """SELECT count(*) AS n_urgent,
                round(sum(o_totalprice), 2) AS urgent_total,
                count(DISTINCT o_custkey) AS n_customers
         FROM orders WHERE o_orderpriority = '1-URGENT'""",
    // identical recursion, DuckDB replaying the pair CTE as the DAG:
    // UNION ALL both sides, ascending edges so the recursion is acyclic,
    // the same hop < 3 bound
    "s6b_recursive_cte" ->
      """WITH RECURSIVE
              w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
              p AS (SELECT doc_a, doc_b
                    FROM com
                    JOIN sizes sa ON sa.doc_id = doc_a
                    JOIN sizes sb ON sb.doc_id = doc_b
                    WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
              reach AS (SELECT doc_a AS src, doc_b AS dst, 1 AS hop FROM p
                        UNION ALL
                        SELECT r.src, e.doc_b, r.hop + 1
                        FROM reach r JOIN p e ON e.doc_a = r.dst
                        WHERE r.hop < 3)
         SELECT src AS doc_id, count(DISTINCT dst) AS n_reach
         FROM reach GROUP BY src ORDER BY doc_id""",
    // pipe syntax is parser surface only: the oracle is the ordinary
    // filtered aggregate the pipes desugar to
    "s6c_sql_pipe" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM events WHERE value > 10
         GROUP BY event_type ORDER BY event_type""",
    // closed-form IRV replay for the pinned fixture (1000 ballots, 3
    // parties → exactly one elimination round): round-1 tallies, the
    // (votes ASC, party ASC) elimination, second-choice transfers, the
    // majority-of-cast verdict
    "s6d_sql_scripting" ->
      s"""WITH b AS (SELECT id AS voter_id,
                            ${partyCase("id")} AS first,
                            ${partyCase("(id % 3 + 1 + id % 2) % 3")} AS second
                     FROM range(1000) t(id)),
               r1 AS (SELECT first AS party, count(*) AS c FROM b GROUP BY first),
               elim AS (SELECT party FROM r1 ORDER BY c ASC, party ASC LIMIT 1),
               fin AS (SELECT party, count(*) AS c FROM
                        (SELECT CASE WHEN first NOT IN (SELECT party FROM elim)
                                       THEN first
                                     WHEN second NOT IN (SELECT party FROM elim)
                                       THEN second
                                END AS party FROM b)
                       WHERE party IS NOT NULL GROUP BY party),
               tot AS (SELECT count(*) AS total FROM b)
          SELECT p.party,
                 r1.c AS first_round_votes,
                 CAST(coalesce(f.c, 0) AS BIGINT) AS final_votes,
                 coalesce(f.c, 0) * 2 > tot.total AS is_winner,
                 p.party IN (SELECT party FROM elim) AS eliminated
          FROM (SELECT DISTINCT first AS party FROM b) p
          LEFT JOIN r1 ON r1.party = p.party
          LEFT JOIN fin f ON f.party = p.party
          CROSS JOIN tot
          ORDER BY p.party""",
    // DuckDB runs the identical correlated LATERAL (same per-row LIMIT,
    // same tie-breaks)
    "j10_lateral_topn" ->
      """SELECT seg.c_mktsegment, t.c_custkey, t.c_acctbal
         FROM (SELECT DISTINCT c_mktsegment FROM customer) seg,
         LATERAL (SELECT c_custkey, c_acctbal FROM customer c
                  WHERE c.c_mktsegment = seg.c_mktsegment
                  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
         ORDER BY seg.c_mktsegment, t.c_acctbal DESC, t.c_custkey""",
    // TWS totals: the last emit per user must equal the batch GROUP BY
    // (integer cents — the same per-row rounding as incr_agg_merge)
    "t26_stream_transform_with_state" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM events GROUP BY user_id ORDER BY user_id""",
    // t26's truth verbatim, read back OUT of the checkpoint this time
    "t39_tws_state_source_read" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM events GROUP BY user_id ORDER BY user_id""",
    // t26's truth verbatim: the warm-start handoff (batch even-half
    // seed + odd-half stream) must reassemble the FULL-table totals
    "t37_stream_tws_initial_state" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM events GROUP BY user_id ORDER BY user_id""",
    // t26's replay one key deeper: the MapState cell must reproduce the
    // per-(user, type) GROUP BY exactly
    "t32_stream_tws_map_state" ->
      """SELECT user_id, event_type, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM events GROUP BY user_id, event_type
         ORDER BY user_id, event_type""",
    // per user: total count + the ids of the 3 latest events by
    // (event time, event_id), latest first — the ListState buffer's
    // exact contents
    "t33_stream_tws_list_state" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id
                    FROM events),
              r AS (SELECT user_id, event_id,
                           row_number() OVER (PARTITION BY user_id
                             ORDER BY us DESC, event_id DESC) AS rn
                    FROM e),
              topk AS (SELECT user_id,
                              string_agg(CAST(event_id AS VARCHAR), ','
                                ORDER BY rn) AS recent_ids
                       FROM r WHERE rn <= 3 GROUP BY user_id),
              n AS (SELECT user_id, count(*) AS n_seen FROM e
                    GROUP BY user_id)
         SELECT user_id, CAST(n_seen AS BIGINT) AS n_seen, recent_ids
         FROM n JOIN topk USING (user_id) ORDER BY user_id""",
    // checkpoint upgrade: totals accumulate across the restart (count/sum
    // over ALL events); the V2-only field counts exactly the odd half —
    // the events delivered after the new code took over the checkpoint
    "t28_stream_state_upgrade" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents,
                CAST(count(*) FILTER (WHERE event_id % 2 = 1) AS BIGINT)
                  AS n2_since_upgrade
         FROM events GROUP BY user_id ORDER BY user_id""",
    // full replay of the streaming IVF ingest: base centroids (even half,
    // the ann_ivf_topk fixed-point discipline), argmax cell assignment of
    // the odd half (the ann_kmeans_cells window discipline), probe
    // ranking over the build-time centroids, post-ingest cosine top-k
    "t29_stream_ivf_ingest" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS cell,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              base AS (SELECT vec_id, cell, v FROM e WHERE vec_id % 2 = 0),
              newv AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),
              cj AS (SELECT cell, generate_subscripts(v, 1) AS j,
                            unnest(v) AS x FROM base),
              cm AS (SELECT cell, j,
                            (CAST(sum(CAST(round(x * 16777216.0) AS BIGINT)) AS DOUBLE)
                             / 16777216.0) / count(*) AS cjv
                     FROM cj GROUP BY cell, j),
              cent AS (SELECT cell, list(cjv ORDER BY j) AS cv
                       FROM cm GROUP BY cell),
              u AS (SELECT cell, list_transform(cv, x ->
                      x / sqrt(list_sum(list_transform(cv, y -> y * y)))) AS uc
                    FROM cent),
              s AS (SELECT newv.vec_id, newv.v, u.cell,
                           list_sum(list_transform(range(1, 65),
                             i -> newv.v[i] * u.uc[i])) AS d
                    FROM newv CROSS JOIN u),
              anew AS (SELECT vec_id, v, cell FROM
                        (SELECT vec_id, v, cell,
                                row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d DESC, cell ASC) AS rn FROM s)
                       WHERE rn = 1),
              corpus AS (SELECT vec_id, cell, v FROM base
                         UNION ALL SELECT vec_id, cell, v FROM anew),
              q AS (SELECT v AS qv,
                           sqrt(list_sum(list_transform(v, x -> x * x))) AS qn
                    FROM base WHERE vec_id = 0),
              probe AS (SELECT cent.cell FROM cent, q
                        ORDER BY list_sum(list_transform(range(1, 65),
                                   i -> cv[i] * q.qv[i]))
                                 / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                                    * q.qn) DESC,
                                 cent.cell ASC
                        LIMIT 3)
         SELECT c.vec_id,
                round(list_sum(list_transform(range(1, 65), i -> c.v[i] * q.qv[i]))
                      / (sqrt(list_sum(list_transform(c.v, x -> x * x))) * q.qn), 6)
                  AS cosine
         FROM corpus c JOIN probe ON c.cell = probe.cell, q
         WHERE c.vec_id <> 0
         ORDER BY cosine DESC, vec_id LIMIT 10""",
    // batched serve over the same grown corpus: per-query probe ranking
    // over the build-time centroids, per-query top-10 within the probed
    // cells; queries 0-9 include the five just-ingested odd vectors
    "t29b_stream_ivf_batch_serve" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS cell,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              base AS (SELECT vec_id, cell, v FROM e WHERE vec_id % 2 = 0),
              newv AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),
              cj AS (SELECT cell, generate_subscripts(v, 1) AS j,
                            unnest(v) AS x FROM base),
              cm AS (SELECT cell, j,
                            (CAST(sum(CAST(round(x * 16777216.0) AS BIGINT)) AS DOUBLE)
                             / 16777216.0) / count(*) AS cjv
                     FROM cj GROUP BY cell, j),
              cent AS (SELECT cell, list(cjv ORDER BY j) AS cv
                       FROM cm GROUP BY cell),
              u AS (SELECT cell, list_transform(cv, x ->
                      x / sqrt(list_sum(list_transform(cv, y -> y * y)))) AS uc
                    FROM cent),
              s AS (SELECT newv.vec_id, newv.v, u.cell,
                           list_sum(list_transform(range(1, 65),
                             i -> newv.v[i] * u.uc[i])) AS d
                    FROM newv CROSS JOIN u),
              anew AS (SELECT vec_id, v, cell FROM
                        (SELECT vec_id, v, cell,
                                row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d DESC, cell ASC) AS rn FROM s)
                       WHERE rn = 1),
              corpus AS (SELECT vec_id, cell, v FROM base
                         UNION ALL SELECT vec_id, cell, v FROM anew),
              cn AS (SELECT vec_id, cell, v,
                            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                     FROM corpus),
              q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
                    FROM cn WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)),
              pr AS (SELECT q.query_id, cent.cell,
                            row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_sum(list_transform(range(1, 65),
                                         i -> cv[i] * q.qv[i]))
                                       / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                                          * q.qn) DESC,
                                       cent.cell ASC) AS rn
                     FROM cent, q),
              probe AS (SELECT query_id, cell FROM pr WHERE rn <= 3),
              sc AS (SELECT probe.query_id, cn.vec_id,
                            round(list_sum(list_transform(range(1, 65),
                                    i -> cn.v[i] * q.qv[i]))
                                  / (cn.nrm * q.qn), 6) AS cosine
                     FROM cn JOIN probe ON cn.cell = probe.cell
                            JOIN q ON q.query_id = probe.query_id
                     WHERE cn.vec_id <> q.query_id),
              rk AS (SELECT query_id, vec_id,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id) AS rn
                     FROM sc)
         SELECT query_id,
                string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rn) AS top_ids
         FROM rk WHERE rn <= 10 GROUP BY query_id""",
    "s7_generator" ->
      s"""SELECT id AS voter_id,
                 ${partyCase("id")} AS party_affiliation,
                 'voter_' || id AS voter_name,
                 CASE WHEN id % 2 = 1 THEN 'female' ELSE 'male' END AS gender,
                 CAST(18 + (id * 2654435761) % 60 AS INTEGER) AS registered_age
          FROM range(1000) t(id)""",
    // the connector's arithmetic is the generator's: the oracle replays
    // the formulas under the pushed id range + the residual gender gate
    "s7b_pushdown_source" ->
      s"""SELECT id AS voter_id,
                 ${partyCase("id")} AS party_affiliation,
                 CAST(18 + (id * 2654435761) % 60 AS INTEGER) AS registered_age
          FROM range(1000) t(id)
          WHERE id >= 100 AND id < 600 AND id % 2 = 1
          ORDER BY voter_id""",
    "s7c_count_pushdown" ->
      """SELECT count(*) AS n_rows FROM range(1000) t(id)
         WHERE id >= 100 AND id < 600""",
    // the streamed tally over 4 offset-paced micro-batches must equal
    // the batch formula
    "s7e_stream_source" ->
      s"""SELECT ${partyCase("id")} AS party_affiliation,
                 count(*) AS n_voters
          FROM range(1000) t(id)
          GROUP BY 1 ORDER BY party_affiliation""",
    // the sink round trip is value-transparent: the oracle replays the
    // aggregate the sink carried (same cents discipline as incr_agg)
    "s7d_sink_commit" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    // the overwrite grade replays both generations: 'after_abort' is the
    // click-only generation the failed overwrite must have RESTORED;
    // 'final' is the full tally that must have fully replaced it —
    // leftover generation-A rows would surface as extra 'final' rows
    "s7d_commit_overwrite" ->
      """SELECT * FROM (
           SELECT 'after_abort' AS phase, event_type,
                  count(*) AS n_events,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS total_cents
           FROM events WHERE event_type = 'click' GROUP BY event_type
           UNION ALL
           SELECT 'final' AS phase, event_type,
                  count(*) AS n_events,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS total_cents
           FROM events GROUP BY event_type
         ) ORDER BY phase, event_type""",
    "gen_votes_golden" ->
      """SELECT 'candidate_' || CAST((id * 31 + 7) % 3 AS VARCHAR) AS candidate_name,
                count(*) AS total_votes
         FROM range(1000) t(id) GROUP BY 1""",
    "vote_e2e_party_tally" ->
      s"""SELECT ${partyCase("(id * 31 + 7)")} AS party_affiliation,
                 count(*) AS total_votes
          FROM range(1000) t(id) GROUP BY 1""",
    "vote_e2e_turnout_by_state" ->
      """SELECT CASE id % 5 WHEN 0 THEN 'CA' WHEN 1 THEN 'NY' WHEN 2 THEN 'TX'
                            WHEN 3 THEN 'WA' ELSE 'IL' END AS state,
                count(*) AS turnout
         FROM range(1000) t(id) GROUP BY 1""",
    "vote_e2e_stream_tally" ->
      s"""SELECT ${partyCase("(id * 31 + 7)")} AS party_affiliation,
                 count(*) AS total_votes
          FROM range(1000) t(id) GROUP BY 1""",
    "vote_e2e_live_results" ->
      s"""SELECT 'candidate_' || CAST((id * 31 + 7) % 3 AS VARCHAR) AS candidate_name,
                 ${partyCase("((id * 31 + 7) % 3)")} AS party_affiliation,
                 count(*) AS total_votes
          FROM range(1000) t(id) GROUP BY 1, 2""",
    // same standings, but produced through the second-topic wire hop — the
    // re-emit/re-consume machinery must be value-neutral
    "vote_e2e_reemit" ->
      s"""SELECT 'candidate_' || CAST((id * 31 + 7) % 3 AS VARCHAR) AS candidate_name,
                 ${partyCase("((id * 31 + 7) % 3)")} AS party_affiliation,
                 count(*) AS total_votes
          FROM range(1000) t(id) GROUP BY 1, 2""",
    "t3_stream_cumulative" ->
      """SELECT event_type, round(sum(value), 2) AS total_value, count(*) AS n_events
         FROM events GROUP BY event_type""",
    // the wire round-trip and the checkpoint restart must both land on the
    // exact batch tally — same SQL, independent failure modes
    "t3b_wire_tally" ->
      """SELECT event_type, round(sum(value), 2) AS total_value, count(*) AS n_events
         FROM events GROUP BY event_type""",
    "t1_stream_recover" ->
      """SELECT event_type, round(sum(value), 2) AS total_value, count(*) AS n_events
         FROM events GROUP BY event_type""",
    // the fold over the SINK directory must equal the fold over the
    // source: exactly-once across the restart
    "s9_file_sink_exactly_once" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    // the emit-side exactly-once twin: same batch truth — any redelivered
    // frame the consumer fails to drop doubles a type's totals
    "s10_wire_emit_exactly_once" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    "t2_stream_hourly_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
                count(*) AS n_events
         FROM events GROUP BY 1""",
    // direct-from-ticks hour bars — the incremental bar snapshot must
    // reproduce them exactly (same oracle shape as ts_ohlc_rollup)
    "t19_stream_ohlc_maintain" ->
      """SELECT event_type,
                strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS bar_start,
                round(arg_min(value, ts), 2) AS open,
                round(max(value), 2) AS high,
                round(min(value), 2) AS low,
                round(arg_max(value, ts), 2) AS close,
                count(*) AS n_events,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  AS vol_cents
         FROM events
         GROUP BY event_type, date_trunc('hour', ts)""",
    // the sketch chain is engine-internal; the contract is: exact distinct
    // matches, and the final snapshot's estimate landed within 5%
    "t18_stream_sketch_maintain" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
                true AS stream_merged_within_5pct
         FROM events GROUP BY event_type""",
    // conservation: per type, valid + dead re-adds to the full count; the
    // poison predicate is replayed on the raw table with the ENGINE's edge
    // semantics spelled out: unparseable/NULL k quarantines (engine's
    // isNull leg), and pmod folds negative k into [0,97) where DuckDB's %
    // keeps the sign — so the differential doesn't depend on fixtures
    // happening to populate k with non-negative values
    "t17_stream_dead_letter" ->
      """WITH k AS (SELECT event_type,
                           TRY_CAST(props->>'k' AS BIGINT) AS kv
                    FROM events)
         SELECT event_type,
                count(*) FILTER (WHERE kv IS NOT NULL
                                   AND ((kv % 97) + 97) % 97 <> 13)
                  AS n_valid,
                count(*) FILTER (WHERE kv IS NULL
                                    OR ((kv % 97) + 97) % 97 = 13)
                  AS n_dead
         FROM k GROUP BY event_type""",
    // triage replay: same poison predicate, same skew-key derivation,
    // exact integer counts, same top-k tie-break
    "t17b_dead_letter_skew_triage" ->
      """WITH k AS (SELECT event_id, user_id,
                           TRY_CAST(props->>'k' AS BIGINT) AS kv
                    FROM events),
              d AS (SELECT CASE WHEN event_id % 100 < 90 THEN 1
                                ELSE user_id END AS skew_key
                    FROM k
                    WHERE kv IS NULL OR ((kv % 97) + 97) % 97 = 13)
         SELECT skew_key, count(*) AS n_dead
         FROM d GROUP BY skew_key
         ORDER BY n_dead DESC, skew_key
         LIMIT 10""",
    // sliding 2h windows advancing 1h, epoch-aligned like Spark's
    // window(): event at ts belongs to the windows starting at
    // trunc_hour(ts) and trunc_hour(ts) - 1h
    "t16_stream_sliding_window" ->
      """WITH w AS (SELECT date_trunc('hour', ts) AS s FROM events
                    UNION ALL
                    SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR FROM events)
         SELECT strftime(s, '%Y-%m-%d %H:%M') AS win_start,
                count(*) AS n_events
         FROM w GROUP BY s""",
    // batch-1 rows only (the held-back late set — id-hash picked AND >= 2h
    // older than global max ts — is dropped), windows finalized by the
    // batch-1 watermark (end <= max(ts) - 1h; max row is in batch 1 by
    // construction, so the watermark is the global one)
    "t4_stream_late_drop" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
              f0 AS (SELECT e.* FROM events e, m
                     WHERE NOT (e.event_id % 5 = 0
                                AND e.ts <= m.mx - INTERVAL 2 HOUR)),
              wm AS (SELECT mx - INTERVAL 1 HOUR AS w FROM m)
         SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
                count(*) AS n_events
         FROM f0, wm
         WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
         GROUP BY 1""",
    "t5_stream_dedup_users" -> "SELECT DISTINCT user_id FROM events",
    // same truth as t5: the RocksDB backend swap must be semantics-free
    "t25_stream_rocksdb_dedup" -> "SELECT DISTINCT user_id FROM events",
    // t5's truth again: the union of the two phases' append emissions
    // equals the distinct-user set only if the restart RECOVERED the
    // dedup state (a lost store re-emits the even half as duplicates,
    // which UNION ALL-style hashing would catch as multiplicity)
    "t35_stream_changelog_recover" -> "SELECT DISTINCT user_id FROM events",
    // per-half totals: batch 0 = even event_ids, batch 1 = odd; the 1 ms
    // TTL guarantees batch 0's cells are expired reads by batch 1, so
    // the odd half re-counts from zero — cumulative (un-expired) totals
    // would break the hash for every user present in both halves
    "t34_stream_tws_ttl" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM events WHERE event_id % 2 = 0 GROUP BY user_id
         UNION ALL
         SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM events WHERE event_id % 2 = 1 GROUP BY user_id""",
    // the checkpoint's dropDuplicates state keys ARE the distinct users
    "t27_state_source_read" ->
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",
    // time-travel replay over the user-keyed split: the as-of-batch-0
    // read is batch 0's distinct users (user_id % 3 <> 0); the batch-1
    // change feed is exactly the users batch 1 newly added (% 3 = 0)
    "t41_state_time_travel" ->
      """SELECT user_id, 'asof_batch0' AS src
         FROM (SELECT DISTINCT user_id FROM events WHERE user_id % 3 <> 0)
         UNION ALL
         SELECT user_id, 'feed_batch1' AS src
         FROM (SELECT DISTINCT user_id FROM events WHERE user_id % 3 = 0)
         ORDER BY src, user_id""",
    // any re-emission of a late duplicate adds a row and goes red
    "t5b_stream_dedup_watermarked" -> "SELECT DISTINCT user_id FROM events",
    // session_window semantics at microsecond precision: a new session
    // starts when the gap reaches 30 min exactly (no fixture event sits on
    // the boundary, verified)
    "t9_stream_sessions" ->
      """WITH o AS (SELECT user_id, ts,
                           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
                    FROM events),
              m AS (SELECT user_id,
                           CASE WHEN pts IS NULL
                                  OR date_diff('microsecond', pts, ts) >= 1800000000
                                THEN 1 ELSE 0 END AS new_s
                    FROM o)
         SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
         FROM m GROUP BY user_id""",
    // identical to j4_asof_attribution: the streaming state machine must
    // reproduce the batch as-of join bit-for-bit
    // every (purchase, click) pair of the same user with the click in the
    // hour before the purchase — the batch form of the stream-stream join
    "t10_stream_stream_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
                date_diff('microsecond', c.ts, p.ts) AS gap_us
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND c.ts <= p.ts AND p.ts <= c.ts + INTERVAL 3600 SECONDS
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'""",
    // streaming merge replay: identical to the batch cdc_merge_delete
    // oracle — complete-mode max(struct(ts, event_id, ...)) IS the
    // latest-wins window, so stream and batch share one truth
    "t22_stream_merge_delete" ->
      """WITH r AS (SELECT user_id, value, event_type,
                           row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rk
                    FROM events),
              ch AS (SELECT user_id * 11 AS ckey, value AS cval,
                            CASE WHEN event_type = 'error' THEN 'delete'
                                 ELSE 'upsert' END AS op
                     FROM r WHERE rk = 1)
         SELECT coalesce(c_custkey, ckey) AS key,
                CASE WHEN ckey IS NULL THEN 'keep'
                     WHEN op = 'delete' AND c_custkey IS NULL
                       THEN 'noop_delete'
                     WHEN op = 'delete' THEN 'delete'
                     WHEN c_custkey IS NULL THEN 'insert'
                     ELSE 'update' END AS action,
                CASE WHEN op = 'delete' THEN CAST(NULL AS DOUBLE)
                     ELSE coalesce(cval, c_acctbal) END AS value
         FROM customer FULL OUTER JOIN ch ON c_custkey = ckey""",
    // leaderboard replay: the cumulative tally + rank/share/gap over it;
    // integer basis points (// with non-negative operands ≡ Spark div)
    "t21_stream_leaderboard" ->
      """WITH t AS (SELECT event_type, count(*) AS n_events
                    FROM events GROUP BY event_type)
         SELECT row_number() OVER (ORDER BY n_events DESC, event_type)
                  AS rnk,
                event_type, n_events,
                (n_events * 10000)
                  // CAST((SELECT sum(n_events) FROM t) AS BIGINT)
                  AS share_bp,
                (SELECT max(n_events) FROM t) - n_events AS behind_leader
         FROM t ORDER BY rnk""",
    // left-outer replay: matched pairs are the plain range join; null
    // rows are the UNMATCHED purchases whose state the watermark evicted
    // — global watermark = min over both sides of floor(max_us/1000) ms
    // minus the 1 h delay, eviction strict-< in ms (us < w*1000 ⟺
    // us//1000 < w, so the // replay is exact); purchases inside the
    // final delay stay in state and must NOT appear as null rows
    "t20_stream_left_outer_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS pts
                    FROM events WHERE event_type = 'purchase'),
              c AS (SELECT event_id AS click_id, user_id, ts AS cts
                    FROM events WHERE event_type = 'click'),
              m AS (SELECT p.purchase_id, c.click_id, p.user_id,
                           date_diff('microsecond', c.cts, p.pts) AS gap_us
                    FROM p JOIN c ON p.user_id = c.user_id
                     AND c.cts <= p.pts
                     AND p.pts <= c.cts + INTERVAL 3600 SECONDS),
              wm AS (SELECT least(
                       (SELECT max(epoch_us(cts)) // 1000 FROM c),
                       (SELECT max(epoch_us(pts)) // 1000 FROM p))
                       - 3600000 AS w),
              unm AS (SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id,
                             p.user_id, CAST(NULL AS BIGINT) AS gap_us
                      FROM p CROSS JOIN wm
                      WHERE NOT EXISTS (SELECT 1 FROM m
                                        WHERE m.purchase_id = p.purchase_id)
                        AND epoch_us(p.pts) // 1000 < wm.w)
         SELECT * FROM m UNION ALL SELECT * FROM unm""",
    // full-outer replay: t20's matched + unmatched-purchase halves plus
    // the second eviction direction — unmatched CLICKS emit when the
    // watermark passes click_ts + tolerance (cts_ms + 3600000 < w, the
    // point past which no in-range purchase can still arrive); clicks
    // inside the final horizon stay in state and must NOT appear
    "t36_stream_full_outer_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS pts
                    FROM events WHERE event_type = 'purchase'),
              c AS (SELECT event_id AS click_id, user_id, ts AS cts
                    FROM events WHERE event_type = 'click'),
              m AS (SELECT p.purchase_id, c.click_id, p.user_id,
                           date_diff('microsecond', c.cts, p.pts) AS gap_us
                    FROM p JOIN c ON p.user_id = c.user_id
                     AND c.cts <= p.pts
                     AND p.pts <= c.cts + INTERVAL 3600 SECONDS),
              wm AS (SELECT least(
                       (SELECT max(epoch_us(cts)) // 1000 FROM c),
                       (SELECT max(epoch_us(pts)) // 1000 FROM p))
                       - 3600000 AS w),
              unm AS (SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id,
                             p.user_id, CAST(NULL AS BIGINT) AS gap_us
                      FROM p CROSS JOIN wm
                      WHERE NOT EXISTS (SELECT 1 FROM m
                                        WHERE m.purchase_id = p.purchase_id)
                        AND epoch_us(p.pts) // 1000 < wm.w),
              unc AS (SELECT CAST(NULL AS BIGINT) AS purchase_id, c.click_id,
                             c.user_id, CAST(NULL AS BIGINT) AS gap_us
                      FROM c CROSS JOIN wm
                      WHERE NOT EXISTS (SELECT 1 FROM m
                                        WHERE m.click_id = c.click_id)
                        AND epoch_us(c.cts) // 1000 + 3600000 < wm.w)
         SELECT * FROM m UNION ALL SELECT * FROM unm
         UNION ALL SELECT * FROM unc""",
    // semi replay: the plain EXISTS — matched purchases emit exactly
    // once on first match, unmatched never, so no watermark arithmetic
    "t38_stream_semi_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
                epoch_us(p.ts) AS purchase_us
         FROM events p
         WHERE p.event_type = 'purchase' AND EXISTS (
           SELECT 1 FROM events c
           WHERE c.event_type = 'click' AND c.user_id = p.user_id
             AND c.ts <= p.ts
             AND p.ts <= c.ts + INTERVAL 3600 SECONDS)""",
    // right-outer replay: t20's matched half plus ONLY the second
    // eviction direction — unmatched CLICKS emit when the watermark
    // passes click_ts + tolerance; unmatched purchases never emit, and
    // clicks inside the final horizon stay in state
    "t40_stream_right_outer_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS pts
                    FROM events WHERE event_type = 'purchase'),
              c AS (SELECT event_id AS click_id, user_id, ts AS cts
                    FROM events WHERE event_type = 'click'),
              m AS (SELECT p.purchase_id, c.click_id, p.user_id,
                           date_diff('microsecond', c.cts, p.pts) AS gap_us
                    FROM p JOIN c ON p.user_id = c.user_id
                     AND c.cts <= p.pts
                     AND p.pts <= c.cts + INTERVAL 3600 SECONDS),
              wm AS (SELECT least(
                       (SELECT max(epoch_us(cts)) // 1000 FROM c),
                       (SELECT max(epoch_us(pts)) // 1000 FROM p))
                       - 3600000 AS w),
              unc AS (SELECT CAST(NULL AS BIGINT) AS purchase_id, c.click_id,
                             c.user_id, CAST(NULL AS BIGINT) AS gap_us
                      FROM c CROSS JOIN wm
                      WHERE NOT EXISTS (SELECT 1 FROM m
                                        WHERE m.click_id = c.click_id)
                        AND epoch_us(c.cts) // 1000 + 3600000 < wm.w)
         SELECT * FROM m UNION ALL SELECT * FROM unc""",
    // per-batch observed counters ≡ the parity split's group counters
    "t43_stream_observe" ->
      """SELECT CAST(event_id % 2 AS BIGINT) AS batch_id,
                count(*) AS n_rows,
                CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_heavy
         FROM events GROUP BY 1""",
    // chained-rollup replay: hourly counts re-bucketed into 4 h
    // epoch-aligned buckets (UTC session: day-alignment ≡ epoch for a
    // divisor of 24); a bucket emits iff bucket_end <= max(ts) - 1 h —
    // the watermark cut both levels share after the sentinel batch
    "t42_stream_chained_agg" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
              h AS (SELECT date_trunc('hour', ts) AS hr, count(*) AS n
                    FROM events GROUP BY 1),
              b AS (SELECT hr - (CAST(extract(hour FROM hr) AS INT) % 4)
                             * INTERVAL 1 HOUR AS bucket,
                           CAST(sum(n) AS BIGINT) AS n_events,
                           count(*) AS n_hours
                    FROM h GROUP BY 1)
         SELECT strftime(bucket, '%Y-%m-%d %H:%M') AS bucket_start,
                n_events, n_hours
         FROM b, wm
         WHERE bucket + INTERVAL 4 HOUR <= wm.w""",
    "t8_stream_asof" ->
      """WITH u AS (
           SELECT user_id, ts, event_id, 1 AS tag,
                  CAST(NULL AS BIGINT) AS r_id, CAST(NULL AS TIMESTAMP) AS r_ts
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, ts, event_id, 0 AS tag, event_id AS r_id, ts AS r_ts
           FROM events WHERE event_type = 'click'),
         w AS (
           SELECT *,
                  last_value(r_id IGNORE NULLS) OVER
                    (PARTITION BY user_id ORDER BY ts, tag, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_r_id,
                  last_value(r_ts IGNORE NULLS) OVER
                    (PARTITION BY user_id ORDER BY ts, tag, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_r_ts
           FROM u)
         SELECT event_id AS left_id, user_id,
                CASE WHEN last_r_ts IS NOT NULL
                          AND date_diff('second', last_r_ts, ts) <= 3600
                     THEN last_r_id END AS matched_right_id,
                CASE WHEN last_r_ts IS NOT NULL
                          AND date_diff('second', last_r_ts, ts) <= 3600
                     THEN date_diff('second', last_r_ts, ts) END AS gap_s
         FROM w WHERE tag = 1""",
    "s8_write_then_emit" ->
      "SELECT event_id, event_type, value FROM events",
    "dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS doc_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text)""",
    "dedup_incremental" ->
      """WITH inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
                      UNION ALL
                      SELECT doc_id + 10000 AS doc_id, text FROM documents
                      WHERE doc_id % 5 <> 0 AND doc_id % 7 = 3),
              corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
              ed AS (SELECT DISTINCT doc_id FROM inc
                     WHERE md5(text) IN (SELECT md5(text) FROM corp)),
              wi AS (SELECT doc_id, string_split(text, ' ') AS words FROM inc
                     WHERE len(string_split(text, ' ')) >= 3),
              shi AS (SELECT doc_id,
                             unnest(list_distinct(list_transform(range(1, len(words) - 1),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                      FROM wi),
              wc AS (SELECT doc_id, string_split(text, ' ') AS words FROM corp
                     WHERE len(string_split(text, ' ')) >= 3),
              shc AS (SELECT doc_id,
                             unnest(list_distinct(list_transform(range(1, len(words) - 1),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                      FROM wc),
              szi AS (SELECT doc_id, count(*) AS n FROM shi GROUP BY doc_id),
              szc AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
              cm AS (SELECT a.doc_id AS ia, b.doc_id AS cb, count(*) AS c
                     FROM shi a JOIN shc b ON a.shingle = b.shingle
                     GROUP BY a.doc_id, b.doc_id),
              nd AS (SELECT DISTINCT ia AS doc_id
                     FROM cm
                     JOIN szi ON ia = szi.doc_id
                     JOIN szc ON cb = szc.doc_id
                     WHERE round(c / CAST(szi.n + szc.n - c AS DOUBLE), 6) >= 0.5)
         SELECT i.doc_id,
                CASE WHEN ed.doc_id IS NOT NULL THEN 'exact_dup'
                     WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
                     ELSE 'kept' END AS status
         FROM inc i
         LEFT JOIN ed ON i.doc_id = ed.doc_id
         LEFT JOIN nd ON i.doc_id = nd.doc_id""",
    // truth side (exact Jaccard >= 0.5) is DuckDB-recomputable; the
    // engine's own MinHash/SimHash candidates must cover it (recall_ok).
    "dedup_minhash_recall" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
              j AS (SELECT n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jac
                    FROM com
                    JOIN sizes sa ON sa.doc_id = doc_a
                    JOIN sizes sb ON sb.doc_id = doc_b)
         SELECT count(*) AS n_true_pairs, true AS recall_ok FROM j WHERE jac >= 0.5""",
    // precision side: the truth size is the same recomputable count; the
    // FP-rate and recall verdicts over the engine's own 4×4 candidate
    // set must both hold
    "dedup_minhash_precision" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
              j AS (SELECT n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jac
                    FROM com
                    JOIN sizes sa ON sa.doc_id = doc_a
                    JOIN sizes sb ON sb.doc_id = doc_b)
         SELECT count(*) AS n_true_pairs, true AS precision_ok,
                true AS recall_ok FROM j WHERE jac >= 0.5""",
    "dedup_simhash_recall" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
              j AS (SELECT n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jac
                    FROM com
                    JOIN sizes sa ON sa.doc_id = doc_a
                    JOIN sizes sb ON sb.doc_id = doc_b)
         SELECT count(*) AS n_true_pairs, true AS recall_ok FROM j WHERE jac >= 0.5""",
    // connected components of the >=tau pair graph: DuckDB computes the
    // exact transitive closure recursively; Spark's min-label propagation
    // must converge to the same clustering
    "dedup_clusters" ->
      """WITH RECURSIVE
              w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
              p AS (SELECT doc_a, doc_b
                    FROM com
                    JOIN sizes sa ON sa.doc_id = doc_a
                    JOIN sizes sb ON sb.doc_id = doc_b
                    WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
              e AS (SELECT doc_a AS src, doc_b AS dst FROM p
                    UNION SELECT doc_b, doc_a FROM p),
              reach AS (SELECT src, dst FROM e
                        UNION
                        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
         SELECT src AS doc_id,
                CAST(least(src, min(dst)) AS BIGINT) AS cluster_id
         FROM reach GROUP BY src""",
    // Triangle replay: same pair CTE, ordered wedge join a<b<c, each
    // triangle credited to all three members
    "graph_triangles_neardup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
              p AS (SELECT doc_a, doc_b
                    FROM com
                    JOIN sizes sa ON sa.doc_id = doc_a
                    JOIN sizes sb ON sb.doc_id = doc_b
                    WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
              t AS (SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
                    FROM p e1
                    JOIN p e2 ON e2.doc_a = e1.doc_b
                    JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
              u AS (SELECT unnest([x, y, z]) AS doc_id FROM t)
         SELECT doc_id, count(*) AS n_triangles
         FROM u GROUP BY doc_id ORDER BY doc_id""",
    // BFS replay: same pair graph; seeds are the transitive-closure
    // component minima (the cluster labels), the recursive term expands
    // one hop per round bounded at 6 — min(hop) per node is the exact
    // level-synchronous BFS distance the engine's frontier loop produces
    "graph_hops_to_canonical" ->
      """WITH RECURSIVE
              w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
              p AS (SELECT doc_a, doc_b
                    FROM com
                    JOIN sizes sa ON sa.doc_id = doc_a
                    JOIN sizes sb ON sb.doc_id = doc_b
                    WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
              e AS (SELECT doc_a AS src, doc_b AS dst FROM p
                    UNION SELECT doc_b, doc_a FROM p),
              reach AS (SELECT src, dst FROM e
                        UNION
                        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
              lbl AS (SELECT src AS node, least(src, min(dst)) AS cluster_id
                      FROM reach GROUP BY src),
              seeds AS (SELECT node FROM lbl WHERE node = cluster_id),
              bfs AS (SELECT node, 0 AS hop FROM seeds
                      UNION
                      SELECT e.dst, bfs.hop + 1 FROM bfs
                      JOIN e ON e.src = bfs.node
                      WHERE bfs.hop < 6)
         SELECT node AS doc_id, CAST(min(hop) AS BIGINT) AS hop_to_canonical
         FROM bfs GROUP BY node ORDER BY doc_id""",
    // Fixed-point PageRank replay: same pair graph as dedup_clusters,
    // symmetric edges, 3 unrolled iterations (the kmeans-oracle style —
    // aggregates are not allowed in a recursive CTE term) of
    // score' = base + (85·Σ(score div deg)) div 100, all BIGINT, where
    // base = ((SCALE // n) * 15) // 100 and SCALE = 10^12. Integer
    // division truncates identically in both engines (operands
    // non-negative), so the replay is exact.
    "graph_pagerank_neardup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
              p AS (SELECT doc_a, doc_b
                    FROM com
                    JOIN sizes sa ON sa.doc_id = doc_a
                    JOIN sizes sb ON sb.doc_id = doc_b
                    WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
              e AS (SELECT doc_a AS src, doc_b AS dst FROM p
                    UNION ALL SELECT doc_b, doc_a FROM p),
              nodes AS (SELECT DISTINCT src AS node FROM e),
              nn AS (SELECT count(*) AS n FROM nodes),
              deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
              pr0 AS (SELECT node, 1000000000000 // nn.n AS score
                      FROM nodes, nn),
              c1 AS (SELECT e.dst AS node,
                            CAST(sum(pr0.score // deg.deg) AS BIGINT) AS s
                     FROM e JOIN pr0 ON e.src = pr0.node
                            JOIN deg ON deg.src = e.src
                     GROUP BY e.dst),
              pr1 AS (SELECT nodes.node,
                             ((1000000000000 // nn.n) * 15) // 100
                               + (85 * COALESCE(c1.s, 0)) // 100 AS score
                      FROM nodes CROSS JOIN nn
                      LEFT JOIN c1 ON c1.node = nodes.node),
              c2 AS (SELECT e.dst AS node,
                            CAST(sum(pr1.score // deg.deg) AS BIGINT) AS s
                     FROM e JOIN pr1 ON e.src = pr1.node
                            JOIN deg ON deg.src = e.src
                     GROUP BY e.dst),
              pr2 AS (SELECT nodes.node,
                             ((1000000000000 // nn.n) * 15) // 100
                               + (85 * COALESCE(c2.s, 0)) // 100 AS score
                      FROM nodes CROSS JOIN nn
                      LEFT JOIN c2 ON c2.node = nodes.node),
              c3 AS (SELECT e.dst AS node,
                            CAST(sum(pr2.score // deg.deg) AS BIGINT) AS s
                     FROM e JOIN pr2 ON e.src = pr2.node
                            JOIN deg ON deg.src = e.src
                     GROUP BY e.dst),
              pr3 AS (SELECT nodes.node,
                             ((1000000000000 // nn.n) * 15) // 100
                               + (85 * COALESCE(c3.s, 0)) // 100 AS score
                      FROM nodes CROSS JOIN nn
                      LEFT JOIN c3 ON c3.node = nodes.node)
         SELECT node AS doc_id, CAST(score AS BIGINT) AS score_fp
         FROM pr3 ORDER BY score_fp DESC, doc_id""",
    "dedup_canonical" ->
      """WITH RECURSIVE
              w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
              p AS (SELECT doc_a, doc_b
                    FROM com
                    JOIN sizes sa ON sa.doc_id = doc_a
                    JOIN sizes sb ON sb.doc_id = doc_b
                    WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
              e AS (SELECT doc_a AS src, doc_b AS dst FROM p
                    UNION SELECT doc_b, doc_a FROM p),
              reach AS (SELECT src, dst FROM e
                        UNION
                        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
              cc AS (SELECT src AS doc_id,
                            CAST(least(src, min(dst)) AS BIGINT) AS cluster_id
                     FROM reach GROUP BY src),
              sel AS (SELECT d.doc_id, d.n_chars,
                             coalesce(c.cluster_id, d.doc_id) AS cluster_id
                      FROM documents d LEFT JOIN cc c ON d.doc_id = c.doc_id)
         SELECT cluster_id, doc_id AS keep_doc_id, n_chars AS keep_n_chars,
                n_members
         FROM (SELECT cluster_id, doc_id, n_chars,
                      row_number() OVER (PARTITION BY cluster_id
                                         ORDER BY n_chars DESC, doc_id) AS rn,
                      count(*) OVER (PARTITION BY cluster_id) AS n_members
               FROM sel) t
         WHERE rn = 1""",
    "dedup_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id)
         SELECT doc_a, doc_b,
                round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
         FROM com
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""",
    "dedup_containment" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id)
         SELECT doc_a, doc_b,
                round(n_common / CAST(sa.n_sh AS DOUBLE), 6) AS c_a_in_b,
                round(n_common / CAST(sb.n_sh AS DOUBLE), 6) AS c_b_in_a
         FROM com
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         ORDER BY greatest(c_a_in_b, c_b_in_a) DESC, doc_a, doc_b LIMIT 20""",
    "text_source_overlap" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
              sh0 AS (SELECT source,
                             unnest(list_distinct(list_transform(range(1, len(words) - 1),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                      FROM w),
              sh AS (SELECT DISTINCT source, shingle FROM sh0),
              sizes AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
              com AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
                      GROUP BY 1, 2)
         SELECT src_a, src_b, n_shared,
                round(n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE), 6) AS jaccard
         FROM com
         JOIN sizes sa ON sa.source = src_a
         JOIN sizes sb ON sb.source = src_b
         ORDER BY src_a, src_b""",
    // DuckDB's own nfc_normalize recomputes the canonicalization over the
    // same parity-injected suffixes (chr(233) = e-acute composed,
    // 'e'||chr(769) = decomposed) — outputs must agree byte-for-byte
    "text_nfc_dedup" ->
      """WITH u AS (SELECT doc_id,
                           text || ' caf' ||
                           CASE WHEN doc_id % 2 = 0 THEN chr(233)
                                ELSE 'e' || chr(769) END AS t
                    FROM documents)
         SELECT doc_id,
                CAST(length(t) AS INTEGER) AS len_raw,
                CAST(length(nfc_normalize(t)) AS INTEGER) AS len_nfc,
                right(nfc_normalize(t), 4) AS tail_nfc
         FROM u ORDER BY doc_id""",
    "text_boilerplate" ->
      """WITH inj AS (SELECT doc_id, source,
                             CASE WHEN doc_id % 5 = 0
                                  THEN 'site ' || source ||
                                       ' home login search menu footer copyright terms privacy contact about subscribe rss feed '
                                       || source || ' ' || text
                                  ELSE text END AS text
                      FROM documents),
              w AS (SELECT doc_id, source,
                           list_filter(string_split(text, ' '),
                                       x -> x <> '') AS words
                    FROM inj),
              b AS (SELECT doc_id, source,
                           CAST(ceil(len(words) / 8.0) AS INTEGER) AS n_blocks,
                           unnest(range(0, CAST(ceil(len(words) / 8.0) AS BIGINT))) AS pos,
                           unnest(list_transform(range(0, CAST(ceil(len(words) / 8.0) AS BIGINT)),
                             i -> array_to_string(words[i*8+1:i*8+8], ' '))) AS block
                    FROM w),
              f AS (SELECT source, block, count(DISTINCT doc_id) AS df
                    FROM b GROUP BY 1, 2)
         SELECT b.doc_id,
                CAST(any_value(b.n_blocks) AS INTEGER) AS n_blocks,
                CAST(count(*) AS BIGINT) AS n_kept,
                string_agg(b.block, ' ' ORDER BY b.pos) AS clean_text
         FROM b JOIN f ON b.source = f.source AND b.block = f.block
         WHERE f.df <= 3
         GROUP BY b.doc_id
         ORDER BY b.doc_id""",
    "dedup_embedding_cosine" ->
      """WITH e AS (SELECT vec_id, label,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, label, v,
                           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                    FROM e)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                round(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
                      / (a.nrm * b.nrm), 6) AS cosine
         FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
         ORDER BY cosine DESC, vec_a, vec_b LIMIT 20""",
    "ann_cosine_topk" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, v,
                           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                    FROM e),
              q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0)
         SELECT n.vec_id,
                round(list_sum(list_transform(range(1, 65), i -> n.v[i] * q.qv[i]))
                      / (n.nrm * q.qn), 6) AS cosine
         FROM n, q WHERE n.vec_id <> 0
         ORDER BY cosine DESC, vec_id LIMIT 10""",
    // embedding top-20 replay + exact lexical Jaccard for those pairs
    "dedup_semantic_verified" ->
      """WITH e AS (SELECT vec_id, label,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              nn AS (SELECT vec_id, label, v,
                            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                     FROM e),
              top AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                             round(list_sum(list_transform(range(1, 65),
                                     i -> a.v[i] * b.v[i]))
                                   / (a.nrm * b.nrm), 6) AS cosine
                      FROM nn a JOIN nn b
                        ON a.label = b.label AND a.vec_id < b.vec_id
                      ORDER BY cosine DESC, vec_a, vec_b LIMIT 20),
              ids AS (SELECT vec_a AS doc_id FROM top
                      UNION SELECT vec_b FROM top),
              w AS (SELECT doc_id, string_split(text, ' ') AS words
                    FROM documents
                    WHERE doc_id IN (SELECT doc_id FROM ids)
                      AND len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                             count(*) AS n_common
                      FROM sh a JOIN sh b
                        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
              j AS (SELECT doc_a, doc_b,
                           round(n_common
                                 / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6)
                             AS jaccard
                    FROM com
                    JOIN sizes sa ON sa.doc_id = doc_a
                    JOIN sizes sb ON sb.doc_id = doc_b)
         SELECT t.vec_a, t.vec_b, t.cosine,
                coalesce(j.jaccard, 0.0) AS jaccard
         FROM top t
         LEFT JOIN j ON j.doc_a = t.vec_a AND j.doc_b = t.vec_b
         ORDER BY t.cosine DESC, t.vec_a, t.vec_b""",
    "ann_ivf_topk_full" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, v,
                           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                    FROM e),
              q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0)
         SELECT n.vec_id,
                round(list_sum(list_transform(range(1, 65), i -> n.v[i] * q.qv[i]))
                      / (n.nrm * q.qn), 6) AS cosine
         FROM n, q WHERE n.vec_id <> 0
         ORDER BY cosine DESC, vec_id LIMIT 10""",
    // per-query ranked id list, replayed with a window + ordered string_agg
    "ann_batch_topk" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, v,
                           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                    FROM e),
              q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
                    FROM n WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)),
              sc AS (SELECT q.query_id, n.vec_id,
                            round(list_sum(list_transform(range(1, 65),
                                    i -> n.v[i] * q.qv[i]))
                                  / (n.nrm * q.qn), 6) AS cosine
                     FROM n, q WHERE n.vec_id <> q.query_id),
              rk AS (SELECT query_id, vec_id,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id) AS rn
                     FROM sc)
         SELECT query_id,
                string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rn) AS top_ids
         FROM rk WHERE rn <= 10 GROUP BY query_id""",
    // Batched IVF replay: per-query nprobe=3 probe sets (row_number over
    // centroid cosine, the same fixed-point centroid arithmetic as
    // ann_ivf_topk), then per-query exact-cosine top-10 confined to each
    // query's own probed cells, aggregated rank-ordered like
    // ann_batch_topk. Cells outside the probe union never contribute —
    // exactly what the engine's partition-pruned scan reads.
    "ann_ivf_batch_topk" ->
      """WITH e AS (SELECT vec_id, label,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, label, v,
                           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                    FROM e),
              q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
                    FROM n WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)),
              ej AS (SELECT label, vec_id, unnest(v) AS x,
                            generate_subscripts(v, 1) AS j FROM e),
              cm AS (SELECT label, j,
                            (CAST(sum(CAST(round(x * 16777216.0) AS BIGINT)) AS DOUBLE)
                             / 16777216.0) / count(*) AS cj
                     FROM ej GROUP BY label, j),
              cent AS (SELECT label, list(cj ORDER BY j) AS cv
                       FROM cm GROUP BY label),
              pr AS (SELECT q.query_id, cent.label,
                            row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_sum(list_transform(range(1, 65),
                                         i -> cv[i] * q.qv[i]))
                                       / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                                          * q.qn) DESC,
                                       cent.label ASC) AS rn
                     FROM cent, q),
              probe AS (SELECT query_id, label FROM pr WHERE rn <= 3),
              sc AS (SELECT probe.query_id, n.vec_id,
                            round(list_sum(list_transform(range(1, 65),
                                    i -> n.v[i] * q.qv[i]))
                                  / (n.nrm * q.qn), 6) AS cosine
                     FROM n JOIN probe ON n.label = probe.label
                            JOIN q ON q.query_id = probe.query_id
                     WHERE n.vec_id <> q.query_id),
              rk AS (SELECT query_id, vec_id,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id) AS rn
                     FROM sc)
         SELECT query_id,
                string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rn) AS top_ids
         FROM rk WHERE rn <= 10 GROUP BY query_id""",
    // Independent replay of the nprobe=3 probe: label-cell centroid means
    // (fixed-point 2^24 long sums — order-insensitive, matches the
    // engine's bounded-buffer aggregation exactly), top-3 cells by
    // centroid cosine to the query, exact cosine top-10 within the probed
    // cells (SimilarityOps.ivfTopK). The partition-pruned variant is the
    // same computation over a different storage layout, so it shares this
    // oracle verbatim (appended below the Map literal).
    "ann_ivf_topk" ->
      """WITH e AS (SELECT vec_id, label,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, label, v,
                           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                    FROM e),
              q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0),
              ej AS (SELECT label, vec_id, unnest(v) AS x,
                            generate_subscripts(v, 1) AS j FROM e),
              cm AS (SELECT label, j,
                            (CAST(sum(CAST(round(x * 16777216.0) AS BIGINT)) AS DOUBLE)
                             / 16777216.0) / count(*) AS cj
                     FROM ej GROUP BY label, j),
              cent AS (SELECT label, list(cj ORDER BY j) AS cv
                       FROM cm GROUP BY label),
              probe AS (SELECT cent.label
                        FROM cent, q
                        ORDER BY list_sum(list_transform(range(1, 65),
                                   i -> cv[i] * q.qv[i]))
                                 / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                                    * q.qn) DESC,
                                 cent.label ASC
                        LIMIT 3)
         SELECT n.vec_id,
                round(list_sum(list_transform(range(1, 65), i -> n.v[i] * q.qv[i]))
                      / (n.nrm * q.qn), 6) AS cosine
         FROM n JOIN probe ON n.label = probe.label, q
         WHERE n.vec_id <> 0
         ORDER BY cosine DESC, vec_id LIMIT 10""",
    // recall@10 of the nprobe=3 probe vs brute-force truth — BOTH sides
    // recomputed here from the raw embeddings, independent of the engine.
    "ann_ivf_recall" ->
      """WITH e AS (SELECT vec_id, label,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, label, v,
                           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                    FROM e),
              q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0),
              bf AS (SELECT n.vec_id,
                            round(list_sum(list_transform(range(1, 65),
                                    i -> n.v[i] * q.qv[i]))
                                  / (n.nrm * q.qn), 6) AS cosine
                     FROM n, q WHERE n.vec_id <> 0
                     ORDER BY cosine DESC, vec_id LIMIT 10),
              ej AS (SELECT label, vec_id, unnest(v) AS x,
                            generate_subscripts(v, 1) AS j FROM e),
              cm AS (SELECT label, j,
                            (CAST(sum(CAST(round(x * 16777216.0) AS BIGINT)) AS DOUBLE)
                             / 16777216.0) / count(*) AS cj
                     FROM ej GROUP BY label, j),
              cent AS (SELECT label, list(cj ORDER BY j) AS cv
                       FROM cm GROUP BY label),
              probe AS (SELECT cent.label
                        FROM cent, q
                        ORDER BY list_sum(list_transform(range(1, 65),
                                   i -> cv[i] * q.qv[i]))
                                 / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                                    * q.qn) DESC,
                                 cent.label ASC
                        LIMIT 3),
              iv AS (SELECT n.vec_id,
                            round(list_sum(list_transform(range(1, 65),
                                    i -> n.v[i] * q.qv[i]))
                                  / (n.nrm * q.qn), 6) AS cosine
                     FROM n JOIN probe ON n.label = probe.label, q
                     WHERE n.vec_id <> 0
                     ORDER BY cosine DESC, vec_id LIMIT 10)
         SELECT count(*) AS n_hits, count(*) >= 3 AS recall_ok
         FROM bf JOIN iv USING (vec_id)""",
    // Deterministic hyperplane arithmetic replay (functions.HyperplaneSig):
    // plane(b)[j] = ((b*64+j)*2654435761 mod 4096)/4096 - 0.5, bit b set
    // iff dot(v, plane_b) > 0, 8 bits packed into one long.
    "ann_lsh_buckets" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings)
         SELECT vec_id,
                CAST(list_sum(list_transform(range(0, 8), b ->
                  CASE WHEN list_sum(list_transform(range(0, 64), j ->
                         v[j+1] * ((((b*64+j) * 2654435761) % 4096) / 4096.0 - 0.5))) > 0
                       THEN CAST(1 AS BIGINT) << b ELSE 0 END)) AS BIGINT) AS bucket
         FROM e""",
    // 2-iteration Lloyd replay (SimilarityOps.kmeansCells): start from the
    // label cells, per-cell mean -> unit-normalize -> argmax-dot reassign
    // (ties to the smaller cell id), twice.
    "ann_kmeans_cells" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS cell,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              a0 AS (SELECT vec_id, v, cell FROM e),
              c1j AS (SELECT cell, vec_id, generate_subscripts(v, 1) AS j,
                             unnest(v) AS x FROM a0),
              c1m AS (SELECT cell, j,
                             (CAST(sum(CAST(round(x * 16777216.0) AS BIGINT)) AS DOUBLE)
                              / 16777216.0) / count(*) AS cj
                      FROM c1j GROUP BY cell, j),
              c1 AS (SELECT cell, list(cj ORDER BY j) AS cv
                     FROM c1m GROUP BY cell),
              u1 AS (SELECT cell, list_transform(cv, x ->
                       x / sqrt(list_sum(list_transform(cv, y -> y * y)))) AS uc
                     FROM c1),
              s1 AS (SELECT a0.vec_id, a0.v, u1.cell,
                            list_sum(list_transform(range(1, 65),
                              i -> a0.v[i] * u1.uc[i])) AS d
                     FROM a0 CROSS JOIN u1),
              a1 AS (SELECT vec_id, v, cell FROM
                      (SELECT vec_id, v, cell,
                              row_number() OVER (PARTITION BY vec_id
                                ORDER BY d DESC, cell ASC) AS rn
                       FROM s1) WHERE rn = 1),
              c2j AS (SELECT cell, vec_id, generate_subscripts(v, 1) AS j,
                             unnest(v) AS x FROM a1),
              c2m AS (SELECT cell, j,
                             (CAST(sum(CAST(round(x * 16777216.0) AS BIGINT)) AS DOUBLE)
                              / 16777216.0) / count(*) AS cj
                      FROM c2j GROUP BY cell, j),
              c2 AS (SELECT cell, list(cj ORDER BY j) AS cv
                     FROM c2m GROUP BY cell),
              u2 AS (SELECT cell, list_transform(cv, x ->
                       x / sqrt(list_sum(list_transform(cv, y -> y * y)))) AS uc
                     FROM c2),
              s2 AS (SELECT a1.vec_id, u2.cell,
                            list_sum(list_transform(range(1, 65),
                              i -> a1.v[i] * u2.uc[i])) AS d
                     FROM a1 CROSS JOIN u2)
         SELECT vec_id, cell FROM
          (SELECT vec_id, cell,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY d DESC, cell ASC) AS rn
           FROM s2) WHERE rn = 1
         ORDER BY vec_id""",
    "ann_cosine_topk_native" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, v,
                           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                    FROM e),
              q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0)
         SELECT n.vec_id,
                round(list_sum(list_transform(range(1, 65), i -> n.v[i] * q.qv[i]))
                      / (n.nrm * q.qn), 6) AS cosine
         FROM n, q WHERE n.vec_id <> 0
         ORDER BY cosine DESC, vec_id LIMIT 10""",
    "vec_quantize_int8" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              m AS (SELECT vec_id, v,
                           list_max(list_transform(v, x -> abs(x))) AS ma FROM e)
         SELECT vec_id, round(127.0 / ma, 6) AS scale,
                array_to_string(list_transform(v,
                  x -> CAST(round(x * (127.0 / ma)) AS INTEGER)), ',') AS q8
         FROM m""",
    // independent replay of the 13-token-window span accounting
    "dedup_substring_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 13),
              wins AS (SELECT doc_id,
                              unnest(list_transform(range(0, len(words) - 12),
                                i -> array_to_string(words[i+1:i+13], ' '))) AS win
                       FROM w),
              dfd AS (SELECT win, count(DISTINCT doc_id) AS n_docs
                      FROM wins GROUP BY win)
         SELECT doc_id, count(*) AS n_windows,
                CAST(sum(CASE WHEN dfd.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_windows,
                round(sum(CASE WHEN dfd.n_docs > 1 THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 6) AS dup_frac
         FROM wins JOIN dfd USING (win) GROUP BY doc_id""",
    // full keep/drop manifest: every non-eval doc with its count of
    // distinct windows shared with the eval split
    "dedup_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 13),
              wins AS (SELECT doc_id,
                              unnest(list_transform(range(0, len(words) - 12),
                                i -> array_to_string(words[i+1:i+13], ' '))) AS win
                       FROM w),
              ev AS (SELECT DISTINCT win FROM wins WHERE doc_id % 20 = 0),
              hits AS (SELECT wins.doc_id, count(DISTINCT wins.win) AS n_eval_windows
                       FROM wins JOIN ev USING (win)
                       WHERE wins.doc_id % 20 <> 0
                       GROUP BY wins.doc_id)
         SELECT d.doc_id,
                COALESCE(hits.n_eval_windows, 0) AS n_eval_windows,
                COALESCE(hits.n_eval_windows, 0) > 0 AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
         LEFT JOIN hits USING (doc_id)""",
    // per-doc mean ln(unigram probability); ln and mean replayed exactly
    // pruned-bigram/backoff replay: pairs from per-row index unnest,
    // kept = bigrams with count >= 2, heads = c(w1·), unigram backoff
    // at alpha = 0.4; integer `/` is float division in both engines
    "text_bigram_lm_score" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents WHERE len(string_split(text, ' ')) >= 2),
              p AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
                    FROM d, UNNEST(generate_series(1, len(ws) - 1)) AS s(i)),
              uni AS (SELECT unnest(string_split(text, ' ')) AS w2
                      FROM documents),
              f AS (SELECT w2, count(*) AS n_w2 FROM uni GROUP BY w2),
              t AS (SELECT sum(n_w2) AS n_total FROM f),
              big AS (SELECT w1, w2, count(*) AS n_b FROM p GROUP BY 1, 2),
              heads AS (SELECT w1, sum(n_b) AS n_w1 FROM big GROUP BY 1),
              kept AS (SELECT * FROM big WHERE n_b >= 2),
              sc AS (SELECT p.doc_id,
                            CASE WHEN kept.n_b IS NOT NULL
                                 THEN kept.n_b / heads.n_w1
                                 ELSE 0.4 * f.n_w2 / t.n_total END AS s,
                            CASE WHEN kept.n_b IS NULL THEN 1 ELSE 0 END
                              AS backed
                     FROM p
                     LEFT JOIN kept ON kept.w1 = p.w1 AND kept.w2 = p.w2
                     JOIN heads ON heads.w1 = p.w1
                     JOIN f ON f.w2 = p.w2, t)
         SELECT doc_id, round(avg(ln(s)), 4) AS mean_logprob,
                count(*) AS n_bigrams,
                CAST(sum(backed) AS BIGINT) AS n_backoff
         FROM sc GROUP BY doc_id""",
    "text_unigram_score" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                    FROM documents),
              f AS (SELECT word, count(*) AS n_w FROM w GROUP BY word),
              t AS (SELECT sum(n_w) AS n_total FROM f)
         SELECT doc_id,
                round(avg(ln(f.n_w / t.n_total)), 4) AS mean_logprob,
                count(*) AS n_tokens
         FROM w JOIN f USING (word), t
         GROUP BY doc_id""",
    // top-30 vocabulary with occurrence count, document frequency, rank
    "text_vocabulary" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                    FROM documents),
              g AS (SELECT word, count(*) AS n_occ,
                           count(DISTINCT doc_id) AS n_docs
                    FROM w GROUP BY word),
              t AS (SELECT word, n_occ, n_docs FROM g
                    ORDER BY n_occ DESC, word ASC LIMIT 30)
         SELECT word, n_occ, n_docs,
                CAST(row_number() OVER (ORDER BY n_occ DESC, word ASC) AS INTEGER)
                  AS rank
         FROM t""",
    // same vocabulary, applied: LEFT JOIN keeps OOV words as NULL rank
    // (counted, contributing 0 to the checksum)
    "text_tokenize_ids" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                    FROM documents),
              g AS (SELECT word, count(*) AS n_occ FROM w GROUP BY word),
              v AS (SELECT word,
                           CAST(row_number() OVER (ORDER BY n_occ DESC,
                                                   word ASC) AS BIGINT)
                             AS rank
                    FROM (SELECT word, n_occ FROM g
                          ORDER BY n_occ DESC, word ASC LIMIT 30)),
              j AS (SELECT w.doc_id, v.rank FROM w LEFT JOIN v USING (word))
         SELECT doc_id, count(*) AS n_tokens,
                count(*) FILTER (WHERE rank IS NULL) AS n_unk,
                CAST(COALESCE(sum(rank), 0) AS BIGINT) AS ids_sum
         FROM j GROUP BY doc_id ORDER BY doc_id""",
    // the BPE merge loop replayed closed-form: 8 unrolled CTE stages
    // (pair-count → argmax → self-delimited replace), generated by the
    // same code that documents the Spark loop's semantics
    "text_bpe_merges" -> TextOps.bpeMergesOracleSql(8),
    // the apply half replayed off the same unrolled stages: seqs_8 IS
    // the segmented vocab; per-word token counts join back to the corpus
    "text_bpe_encode" -> TextOps.bpeEncodeOracleSql(8),
    "text_bpe_roundtrip" -> TextOps.bpeRoundtripOracleSql(8),
    // quantize -> cosine on codes -> top-10 -> hits vs float truth,
    // all recomputed here
    // Two-stage replay: quantize (per-vector 127/max|x| symmetric codes),
    // int8-cosine top-50 pool, exact float re-rank top-10 inside the pool.
    "ann_int8_rerank" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              c AS (SELECT vec_id,
                           list_transform(v, x -> CAST(CAST(round(x * (127.0 /
                             list_max(list_transform(v, y -> abs(y))))) AS INTEGER)
                             AS DOUBLE)) AS cq
                    FROM e),
              cn AS (SELECT vec_id, cq,
                            sqrt(list_sum(list_transform(cq, x -> x * x))) AS nrm
                     FROM c),
              cqv AS (SELECT cq AS qv, nrm AS qn FROM cn WHERE vec_id = 0),
              cand AS (SELECT cn.vec_id,
                              round(list_sum(list_transform(range(1, 65),
                                      i -> cn.cq[i] * cqv.qv[i]))
                                    / (cn.nrm * cqv.qn), 6) AS c8
                       FROM cn, cqv WHERE cn.vec_id <> 0
                       ORDER BY c8 DESC, vec_id LIMIT 50),
              n AS (SELECT vec_id, v,
                           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                    FROM e),
              q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0)
         SELECT n.vec_id,
                round(list_sum(list_transform(range(1, 65), i -> n.v[i] * q.qv[i]))
                      / (n.nrm * q.qn), 6) AS cosine
         FROM n JOIN cand ON n.vec_id = cand.vec_id, q
         ORDER BY cosine DESC, n.vec_id LIMIT 10""",
    // PQ replay: fixed-point label centroids → per-subspace codebooks
    // (slice of the mean = mean of the slice), argmin-L2 codes with the
    // (d ASC, cell ASC) tie-break, the ADC lookup table, and the final
    // ranking — all recomputed from the raw embeddings. The per-vector
    // score folds an ORDERED list (list(p ORDER BY s)), matching the
    // engine's left-to-right subspace fold bit for bit.
    "ann_pq_adc_topk" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS cell,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              ej AS (SELECT cell, generate_subscripts(v, 1) AS j,
                            unnest(v) AS x FROM e),
              cm AS (SELECT cell, j,
                            (CAST(sum(CAST(round(x * 16777216.0) AS BIGINT)) AS DOUBLE)
                             / 16777216.0) / count(*) AS cj
                     FROM ej GROUP BY cell, j),
              cent AS (SELECT cell, list(cj ORDER BY j) AS cv
                       FROM cm GROUP BY cell),
              ss AS (SELECT unnest(range(0, 8)) AS s),
              dist AS (SELECT e.vec_id, ss.s, cent.cell,
                              list_sum(list_transform(range(1, 9),
                                i -> (e.v[ss.s * 8 + i] - cent.cv[ss.s * 8 + i])
                                     * (e.v[ss.s * 8 + i] - cent.cv[ss.s * 8 + i])))
                                AS d
                       FROM e CROSS JOIN ss CROSS JOIN cent),
              codes AS (SELECT vec_id, s, cell FROM
                         (SELECT vec_id, s, cell,
                                 row_number() OVER (PARTITION BY vec_id, s
                                   ORDER BY d ASC, cell ASC) AS rn FROM dist)
                        WHERE rn = 1),
              q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              lut AS (SELECT ss.s, cent.cell,
                             list_sum(list_transform(range(1, 9),
                               i -> q.qv[ss.s * 8 + i] * cent.cv[ss.s * 8 + i]))
                               AS p
                      FROM cent CROSS JOIN ss, q),
              sc AS (SELECT codes.vec_id,
                            round(list_sum(list(lut.p ORDER BY lut.s)), 6)
                              AS adc_score
                     FROM codes JOIN lut ON codes.s = lut.s
                            AND codes.cell = lut.cell
                     WHERE codes.vec_id <> 0
                     GROUP BY codes.vec_id)
         SELECT vec_id, adc_score FROM sc
         ORDER BY adc_score DESC, vec_id LIMIT 10""",
    // two-stage replay: ADC pool of 100 (codes + LUT as above), exact
    // dot re-rank of the pool, top-10
    "ann_pq_rerank" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS cell,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              ej AS (SELECT cell, generate_subscripts(v, 1) AS j,
                            unnest(v) AS x FROM e),
              cm AS (SELECT cell, j,
                            (CAST(sum(CAST(round(x * 16777216.0) AS BIGINT)) AS DOUBLE)
                             / 16777216.0) / count(*) AS cj
                     FROM ej GROUP BY cell, j),
              cent AS (SELECT cell, list(cj ORDER BY j) AS cv
                       FROM cm GROUP BY cell),
              ss AS (SELECT unnest(range(0, 8)) AS s),
              dist AS (SELECT e.vec_id, ss.s, cent.cell,
                              list_sum(list_transform(range(1, 9),
                                i -> (e.v[ss.s * 8 + i] - cent.cv[ss.s * 8 + i])
                                     * (e.v[ss.s * 8 + i] - cent.cv[ss.s * 8 + i])))
                                AS d
                       FROM e CROSS JOIN ss CROSS JOIN cent),
              codes AS (SELECT vec_id, s, cell FROM
                         (SELECT vec_id, s, cell,
                                 row_number() OVER (PARTITION BY vec_id, s
                                   ORDER BY d ASC, cell ASC) AS rn FROM dist)
                        WHERE rn = 1),
              q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              lut AS (SELECT ss.s, cent.cell,
                             list_sum(list_transform(range(1, 9),
                               i -> q.qv[ss.s * 8 + i] * cent.cv[ss.s * 8 + i]))
                               AS p
                      FROM cent CROSS JOIN ss, q),
              adc AS (SELECT codes.vec_id,
                             round(list_sum(list(lut.p ORDER BY lut.s)), 6)
                               AS adc_score
                      FROM codes JOIN lut ON codes.s = lut.s
                             AND codes.cell = lut.cell
                      WHERE codes.vec_id <> 0
                      GROUP BY codes.vec_id
                      ORDER BY adc_score DESC, vec_id
                      LIMIT (SELECT greatest(10, CAST(count(*) // 10 AS BIGINT))
                             FROM e))
         SELECT e.vec_id,
                round(list_sum(list_transform(range(1, 65),
                        i -> e.v[i] * q.qv[i])), 6) AS dp
         FROM e JOIN adc USING (vec_id), q
         ORDER BY dp DESC, vec_id LIMIT 10""",
    // recall@10 of the RERANKED ranking vs the exact-DOT truth — both
    // sides recomputed here independently of the engine
    "ann_pq_recall" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS cell,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              ej AS (SELECT cell, generate_subscripts(v, 1) AS j,
                            unnest(v) AS x FROM e),
              cm AS (SELECT cell, j,
                            (CAST(sum(CAST(round(x * 16777216.0) AS BIGINT)) AS DOUBLE)
                             / 16777216.0) / count(*) AS cj
                     FROM ej GROUP BY cell, j),
              cent AS (SELECT cell, list(cj ORDER BY j) AS cv
                       FROM cm GROUP BY cell),
              ss AS (SELECT unnest(range(0, 8)) AS s),
              dist AS (SELECT e.vec_id, ss.s, cent.cell,
                              list_sum(list_transform(range(1, 9),
                                i -> (e.v[ss.s * 8 + i] - cent.cv[ss.s * 8 + i])
                                     * (e.v[ss.s * 8 + i] - cent.cv[ss.s * 8 + i])))
                                AS d
                       FROM e CROSS JOIN ss CROSS JOIN cent),
              codes AS (SELECT vec_id, s, cell FROM
                         (SELECT vec_id, s, cell,
                                 row_number() OVER (PARTITION BY vec_id, s
                                   ORDER BY d ASC, cell ASC) AS rn FROM dist)
                        WHERE rn = 1),
              q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              lut AS (SELECT ss.s, cent.cell,
                             list_sum(list_transform(range(1, 9),
                               i -> q.qv[ss.s * 8 + i] * cent.cv[ss.s * 8 + i]))
                               AS p
                      FROM cent CROSS JOIN ss, q),
              adc AS (SELECT codes.vec_id,
                             round(list_sum(list(lut.p ORDER BY lut.s)), 6)
                               AS adc_score
                      FROM codes JOIN lut ON codes.s = lut.s
                             AND codes.cell = lut.cell
                      WHERE codes.vec_id <> 0
                      GROUP BY codes.vec_id
                      ORDER BY adc_score DESC, vec_id
                      LIMIT (SELECT greatest(10, CAST(count(*) // 10 AS BIGINT))
                             FROM e)),
              rr AS (SELECT e.vec_id,
                            round(list_sum(list_transform(range(1, 65),
                                    i -> e.v[i] * q.qv[i])), 6) AS dp
                     FROM e JOIN adc USING (vec_id), q
                     ORDER BY dp DESC, vec_id LIMIT 10),
              bf AS (SELECT e.vec_id,
                            round(list_sum(list_transform(range(1, 65),
                                    i -> e.v[i] * q.qv[i])), 6) AS dp
                     FROM e, q WHERE e.vec_id <> 0
                     ORDER BY dp DESC, vec_id LIMIT 10)
         SELECT CAST(count(*) AS BIGINT) AS n_hits,
                count(*) >= 2 AS recall_ok
         FROM rr JOIN bf USING (vec_id)""",
    "ann_int8_recall" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, v,
                           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                    FROM e),
              q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0),
              bf AS (SELECT n.vec_id,
                            round(list_sum(list_transform(range(1, 65),
                                    i -> n.v[i] * q.qv[i]))
                                  / (n.nrm * q.qn), 6) AS cosine
                     FROM n, q WHERE n.vec_id <> 0
                     ORDER BY cosine DESC, vec_id LIMIT 10),
              c AS (SELECT vec_id,
                           list_transform(v, x -> CAST(CAST(round(x * (127.0 /
                             list_max(list_transform(v, y -> abs(y))))) AS INTEGER)
                             AS DOUBLE)) AS cq
                    FROM e),
              cn AS (SELECT vec_id, cq,
                            sqrt(list_sum(list_transform(cq, x -> x * x))) AS nrm
                     FROM c),
              cqv AS (SELECT cq AS qv, nrm AS qn FROM cn WHERE vec_id = 0),
              ap AS (SELECT cn.vec_id,
                            round(list_sum(list_transform(range(1, 65),
                                    i -> cn.cq[i] * cqv.qv[i]))
                                  / (cn.nrm * cqv.qn), 6) AS cosine
                     FROM cn, cqv WHERE cn.vec_id <> 0
                     ORDER BY cosine DESC, vec_id LIMIT 10)
         SELECT CAST(count(*) AS BIGINT) AS n_hits,
                count(*) >= 9 AS recall_ok
         FROM bf JOIN ap USING (vec_id)""",
    "text_stats" ->
      """SELECT doc_id,
                len(string_split(text, ' ')) AS n_tokens,
                length(text) AS n_chars_measured,
                len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
                round(list_sum(list_transform(string_split(text, ' '), w -> length(w)))
                      / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS avg_token_len
         FROM documents""",
    // the 3 GD iterations replayed as chained CTEs: g_t = the gradient
    // aggregate at weights w_{t-1}, w_t = w_{t-1} - g_t (lrate 1.0);
    // iteration 1 folds the closed form p = 0.5 (w_0 = 0). loss_pre is
    // measured at the PRE-step weights, so row 1 reads exactly ln 2
    "quality_lr_train" ->
      """WITH f AS (
           SELECT round(len(list_filter(w, x -> x IN ('the','a')))
                        / CAST(len(w) AS DOUBLE), 4) AS x_stop,
                  round(len(list_distinct(w))
                        / CAST(len(w) AS DOUBLE), 4) AS x_ttr,
                  round(least(len(w), 200) / 200.0, 4) AS x_len,
                  CASE WHEN len(w) >= 10 AND len(w) <= 10000
                        AND round(len(list_distinct(w))
                                  / CAST(len(w) AS DOUBLE), 4) > 0.1
                       THEN 1.0 ELSE 0.0 END AS y
           FROM (SELECT string_split(text, ' ') AS w FROM documents) t),
         a1 AS (SELECT avg(0.5 - y) AS g0, avg((0.5 - y) * x_stop) AS g1,
                       avg((0.5 - y) * x_ttr) AS g2,
                       avg((0.5 - y) * x_len) AS g3,
                       avg(-(y * ln(0.5) + (1 - y) * ln(0.5))) AS loss
                FROM f),
         w1 AS (SELECT -g0 AS b, -g1 AS ws, -g2 AS wt, -g3 AS wl, loss
                FROM a1),
         p2 AS (SELECT f.*, 1.0 / (1.0 + exp(-(w1.b + w1.ws * x_stop
                         + w1.wt * x_ttr + w1.wl * x_len))) AS p
                FROM f, w1),
         a2 AS (SELECT avg(p - y) AS g0, avg((p - y) * x_stop) AS g1,
                       avg((p - y) * x_ttr) AS g2,
                       avg((p - y) * x_len) AS g3,
                       avg(-(y * ln(p) + (1 - y) * ln(1 - p))) AS loss
                FROM p2),
         w2 AS (SELECT w1.b - a2.g0 AS b, w1.ws - a2.g1 AS ws,
                       w1.wt - a2.g2 AS wt, w1.wl - a2.g3 AS wl, a2.loss
                FROM w1, a2),
         p3 AS (SELECT f.*, 1.0 / (1.0 + exp(-(w2.b + w2.ws * x_stop
                         + w2.wt * x_ttr + w2.wl * x_len))) AS p
                FROM f, w2),
         a3 AS (SELECT avg(p - y) AS g0, avg((p - y) * x_stop) AS g1,
                       avg((p - y) * x_ttr) AS g2,
                       avg((p - y) * x_len) AS g3,
                       avg(-(y * ln(p) + (1 - y) * ln(1 - p))) AS loss
                FROM p3),
         w3 AS (SELECT w2.b - a3.g0 AS b, w2.ws - a3.g1 AS ws,
                       w2.wt - a3.g2 AS wt, w2.wl - a3.g3 AS wl, a3.loss
                FROM w2, a3)
         SELECT 1 AS iter, round(b, 6) AS w_bias, round(ws, 6) AS w_stop,
                round(wt, 6) AS w_ttr, round(wl, 6) AS w_len,
                round(loss, 6) AS loss_pre FROM w1
         UNION ALL
         SELECT 2, round(b, 6), round(ws, 6), round(wt, 6), round(wl, 6),
                round(loss, 6) FROM w2
         UNION ALL
         SELECT 3, round(b, 6), round(ws, 6), round(wt, 6), round(wl, 6),
                round(loss, 6) FROM w3""",
    // serving replay: the same chained-CTE training, then a per-doc
    // score with the ROUNDED final weights (both engines score from
    // identical 6-decimal weights); kept gates on the raw margin z > 0
    "quality_lr_score" ->
      """WITH f AS (
           SELECT doc_id,
                  round(len(list_filter(w, x -> x IN ('the','a')))
                        / CAST(len(w) AS DOUBLE), 4) AS x_stop,
                  round(len(list_distinct(w))
                        / CAST(len(w) AS DOUBLE), 4) AS x_ttr,
                  round(least(len(w), 200) / 200.0, 4) AS x_len,
                  CASE WHEN len(w) >= 10 AND len(w) <= 10000
                        AND round(len(list_distinct(w))
                                  / CAST(len(w) AS DOUBLE), 4) > 0.1
                       THEN 1.0 ELSE 0.0 END AS y
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents) t),
         a1 AS (SELECT avg(0.5 - y) AS g0, avg((0.5 - y) * x_stop) AS g1,
                       avg((0.5 - y) * x_ttr) AS g2,
                       avg((0.5 - y) * x_len) AS g3
                FROM f),
         w1 AS (SELECT -g0 AS b, -g1 AS ws, -g2 AS wt, -g3 AS wl FROM a1),
         p2 AS (SELECT f.*, 1.0 / (1.0 + exp(-(w1.b + w1.ws * x_stop
                         + w1.wt * x_ttr + w1.wl * x_len))) AS p
                FROM f, w1),
         a2 AS (SELECT avg(p - y) AS g0, avg((p - y) * x_stop) AS g1,
                       avg((p - y) * x_ttr) AS g2, avg((p - y) * x_len) AS g3
                FROM p2),
         w2 AS (SELECT w1.b - a2.g0 AS b, w1.ws - a2.g1 AS ws,
                       w1.wt - a2.g2 AS wt, w1.wl - a2.g3 AS wl
                FROM w1, a2),
         p3 AS (SELECT f.*, 1.0 / (1.0 + exp(-(w2.b + w2.ws * x_stop
                         + w2.wt * x_ttr + w2.wl * x_len))) AS p
                FROM f, w2),
         a3 AS (SELECT avg(p - y) AS g0, avg((p - y) * x_stop) AS g1,
                       avg((p - y) * x_ttr) AS g2, avg((p - y) * x_len) AS g3
                FROM p3),
         w3 AS (SELECT round(w2.b - a3.g0, 6) AS b,
                       round(w2.ws - a3.g1, 6) AS ws,
                       round(w2.wt - a3.g2, 6) AS wt,
                       round(w2.wl - a3.g3, 6) AS wl
                FROM w2, a3),
         z AS (SELECT doc_id,
                      w3.b + w3.ws * x_stop + w3.wt * x_ttr
                        + w3.wl * x_len AS m,
                      y
               FROM f, w3)
         SELECT doc_id, round(1.0 / (1.0 + exp(-m)), 6) AS score,
                m > 0 AS kept, y = 1.0 AS label_ok
         FROM z""",
    "text_quality" ->
      """SELECT doc_id, len(w) AS n_tokens,
                round(len(list_filter(w, x -> x IN ('the','a')))
                      / CAST(len(w) AS DOUBLE), 4) AS stop_ratio,
                round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4) AS ttr,
                (len(w) >= 10 AND len(w) <= 10000
                 AND round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4) > 0.1)
                  AS quality_ok
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t""",
    "text_langid" ->
      """SELECT doc_id, en_score, en_bigram_score,
                CASE WHEN en_score > 0.03 THEN 'en' ELSE 'other' END AS predicted_lang
         FROM (SELECT doc_id,
                      round(len(list_filter(string_split(text, ' '), x -> x IN ('the','a')))
                            / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS en_score,
                      round(len(list_filter(list_transform(range(1, length(text)),
                                                           i -> text[i:i+1]),
                                            g -> g IN ('th','he','in','er','an','re')))
                            / CAST(length(text) - 1 AS DOUBLE), 4) AS en_bigram_score
               FROM documents) t""",
    // same stop-word score as text_langid, folded to the (label,
    // prediction) confusion counts
    "text_langid_confusion" ->
      """WITH pred AS (SELECT doc_id, lang,
                              CASE WHEN round(len(list_filter(
                                       string_split(text, ' '),
                                       x -> x IN ('the','a')))
                                     / CAST(len(string_split(text, ' '))
                                            AS DOUBLE), 4) > 0.03
                                   THEN 'en' ELSE 'other' END
                                AS predicted_lang
                       FROM documents)
         SELECT lang AS label_lang, predicted_lang, count(*) AS n
         FROM pred GROUP BY lang, predicted_lang""",
    "text_token_counts" ->
      """SELECT doc_id,
                len(string_split(text, ' ')) AS n_ws_tokens,
                len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens
         FROM documents""",
    // the same injected wrapper rebuilt from doc_id + text, then the
    // identical shared-subset regex pipeline (RE2-safe: no backrefs;
    // DuckDB regexp_replace needs the explicit 'g' flag to match
    // Spark's replace-all); entities via non-regex replace(), amp last
    "web_html_extract" ->
      """WITH h AS (SELECT doc_id,
                '<html><head><script type="text/javascript">var x = 1 < 2;</script><style>.a { color: red; }</style></head><body><h1>Doc &amp; &lt;'
                || doc_id || '&gt;</h1><p>' || text ||
                '</p><script>track(' || doc_id || ');</script></body></html>'
                  AS t
              FROM documents),
              t1 AS (SELECT doc_id,
                regexp_replace(t, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t
                FROM h),
              t2 AS (SELECT doc_id,
                regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t
                FROM t1),
              t3 AS (SELECT doc_id,
                regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM t2),
              t4 AS (SELECT doc_id,
                replace(replace(replace(replace(replace(t,
                  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
                  '&amp;', '&') AS t
                FROM t3)
         SELECT doc_id,
                trim(regexp_replace(t, '[ \t\n\x0B\f\r]+', ' ', 'g'))
                  AS clean_text
         FROM t4 ORDER BY doc_id""",
    // same injected URL rebuilt from doc_id, same canonicalization steps
    // the oracle re-derives the injected domain from doc_id (the
    // injection rule) and replays the cap as a rank window — the form
    // the engine deliberately avoids at scale but DuckDB replays fine
    // at sf; kept_ids joined in the aggregator's (quality DESC, id)
    // order
    "web_domain_cap" ->
      """WITH u AS (SELECT doc_id, n_chars,
                           'site' || (doc_id % 7) || '.com' AS domain
                    FROM documents),
              r AS (SELECT *, row_number() OVER (PARTITION BY domain
                      ORDER BY n_chars DESC, doc_id) AS rnk
                    FROM u)
         SELECT domain,
                string_agg(CAST(doc_id AS VARCHAR), ','
                           ORDER BY n_chars DESC, doc_id) AS kept_ids
         FROM r WHERE rnk <= 50
         GROUP BY domain ORDER BY domain""",
    "web_url_canonicalize" ->
      """WITH u0 AS (SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'HTTPS' END
                || '://WWW.Site' || (doc_id % 7) || '.COM'
                || CASE WHEN doc_id % 4 IN (0, 3) THEN ':80' ELSE ':443' END
                || '/path/' || doc_id
                || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
                || '?utm_source=feed&b=' || (doc_id % 5) || '&a=1'
                || CASE WHEN doc_id % 4 = 0 THEN '#sec' || doc_id ELSE '' END
                  AS url
              FROM documents),
              s1 AS (SELECT doc_id,
                regexp_replace(url, '#.*$', '', 'g') AS u FROM u0),
              s1b AS (SELECT doc_id, u,
                lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
                regexp_replace(
                  lower(regexp_extract(u, '^[A-Za-z]+://([^/?#]+)', 1)),
                  '^www\.', '', 'g') AS auth0
                FROM s1),
              s2 AS (SELECT doc_id, scheme,
                CASE WHEN scheme = 'http'
                       THEN regexp_replace(auth0, ':80$', '', 'g')
                     WHEN scheme = 'https'
                       THEN regexp_replace(auth0, ':443$', '', 'g')
                     ELSE auth0 END AS auth,
                regexp_replace(
                  regexp_extract(u, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
                  '/$', '', 'g') AS path,
                regexp_extract(u, '\?([^#]*)', 1) AS qs
                FROM s1b),
              s3 AS (SELECT doc_id, scheme, auth, path,
                list_sort(list_filter(string_split(qs, '&'),
                  p -> p <> '' AND NOT regexp_matches(p, '^utm_'))) AS qkeep
                FROM s2)
         SELECT doc_id,
                scheme || '://' || auth || path ||
                CASE WHEN len(qkeep) > 0
                     THEN '?' || array_to_string(qkeep, '&') ELSE '' END
                  AS canonical_url
         FROM s3 ORDER BY doc_id""",
    // same polynomial char hash as text_fingerprints; boundary and
    // running chunk count replayed with lag/sum windows per doc
    "text_cdc_chunks" ->
      """WITH w AS (SELECT doc_id,
                           list_filter(string_split(text, ' '),
                                       x -> x <> '') AS words
                    FROM documents),
              wh AS (SELECT doc_id,
                            list_transform(words, wd ->
                              list_reduce(list_prepend(CAST(0 AS BIGINT),
                                list_transform(range(1, length(wd) + 1),
                                  i -> CAST(ascii(wd[i:i]) AS BIGINT))),
                                (a, b) -> (a * 31 + b) % 1000000007)) AS hs
                     FROM w WHERE len(words) > 0),
              pos AS (SELECT doc_id,
                             unnest(range(0, len(hs))) AS pos,
                             unnest(hs) AS h
                      FROM wh),
              lagd AS (SELECT doc_id, pos, h,
                              lag(h, 1) OVER (PARTITION BY doc_id
                                              ORDER BY pos) AS h1,
                              lag(h, 2) OVER (PARTITION BY doc_id
                                              ORDER BY pos) AS h2
                       FROM pos),
              bnd AS (SELECT doc_id, pos,
                             CASE WHEN h2 IS NOT NULL
                                   AND ((h2 * 961 + h1 * 31 + h)
                                        % 1000000007) % 16 = 0
                                  THEN 1 ELSE 0 END AS boundary
                      FROM lagd),
              ck AS (SELECT doc_id, pos,
                            sum(boundary) OVER (PARTITION BY doc_id
                              ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS chunk_id
                     FROM bnd)
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                count(*) AS n_tokens, CAST(min(pos) AS INTEGER) AS start_pos
         FROM ck GROUP BY doc_id, chunk_id""",
    "text_fingerprints" ->
      """SELECT doc_id,
                md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS content_md5,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, length(text) + 1),
                                 i -> CAST(ascii(text[i:i]) AS BIGINT))),
                  (a, b) -> (a * 31 + b) % 1000000007) AS rolling_hash
         FROM documents""",
    // per-doc bigram mode share + duplicate-word fraction; keep compares
    // the ROUNDED values, matching the engine
    "text_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
              b AS (SELECT doc_id, len(words) AS n_words,
                           len(list_distinct(words)) AS n_distinct,
                           unnest(list_transform(range(0, len(words) - 1),
                             i -> words[i+1] || ' ' || words[i+2])) AS bigram
                    FROM w),
              g AS (SELECT doc_id, n_words, n_distinct, bigram, count(*) AS c
                    FROM b GROUP BY doc_id, n_words, n_distinct, bigram),
              t AS (SELECT doc_id, n_words, n_distinct,
                           max(c) AS top_n, sum(c) AS n_bi
                    FROM g GROUP BY doc_id, n_words, n_distinct)
         SELECT doc_id,
                round(top_n / CAST(n_bi AS DOUBLE), 6) AS top_bigram_frac,
                round(1.0 - n_distinct / CAST(n_words AS DOUBLE), 6) AS dup_word_frac,
                (round(top_n / CAST(n_bi AS DOUBLE), 6) <= 0.18 AND
                 round(1.0 - n_distinct / CAST(n_words AS DOUBLE), 6) <= 0.9) AS keep
         FROM t""",
    "text_tfidf_top3" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
              tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
              dfreq AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word),
              nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
              sc AS (SELECT tf.doc_id, tf.word,
                            round(tf.tf * (ln((nd.n_docs + 1) / (dfreq.df + 1)) + 1), 6) AS tfidf
                     FROM tf JOIN dfreq USING (word) CROSS JOIN nd)
         SELECT doc_id, word, tfidf, rn FROM (
           SELECT sc.*, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, word) AS rn
           FROM sc) t
         WHERE rn <= 3""",
    // BM25: per-term contributions rounded to integer micros BEFORE the
    // per-doc sum (long addition is associative — double summation order
    // can never flip the compare). Literals carry e0 suffixes: DuckDB
    // parses bare 1.2 as DECIMAL and decimal arithmetic diverges from
    // Spark's IEEE doubles in the last ulp; 1.2e0 forces DOUBLE, making
    // the mirrored expression bit-identical pre-round (probed both forms)
    "text_bm25_topk" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                    FROM documents),
              tf AS (SELECT doc_id, word, count(*) AS tf FROM w
                     WHERE word IN ('spark', 'join', 'window')
                     GROUP BY doc_id, word),
              dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df
                      FROM tf GROUP BY word),
              l AS (SELECT doc_id,
                           CAST(len(string_split(text, ' ')) AS BIGINT)
                             AS dl
                    FROM documents),
              s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(sum(dl) AS BIGINT) AS dl_sum FROM l),
              c AS (SELECT tf.doc_id,
                           CAST(round(
                             ln(1.0e0 + (n_docs - df + 0.5e0)
                                          / (df + 0.5e0))
                               * (tf * (1.2e0 + 1))
                               / (tf + 1.2e0 * (1 - 0.75e0
                                                + 0.75e0 * dl
                                                    / (dl_sum / n_docs)))
                               * 1000000, 0) AS BIGINT) AS contrib_u
                    FROM tf JOIN dfq USING (word) JOIN l USING (doc_id)
                    CROSS JOIN s),
              sc AS (SELECT doc_id,
                            CAST(sum(contrib_u) AS BIGINT) AS score_u
                     FROM c GROUP BY doc_id)
         SELECT doc_id, score_u,
                CAST(row_number() OVER (ORDER BY score_u DESC, doc_id)
                     AS BIGINT) AS rank
         FROM sc ORDER BY score_u DESC, doc_id LIMIT 10""",
    // PMI over long counts: one mirrored double expression, no double
    // accumulation; DuckDB lists are 1-based and range(1, n) is
    // half-open, so i in [1, len-1] pairs ws[i] with ws[i+1]
    "text_pmi_bigrams" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
              bg AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
                     FROM w, unnest(range(1, len(ws))) AS t(i)),
              nxy AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
                      FROM bg GROUP BY w1, w2),
              uni AS (SELECT unnest(ws) AS word FROM w),
              u AS (SELECT word, CAST(count(*) AS BIGINT) AS n_w
                    FROM uni GROUP BY word),
              tot AS (SELECT (SELECT CAST(sum(n_xy) AS BIGINT) FROM nxy)
                               AS n_pairs,
                             (SELECT CAST(sum(n_w) AS BIGINT) FROM u)
                               AS n_tok)
         SELECT w1, w2, n_xy,
                round(ln(n_xy / n_pairs
                           / (ux.n_w / n_tok * (uy.n_w / n_tok))), 6)
                  AS pmi
         FROM nxy
         JOIN u ux ON ux.word = w1
         JOIN u uy ON uy.word = w2
         CROSS JOIN tot
         WHERE n_xy >= 5
         ORDER BY pmi DESC, w1, w2 LIMIT 20""",
    "text_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
              c AS (SELECT doc_id, words,
                           unnest(range(0, greatest(1, CAST(ceil((len(words) - 8) / 56.0) AS BIGINT)))) AS chunk_idx
                    FROM t)
         SELECT doc_id, chunk_idx,
                array_to_string(words[chunk_idx * 56 + 1 : chunk_idx * 56 + 64], ' ') AS chunk_text
         FROM c""",
    // greedy packing replayed exactly: linear recursion per shard over
    // doc_id order, overflow starts a new sequence
    "pack_sequences" ->
      """WITH RECURSIVE
              d AS (SELECT doc_id, (doc_id * 2654435761) % 8 AS shard,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                           row_number() OVER (PARTITION BY (doc_id * 2654435761) % 8
                                              ORDER BY doc_id) AS rn
                    FROM documents),
              packed AS (
                SELECT shard, rn, doc_id, n_tok,
                       CAST(0 AS BIGINT) AS seq_id, n_tok AS acc
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.shard, d.rn, d.doc_id, d.n_tok,
                       CASE WHEN p.acc + d.n_tok > 512 THEN p.seq_id + 1
                            ELSE p.seq_id END,
                       CASE WHEN p.acc + d.n_tok > 512 THEN d.n_tok
                            ELSE p.acc + d.n_tok END
                FROM packed p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1)
         SELECT doc_id, shard, seq_id FROM packed""",
    "sample_systematic" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE (event_id * 2654435761) % 20 = 0""",
    "sample_stratified" ->
      """SELECT event_id, event_type FROM events
         WHERE (event_id * 2654435761) %
               (CASE event_type WHEN 'click' THEN 2 WHEN 'error' THEN 5 ELSE 10 END) = 0""",
    "split_assign" ->
      """SELECT doc_id,
                CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                     WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM documents""",
    // group-aware split replay: the dedup_clusters recursive-CTE labels
    // (min reachable doc id per near-dup component), singletons fall back
    // to their own id, then the same multiplicative-hash 80/10/10 case
    "split_group_aware" ->
      """WITH RECURSIVE
              w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
              p AS (SELECT doc_a, doc_b
                    FROM com
                    JOIN sizes sa ON sa.doc_id = doc_a
                    JOIN sizes sb ON sb.doc_id = doc_b
                    WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
              e AS (SELECT doc_a AS src, doc_b AS dst FROM p
                    UNION SELECT doc_b, doc_a FROM p),
              reach AS (SELECT src, dst FROM e
                        UNION
                        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
              cl AS (SELECT src AS doc_id,
                            CAST(least(src, min(dst)) AS BIGINT) AS cluster_id
                     FROM reach GROUP BY src)
         SELECT d.doc_id,
                CAST(coalesce(cl.cluster_id, d.doc_id) AS BIGINT) AS group_key,
                CASE WHEN (coalesce(cl.cluster_id, d.doc_id) * 2654435761) % 100 < 80 THEN 'train'
                     WHEN (coalesce(cl.cluster_id, d.doc_id) * 2654435761) % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id""",
    // full pipeline replay: language gate -> quality gate -> exact dedup
    // (min doc_id per digest) -> near-dup removal (drop doc_b of each
    // jaccard>=0.5 pair) -> deterministic split
    // prepare + repetition gate + decontamination, replayed end-to-end
    "corpus_prepare_full" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
              ev AS (SELECT doc_id, w FROM t WHERE doc_id % 20 = 0),
              corp AS (SELECT doc_id, text, w FROM t WHERE doc_id % 20 <> 0),
              kept AS (
                SELECT doc_id, text, w FROM corp
                WHERE round(len(list_filter(w, x -> x IN ('the','a')))
                            / CAST(len(w) AS DOUBLE), 4) > 0.03
                  AND len(w) >= 10 AND len(w) <= 10000
                  AND round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4) > 0.1),
              bg AS (SELECT doc_id, len(w) AS n_words,
                            len(list_distinct(w)) AS n_distinct,
                            unnest(list_transform(range(0, len(w) - 1),
                              i -> w[i+1] || ' ' || w[i+2])) AS bigram
                     FROM kept),
              bgc AS (SELECT doc_id, n_words, n_distinct, bigram, count(*) AS c
                      FROM bg GROUP BY doc_id, n_words, n_distinct, bigram),
              rep AS (SELECT doc_id FROM (
                        SELECT doc_id, n_words, n_distinct,
                               max(c) AS top_n, sum(c) AS n_bi
                        FROM bgc GROUP BY doc_id, n_words, n_distinct)
                      WHERE round(top_n / CAST(n_bi AS DOUBLE), 6) <= 0.18
                        AND round(1.0 - n_distinct / CAST(n_words AS DOUBLE), 6) <= 0.9),
              kr AS (SELECT k.doc_id, k.text, k.w FROM kept k JOIN rep USING (doc_id)),
              evwin AS (SELECT DISTINCT unnest(list_transform(range(0, len(w) - 12),
                          i -> array_to_string(w[i+1:i+13], ' '))) AS win
                        FROM ev WHERE len(w) >= 13),
              contam AS (SELECT DISTINCT kw.doc_id
                         FROM (SELECT doc_id,
                                      unnest(list_transform(range(0, len(w) - 12),
                                        i -> array_to_string(w[i+1:i+13], ' '))) AS win
                               FROM kr WHERE len(w) >= 13) kw
                         JOIN evwin USING (win)),
              cl AS (SELECT doc_id, text FROM kr
                     WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
              canon AS (SELECT min(doc_id) AS doc_id FROM cl GROUP BY md5(text)),
              kc AS (SELECT c2.doc_id, c2.text FROM cl c2 JOIN canon USING (doc_id)),
              w2 AS (SELECT doc_id, string_split(text, ' ') AS words FROM kc
                     WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w2),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
              losers AS (SELECT DISTINCT doc_b AS doc_id
                         FROM com
                         JOIN sizes sa ON sa.doc_id = doc_a
                         JOIN sizes sb ON sb.doc_id = doc_b
                         WHERE round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) >= 0.5)
         SELECT doc_id,
                CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                     WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM kc WHERE doc_id NOT IN (SELECT doc_id FROM losers)""",
    // batch replay of the stream's gates — identical predicate arithmetic
    // conservation: NFC-keyed dedup collapses both injected spellings of
    // every doc AND the corpus's planted exact-dup texts, so per-lang
    // survivors = per-lang DISTINCT-text counts
    "t24_stream_nfc_dedup" ->
      """SELECT lang, count(DISTINCT text) AS n_unique
         FROM documents GROUP BY lang ORDER BY lang""",
    "t12_stream_quality_gate" ->
      """WITH t AS (SELECT lang, string_split(text, ' ') AS w FROM documents)
         SELECT lang, count(*) AS n_kept FROM t
         WHERE round(len(list_filter(w, x -> x IN ('the','a')))
                     / CAST(len(w) AS DOUBLE), 4) > 0.03
           AND len(w) >= 10 AND len(w) <= 10000
           AND round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4) > 0.1
         GROUP BY lang ORDER BY lang""",
    "corpus_prepare" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
              kept AS (
                SELECT doc_id, text FROM t
                WHERE round(len(list_filter(w, x -> x IN ('the','a')))
                            / CAST(len(w) AS DOUBLE), 4) > 0.03
                  AND len(w) >= 10 AND len(w) <= 10000
                  AND round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4) > 0.1),
              canon AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
              kc AS (SELECT k.doc_id, k.text FROM kept k JOIN canon c USING (doc_id)),
              w2 AS (SELECT doc_id, string_split(text, ' ') AS words FROM kc
                     WHERE len(string_split(text, ' ')) >= 3),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(range(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
                     FROM w2),
              sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
              losers AS (SELECT DISTINCT doc_b AS doc_id
                         FROM com
                         JOIN sizes sa ON sa.doc_id = doc_a
                         JOIN sizes sb ON sb.doc_id = doc_b
                         WHERE round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) >= 0.5)
         SELECT doc_id,
                CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                     WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM kc WHERE doc_id NOT IN (SELECT doc_id FROM losers)""",
    "mm_media_meta" ->
      """SELECT doc_id, strlen(text) AS n_bytes, sha256(text) AS sha256_hex,
                (length(text) % 640) + 1 AS fake_width,
                (length(text) % 480) + 1 AS fake_height
         FROM documents""",
    "mm_decode_stub" ->
      """SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes,
                CAST(bsum % 256 AS BIGINT) AS brightness,
                CAST((strlen(text) % 640) + 1 AS INTEGER) AS fake_width,
                CAST((bsum % 480) + 1 AS INTEGER) AS fake_height
         FROM (SELECT doc_id, text,
                      list_sum(list_transform(range(1, length(text) + 1),
                                              i -> ascii(text[i:i]))) AS bsum
               FROM documents) t""",
    "mm_frame_sample" ->
      """SELECT d.doc_id, t.i AS frame_idx,
                CASE WHEN t.i * 16 < strlen(d.text)
                     THEN ascii(d.text[t.i * 16 + 1 : t.i * 16 + 1]) ELSE -1 END AS byte_val
         FROM documents d, range(0, 8) t(i)""",
    "mm_feature_extract" ->
      """SELECT b.doc_id, CAST(t.k AS INTEGER) AS bucket,
                CAST(len(list_filter(b.bl, x -> x // 32 = t.k)) AS BIGINT) AS n
         FROM (SELECT doc_id,
                      list_transform(range(1, length(text) + 1),
                                     i -> ascii(text[i:i])) AS bl
               FROM documents) b, range(0, 8) t(k)""",
    "mm_resize" ->
      """SELECT d.doc_id, CAST(t.j AS INTEGER) AS j,
                ascii(d.text[(t.j * strlen(d.text)) // 16 + 1
                             : (t.j * strlen(d.text)) // 16 + 1]) AS byte_val
         FROM documents d, range(0, 16) t(j)""",
    // the real-codec quartet grades the ENGINE's byte-level parse/decode
    // of genuine PNG/JPEG payloads against the closed-form fixture
    // formulas (dims = doc_id mod ranges; pixel = (7x+13y+31*id) mod 256)
    // — the oracle recomputes ground truth, never touching the bytes
    "mm_png_dims" ->
      """SELECT doc_id, true AS sig_ok,
                CAST(doc_id % 13 + 4 AS BIGINT) AS width,
                CAST(doc_id % 11 + 4 AS BIGINT) AS height,
                CAST(8 AS BIGINT) AS bit_depth,
                CAST(0 AS BIGINT) AS color_type
         FROM documents ORDER BY doc_id""",
    "mm_jpeg_dims" ->
      """SELECT doc_id,
                CAST(doc_id % 13 + 4 AS BIGINT) AS width,
                CAST(doc_id % 11 + 4 AS BIGINT) AS height
         FROM documents ORDER BY doc_id""",
    "mm_decode_brightness" ->
      """SELECT d.doc_id,
                CAST((d.doc_id % 13 + 4) * (d.doc_id % 11 + 4) AS BIGINT)
                  AS n_px,
                CAST(sum(CASE WHEN xs.x < d.doc_id % 13 + 4
                               AND ys.y < d.doc_id % 11 + 4
                          THEN (xs.x * 7 + ys.y * 13 + d.doc_id * 31) % 256
                          ELSE 0 END) AS BIGINT) AS pix_sum
         FROM documents d, generate_series(0, 15) xs(x),
              generate_series(0, 13) ys(y)
         GROUP BY d.doc_id ORDER BY d.doc_id""",
    "mm_resize_thumb" ->
      """WITH g AS (SELECT d.doc_id, i.i, j.j,
                           (i.i * (d.doc_id % 13 + 4)) // 4 AS sx,
                           (j.j * (d.doc_id % 11 + 4)) // 4 AS sy
                    FROM documents d, generate_series(0, 3) i(i),
                         generate_series(0, 3) j(j))
         SELECT doc_id, CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
                CAST((sx * 7 + sy * 13 + doc_id * 31) % 256 AS BIGINT) AS v
         FROM g ORDER BY doc_id, j, i""",
    // audio fixture formulas: n = doc_id%96+32 samples at rate
    // 8000+(doc_id%5)*4000, 16-bit mono; sample(i) = (31i+13*id)%65536-32768
    "mm_wav_meta" ->
      """SELECT doc_id, true AS riff_ok,
                CAST(1 AS BIGINT) AS channels,
                CAST(8000 + (doc_id % 5) * 4000 AS BIGINT) AS sample_rate,
                CAST(16 AS BIGINT) AS bits_per_sample,
                CAST(doc_id % 96 + 32 AS BIGINT) AS n_samples
         FROM documents ORDER BY doc_id""",
    "mm_wav_decode" ->
      """SELECT d.doc_id,
                CAST(d.doc_id % 96 + 32 AS BIGINT) AS n_samples,
                CAST(sum(CASE WHEN t.i < d.doc_id % 96 + 32
                          THEN (t.i * 31 + d.doc_id * 13) % 65536 - 32768
                          ELSE 0 END) AS BIGINT) AS sample_sum
         FROM documents d, generate_series(0, 127) t(i)
         GROUP BY d.doc_id ORDER BY d.doc_id""",
    // video fixture formulas: n_frames = doc_id%4+2 at the image-tier
    // geometry; every frame decodes to the container's claimed dims
    "mm_avi_demux" ->
      """SELECT d.doc_id, CAST(t.i AS INTEGER) AS frame_idx,
                CAST(d.doc_id % 13 + 4 AS BIGINT) AS frame_w,
                CAST(d.doc_id % 11 + 4 AS BIGINT) AS frame_h,
                CAST(d.doc_id % 4 + 2 AS BIGINT) AS hdr_frames,
                CAST(d.doc_id % 13 + 4 AS BIGINT) AS hdr_w,
                CAST(d.doc_id % 11 + 4 AS BIGINT) AS hdr_h
         FROM documents d, generate_series(0, 4) t(i)
         WHERE t.i < d.doc_id % 4 + 2 AND d.doc_id % 2 = 0
         ORDER BY d.doc_id, frame_idx"""
  )

  // layout/execution variants compute identical results to their base
  // queries and share the base replay verbatim: the pruned IVF reads a
  // different storage layout; the Bloom-gated incremental dedup swaps
  // how the exact gate is SERVED (sketch pre-filter + exact rejoin),
  // never what it returns
  def oracleSql: Map[String, String] =
    oracleSqlBase +
      ("ann_ivf_topk_pruned" -> oracleSqlBase("ann_ivf_topk")) +
      ("dedup_incremental_bloom" -> oracleSqlBase("dedup_incremental")) +
      // the streamed crawl triage unions to the one-shot batch triage
      // (per-doc status depends only on doc-vs-corpus)
      ("t53_stream_incremental_dedup" -> oracleSqlBase("dedup_incremental")) +
      // the streaming drift monitor converges to the batch audit exactly
      ("t23_stream_drift_psi" -> oracleSqlBase("dq_drift_psi"))
}
