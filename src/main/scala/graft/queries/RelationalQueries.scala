package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops._
import SparkEntry.{enriched, C}

/** Relational and bench-weight queries: the TPC-H shapes plus the
  * event-table statistics, graph, drift and time-series queries. */
object RelationalQueries {

  /** Direct lift recomputation — the shared oracle for q_basket_lift
    * (computed directly by the engine too) and q_basket_increment
    * (engine merges an order-key split; the merge law makes them equal). */
  private val BASKET_LIFT_SQL =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pc AS (SELECT a.p AS a, b.p AS b, count(*) AS n_ab
      |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
      |parts AS (SELECT p, count(*) AS n_p FROM op GROUP BY 1),
      |tot AS (SELECT count(DISTINCT o) AS n_orders FROM op)
      |SELECT pc.a, pc.b, pc.n_ab, pa.n_p AS n_a, pb.n_p AS n_b,
      |  CAST(t.n_orders * pc.n_ab AS DOUBLE) / (pa.n_p * pb.n_p) AS lift
      |FROM pc JOIN parts pa ON pa.p = pc.a JOIN parts pb ON pb.p = pc.b
      |CROSS JOIN tot t
      |WHERE pc.n_ab >= 2
      |ORDER BY a, b""".stripMargin

  /** The shared unrolled-iteration PageRank oracle: `edgesCtes` supplies
    * `seq`/`pairs`/`edges` (the graph construction varies; the
    * recurrence doesn't), `dangling` adds the per-iteration redistributed
    * dangling-mass scalar — the same `D div n` term, computed the same
    * way, as the engine's `redistributeDangling` path. */
  private def pagerankSqlFor(edgesCtes: String, dangling: Boolean): String = {
    val (scale, num, den, iters) = (1000000000000L, 85, 100, 5)
    def iter(k: Int) = {
      val dangJoin = if (dangling)
        s"""
           |  CROSS JOIN (SELECT coalesce(sum(r), CAST(0 AS BIGINT)) AS d
           |    FROM it${k - 1} WHERE node NOT IN (SELECT src FROM outw)) ds""".stripMargin
      else ""
      val contribTerm = if (dangling)
        s"($num * (coalesce(c.contrib, CAST(0 AS BIGINT)) + ds.d // nc.n)) // $den"
      else
        s"($num * coalesce(c.contrib, CAST(0 AS BIGINT))) // $den"
      s"""it$k AS (
         |  SELECT n.node,
         |    (CAST($scale AS BIGINT) * ${den - num}) // ($den * nc.n)
         |      + $contribTerm AS r
         |  FROM nodes n CROSS JOIN ncount nc$dangJoin
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(sum((r.r // o.w) * e.m + ((r.r % o.w) * e.m) // o.w) AS BIGINT) AS contrib
         |    FROM it${k - 1} r JOIN edges e ON e.src = r.node
         |    JOIN outw o ON o.src = e.src
         |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    }
    s"""WITH $edgesCtes,
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |ncount AS (SELECT count(*) AS n FROM nodes),
       |outw AS (SELECT src, CAST(sum(m) AS BIGINT) AS w FROM edges GROUP BY 1),
       |it0 AS (SELECT n.node, CAST($scale AS BIGINT) // nc.n AS r
       |  FROM nodes n CROSS JOIN ncount nc),
       |${(1 to iters).map(iter).mkString(",\n")}
       |SELECT node, CAST(r AS BIGINT) AS rank_q,
       |  CAST(r AS DOUBLE) / $scale AS rank
       |FROM it$iters ORDER BY node""".stripMargin
  }

  /** DuckDB twin of Graph.kCore over Graph.coOrderedParts: the same 8
    * synchronous h-operator rounds unrolled as chained CTEs (the LPA
    * pattern — fixed iteration count, aggregates illegal in a recursive
    * term). The h-index subquery is tie-order-invariant, so the
    * row_number tie rule carries no semantics on either engine. */
  private val KCORE_SQL: String = {
    def iter(k: Int) =
      s"""c$k AS (
         |  SELECT p.node, CAST(coalesce(h.h, 0) AS BIGINT) AS c
         |  FROM c${k - 1} p LEFT JOIN (
         |    SELECT node, max(rn) AS h FROM (
         |      SELECT b.node, l.c,
         |        CAST(row_number() OVER (PARTITION BY b.node
         |          ORDER BY l.c DESC, b.nbr) AS BIGINT) AS rn
         |      FROM nbrs b JOIN c${k - 1} l ON l.node = b.nbr) v
         |    WHERE c >= rn GROUP BY node) h ON h.node = p.node)""".stripMargin
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (SELECT DISTINCT a.p AS a, b.p AS b
       |      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
       |nbrs AS MATERIALIZED (SELECT a AS node, b AS nbr FROM e
       |  UNION ALL SELECT b, a FROM e),
       |c0 AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS c
       |  FROM nbrs GROUP BY 1),
       |${(1 to 8).map(iter).mkString(",\n")}
       |SELECT c0.node AS node, c0.c AS degree, c8.c AS core
       |FROM c0 JOIN c8 USING (node) ORDER BY node""".stripMargin
  }

  /** DuckDB twin of Graph.labelPropagation over Graph.eventTransitions:
    * the same 5 synchronous min-tie rounds unrolled as chained CTEs (the
    * pagerank pattern — fixed iteration count, aggregates illegal in a
    * recursive term). nbrs/nodes/fin are MATERIALIZED: each is
    * referenced by every round or twice at the end. */
  private val LPA_SQL: String = {
    def iter(k: Int) =
      s"""l$k AS (
         |  SELECT n.node, coalesce(w.community, n.node) AS community
         |  FROM nodes n LEFT JOIN (
         |    SELECT node, community FROM (
         |      SELECT v.node, v.community,
         |        row_number() OVER (PARTITION BY v.node
         |          ORDER BY v.vw DESC, v.community) AS rn
         |      FROM (SELECT b.node, l.community, CAST(sum(b.w) AS BIGINT) AS vw
         |            FROM nbrs b JOIN l${k - 1} l ON l.node = b.nbr
         |            GROUP BY 1, 2) v)
         |    WHERE rn = 1) w ON w.node = n.node)""".stripMargin
    s"""WITH seq AS (SELECT user_id, event_type, ts, event_id FROM events
       |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL),
       |pairs AS (SELECT event_type AS src,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
       |  FROM seq),
       |edges AS (SELECT src, dst, count(*) AS m FROM pairs WHERE dst IS NOT NULL
       |  GROUP BY 1, 2),
       |und AS (SELECT src, dst, m FROM edges WHERE src <> dst),
       |nbrs AS MATERIALIZED (SELECT node, nbr, CAST(sum(m) AS BIGINT) AS w FROM (
       |  SELECT src AS node, dst AS nbr, m FROM und
       |  UNION ALL SELECT dst AS node, src AS nbr, m FROM und) GROUP BY 1, 2),
       |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |l0 AS (SELECT node, node AS community FROM nodes),
       |${(1 to 5).map(iter).mkString(",\n")},
       |fin AS MATERIALIZED (SELECT node, community FROM l5)
       |SELECT f.node, f.community, c.n_members
       |FROM fin f JOIN (SELECT community, CAST(count(*) AS BIGINT) AS n_members
       |  FROM fin GROUP BY 1) c USING (community)
       |ORDER BY f.node""".stripMargin
  }

  /** DuckDB twin of Graph.pagerankInt over Graph.eventTransitions: the
    * same 5 integer-exact iterations UNROLLED as chained CTEs (aggregates
    * are illegal in a recursive term, and a fixed iteration count needs
    * no recursion). Every expression is integer division on positives —
    * `//`/`%` here, `DIV`/`%` in Spark — including the overflow-free
    * per-edge split, so the frames hash-match bit-for-bit. */
  private val PAGERANK_SQL: String = pagerankSqlFor(
    """seq AS (SELECT user_id, event_type, ts, event_id FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL),
      |pairs AS (SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM seq),
      |edges AS (SELECT src, dst, count(*) AS m FROM pairs WHERE dst IS NOT NULL
      |  GROUP BY 1, 2)""".stripMargin, dangling = false)

  /** Event-chain graph (node = event_id, per-user consecutive edges,
    * weight 1): every user's terminal event is a certified dangling sink,
    * so this exercises the redistribution path on every iteration. */
  private val PAGERANK_DANGLING_SQL: String = pagerankSqlFor(
    """seq AS (SELECT user_id, event_id, ts FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL),
      |pairs AS (SELECT event_id AS src,
      |    lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM seq),
      |edges AS (SELECT src, dst, CAST(1 AS BIGINT) AS m FROM pairs
      |  WHERE dst IS NOT NULL)""".stripMargin, dangling = true)

  /** DuckDB side of q_asof_attribution (and its bucketed twin). */
  private val ASOF_ATTRIBUTION_SQL =
    """WITH p AS (SELECT event_id, user_id, ts, epoch_us(ts) AS ts_us, value
      |           FROM events WHERE event_type = 'purchase'),
      |     v AS (SELECT user_id, ts, epoch_us(ts) AS ts_us,
      |             max(event_id) AS event_id, arg_max(value, event_id) AS value
      |           FROM events WHERE event_type = 'view' GROUP BY 1, 2, 3)
      |SELECT p.event_id AS event_id, p.user_id AS user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
      |  p.value AS purchase_value,
      |  v.event_id AS view_event_id,
      |  v.value AS view_value,
      |  p.ts_us - v.ts_us AS lag_us
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY event_id""".stripMargin

  /** Min-cascade funnel CTEs shared by the per-user and rollup oracles,
    * parameterized over the event source (the rollup windows it down so
    * stage variety survives this corpus's per-user event density). */
  private def funnelCtes(src: String) =
    s"""ev AS ($src),
       |s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM ev
       |  WHERE event_type = 'view' GROUP BY 1),
       |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2 FROM ev e
       |  JOIN s1 ON e.user_id = s1.user_id
       |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1 GROUP BY 1),
       |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3 FROM ev e
       |  JOIN s2 ON e.user_id = s2.user_id
       |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2 GROUP BY 1),
       |f AS (SELECT u.user_id,
       |    CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
       |              WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage_reached,
       |    t1 AS t1_us, t2 AS t2_us, t3 AS t3_us
       |  FROM (SELECT DISTINCT user_id FROM ev) u
       |  LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
       |  LEFT JOIN s3 USING (user_id))""".stripMargin

  private val FUNNEL_CTES = funnelCtes("SELECT * FROM events")

  private val FUNNEL_DAY1_CTES = funnelCtes(
    "SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'")

  val all: Seq[Query] = Seq(

    Query("q1_pricing_summary", (s, dir) => Relational.pricingSummary(s, dir),
      Oracle("""SELECT l_returnflag, l_linestatus,
          |  sum(l_quantity) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
          |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
          |  count(*) AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("q3_top_orders", (s, dir) => Relational.topUnshippedOrders(s, dir),
      Oracle("""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
          |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |  JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
          |GROUP BY 1, 2, 3
          |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    Query("q5_region_revenue", (s, dir) => Relational.regionRevenue(s, dir),
      Oracle("""SELECT n_name,
          |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
          |FROM lineitem
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          |  AND c_nationkey = s_nationkey
          |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin)),
    Query("q_top_customers", (s, dir) => Relational.topCustomers(s, dir),
      Oracle("""SELECT c_custkey, c_name, total_spent, n_orders FROM (
          |  SELECT o_custkey,
          |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spent,
          |    count(*) AS n_orders
          |  FROM orders GROUP BY 1) JOIN customer ON o_custkey = c_custkey
          |ORDER BY total_spent DESC, c_custkey LIMIT 20""".stripMargin)),
    Query("q_spend_ranks", (s, dir) => Relational.customerSpendRanks(s, dir),
      Oracle("""SELECT o_custkey AS custkey, total_spent,
          |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
          |  percent_rank() OVER w AS pct_rank,
          |  cume_dist() OVER w AS cume
          |FROM (
          |  SELECT o_custkey,
          |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spent
          |  FROM orders GROUP BY 1)
          |WINDOW w AS (ORDER BY total_spent DESC, o_custkey)
          |ORDER BY total_spent DESC, custkey LIMIT 50""".stripMargin)),
    Query("q13_order_dist", (s, dir) => Relational.customerOrderDistribution(s, dir),
      Oracle("""SELECT n_orders, n_customers FROM (
          |  SELECT n_orders, count(*) AS n_customers FROM (
          |    SELECT c_custkey, count(o_orderkey) AS n_orders
          |    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          |    GROUP BY 1)
          |  GROUP BY 1)
          |ORDER BY n_customers DESC, n_orders DESC""".stripMargin)),
    Query("q16_supplier_variety", (s, dir) => Relational.supplierVarietyByType(s, dir),
      Oracle("""SELECT p_type,
          |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
          |  count(*) AS n_lineitems
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |GROUP BY 1 ORDER BY n_suppliers DESC, p_type""".stripMargin)),
    Query("q_semi_anti", (s, dir) => Relational.nationCustomerPresence(s, dir),
      Oracle("""SELECT n_nationkey, n_name, TRUE AS has_customers FROM nation n
          |WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey)
          |UNION ALL
          |SELECT n_nationkey, n_name, FALSE AS has_customers FROM nation n
          |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey)
          |ORDER BY n_nationkey""".stripMargin)),
    Query("q_intersect", (s, dir) => Relational.repeatCustomersIntersect(s, dir),
      Oracle("""SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
          |INTERSECT
          |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-06-01 00:00:00'
          |ORDER BY o_custkey""".stripMargin)),
    Query("q17_small_qty_revenue", (s, dir) => Relational.smallQuantityRevenue(s, dir),
      // decorrelation shapes: the oracle is the IDENTICAL SQL text Spark
      // executes (Relational.scala) — both engines parse one string
      Oracle(Relational.smallQuantityRevenueSql)),
    Query("q21_late_suppliers", (s, dir) => Relational.lateSoleSuppliers(s, dir),
      Oracle(Relational.lateSoleSuppliersSql)),
    Query("q18_large_orders", (s, dir) => Relational.largeVolumeOrders(s, dir),
      Oracle(Relational.largeVolumeOrdersSql)),
    Query("q18_large_orders_cte", (s, dir) => Relational.largeVolumeOrdersCte(s, dir),
      Oracle(Relational.largeVolumeOrdersCteSql)),
    Query("q19_branded_revenue", (s, dir) => Relational.brandedRevenue(s, dir),
      Oracle(Relational.brandedRevenueSql)),
    Query("q22_dormant_balances", (s, dir) => Relational.dormantBalances(s, dir),
      Oracle(Relational.dormantBalancesSql)),
    Query("q7_bilateral_trade", (s, dir) => Relational.bilateralTrade(s, dir),
      Oracle(Relational.bilateralTradeSql)),
    Query("q6_revenue_change", (s, dir) => Relational.revenueChange(s, dir),
      Oracle("""SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
          |  count(*) AS n_items
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          |  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24""".stripMargin)),
    Query("q12_shipmode_priority", (s, dir) => Relational.shipmodePriority(s, dir),
      Oracle("""SELECT l_linestatus,
          |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
          |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_priority
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("q14_promo_share", (s, dir) => Relational.promoShare(s, dir),
      Oracle("""SELECT 100.0 * CAST(sum(CAST(CASE WHEN p_type LIKE 'PROMO%'
          |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
          |  / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS promo_share_pct
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'""".stripMargin)),
    Query("q2_min_cost_supplier", (s, dir) => Relational.minCostSupplier(s, dir),
      Oracle(Relational.minCostSupplierSql)),
    Query("q2_min_cost_supplier_cte", (s, dir) => Relational.minCostSupplierCte(s, dir),
      Oracle(Relational.minCostSupplierCteSql)),
    Query("q20_volume_suppliers_cte", (s, dir) => Relational.volumeSuppliersCte(s, dir),
      Oracle(Relational.volumeSuppliersCteSql())),
    Query("q4_late_priority", (s, dir) => Relational.latePriorityCount(s, dir),
      Oracle(Relational.latePriorityCountSql)),
    Query("q8_market_share", (s, dir) => Relational.marketShare(s, dir),
      Oracle("""SELECT o_year, mkt_share FROM (
          |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
          |    CAST(sum(CAST(CASE WHEN n1.n_name = 'NATION_3'
          |        THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
          |    / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
          |  FROM lineitem
          |  JOIN orders ON o_orderkey = l_orderkey
          |  JOIN customer ON c_custkey = o_custkey
          |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
          |  JOIN region ON r_regionkey = n2.n_regionkey
          |  JOIN supplier ON s_suppkey = l_suppkey
          |  JOIN nation n1 ON n1.n_nationkey = s_nationkey
          |  WHERE r_name = 'ASIA'
          |  GROUP BY 1)
          |ORDER BY o_year""".stripMargin)),
    Query("q9_product_profit", (s, dir) => Relational.productProfit(s, dir),
      Oracle("""SELECT nation, o_year, sum_profit FROM (
          |  SELECT n_name AS nation,
          |    CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
          |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
          |      - 0.6 * p_retailprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
          |  FROM lineitem
          |  JOIN part ON p_partkey = l_partkey
          |  JOIN supplier ON s_suppkey = l_suppkey
          |  JOIN nation ON n_nationkey = s_nationkey
          |  JOIN orders ON o_orderkey = l_orderkey
          |  WHERE p_name LIKE '%widget%'
          |  GROUP BY 1, 2)
          |ORDER BY nation, o_year DESC""".stripMargin)),
    Query("q10_returned_items", (s, dir) => Relational.returnedItems(s, dir),
      Oracle("""SELECT c_custkey, c_name, c_acctbal, n_name, revenue FROM (
          |  SELECT c_custkey, c_name, c_acctbal, n_name,
          |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
          |  FROM lineitem
          |  JOIN orders ON o_orderkey = l_orderkey
          |  JOIN customer ON c_custkey = o_custkey
          |  JOIN nation ON n_nationkey = c_nationkey
          |  WHERE l_returnflag = 'R'
          |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |    AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          |  GROUP BY 1, 2, 3, 4)
          |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),
    Query("q11_important_parts", (s, dir) => Relational.importantParts(s, dir),
      Oracle(Relational.importantPartsSql)),
    Query("q15_top_supplier", (s, dir) => Relational.topSupplier(s, dir),
      Oracle(Relational.topSupplierSql)),
    Query("q20_volume_suppliers", (s, dir) => Relational.volumeSuppliers(s, dir),
      Oracle(Relational.volumeSuppliersSql())),

    Query("q_sessionize", (s, dir) =>
      Monitoring.sessionize(Tables.events(s, dir)).orderBy("user_id", "session_seq"),
      Oracle("""SELECT user_id, session_seq, count(*) AS n_events,
          |  (max(us) - min(us)) / 1000000 AS duration_sec
          |FROM (
          |  SELECT user_id, us, event_id,
          |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          |  FROM (
          |    SELECT user_id, event_id, epoch_us(ts) AS us,
          |      CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          |             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
          |    FROM events
          |    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)))
          |GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin)),

    // ordered-sequence funnel: one shuffle + codegen'd array fold vs the
    // oracle's n-self-join min cascade
    Query("q_resample_interp", (s, dir) =>
      TimeSeries.resampleHourlyInterp(Tables.events(s, dir)).orderBy("event_type", "bucket"),
      // linear interpolation at each grid instant: union of grid + obs rows,
      // one window per direction; exact-time observations sort before their
      // grid instant (side 0 < 1), so the weight degenerates to 0 there and
      // the division is micros-exact-integer over micros-exact-integer
      Oracle("""WITH ev AS (SELECT event_type, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS v, event_id
          |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
          |bounds AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
          |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
          |grid AS (SELECT k.event_type,
          |    unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS bucket
          |  FROM (SELECT DISTINCT event_type FROM events
          |        WHERE event_type IS NOT NULL AND ts IS NOT NULL) k, bounds b),
          |u AS (
          |  SELECT event_type, bucket, epoch_us(bucket) AS t_us, 1 AS side,
          |    NULL AS v, NULL AS oid FROM grid
          |  UNION ALL
          |  SELECT event_type, NULL, ts_us, 0, v, event_id FROM ev),
          |w AS (
          |  SELECT *,
          |    last_value(v IGNORE NULLS) OVER win_prev AS prev_v,
          |    last_value(CASE WHEN side = 0 THEN t_us END IGNORE NULLS) OVER win_prev AS prev_t,
          |    first_value(v IGNORE NULLS) OVER win_next AS next_v,
          |    first_value(CASE WHEN side = 0 THEN t_us END IGNORE NULLS) OVER win_next AS next_t
          |  FROM u
          |  WINDOW
          |    win_prev AS (PARTITION BY event_type ORDER BY t_us, side, oid
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |    win_next AS (PARTITION BY event_type ORDER BY t_us, side, oid DESC
          |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
          |SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
          |  CASE WHEN prev_t = t_us THEN prev_v
          |       WHEN prev_t IS NOT NULL AND next_t IS NOT NULL
          |       THEN prev_v + (next_v - prev_v)
          |            * (CAST(t_us - prev_t AS DOUBLE) / CAST(next_t - prev_t AS DOUBLE)) END
          |    AS interp_value
          |FROM w WHERE side = 1 ORDER BY event_type, bucket""".stripMargin)),

    Query("q_retention", (s, dir) =>
      Funnel.retentionCohorts(Tables.events(s, dir)).orderBy("cohort_week", "week_offset"),
      // week = integral epoch-micros // week_micros (// is floor division;
      // timestamps are non-negative, so it matches Spark's truncating DIV)
      Oracle("""WITH weeks AS (
          |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
          |  FROM events WHERE ts IS NOT NULL),
          |cohorts AS (SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY 1)
          |SELECT cohort_week, week - cohort_week AS week_offset, count(*) AS n_users
          |FROM weeks JOIN cohorts USING (user_id)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Query("q_quality_thin", (s, dir) =>
      Sampling.qualityThin(Tables.documents(s, dir), 1L, 2L).orderBy("doc_id"),
      // quality_score reproduced exactly as in text_quality's oracle; keep
      // test = per-row hex threshold over the md5 slice, all integer
      Oracle("""WITH q AS (
          |  SELECT doc_id,
          |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) * 0.4 +
          |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE)
          |      / len(string_split(text, ' ')) * 0.3 +
          |    CASE WHEN len(string_split(text, ' ')) >= 40 THEN 0.3
          |         ELSE CAST(len(string_split(text, ' ')) AS DOUBLE) / 40.0 * 0.3 END AS quality_score
          |  FROM documents),
          |qq AS (SELECT doc_id, CAST(floor(quality_score * 1000000.0) AS BIGINT) AS qq FROM q)
          |SELECT doc_id, qq FROM qq
          |WHERE 1 * qq >= 2 * 1000000
          |   OR substr(md5('qthin:' || CAST(doc_id AS VARCHAR)), 1, 5)
          |      < lpad(lower(to_hex((1 * qq * 1048576) // (2 * 1000000))), 5, '0')
          |ORDER BY doc_id""".stripMargin)),

    // the pre-training validation gate: one profile pass, declared rules,
    // auditable pass/fail report (the enforce() form throws naming every
    // violated expectation — spec'd)
    Query("q_data_expectations", (s, dir) => {
      import graft.ops.{Expectations => E}
      E.report(Tables.events(s, dir), Seq(
        E.nonEmpty("event_id"), E.notNull("event_id"), E.unique("event_id"),
        E.notNull("event_type"), E.notNull("value"),
        E.minAtLeast("value", 0.0), E.maxAtMost("value", 100000.0),
        E.unique("user_id")))
        .orderBy("column", "check")
    },
      // per-column profile via UNION ALL, rules as literal rows over it;
      // double min/max render through DECIMAL(28,6) in both engines
      Oracle("""WITH p AS (
          |  SELECT 'event_id' AS col_name, count(*) AS n_rows,
          |    count(CASE WHEN event_id IS NULL THEN 1 END) AS n_null,
          |    count(DISTINCT event_id) AS n_distinct,
          |    CAST(min(event_id) AS VARCHAR) AS min_value,
          |    CAST(max(event_id) AS VARCHAR) AS max_value FROM events
          |  UNION ALL SELECT 'event_type', count(*),
          |    count(CASE WHEN event_type IS NULL THEN 1 END),
          |    count(DISTINCT event_type),
          |    CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR) FROM events
          |  UNION ALL SELECT 'value', count(*),
          |    count(CASE WHEN value IS NULL THEN 1 END),
          |    count(DISTINCT value),
          |    CAST(CAST(min(value) AS DECIMAL(28,6)) AS VARCHAR),
          |    CAST(CAST(max(value) AS DECIMAL(28,6)) AS VARCHAR) FROM events
          |  UNION ALL SELECT 'user_id', count(*),
          |    count(CASE WHEN user_id IS NULL THEN 1 END),
          |    count(DISTINCT user_id),
          |    CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR) FROM events),
          |r AS (
          |  SELECT 'event_id' AS "column", 'non_empty' AS "check",
          |    'event_id must have rows' AS expectation, n_rows > 0 AS passed,
          |    n_rows, n_null, n_distinct, min_value, max_value FROM p WHERE col_name = 'event_id'
          |  UNION ALL SELECT 'event_id', 'not_null', 'event_id must contain no nulls',
          |    n_null = 0, n_rows, n_null, n_distinct, min_value, max_value FROM p WHERE col_name = 'event_id'
          |  UNION ALL SELECT 'event_id', 'unique', 'event_id must be unique among non-null values',
          |    n_distinct = n_rows - n_null, n_rows, n_null, n_distinct, min_value, max_value FROM p WHERE col_name = 'event_id'
          |  UNION ALL SELECT 'event_type', 'not_null', 'event_type must contain no nulls',
          |    n_null = 0, n_rows, n_null, n_distinct, min_value, max_value FROM p WHERE col_name = 'event_type'
          |  UNION ALL SELECT 'value', 'not_null', 'value must contain no nulls',
          |    n_null = 0, n_rows, n_null, n_distinct, min_value, max_value FROM p WHERE col_name = 'value'
          |  UNION ALL SELECT 'value', 'min_at_least', 'value minimum must be >= 0.0',
          |    CAST(min_value AS DOUBLE) >= 0.0, n_rows, n_null, n_distinct, min_value, max_value FROM p WHERE col_name = 'value'
          |  UNION ALL SELECT 'value', 'max_at_most', 'value maximum must be <= 100000.0',
          |    CAST(max_value AS DOUBLE) <= 100000.0, n_rows, n_null, n_distinct, min_value, max_value FROM p WHERE col_name = 'value'
          |  UNION ALL SELECT 'user_id', 'unique', 'user_id must be unique among non-null values',
          |    n_distinct = n_rows - n_null, n_rows, n_null, n_distinct, min_value, max_value FROM p WHERE col_name = 'user_id')
          |SELECT * FROM r ORDER BY "column", "check"""".stripMargin)),

    // integer-exact damped PageRank over the event-transition graph; the
    // oracle unrolls the same 5 iterations in SQL (no floats anywhere)
    Query("graph_pagerank", (s, dir) =>
      Graph.pagerankInt(Graph.eventTransitions(Tables.events(s, dir)))
        .orderBy("node"),
      Oracle(PAGERANK_SQL)),

    // synchronous min-tie label propagation over the undirected type
    // graph — fixed 5 rounds, bit-deterministic; oracle unrolls them
    Query("graph_communities", (s, dir) =>
      Graph.labelPropagation(Graph.eventTransitions(Tables.events(s, dir)))
        .orderBy("node"),
      Oracle(LPA_SQL)),

    // exact Markov transition shares over the type graph: integer counts
    // plus one bit-exact double division per row
    Query("graph_transition_probs", (s, dir) =>
      Graph.transitionProbs(Graph.eventTransitions(Tables.events(s, dir)))
        .orderBy("src", "dst"),
      Oracle("""WITH seq AS (SELECT user_id, event_type, ts, event_id FROM events
          |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL),
          |pairs AS (SELECT event_type AS src,
          |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
          |  FROM seq),
          |edges AS (SELECT src, dst, count(*) AS m FROM pairs WHERE dst IS NOT NULL
          |  GROUP BY 1, 2)
          |SELECT src, dst, m,
          |  CAST(sum(m) OVER (PARTITION BY src) AS BIGINT) AS w,
          |  CAST(m AS DOUBLE) / CAST(sum(m) OVER (PARTITION BY src) AS BIGINT) AS p
          |FROM edges ORDER BY src, dst""".stripMargin)),

    // robust anomaly screen: micro-quantized lower median / MAD / k·MAD
    // outlier counts — pure integer selection, zero interpolation
    Query("q_value_mad", (s, dir) =>
      Monitoring.madOutliers(Tables.events(s, dir)).orderBy("event_type"),
      Oracle("""WITH q AS (SELECT event_type, CAST(floor(value * 1000000.0) AS BIGINT) AS qv
          |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
          |r AS (SELECT event_type, qv,
          |    row_number() OVER (PARTITION BY event_type ORDER BY qv) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS n FROM q),
          |med AS (SELECT event_type, qv AS med_q FROM r WHERE rn = (n + 1) // 2),
          |d AS (SELECT q.event_type, q.qv, med.med_q, abs(q.qv - med.med_q) AS dev
          |      FROM q JOIN med USING (event_type)),
          |rd AS (SELECT event_type, dev,
          |    row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS n FROM d),
          |mad AS (SELECT event_type, dev AS mad_q FROM rd WHERE rn = (n + 1) // 2)
          |SELECT d.event_type, count(*) AS n, max(d.med_q) AS med_q,
          |  max(mad.mad_q) AS mad_q,
          |  CAST(sum(CASE WHEN d.dev > 3 * mad.mad_q THEN 1 ELSE 0 END) AS BIGINT) AS n_out
          |FROM d JOIN mad USING (event_type)
          |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)),

    // robust location next to MAD's robust spread: exact rank-selected
    // [p5, p95] cut points, integer clamp + sum, one rendering division
    Query("q_value_winsorize", (s, dir) =>
      Monitoring.winsorizedStats(Tables.events(s, dir)).orderBy("event_type"),
      // cut points by the same rank selection as the engine ((n-1)*p//100+1
      // on the micro-quantized values); rendering division in the
      // unigram_lp order so the double is bit-identical
      Oracle("""WITH q AS (SELECT event_type, CAST(floor(value * 1000000.0) AS BIGINT) AS qv
          |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
          |r AS (SELECT event_type, qv,
          |    row_number() OVER (PARTITION BY event_type ORDER BY qv) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS n FROM q),
          |cuts AS (SELECT event_type, min(qv) AS lo_q, max(qv) AS hi_q FROM r
          |  WHERE rn = (n - 1) * 5 // 100 + 1 OR rn = (n - 1) * 95 // 100 + 1
          |  GROUP BY 1)
          |SELECT q.event_type, count(*) AS n, max(lo_q) AS lo_q, max(hi_q) AS hi_q,
          |  CAST(sum(least(greatest(q.qv, lo_q), hi_q)) AS BIGINT) AS sum_w_q,
          |  CAST(CAST(sum(least(greatest(q.qv, lo_q), hi_q)) AS BIGINT) AS DOUBLE)
          |    / 1000000.0 / count(*) AS mean_w
          |FROM q JOIN cuts USING (event_type)
          |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // event-time disorder vs arrival order — the statistic that sizes
    // streaming watermarks; integer micros, one running-max window
    Query("q_disorder_audit", (s, dir) =>
      Monitoring.disorderAudit(Tables.events(s, dir)).orderBy("event_type"),
      // NULL prev_max on each type's first arrival falls to late 0 in both
      // engines (NULL > x is NULL, CASE else-branch)
      Oracle("""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us
          |  FROM events WHERE event_type IS NOT NULL),
          |m AS (SELECT event_type, ts_us,
          |    max(ts_us) OVER (PARTITION BY event_type ORDER BY event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_us
          |  FROM e),
          |d AS (SELECT event_type,
          |    CASE WHEN prev_max_us > ts_us THEN prev_max_us - ts_us ELSE 0 END AS late_us
          |  FROM m)
          |SELECT event_type, count(*) AS n,
          |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
          |  CAST(max(late_us) AS BIGINT) AS max_late_us,
          |  CAST(CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
          |    / count(*) AS late_rate
          |FROM d GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // the pre-join skew profile: top-20 hottest l_partkey values with
    // shares — the statistic that decides plain shuffle vs salting
    Query("q_join_skew_audit", (s, dir) =>
      graft.ops.Skew.keySkewAudit(Tables.lineitem(s, dir), "l_partkey").orderBy("rank"),
      // (n desc, key) is the engine's TakeOrdered tie rule; shares are
      // single divisions of exact longs
      Oracle("""WITH c AS (SELECT l_partkey AS key, count(*) AS n FROM lineitem
          |  WHERE l_partkey IS NOT NULL GROUP BY 1),
          |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
          |top AS (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 20),
          |r AS (SELECT key, CAST(n AS BIGINT) AS n,
          |    CAST(row_number() OVER (ORDER BY n DESC, key) AS BIGINT) AS rank,
          |    sum(n) OVER (ORDER BY n DESC, key
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM top)
          |SELECT key, n, rank, CAST(n AS DOUBLE) / n_total AS share,
          |  CAST(cum AS DOUBLE) / n_total AS cum_share
          |FROM r, t ORDER BY rank""".stripMargin)),

    // referential-integrity preflight over the TPC-H relations: anti
    // joins against deduped parent keys, scalar-cross summary rows
    Query("q_ref_integrity", (s, dir) =>
      Expectations.orphanAudit(Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey", "lineitem->orders")
        .unionByName(Expectations.orphanAudit(Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey", "orders->customer"))
        .orderBy("relation"),
      // orphans via NOT EXISTS (NULL-safe where NOT IN is not); the
      // scalar one-row CTEs mirror the engine's bounded crosses
      Oracle("""WITH l AS (SELECT count(*) AS n_child, count(l_orderkey) AS n_nonnull FROM lineitem),
          |lo AS (SELECT count(*) AS n_orphans FROM lineitem
          |  WHERE l_orderkey IS NOT NULL
          |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)),
          |c AS (SELECT count(*) AS n_child, count(o_custkey) AS n_nonnull FROM orders),
          |co AS (SELECT count(*) AS n_orphans FROM orders
          |  WHERE o_custkey IS NOT NULL
          |    AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
          |SELECT 'lineitem->orders' AS relation, l.n_child,
          |  l.n_child - l.n_nonnull AS n_null_keys, lo.n_orphans,
          |  CAST(lo.n_orphans AS DOUBLE) / l.n_child AS orphan_rate FROM l, lo
          |UNION ALL
          |SELECT 'orders->customer', c.n_child, c.n_child - c.n_nonnull, co.n_orphans,
          |  CAST(co.n_orphans AS DOUBLE) / c.n_child FROM c, co
          |ORDER BY relation""".stripMargin)),

    // CDC reconciliation: mid-month latest-value snapshot vs the full
    // month's, diffed by one full-outer join into exact counts
    Query("q_snapshot_diff", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("value").isNotNull)
      def latest(df: DataFrame): DataFrame = df.groupBy("user_id")
        .agg(max_by(col("value"), struct(col("ts_us"), col("event_id"))).as("v"))
      Incremental.snapshotDiff(
        latest(ev.filter(dayofmonth(col("ts")) < 15)), latest(ev), "user_id", "v")
    },
      // latest-per-key picks mirror max_by(value, (ts_us, event_id))
      Oracle("""WITH e AS (SELECT user_id, event_id, ts, value FROM events
          |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
          |o AS (SELECT user_id, value AS v_old FROM (
          |    SELECT user_id, value, row_number() OVER (PARTITION BY user_id
          |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
          |    FROM e WHERE day(ts) < 15) WHERE rn = 1),
          |n AS (SELECT user_id, value AS v_new FROM (
          |    SELECT user_id, value, row_number() OVER (PARTITION BY user_id
          |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
          |    FROM e) WHERE rn = 1),
          |j AS (SELECT o.v_old, n.v_new FROM o FULL OUTER JOIN n USING (user_id))
          |SELECT count(v_old) AS n_old, count(v_new) AS n_new,
          |  CAST(sum(CASE WHEN v_old IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
          |  CAST(sum(CASE WHEN v_new IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          |  CAST(sum(CASE WHEN v_old IS NOT NULL AND v_new IS NOT NULL
          |                 AND v_old <> v_new THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
          |  CAST(sum(CASE WHEN v_old = v_new THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
          |FROM j""".stripMargin)),

    // empirical-CDF normalization: ties share a RANGE-frame position,
    // one double division of exact longs per row
    Query("q_value_cdf", (s, dir) =>
      Monitoring.quantileNormalize(Tables.events(s, dir)).orderBy("event_id"),
      // RANGE frame (not rows) so ties share one deterministic position
      Oracle("""WITH q AS (SELECT event_id, event_type,
          |    CAST(floor(value * 1000000.0) AS BIGINT) AS qv
          |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
          |w AS (SELECT event_id, event_type, qv,
          |    CAST(count(*) OVER (PARTITION BY event_type ORDER BY qv
          |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_le,
          |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
          |  FROM q)
          |SELECT event_id, event_type, qv, n_le, n,
          |  CAST(n_le AS DOUBLE) / n AS cdf
          |FROM w ORDER BY event_id""".stripMargin)),

    // PAA time-series similarity: which types share a temporal shape —
    // 64 integer segments, decimal-exact pairwise distance
    Query("q_series_paa_dist", (s, dir) =>
      TimeSeries.paaProfileDistance(Tables.events(s, dir)).orderBy("key_a", "key_b"),
      // the same hourly frame as cusum, compressed to 64 integer
      // segments; HUGEINT squared diffs cast to double once
      Oracle("""WITH q AS (SELECT event_type AS key,
          |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us,
          |    CAST(floor(value * 1000000.0) AS BIGINT) AS qv
          |  FROM events
          |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
          |h AS (SELECT key, bucket_us, sum(qv) AS swq FROM q GROUP BY 1, 2),
          |sp AS (SELECT min(bucket_us) AS h_min, max(bucket_us) AS h_max FROM h),
          |s AS (SELECT key,
          |    CAST((bucket_us - h_min) * 64 // (h_max - h_min + 3600000000) AS INT) AS seg,
          |    CAST(sum(swq) AS BIGINT) AS sv
          |  FROM h, sp GROUP BY 1, 2),
          |grid AS (SELECT k.key, g.seg
          |  FROM (SELECT DISTINCT key FROM s) k CROSS JOIN (SELECT DISTINCT seg FROM s) g),
          |dense AS (SELECT grid.key, grid.seg, coalesce(s.sv, 0) AS sv
          |  FROM grid LEFT JOIN s USING (key, seg))
          |SELECT a.key AS key_a, b.key AS key_b, count(*) AS n_segs,
          |  CAST(sum((CAST(a.sv AS HUGEINT) - b.sv) * (CAST(a.sv AS HUGEINT) - b.sv))
          |    AS VARCHAR) AS dist_sq
          |FROM dense a JOIN dense b ON a.seg = b.seg AND a.key < b.key
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // volume-spike detection vs the trailing-24h baseline — the burst
    // axis next to CUSUM's drift; cross-multiplied integer gate
    Query("q_burst_hours", (s, dir) =>
      TimeSeries.burstHours(Tables.events(s, dir)).orderBy("key"),
      // the burst gate is the cross-multiplied integer comparison; only
      // the reported peak ratio divides
      Oracle("""WITH q AS (SELECT event_type AS key,
          |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us
          |  FROM events
          |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
          |h AS (SELECT key, bucket_us, count(*) AS n FROM q GROUP BY 1, 2),
          |w AS (SELECT key, n,
          |    sum(n) OVER (PARTITION BY key ORDER BY bucket_us
          |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS t_sum,
          |    count(*) OVER (PARTITION BY key ORDER BY bucket_us
          |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS t_cnt
          |  FROM h)
          |SELECT key, count(*) AS n_hours,
          |  CAST(sum(CASE WHEN t_cnt > 0 AND n * t_cnt > 3 * t_sum
          |                THEN 1 ELSE 0 END) AS BIGINT) AS n_burst_hours,
          |  max(CASE WHEN t_cnt > 0 THEN CAST(n * t_cnt AS DOUBLE) / t_sum END)
          |    AS max_ratio
          |FROM w GROUP BY 1 ORDER BY key""".stripMargin)),

    // who moves first: argmax-lag exact cross-correlation numerator
    // over the hourly series, ±3h scan, decimal-string dots
    Query("q_series_lead_lag", (s, dir) =>
      TimeSeries.leadLagDot(Tables.events(s, dir)).orderBy("key_a", "key_b"),
      // argmax by (dot DESC, lag) row_number — the engine's rank window;
      // HUGEINT dots rendered as strings (the PAA 2^64 rule)
      Oracle("""WITH q AS (SELECT event_type AS key,
          |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us,
          |    CAST(floor(value * 1000000.0) AS BIGINT) AS qv
          |  FROM events
          |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
          |h AS (SELECT key, bucket_us, sum(qv) AS swq FROM q GROUP BY 1, 2),
          |l AS (SELECT key AS key_b, bucket_us, swq AS swq_b,
          |    unnest(range(-3, 4)) AS lag FROM h),
          |j AS (SELECT a.key AS key_a, l.key_b, l.lag,
          |    sum(CAST(a.swq AS HUGEINT) * l.swq_b) AS dot, count(*) AS n_overlap
          |  FROM h a JOIN l ON a.bucket_us = l.bucket_us + l.lag * 3600000000
          |    AND a.key < l.key_b
          |  GROUP BY 1, 2, 3),
          |r AS (SELECT key_a, key_b, lag, dot, n_overlap,
          |    row_number() OVER (PARTITION BY key_a, key_b
          |      ORDER BY dot DESC, lag) AS rn
          |  FROM j)
          |SELECT key_a, key_b, CAST(lag AS BIGINT) AS best_lag,
          |  CAST(n_overlap AS BIGINT) AS n_overlap, CAST(dot AS VARCHAR) AS dot
          |FROM r WHERE rn = 1 ORDER BY key_a, key_b""".stripMargin)),

    // seasonality diagnostic: lag-1..12 autocorrelation of the hourly
    // activity series, exact integer moments to one division + sqrt
    Query("q_series_acf", (s, dir) =>
      TimeSeries.hourlyAcf(Tables.events(s, dir)).orderBy("lag"),
      // hourly counts pair at (h, h+lag) only where BOTH hours have rows
      // (sparse convention, as lead_lag); HUGEINT moments mirror the
      // engine's decimal(38,0); ts floor-div is non-negative epoch so
      // // == floor == the engine's floorDiv
      Oracle("""WITH hourly AS (SELECT epoch_us(ts) // 3600000000 AS h,
          |    CAST(count(*) AS HUGEINT) AS c
          |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
          |pairs AS (SELECT l.lag, a.c AS x, b.c AS y
          |  FROM (SELECT unnest(range(1, 13)) AS lag) l
          |  CROSS JOIN hourly a
          |  JOIN hourly b ON b.h = a.h + l.lag),
          |m AS (SELECT lag, CAST(count(*) AS HUGEINT) AS n,
          |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
          |    sum(x * x) AS sxx, sum(y * y) AS syy
          |  FROM pairs GROUP BY 1)
          |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
          |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
          |       ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
          |            sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
          |                 CAST(n * syy - sy * sy AS DOUBLE)) END AS acf
          |FROM m ORDER BY lag""".stripMargin)),

    // the per-metric resolution of the same diagnostic: which TYPES
    // have a daily cycle (pairs keyed on (type, hour))
    Query("q_series_acf_by_type", (s, dir) =>
      TimeSeries.hourlyAcfByKey(Tables.events(s, dir)).orderBy("key", "lag"),
      // per-type resolution: identical moment arithmetic with the pair
      // join keyed on (type, hour)
      Oracle("""WITH hourly AS (SELECT event_type AS key,
          |    epoch_us(ts) // 3600000000 AS h, CAST(count(*) AS HUGEINT) AS c
          |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
          |  GROUP BY 1, 2),
          |pairs AS (SELECT a.key, l.lag, a.c AS x, b.c AS y
          |  FROM (SELECT unnest(range(1, 13)) AS lag) l
          |  CROSS JOIN hourly a
          |  JOIN hourly b ON b.key = a.key AND b.h = a.h + l.lag),
          |m AS (SELECT key, lag, CAST(count(*) AS HUGEINT) AS n,
          |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
          |    sum(x * x) AS sxx, sum(y * y) AS syy
          |  FROM pairs GROUP BY 1, 2)
          |SELECT key, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
          |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
          |       ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
          |            sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
          |                 CAST(n * syy - sy * sy AS DOUBLE)) END AS acf
          |FROM m ORDER BY key, lag""".stripMargin)),

    // daily mix concentration by Gini-Simpson (1 - sum p^2): the
    // log-free entropy surrogate, exact to one division
    Query("q_type_diversity", (s, dir) =>
      Expectations.dailyDiversity(Tables.events(s, dir)).orderBy("day"),
      // (N^2 - sum c^2) / N^2 in HUGEINT, one division — the strftime
      // day matches the engine's date_format under the UTC session
      Oracle("""WITH c AS (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
          |    CAST(count(*) AS HUGEINT) AS c
          |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
          |  GROUP BY 1, 2),
          |m AS (SELECT day, sum(c) AS n, count(*) AS n_categories,
          |    sum(c * c) AS sc2
          |  FROM c GROUP BY 1)
          |SELECT day, CAST(n AS BIGINT) AS n,
          |  CAST(n_categories AS BIGINT) AS n_categories,
          |  CAST(n * n - sc2 AS DOUBLE) / CAST(n * n AS DOUBLE) AS diversity
          |FROM m ORDER BY day""".stripMargin)),

    // nonparametric drift: integer-exact two-sample KS distance of doc
    // lengths between the doc_id-parity halves, per language
    Query("text_length_ks", (s, dir) =>
      Expectations.ksDistance(Tables.documents(s, dir), "n_chars",
        col("doc_id") % 2 === 1, "lang").orderBy("lang"),
      // max |cum_a*n_b - cum_b*n_a| over the merged value grid — every
      // candidate integer, one division renders D
      Oracle("""WITH c AS (SELECT lang, n_chars AS v,
          |    sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
          |    sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
          |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
          |  GROUP BY 1, 2),
          |w AS (SELECT lang,
          |    sum(ca) OVER (PARTITION BY lang ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
          |    sum(cb) OVER (PARTITION BY lang ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
          |    sum(ca) OVER (PARTITION BY lang) AS tot_a,
          |    sum(cb) OVER (PARTITION BY lang) AS tot_b
          |  FROM c)
          |SELECT lang, CAST(max(tot_a) AS BIGINT) AS n_a,
          |  CAST(max(tot_b) AS BIGINT) AS n_b,
          |  CASE WHEN max(tot_a) > 0 AND max(tot_b) > 0 THEN
          |    CAST(max(abs(cum_a * tot_b - cum_b * tot_a)) AS DOUBLE)
          |      / CAST(max(tot_a) * max(tot_b) AS DOUBLE)
          |  END AS ks
          |FROM w GROUP BY 1 ORDER BY lang""".stripMargin)),

    // the same generic KS over micro-quantized VALUES between month
    // halves — did each type's level distribution move, not just its mean
    Query("q_value_ks", (s, dir) =>
      Expectations.ksDistance(
        Tables.events(s, dir).withColumn("qv",
          floor(col("value") * 1000000.0).cast("long")),
        "qv", dayofmonth(col("ts")) >= 15, "event_type").orderBy("event_type"),
      // the generic KS shape over micro-quantized values, month halves
      Oracle("""WITH c AS (SELECT event_type, CAST(floor(value * 1000000.0) AS BIGINT) AS v,
          |    sum(CASE WHEN day(ts) < 15 THEN 1 ELSE 0 END) AS ca,
          |    sum(CASE WHEN day(ts) >= 15 THEN 1 ELSE 0 END) AS cb
          |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
          |  GROUP BY 1, 2),
          |w AS (SELECT event_type,
          |    sum(ca) OVER (PARTITION BY event_type ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
          |    sum(cb) OVER (PARTITION BY event_type ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
          |    sum(ca) OVER (PARTITION BY event_type) AS tot_a,
          |    sum(cb) OVER (PARTITION BY event_type) AS tot_b
          |  FROM c)
          |SELECT event_type, CAST(max(tot_a) AS BIGINT) AS n_a,
          |  CAST(max(tot_b) AS BIGINT) AS n_b,
          |  CASE WHEN max(tot_a) > 0 AND max(tot_b) > 0 THEN
          |    CAST(max(abs(cum_a * tot_b - cum_b * tot_a)) AS DOUBLE)
          |      / CAST(max(tot_a) * max(tot_b) AS DOUBLE)
          |  END AS ks
          |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // diurnal peak: each type's busiest hour-of-day and its share —
    // struct-max pick, one division of exact longs; served from the
    // same (day, hour, type) counts frame the diversity family shares
    Query("q_diurnal_peak", (s, dir) =>
      Monitoring.diurnalPeak(Tables.events(s, dir)).orderBy("event_type"),
      // (c DESC, hour) row_number mirrors max_by's (c, -hour) struct pick
      Oracle("""WITH h AS (SELECT event_type,
          |    CAST(epoch_us(ts) % 86400000000 // 3600000000 AS BIGINT) AS hour,
          |    count(*) AS c
          |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
          |  GROUP BY 1, 2),
          |r AS (SELECT event_type, hour, c,
          |    row_number() OVER (PARTITION BY event_type ORDER BY c DESC, hour) AS rn,
          |    sum(c) OVER (PARTITION BY event_type) AS n
          |  FROM h)
          |SELECT event_type, CAST(n AS BIGINT) AS n, hour AS peak_hour,
          |  CAST(c AS BIGINT) AS peak_n, CAST(c AS DOUBLE) / n AS peak_share
          |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // chi-square drift of the event-type mix, first half vs second half
    // of the month — decimal-exact numerators, one double division
    Query("q_type_drift", (s, dir) => {
      val ev = Tables.events(s, dir)
      Expectations.distributionDrift(
        ev.filter(dayofmonth(col("ts")) < 15),
        ev.filter(dayofmonth(col("ts")) >= 15), "event_type")
        .orderBy("event_type")
    },
      // HUGEINT numerator/denominator cast to double and divided ONCE —
      // mirrors the engine's decimal(38,0) discipline
      Oracle("""WITH o AS (SELECT event_type, count(*) AS c_old FROM events
          |  WHERE event_type IS NOT NULL AND day(ts) < 15 GROUP BY 1),
          |n AS (SELECT event_type, count(*) AS c_new FROM events
          |  WHERE event_type IS NOT NULL AND day(ts) >= 15 GROUP BY 1),
          |t AS (SELECT (SELECT sum(c_old) FROM o) AS n_old,
          |             (SELECT sum(c_new) FROM n) AS n_new),
          |j AS (SELECT event_type, coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
          |      FROM o FULL OUTER JOIN n USING (event_type))
          |SELECT j.event_type, CAST(c_old AS BIGINT) AS c_old, CAST(c_new AS BIGINT) AS c_new,
          |  CASE WHEN c_old > 0 THEN
          |    CAST((CAST(c_new AS HUGEINT) * n_old - CAST(c_old AS HUGEINT) * n_new)
          |       * (CAST(c_new AS HUGEINT) * n_old - CAST(c_old AS HUGEINT) * n_new) AS DOUBLE)
          |    / CAST(CAST(c_old AS HUGEINT) * n_new * n_old AS DOUBLE)
          |  END AS chi2_term
          |FROM j, t ORDER BY event_type""".stripMargin)),

    // exact-moment Pearson correlation (decimal/HUGEINT integers until
    // the final division and correctly-rounded sqrt)
    Query("q_value_hour_corr", (s, dir) =>
      Monitoring.valueHourCorr(Tables.events(s, dir)).orderBy("event_type"),
      Oracle("""WITH q AS (SELECT event_type,
          |    CAST(floor(value * 1000000.0) AS HUGEINT) AS x,
          |    CAST(epoch_us(ts) % 86400000000 // 3600000000 AS HUGEINT) AS y
          |  FROM events
          |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
          |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
          |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
          |    sum(x * x) AS sxx, sum(y * y) AS syy
          |  FROM q GROUP BY 1)
          |SELECT event_type, CAST(n AS BIGINT) AS n,
          |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
          |       ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
          |            sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
          |                 CAST(n * syy - sy * sy AS DOUBLE)) END AS corr_xy
          |FROM m ORDER BY event_type""".stripMargin)),

    // Pearson on within-type min-ranks: the monotone-robust dependence
    // measure, integer-exact to the final division + sqrt
    Query("q_value_hour_rankcorr", (s, dir) =>
      Monitoring.valueHourRankCorr(Tables.events(s, dir)).orderBy("event_type"),
      // min-rank (rank(), not tie-averaged) mirrors the engine exactly
      Oracle("""WITH q0 AS (SELECT event_type,
          |    CAST(floor(value * 1000000.0) AS BIGINT) AS qv,
          |    CAST(epoch_us(ts) % 86400000000 // 3600000000 AS HUGEINT) AS y
          |  FROM events
          |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
          |q AS (SELECT event_type, y,
          |    CAST(rank() OVER (PARTITION BY event_type ORDER BY qv) AS HUGEINT) AS x
          |  FROM q0),
          |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
          |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
          |    sum(x * x) AS sxx, sum(y * y) AS syy
          |  FROM q GROUP BY 1)
          |SELECT event_type, CAST(n AS BIGINT) AS n,
          |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
          |       ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
          |            sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
          |                 CAST(n * syy - sy * sy AS DOUBLE)) END AS rank_corr
          |FROM m ORDER BY event_type""".stripMargin)),

    // the post-screen drill-down: each type's k lowest/highest readings
    // with deterministic (qv, event_id) tie order
    Query("q_value_extremes", (s, dir) =>
      Monitoring.valueExtremes(Tables.events(s, dir))
        .orderBy("event_type", "side", "rank"),
      // both windows rank the (quantized value, event_id) tuple
      Oracle("""WITH q AS (SELECT event_type, event_id, value,
          |    CAST(floor(value * 1000000.0) AS BIGINT) AS qv
          |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
          |lo AS (SELECT event_type, 'low' AS side,
          |    CAST(row_number() OVER (PARTITION BY event_type
          |      ORDER BY qv, event_id) AS BIGINT) AS rank, event_id, value
          |  FROM q),
          |hi AS (SELECT event_type, 'high' AS side,
          |    CAST(row_number() OVER (PARTITION BY event_type
          |      ORDER BY qv DESC, event_id DESC) AS BIGINT) AS rank, event_id, value
          |  FROM q)
          |SELECT * FROM (SELECT * FROM lo WHERE rank <= 3
          |  UNION ALL SELECT * FROM hi WHERE rank <= 3)
          |ORDER BY event_type, side, rank""".stripMargin)),

    // equi-depth bin edges by pure-integer rank selection, with the
    // exact ≤-edge counts that make tie inflation visible
    Query("q_equidepth_bins", (s, dir) =>
      Monitoring.equidepthBins(Tables.events(s, dir)).orderBy("event_type", "bin"),
      Oracle("""WITH q AS (SELECT event_type, CAST(floor(value * 1000000.0) AS BIGINT) AS qv
          |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
          |r AS (SELECT event_type, qv,
          |    row_number() OVER (PARTITION BY event_type ORDER BY qv) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS n FROM q),
          |cum AS (SELECT event_type, qv,
          |    sum(cnt) OVER (PARTITION BY event_type ORDER BY qv
          |                   ROWS UNBOUNDED PRECEDING) AS n_le
          |  FROM (SELECT event_type, qv, count(*) AS cnt FROM q GROUP BY 1, 2)),
          |edges AS (SELECT r.event_type, b.bin, r.qv AS edge_q
          |  FROM r CROSS JOIN (SELECT unnest(range(1, 11)) AS bin) b
          |  WHERE r.rn = (b.bin * r.n + 9) // 10)
          |SELECT e.event_type AS event_type, e.bin, e.edge_q,
          |  CAST(c.n_le AS BIGINT) AS n_le
          |FROM edges e JOIN cum c ON c.event_type = e.event_type AND c.qv = e.edge_q
          |ORDER BY e.event_type, e.bin""".stripMargin)),

    // CUSUM drift flags via the prefix-min identity (recursive max(0,·)
    // = P - cummin(P)) — two windows, pure integer arithmetic
    // integer-exact EWMA level tracking over the hourly series: rational
    // alpha, floor division each step, one per-key fold — the oracle
    // replays the recurrence with a recursive CTE
    Query("q_ewma_hourly", (s, dir) =>
      TimeSeries.ewmaHourly(Tables.events(s, dir)).orderBy("key", "bucket_us"),
      // the EWMA recurrence replayed stepwise by a recursive CTE over the
      // row-numbered hourly frame; // is DuckDB's floor division, matching
      // the engine's explicit posmod floor-div spelling on negatives
      Oracle("""WITH RECURSIVE q AS (SELECT event_type AS key,
          |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us,
          |    CAST(floor(value * 1000000.0) AS BIGINT) AS qv
          |  FROM events
          |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
          |hourly AS (SELECT key, bucket_us, CAST(sum(qv) AS BIGINT) AS swq
          |  FROM q GROUP BY 1, 2),
          |hx AS (SELECT key, bucket_us, swq,
          |    CAST(row_number() OVER (PARTITION BY key ORDER BY bucket_us) AS BIGINT) AS i
          |  FROM hourly),
          |ew AS (
          |  SELECT key, i, bucket_us, swq, swq AS s FROM hx WHERE i = 1
          |  UNION ALL
          |  SELECT h.key, h.i, h.bucket_us, h.swq,
          |    (1 * h.swq + 3 * e.s) // 4 AS s
          |  FROM ew e JOIN hx h ON h.key = e.key AND h.i = e.i + 1)
          |SELECT key, bucket_us, swq, CAST(s AS BIGINT) AS ewma_q
          |FROM ew ORDER BY key, bucket_us""".stripMargin)),

    // integer-exact Holt level+trend forecasting: rational alpha/beta,
    // explicit floor division at BOTH recurrence steps (trend deltas go
    // negative on declines — where floor and truncation diverge), one
    // per-key fold off the same hourly seam as the EWMA
    Query("q_holt_trend", (s, dir) =>
      TimeSeries.holtHourly(Tables.events(s, dir)).orderBy("key", "bucket_us"),
      // Holt level+trend: the same recursive-CTE replay as the EWMA, with
      // floor division spelled explicitly ((x - posmod(x, den)) // den) —
      // the trend step's numerator goes negative on declining series, where
      // DuckDB's truncating // and the recurrence's floor diverge
      Oracle("""WITH RECURSIVE q AS (SELECT event_type AS key,
          |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us,
          |    CAST(floor(value * 1000000.0) AS BIGINT) AS qv
          |  FROM events
          |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
          |hourly AS (SELECT key, bucket_us, CAST(sum(qv) AS BIGINT) AS swq
          |  FROM q GROUP BY 1, 2),
          |hx AS (SELECT key, bucket_us, swq,
          |    CAST(row_number() OVER (PARTITION BY key ORDER BY bucket_us) AS BIGINT) AS i
          |  FROM hourly),
          |ho AS (
          |  SELECT key, i, bucket_us, swq, swq AS l, CAST(0 AS BIGINT) AS b
          |  FROM hx WHERE i = 1
          |  UNION ALL
          |  SELECT h.key, h.i, h.bucket_us, h.swq,
          |    ((1 * h.swq + 3 * (e.l + e.b))
          |      - (((1 * h.swq + 3 * (e.l + e.b)) % 4 + 4) % 4)) // 4 AS l,
          |    ((1 * (((1 * h.swq + 3 * (e.l + e.b))
          |          - (((1 * h.swq + 3 * (e.l + e.b)) % 4 + 4) % 4)) // 4 - e.l)
          |        + 1 * e.b)
          |      - (((1 * (((1 * h.swq + 3 * (e.l + e.b))
          |            - (((1 * h.swq + 3 * (e.l + e.b)) % 4 + 4) % 4)) // 4 - e.l)
          |          + 1 * e.b) % 2 + 2) % 2)) // 2 AS b
          |  FROM ho e JOIN hx h ON h.key = e.key AND h.i = e.i + 1)
          |SELECT key, bucket_us, swq, CAST(l AS BIGINT) AS level_q,
          |  CAST(b AS BIGINT) AS trend_q, CAST(l + b AS BIGINT) AS forecast_q
          |FROM ho ORDER BY key, bucket_us""".stripMargin)),

    Query("q_cusum_drift", (s, dir) =>
      TimeSeries.cusumDrift(Tables.events(s, dir)).orderBy("key", "bucket_us"),
      Oracle("""WITH q AS (SELECT event_type AS key,
          |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us,
          |    CAST(floor(value * 1000000.0) AS BIGINT) AS qv
          |  FROM events
          |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
          |hourly AS (SELECT key, bucket_us, CAST(sum(qv) AS BIGINT) AS swq,
          |    count(*) AS n FROM q GROUP BY 1, 2),
          |ref AS (SELECT CASE WHEN sum(qv) >= 0
          |      THEN CAST(sum(qv) AS BIGINT) // count(*)
          |      ELSE -(CAST(-sum(qv) AS BIGINT) // count(*)) END AS k_ref FROM q),
          |px AS (SELECT key, bucket_us, n,
          |    sum(swq - k_ref * n) OVER w AS p,
          |    k_ref
          |  FROM hourly CROSS JOIN ref
          |  WINDOW w AS (PARTITION BY key ORDER BY bucket_us
          |               ROWS UNBOUNDED PRECEDING)),
          |cs AS (SELECT key, bucket_us, n, k_ref,
          |    p - min(p) OVER (PARTITION BY key ORDER BY bucket_us
          |                     ROWS UNBOUNDED PRECEDING) AS s
          |  FROM px)
          |SELECT key, bucket_us, n, CAST(s AS BIGINT) AS cusum_q,
          |  s * 10 > 1 * k_ref * n AS drift
          |FROM cs ORDER BY key, bucket_us""".stripMargin)),

    // deterministic Poisson bootstrap: hex-threshold weights, exact
    // integer replicate sums, rank-selected band — hash-matchable CI
    Query("q_bootstrap_ci", (s, dir) =>
      Sampling.bootstrapCI(Tables.events(s, dir)).orderBy("event_type"),
      Oracle("""WITH q AS (SELECT event_type, event_id,
          |    CAST(floor(value * 1000000.0) AS BIGINT) AS qv
          |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
          |hg AS (SELECT event_type, qv, g,
          |    md5('boot:' || CAST(event_id AS VARCHAR) || ':' || CAST(g AS VARCHAR)) AS h
          |  FROM q CROSS JOIN (SELECT unnest(range(25)) AS g) r),
          |reps AS (SELECT event_type, qv, substr(h, 1 + 8 * j, 8) AS h8,
          |    g * 4 + j AS rep
          |  FROM hg CROSS JOIN (SELECT unnest(range(4)) AS j) s),
          |wt AS (SELECT event_type, rep, qv,
          |    CASE WHEN h8 < '5e2d58d8' THEN 0 WHEN h8 < 'bc5ab1b1' THEN 1
          |         WHEN h8 < 'eb715e1d' THEN 2 WHEN h8 < 'fb239797' THEN 3
          |         WHEN h8 < 'ff1025f5' THEN 4 WHEN h8 < 'ffd90f3b' THEN 5
          |         WHEN h8 < 'fffa8b71' THEN 6 ELSE 7 END AS w
          |  FROM reps),
          |mb AS (SELECT event_type, rep,
          |    CAST(CAST(sum(w * qv) AS BIGINT) AS DOUBLE) / CAST(sum(w) AS BIGINT) AS mean_b
          |  FROM wt GROUP BY 1, 2 HAVING CAST(sum(w) AS BIGINT) > 0),
          |rk AS (SELECT event_type, mean_b,
          |    row_number() OVER (PARTITION BY event_type ORDER BY mean_b) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS nb FROM mb),
          |lo AS (SELECT event_type, mean_b AS ci_lo FROM rk
          |  WHERE rn = greatest(1, CAST(ceil(0.05 * nb) AS BIGINT))),
          |hi AS (SELECT event_type, mean_b AS ci_hi FROM rk
          |  WHERE rn = greatest(1, CAST(ceil(0.95 * nb) AS BIGINT))),
          |pt AS (SELECT event_type, count(*) AS n,
          |    CAST(CAST(sum(qv) AS BIGINT) AS DOUBLE) / count(*) AS mean_q
          |  FROM q GROUP BY 1)
          |SELECT pt.event_type, n, mean_q, ci_lo, ci_hi
          |FROM pt JOIN lo USING (event_type) JOIN hi USING (event_type)
          |ORDER BY event_type""".stripMargin)),

    // Misra-Gries proposes (no token shuffle), exact pass disposes: the
    // n/k guarantee makes the verified output deterministic, so a plain
    // HAVING oracle hash-matches a sketch-driven plan
    Query("q_heavy_tokens", (s, dir) =>
      HeavyHitters.heavyTokens(Tables.documents(s, dir)).orderBy("token"),
      Oracle("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
          |  FROM documents WHERE text IS NOT NULL),
          |tt AS (SELECT token FROM t WHERE token <> ''),
          |tot AS (SELECT count(*) AS n FROM tt)
          |SELECT token, count(*) AS cnt
          |FROM tt CROSS JOIN tot
          |GROUP BY token, tot.n
          |HAVING count(*) * 32 > tot.n
          |ORDER BY token""".stripMargin)),

    // dangling-mass-conserving PageRank on the event-chain graph, whose
    // per-user terminal events are certified sinks; the oracle unrolls
    // the same iterations with the same per-iteration dangling scalar
    Query("graph_pagerank_dangling", (s, dir) =>
      Graph.pagerankInt(Graph.eventChainEdges(Tables.events(s, dir)),
          redistributeDangling = true)
        .orderBy("node"),
      Oracle(PAGERANK_DANGLING_SQL)),

    // market-basket lift over part pairs with co-order support >= 2;
    // integer counts, one bit-exact double division
    Query("q_basket_lift", (s, dir) =>
      Graph.basketLift(Tables.lineitem(s, dir)).orderBy("a", "b"),
      Oracle(BASKET_LIFT_SQL)),

    // the directional companion: confidence P(cons | ante), both
    // directions per surviving pair, exact counts, one division
    Query("q_basket_confidence", (s, dir) =>
      Graph.basketConfidence(Tables.lineitem(s, dir)).orderBy("ante", "cons"),
      Oracle("""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          |pc AS (SELECT a.p AS a, b.p AS b, count(*) AS n_ab
          |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2
          |       HAVING count(*) >= 2),
          |parts AS (SELECT p, count(*) AS n_p FROM op GROUP BY 1),
          |dir AS (SELECT a AS ante, b AS cons, n_ab FROM pc
          |        UNION ALL SELECT b, a, n_ab FROM pc)
          |SELECT d.ante AS ante, d.cons, d.n_ab, pa.n_p AS n_ante,
          |  CAST(d.n_ab AS DOUBLE) / pa.n_p AS confidence
          |FROM dir d JOIN parts pa ON pa.p = d.ante
          |ORDER BY d.ante, d.cons""".stripMargin)),

    // incremental maintenance of the same view: split on the ORDER key
    // (basket-atomic — a date split would sever baskets, spec'd as a
    // negative law), merge the monoid state, serve; oracle = the direct
    // computation's SQL, so merge-then-serve must equal recompute exactly
    Query("q_basket_increment", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val prev = Incremental.partialBasketStats(li.filter(col("l_orderkey") % 2 === 0))
      val delta = Incremental.partialBasketStats(li.filter(col("l_orderkey") % 2 === 1))
      Incremental.serveBasketLift(Incremental.mergeBasketStats(prev, delta))
        .orderBy("a", "b")
    },
      // identical to q_basket_lift by the merge law: the oracle recomputes
      // directly, the engine merges the order-key split
      Oracle(BASKET_LIFT_SQL)),

    // per-part triangle counts on the co-ordered-parts graph; the engine
    // enumerates by degree-ordered wedge closure, the oracle by plain
    // id-order — the triangle SET is orientation-invariant
    Query("graph_triangles", (s, dir) =>
      Graph.triangleCounts(Graph.coOrderedParts(Tables.lineitem(s, dir)))
        .orderBy("part"),
      // id-ordered enumeration (a < b < c with all three edges present) —
      // the orientation-free statement of the same exact triangle set
      Oracle("""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          |e AS (SELECT DISTINCT a.p AS a, b.p AS b
          |      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
          |tri AS (SELECT e1.a, e1.b, e2.b AS c
          |        FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
          |        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
          |SELECT part, count(*) AS n_tri FROM (
          |  SELECT a AS part FROM tri UNION ALL
          |  SELECT b FROM tri UNION ALL
          |  SELECT c FROM tri)
          |GROUP BY part ORDER BY part""".stripMargin)),

    // k-core decomposition on the same co-parts graph: fixed-round
    // synchronous h-operator iterate (degree -> h-index of neighbor
    // values, provably convergent to coreness), oracle unrolls the
    // identical rounds
    Query("graph_kcore", (s, dir) =>
      Graph.kCore(Graph.coOrderedParts(Tables.lineitem(s, dir)))
        .orderBy("node"),
      Oracle(KCORE_SQL)),

    // incremental view maintenance: the engine merges a two-way split of
    // the history; the oracle recomputes directly — the associativity law
    Query("q_rollup_increment", (s, dir) => {
      val ev = Tables.events(s, dir)
      val prev = Incremental.partialRollup(ev.filter(dayofmonth(col("ts")) < 15))
      val delta = Incremental.partialRollup(ev.filter(dayofmonth(col("ts")) >= 15))
      Incremental.mergeRollups(prev, delta)
        .select("event_type", "day", "n", "sum_q", "min_v", "max_v")
        .orderBy("event_type", "day")
    },
      // the oracle is the DIRECT rollup — merge(partial(A), partial(B)) must
      // equal partial(A ∪ B); sums are micro-quantized integers (exact)
      Oracle("""SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
          |  CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_q,
          |  min(value) AS min_v, max(value) AS max_v
          |FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Query("q_scd2_intervals", (s, dir) => {
      val iv = TimeSeries.validityIntervals(Tables.events(s, dir),
        Seq("event_type"), "ts", "event_id", Seq("value"))
      iv.select(col("event_type"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("value"))
        .orderBy("event_type", "valid_from")
    },
      // same-ts versions pre-reduce to the greatest event_id (the as-of tie
      // rule); the open-ended last version's valid_to is null
      Oracle("""WITH v AS (SELECT event_type, ts, value,
          |    row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id DESC) AS vrank
          |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
          |d AS (SELECT event_type, ts, value FROM v WHERE vrank = 1)
          |SELECT event_type,
          |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
          |  strftime(lead(ts) OVER (PARTITION BY event_type ORDER BY ts),
          |           '%Y-%m-%d %H:%M:%S') AS valid_to,
          |  value
          |FROM d ORDER BY event_type, valid_from""".stripMargin)),

    Query("q_funnel", (s, dir) =>
      Funnel.funnel(Tables.events(s, dir), Seq("view", "click", "purchase"))
        .orderBy("user_id"),
      // stage k+1 must be STRICTLY later than the recorded stage-k time, so
      // the walk's first-qualifying pick equals the min-cascade below
      Oracle(s"""WITH $FUNNEL_CTES
           |SELECT user_id, stage_reached, t1_us, t2_us, t3_us FROM f
           |ORDER BY user_id""".stripMargin)),

    // day-1 window: at this corpus's density every user converts over the
    // full month, so the rollup is windowed to keep stage variety
    Query("q_funnel_rollup", (s, dir) =>
      Funnel.conversionRollup(
        Tables.events(s, dir)
          .filter(col("ts") < to_timestamp(lit("2024-01-02 00:00:00"))),
        Seq("view", "click", "purchase"))
        .orderBy("stage_reached"),
      Oracle(s"""WITH $FUNNEL_DAY1_CTES
           |SELECT stage_reached, count(*) AS n_users,
           |  CAST(sum(t3_us - t1_us) AS DOUBLE) / count(t3_us) AS avg_convert_us
           |FROM f GROUP BY stage_reached ORDER BY stage_reached""".stripMargin)),

    // as-of join: purchases to the same user's most recent prior view
    Query("q_asof_attribution", (s, dir) =>
      TimeSeries.purchaseAttribution(Tables.events(s, dir)).orderBy("event_id"),
      // v is pre-reduced to one row per (user_id, ts) keeping the greatest
      // event_id (with ITS value, atomically): DuckDB's ASOF JOIN has no
      // tie-break among right rows sharing a timestamp, while the Spark side
      // pins (ts, event_id) — without the reduction, agreement would hinge on
      // the data never holding duplicate (user_id, ts) view rows
      Oracle(ASOF_ATTRIBUTION_SQL)),

    // regular hourly grid + forward fill: the resample/gap-fill staple
    Query("q_resample_ffill", (s, dir) =>
      TimeSeries.resampleHourly(Tables.events(s, dir))
        .orderBy("event_type", "bucket"),
      // last-in-bucket pick mirrors max_by(value, (ts, event_id)); the
      // fill window reads the GRID, nulls before a key's first observation
      Oracle("""WITH bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
          |                       date_trunc('hour', max(ts)) AS hi FROM events),
          |grid AS (SELECT k.event_type,
          |    unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS bucket
          |  FROM (SELECT DISTINCT event_type FROM events) k, bounds b),
          |ranked AS (SELECT event_type, date_trunc('hour', ts) AS bucket, value,
          |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
          |      ORDER BY ts DESC, event_id DESC) AS rn,
          |    count(*) OVER (PARTITION BY event_type, date_trunc('hour', ts)) AS n_obs
          |  FROM events),
          |hourly AS (SELECT event_type, bucket, n_obs, value AS last_value
          |  FROM ranked WHERE rn = 1)
          |SELECT g.event_type, strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
          |  coalesce(h.n_obs, 0) AS n_obs,
          |  last_value(h.last_value IGNORE NULLS) OVER (
          |    PARTITION BY g.event_type ORDER BY g.bucket
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
          |FROM grid g LEFT JOIN hourly h
          |  ON h.event_type = g.event_type AND h.bucket = g.bucket
          |ORDER BY g.event_type, g.bucket""".stripMargin)),

    // the hot-key bucketed refinement produces identical output (carry-in
    // across 6h buckets), so it shares the plain form's oracle
    Query("q_asof_attribution_bucketed", (s, dir) =>
      TimeSeries.purchaseAttribution(Tables.events(s, dir),
        bucketUs = Some(6L * 3600L * 1000000L)).orderBy("event_id"),
      // bucketed refinement == the plain as-of, same oracle
      Oracle(ASOF_ATTRIBUTION_SQL)),

    // nearest-event join: minimum |Δt| either direction (as-of is its
    // backward half); tie policy (|Δt|, view id) mirrored in the oracle
    Query("q_nearest_view", (s, dir) => {
      val ev = Tables.events(s, dir)
      TimeSeries.nearestJoin(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "view"),
          Seq("user_id"), "ts_us", "event_id", payload = Seq("event_id"))
        .select(col("event_id"), col("user_id"),
          col("nearest_event_id").as("view_event_id"),
          col("nearest_dist").as("dist_us"))
        .orderBy("event_id")
    },
      Oracle("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
          |           WHERE event_type = 'purchase'),
          |     v AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
          |           WHERE event_type = 'view'),
          |cand AS (
          |  SELECT p.event_id, v.event_id AS view_event_id,
          |    abs(p.ts_us - v.ts_us) AS d,
          |    row_number() OVER (PARTITION BY p.event_id
          |      ORDER BY abs(p.ts_us - v.ts_us), v.event_id) AS rn
          |  FROM p JOIN v ON p.user_id = v.user_id)
          |SELECT p.event_id AS event_id, p.user_id AS user_id,
          |  c.view_event_id AS view_event_id, c.d AS dist_us
          |FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c ON c.event_id = p.event_id
          |ORDER BY event_id""".stripMargin)),

    // RANGE-frame window: trailing 1h mean/count per event type
    Query("q_trailing_avg", (s, dir) =>
      Monitoring.trailingStats(Tables.events(s, dir)).orderBy("event_id"),
      Oracle("""SELECT event_id, event_type,
          |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
          |    / count(*) OVER w AS trailing_avg,
          |  count(*) OVER w AS n_window
          |FROM (SELECT event_id, event_type, value, epoch_us(ts) AS ts_us FROM events)
          |WINDOW w AS (PARTITION BY event_type ORDER BY ts_us
          |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin)),

    // range join: purchases contained in the same user's browse sessions
    Query("q_range_sessions", (s, dir) =>
      TimeSeries.purchasesInSessions(Tables.events(s, dir))
        .orderBy("user_id", "session_seq", "event_id"),
      Oracle("""WITH base AS (
          |  SELECT user_id, event_id, epoch_us(ts) AS us,
          |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          |          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
          |  FROM events WHERE event_type IN ('click', 'view')
          |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
          |sess AS (
          |  SELECT user_id,
          |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq,
          |    us
          |  FROM base),
          |bounds AS (
          |  SELECT user_id, session_seq, min(us) AS start_us,
          |    min(us) - 3600000000 AS win_start_us, max(us) + 3600000000 AS win_end_us
          |  FROM sess GROUP BY 1, 2),
          |p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
          |      FROM events WHERE event_type = 'purchase')
          |SELECT p.user_id AS user_id, b.session_seq AS session_seq,
          |  p.event_id AS event_id, p.value AS purchase_value,
          |  p.ts_us - b.start_us AS offset_us
          |FROM p JOIN bounds b ON p.user_id = b.user_id
          |  AND p.ts_us BETWEEN b.win_start_us AND b.win_end_us
          |ORDER BY user_id, session_seq, event_id""".stripMargin)),

    // grouping sets: per-(station, level) counts with station subtotals
    Query("q_alert_rollup", (s, dir) =>
      enriched(s, dir)
        .rollup(col("wlobscd"), col("alert_level"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("wlobscd"), lit("<all>")).as("station"),
          coalesce(col("alert_level"), lit("<all>")).as("level"),
          col("n"))
        .orderBy("station", "level"),
      Oracle(C +
        """SELECT coalesce(wlobscd, '<all>') AS station,
          |  coalesce(alert_level, '<all>') AS level, count(*) AS n
          |FROM alerts GROUP BY ROLLUP (wlobscd, alert_level)
          |ORDER BY station, level""".stripMargin)),

    // full CUBE: every grouping-set combination, incl. the per-level
    // margin ROLLUP cannot produce
    Query("q_alert_cube", (s, dir) =>
      enriched(s, dir)
        .cube(col("wlobscd"), col("alert_level"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("wlobscd"), lit("<all>")).as("station"),
          coalesce(col("alert_level"), lit("<all>")).as("level"),
          col("n"))
        .orderBy("station", "level"),
      Oracle(C +
        """SELECT coalesce(wlobscd, '<all>') AS station,
          |  coalesce(alert_level, '<all>') AS level, count(*) AS n
          |FROM alerts GROUP BY CUBE (wlobscd, alert_level)
          |ORDER BY station, level""".stripMargin)),

    // arbitrary GROUPING SETS (the three sets rollup can't pick: both
    // margins plus the detail, NO grand total), disambiguated by
    // grouping_id — the bit vector both engines derive identically
    Query("q_alert_grouping_sets", (s, dir) =>
      enriched(s, dir)
        .groupingSets(
          Seq(Seq(col("wlobscd")), Seq(col("alert_level")),
            Seq(col("wlobscd"), col("alert_level"))),
          col("wlobscd"), col("alert_level"))
        .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
        .select(
          coalesce(col("wlobscd"), lit("<all>")).as("station"),
          coalesce(col("alert_level"), lit("<all>")).as("level"),
          col("n"), col("gid"))
        .orderBy("gid", "station", "level"),
      Oracle(C +
        """SELECT coalesce(wlobscd, '<all>') AS station,
          |  coalesce(alert_level, '<all>') AS level, count(*) AS n,
          |  CAST(2 * GROUPING(wlobscd) + GROUPING(alert_level) AS BIGINT) AS gid
          |FROM alerts
          |GROUP BY GROUPING SETS ((wlobscd), (alert_level), (wlobscd, alert_level))
          |ORDER BY gid, station, level""".stripMargin)),

    // pivot: station × alert-level count matrix (fixed level list so the
    // output schema is static and oracle-expressible)
    Query("q_alert_pivot", (s, dir) =>
      enriched(s, dir)
        .groupBy(col("wlobscd").as("station"))
        .pivot("alert_level", Seq("NORMAL", "ATTENTION", "CAUTION", "WARNING", "CRITICAL", "ANOMALY"))
        .agg(count(lit(1)))
        .na.fill(0L) // zero-fills the missing pivot cells (count itself is never null)
        .orderBy("station"),
      Oracle(C +
        """SELECT wlobscd AS station,
          |  count(CASE WHEN alert_level = 'NORMAL' THEN 1 END) AS "NORMAL",
          |  count(CASE WHEN alert_level = 'ATTENTION' THEN 1 END) AS "ATTENTION",
          |  count(CASE WHEN alert_level = 'CAUTION' THEN 1 END) AS "CAUTION",
          |  count(CASE WHEN alert_level = 'WARNING' THEN 1 END) AS "WARNING",
          |  count(CASE WHEN alert_level = 'CRITICAL' THEN 1 END) AS "CRITICAL",
          |  count(CASE WHEN alert_level = 'ANOMALY' THEN 1 END) AS "ANOMALY"
          |FROM alerts GROUP BY 1 ORDER BY station""".stripMargin)),

    // set operation: users active in the first month but silent after
    Query("q_churned_users", (s, dir) => {
      val ev = Tables.events(s, dir)
      val cutoff = to_timestamp(lit("2024-02-01 00:00:00"))
      ev.filter(col("ts") < cutoff).select("user_id")
        .except(ev.filter(col("ts") >= cutoff).select("user_id"))
        .orderBy("user_id")
    },
      Oracle("""SELECT user_id FROM events WHERE ts < TIMESTAMP '2024-02-01 00:00:00'
          |EXCEPT
          |SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY user_id""".stripMargin)),
  )
}
