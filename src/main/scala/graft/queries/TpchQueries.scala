package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.Tables
import graft.functions.FixedPointSum.sumFix
import QueryDef.q

/** TPC-H-shaped multi-join headliners (q3/q5/q9 shapes, adapted to the
  * fixture schema — no partsupp table, generator date range 1995-2001).
  * These pin the plans that matter most at 100 TB: fact-fact shuffle
  * joins on their natural keys, selective dimension filters applied
  * BEFORE the join, fixed-size dims (nation/region) broadcast, and
  * exact DECIMAL intermediates for the revenue sums (QueryDef
  * determinism contract).
  *
  * Reference: these shapes reach the reference through SQL pass-through
  * (pg_conn.go:314) and run on DuckDB's native join/agg operators; here
  * Catalyst+AQE pick broadcast vs shuffle per side.
  */
object TpchQueries {

  // the money columns are 2-decimal values stored as DOUBLE; casting
  // to DECIMAL(18,2) rounds ~5e-13 away from the true value — both
  // engines land on the same decimal every row (an 18,6 cast rounds at
  // the 6th decimal, where one row in ~200k sits on a knife edge and
  // the two engines' rounding can split — observed on the q9 subset)
  //
  // Exact fixed-point fast path: price→cents and discount→hundredths
  // become LONGs (round() lands on the same integer as the DECIMAL
  // cast — the doubles sit within ~1e-11 of it, never at a .005 knife
  // edge), the per-row multiply is a codegen'd LONG op, and the sum
  // runs through FixedPointSum — a two-long 124-bit accumulator whose
  // update is pure primitive codegen (no Decimal allocation per row,
  // no overflow cliff: capacity 4e37 vs the ~9.2e14 currency units
  // where a raw LONG sum would wrap at 100 TB). unscaleRev divides the
  // EXACT DECIMAL(38,0) sum back down before the double cast, so the
  // emitted double is bit-identical to the DECIMAL(18,2) arithmetic
  // the oracle runs. Measured: q3 at sf3 1.9 → 1.3 s for the long
  // multiply alone — Spark's BigDecimal multiply/sum path is the
  // single biggest per-row cost in the revenue queries.
  // one codegen'd multiply+floor per row, no BigDecimal — see
  // functions/DecimalExpressions.scala (DoubleToScaledLong)
  private def cents(c: String) = graft.functions.DoubleToScaledLong.cents(col(c))
  // rev stays a raw LONG per row; the exactness moves into the
  // aggregate itself: FixedPointSum accumulates in a two-long 124-bit
  // buffer (zero allocation, pure codegen long ops) and emits the
  // exact DECIMAL(38,0) per group — see functions/FixedPointSum.scala
  private def revenue = (cents("l_extendedprice") * (lit(100L) - cents("l_discount"))).as("rev")
  private def zeroRev = lit(0L)
  private def unscaleRev(c: org.apache.spark.sql.Column) = (c / 10000).cast("double")
  // single-column money/quantity sums ride the same fast path at
  // scale 100: cents as a raw long into the fixed-point aggregate
  private def centsDec(c: String) = cents(c)
  private def unscale100(c: org.apache.spark.sql.Column) = (c / 100).cast("double")

  // DuckDB avg(INT)/sum(INT) return HUGEINT/DOUBLE variants that differ
  // from Spark's long/double — every count-ish aggregate is cast to
  // BIGINT on both sides, every money sum through DECIMAL(18,2).
  lazy val all: Seq[QueryDef] = coreSix ++ adaptedRest

  private lazy val coreSix: Seq[QueryDef] = Seq(

    // q3 shape: shipping-priority top-N — 3-table join, group on the
    // fact key, TakeOrderedAndProject top-10
    q("q_tpch_q3",
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1997-06-15' AND l_shipdate > TIMESTAMP '1997-06-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      // dimension-side filters BEFORE the joins: the scans ship only
      // qualifying rows into the exchanges
      val cust = t.customer.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = t.orders.filter(col("o_orderdate") < lit("1997-06-15"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = t.lineitem.filter(col("l_shipdate") > lit("1997-06-15"))
        .select(col("l_orderkey"), revenue)
      // aggregate lineitem BEFORE the join (o_orderdate is functionally
      // dependent on the group key, so per-orderkey revenue is the same
      // reduction): lineitem is orderkey-clustered in any realistic
      // layout, so the map-side partial compacts ~4:1 and the join
      // ships one pre-summed row per order instead of every line —
      // the q21 two-level lesson applied. The filtered orders⋈customer
      // side shrinks to ~10% of orders; AQE broadcast-promotes it at
      // bench tiers and splits it if skewed at cluster scale.
      val liAgg = li.groupBy(col("l_orderkey")).agg(sumFix(col("rev")).as("rev_sum"))
      liAgg
        .join(ord.join(cust, col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), unscaleRev(col("rev_sum")).as("revenue"),
          col("o_orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    },

    // q5 shape: local-supplier volume — the 6-table chain; nation and
    // region are fixed-size (25/5 rows) and broadcast, the three fact
    // joins shuffle on their natural keys
    q("q_tpch_q5",
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val asiaNations = t.nation.join(
        broadcast(t.region.filter(col("r_name") === "ASIA").select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      // suppliers restricted to the region up front — the supplier
      // join then carries n_name along for free
      val supp = t.supplier.join(broadcast(asiaNations),
        col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val ord = t.orders
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = t.lineitem.select(col("l_orderkey"), col("l_suppkey"), revenue)
      // the orders⋈lineitem join is hinted shuffle_hash with the date-
      // filtered orders side as build: the statistics estimate of the
      // pruned lineitem projection dips under the broadcast threshold
      // at the benchmark tier and Catalyst then BROADCASTS THE FACT
      // TABLE (a serial driver build that would be nonsense at scale);
      // a per-partition hash join on the orderkey with the selective
      // side as build is the right shape at every tier (measured
      // 1.55 s → 0.94 s at sf0.1, AQE-off). r14 A/B (BENCH_NOTES):
      // the hint is NOT pessimizing larger tiers — sf1 1.26 vs 1.18
      // hint-free (window noise), sf10 6.11 vs 6.24 (tie).
      //
      // customer side (r14 A/B): broadcasting the 2-column projection
      // beats the o_custkey shuffle at sf1 (1.26 → 1.03 s) and ties at
      // sf0.1/sf10 — but customer SCALES with SF, so a forced
      // broadcast() would exceed Spark's 8 GB broadcast cap (and die)
      // around sf3000. ADAPTIVE instead: broadcast only while the
      // optimizer's size estimate of the pruned projection stays under
      // 256 MB (plan-time metadata, no job); past that the plan reverts
      // to the shuffle join — the only shape that exists at 100 TB.
      ord.join({
          val cust = t.customer.select(col("c_custkey"), col("c_nationkey"))
          val est = cust.queryExecution.optimizedPlan.stats.sizeInBytes
          if (est < (256L << 20)) broadcast(cust) else cust
        }, col("o_custkey") === col("c_custkey"))
        .hint("shuffle_hash")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(unscaleRev(sumFix(col("rev"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // q9 shape: product-type profit by nation and year — selective
    // LIKE on part before the partkey shuffle join, nation broadcast
    q("q_tpch_q9",
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS profit
        |FROM part, lineitem, supplier, orders, nation
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |  AND s_nationkey = n_nationkey AND p_name LIKE '%red%'
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY nation, o_year DESC""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      // the two selective dims broadcast EXPLICITLY: the filtered part
      // keys (~6% of part, 8 bytes each) and the 2-column supplier
      // projection are MBs at any tier, and hinting them keeps the only
      // unavoidable shuffle (filtered-lineitem ⋈ orders) as the plan's
      // single wide edge even where stats under- or over-estimate
      val redParts = t.part.filter(col("p_name").like("%red%")).select("p_partkey")
      val li = t.lineitem.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), revenue)
      li.join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .join(t.orders.select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.supplier.select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(unscaleRev(sumFix(col("rev"))).as("profit"))
        .select(col("n_name").as("nation"), col("o_year"), col("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    // q18 shape: large-volume customer — group-HAVING semi-join. The
    // oracle's `IN (GROUP BY … HAVING)` + re-aggregation is collapsed
    // into ONE lineitem scan: the HAVING aggregate already carries the
    // per-order quantity sum, so the semi-join side IS the re-aggregated
    // value and lineitem is never scanned twice. At 100 TB that halves
    // the dominant fact-scan cost; the surviving orders (~1%) then join
    // orders/customer on their natural keys.
    q("q_tpch_q18",
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |                     HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val bigOrders = t.lineitem
        .select(col("l_orderkey"), centsDec("l_quantity").as("qty"))
        .groupBy(col("l_orderkey"))
        .agg(sumFix(col("qty")).as("sum_qty_dec"))
        .filter(col("sum_qty_dec") > 25000)
      bigOrders
        .join(t.orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t.customer.select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), unscale100(col("sum_qty_dec")).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
    },

    // q21 shape: waiting-supplier count — EXISTS + NOT EXISTS on the
    // same fact (classic double correlated anti-join; fixture has no
    // receiptdate, so "late" := l_returnflag = 'R'). Both subqueries
    // collapse into ONE per-order aggregate over a single lineitem
    // scan: EXISTS(other supplier) ⇔ countDistinct(supplier) ≥ 2, and
    // NOT EXISTS(other late supplier) ⇔ countDistinct(late supplier)=1
    // (l1 itself is late, so it is the one). Three correlated scans of
    // the 100 TB fact become one scan + one keyed shuffle that all
    // three join legs reuse.
    q("q_tpch_q21",
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey AND n_name = 'NATION_7'
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val li = t.lineitem.select(col("l_orderkey"), col("l_suppkey"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("is_r"))
      // ONE shuffle of the raw fact AND one aggregate for the whole
      // reduction. The (order, supplier) roll-up of earlier shapes is
      // gone: the EXISTS/NOT-EXISTS distinct-supplier tests collapse to
      // min/max identities —
      //   ≥2 distinct suppliers        ⇔ min(sk) ≠ max(sk)
      //   exactly 1 distinct late supp ⇔ min(late sk) = max(late sk) ≠ null
      // and when exactly one supplier is late, sum(is_r) IS that
      // supplier's R-line count. So a single per-order aggregate with
      // five primitive accumulators replaces the 15M-entry (order,
      // supplier) hash roll-up. Plain two-level groupBy, NO explicit
      // repartition (r9 A/B, the r8 verdict's ask): lineitem is
      // clustered by l_orderkey in any realistic layout — each order's
      // ~4 lines are contiguous in one scan split — so the map-side
      // partial compacts ~4:1 and shuffles narrow partial rows instead
      // of the raw fact. Measured (AQE on): sf1 1.22→0.78 s,
      // sf3 2.65→1.36 s (≈2.5× DuckDB, was 5.2×); sf0.1 bench config
      // 0.66→0.61 s. The "partials will not compact" reasoning behind
      // the old explicit repartition assumed a random row layout that
      // no generator or warehouse produces.
      val perOrder = li
        .groupBy(col("l_orderkey"))
        .agg(
          min(col("l_suppkey")).as("sk_min"),
          max(col("l_suppkey")).as("sk_max"),
          min(when(col("is_r") === 1L, col("l_suppkey"))).as("late_min"),
          max(when(col("is_r") === 1L, col("l_suppkey"))).as("late_max"),
          sum(col("is_r")).as("n_r_lines"))
        .filter(col("sk_min") =!= col("sk_max")
          && col("late_min").isNotNull
          && col("late_min") === col("late_max"))
        .select(col("l_orderkey"), col("late_min").as("l_suppkey"), col("n_r_lines"))
      val ordF = t.orders.filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
      // nation is fixed-size → broadcast; supplier stays a shuffle join
      // (at 100 TB supplier is a 1B-row dim; AQE demotes to broadcast
      // when the filtered side is actually small)
      val supp = t.supplier.join(
          broadcast(t.nation.filter(col("n_name") === "NATION_7").select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      perOrder
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(sum(col("n_r_lines")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(100)
    }
  )

  /** The remaining 16 TPC-H shapes, adapted to the fixture schema (no
    * partsupp — the distinct (l_partkey, l_suppkey) pairs of lineitem
    * stand in as the part-supplier bridge; no commit/receipt dates —
    * l_returnflag = 'R' stands in for "late"; no c_phone — c_nationkey
    * % 10 stands in for the country code). Every query keeps the
    * ORIGINAL query's plan challenge: q2 correlated-max, q4 EXISTS
    * semi-join, q6 selective scan, q7/q8 nation-pair volume joins, q10
    * returned-item top-N, q11 scalar-subquery HAVING, q12 conditional
    * counts, q13 outer-join histogram, q14 conditional share, q15
    * view + scalar max, q16 bridge + NOT IN, q17 correlated avg, q19
    * disjunctive join, q20 nested semi-join, q22 anti-join + scalar avg.
    */
  private lazy val adaptedRest: Seq[QueryDef] = Seq(

    // q2 shape: max-acctbal supplier per qualifying part (correlated
    // max). The part filter lands BEFORE the bridge distinct, so the
    // distinct processes only qualifying pairs; the per-part max is a
    // groupBy + join-back (no window over a global sort).
    q("q_tpch_q2",
      """WITH ps AS (SELECT DISTINCT l.l_partkey, l.l_suppkey
        |            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |            WHERE p.p_size <= 15 AND p.p_type = 'LARGE'),
        |sp AS (SELECT ps.l_partkey AS partkey, s.s_suppkey, s.s_name, s.s_acctbal, s.s_nationkey
        |       FROM ps JOIN supplier s ON s.s_suppkey = ps.l_suppkey)
        |SELECT sp.s_acctbal, sp.s_name, n.n_name, sp.partkey AS p_partkey
        |FROM sp JOIN nation n ON sp.s_nationkey = n.n_nationkey
        |WHERE sp.s_acctbal = (SELECT max(sp2.s_acctbal) FROM sp sp2 WHERE sp2.partkey = sp.partkey)
        |ORDER BY sp.s_acctbal DESC, p_partkey, sp.s_name LIMIT 100""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val qualParts = t.part.filter(col("p_size") <= 15 && col("p_type") === "LARGE")
        .select("p_partkey")
      val bridge = t.lineitem.select(col("l_partkey"), col("l_suppkey"))
        .join(qualParts, col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey").as("partkey"), col("l_suppkey")).distinct()
      val sp = bridge.join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .select(col("partkey"), col("s_name"), col("s_acctbal"), col("s_nationkey"))
      val best = sp.groupBy(col("partkey")).agg(max(col("s_acctbal")).as("best_bal"))
        .withColumnRenamed("partkey", "bp")
      sp.join(best, col("partkey") === col("bp") && col("s_acctbal") === col("best_bal"))
        .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("partkey").as("p_partkey"))
        .orderBy(col("s_acctbal").desc, col("p_partkey"), col("s_name")).limit(100)
    },

    // q4 shape: order-priority checking — EXISTS becomes a left-semi
    // join; the lineitem side projects only the join key
    q("q_tpch_q4",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.orders
        .filter(col("o_orderdate") >= lit("1997-01-01") && col("o_orderdate") < lit("1997-10-01"))
        .join(t.lineitem.filter(col("l_returnflag") === "R").select("l_orderkey"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },

    // q6 shape: forecasting-revenue change — the pure selective-scan
    // aggregate; all three predicates push to the parquet scan
    q("q_tpch_q6",
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01")
          && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(unscaleRev(sumFix(cents("l_extendedprice") * cents("l_discount"))).as("revenue"))
    },

    // q7 shape: volume shipping between two nations — both directions of
    // the (supplier-nation, customer-nation) pair; the two nation dims
    // broadcast, the OR pair filter runs after both small joins
    q("q_tpch_q7",
      """SELECT supp_nation, cust_nation, l_year, CAST(sum(volume) AS DOUBLE) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |             year(l_shipdate) AS l_year,
        |             CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
        |      FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
        |        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |        AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01') shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val pair = Seq("NATION_1", "NATION_2")
      // suppliers/customers restricted to the two nations up front: the
      // fact joins then ship only qualifying rows
      val supp = t.supplier.join(
          broadcast(t.nation.filter(col("n_name").isin(pair: _*))
            .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("snk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = t.customer.join(
          broadcast(t.nation.filter(col("n_name").isin(pair: _*))
            .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("cnk"))
        .select(col("c_custkey"), col("cust_nation"))
      val li = t.lineitem
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_suppkey"), year(col("l_shipdate")).as("l_year"), revenue)
      li.join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(unscaleRev(sumFix(col("rev"))).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },

    // q8 shape: national market share — share of one nation's suppliers
    // in the ECONOMY-part market by year; conditional numerator over the
    // same exact-decimal volume, division done in DOUBLE on both sides
    q("q_tpch_q8",
      """SELECT o_year,
        |  CAST(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |     / CAST(sum(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
        |FROM (SELECT year(o_orderdate) AS o_year, n_name AS nation,
        |             CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
        |      FROM part, lineitem, orders, supplier, nation
        |      WHERE p_partkey = l_partkey AND o_orderkey = l_orderkey AND s_suppkey = l_suppkey
        |        AND s_nationkey = n_nationkey AND p_type = 'ECONOMY'
        |        AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01') all_nations
        |GROUP BY o_year ORDER BY o_year""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val econParts = t.part.filter(col("p_type") === "ECONOMY").select("p_partkey")
      val li = t.lineitem.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), revenue)
      li.join(econParts, col("l_partkey") === col("p_partkey"))
        .join(t.orders
            .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
            .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t.supplier.select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("o_year"))
        .agg((unscaleRev(sumFix(when(col("n_name") === "NATION_3", col("rev"))
            .otherwise(zeroRev)))
          / unscaleRev(sumFix(col("rev")))).cast("double").as("mkt_share"))
        .orderBy(col("o_year"))
    },

    // q10 shape: returned-item reporting — top-20 customers by lost
    // revenue; one quarter of orders, only 'R' lines, nation broadcast
    q("q_tpch_q10",
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val ord = t.orders
        .filter(col("o_orderdate") >= lit("1997-01-01") && col("o_orderdate") < lit("1997-04-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = t.lineitem.filter(col("l_returnflag") === "R").select(col("l_orderkey"), revenue)
      ord.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey")).agg(sumFix(col("rev")).as("rev_dec"))
        .join(t.customer.select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), unscaleRev(col("rev_dec")).as("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    },

    // q11 shape: important-stock identification — per-part value with a
    // HAVING against a scalar subquery of the grand total; the scalar is
    // a 1-row broadcast cross join, never a driver-side collect
    q("q_tpch_q11",
      """SELECT l_partkey AS ps_partkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value
        |FROM lineitem GROUP BY l_partkey
        |HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) >
        |  (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 0.0005 FROM lineitem)
        |ORDER BY value DESC, ps_partkey LIMIT 100""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      // explicit repartition + partition-local agg: l_partkey is
      // effectively random per row, so a two-phase groupBy's map-side
      // partial pass hashes 18M rows for ~no compaction and then
      // shuffles partial rows WIDER than the raw (key, cents-long)
      // pair. One lean raw shuffle + one hash agg measured 12% faster
      // at sf3 and strictly fewer bytes at every tier.
      val perPart = t.lineitem
        .select(col("l_partkey"), centsDec("l_extendedprice").as("price"))
        .repartition(col("l_partkey"))
        .groupBy(col("l_partkey")).agg(sumFix(col("price")).as("val_dec"))
      // the global threshold re-aggregates the per-part DECIMAL partials
      // (lossless decomposition: sum of group sums == direct sum), so
      // both consumers share one fact scan via ReusedExchange instead of
      // scanning lineitem twice — unlike q21's reverted one-scan rewrite,
      // the shared subtree here ends at an EXCHANGE, which physical
      // planning reuses even with AQE off
      val total = perPart
        .agg((unscale100(sum(col("val_dec"))) * 0.0005).as("threshold"))
      perPart.join(broadcast(total))
        .filter(unscale100(col("val_dec")) > col("threshold"))
        .select(col("l_partkey").as("ps_partkey"), unscale100(col("val_dec")).as("value"))
        .orderBy(col("value").desc, col("ps_partkey")).limit(100)
    },

    // q12 shape: shipping-priority line counts — conditional counts per
    // class (fixture: l_linestatus stands in for l_shipmode)
    q("q_tpch_q12",
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey AND l_returnflag = 'A'
        |  AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t.lineitem
        .filter(col("l_returnflag") === "A"
          && col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_linestatus"))
        .join(t.orders.select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(hi, 1L).otherwise(0L)).cast("long").as("high_line_count"),
          sum(when(!hi, 1L).otherwise(0L)).cast("long").as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },

    // q13 shape: customer order-count distribution — LEFT OUTER join
    // with an ON-clause residual, then a histogram of the counts
    // (two-level aggregation; count(o_orderkey) counts only matches)
    q("q_tpch_q13",
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      // aggregate orders to (custkey, n) BEFORE the outer join: the
      // count distributes over the join key, so the join ships one row
      // per customer-with-orders instead of every order row (map-side
      // combine on the orders scan; at 100 TB orders is the big side)
      val perCust = t.orders.filter(col("o_orderpriority") =!= "5-LOW")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      t.customer.select("c_custkey")
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("n"), lit(0L)).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // q14 shape: promotion-effect share — conditional numerator over one
    // month of lineitem joined to part; division in DOUBLE on both sides
    q("q_tpch_q14",
      """SELECT CAST(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |          / CAST(sum(volume) AS DOUBLE) AS DOUBLE) AS promo_revenue
        |FROM (SELECT p_type, CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
        |      FROM lineitem, part
        |      WHERE l_partkey = p_partkey
        |        AND l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01') pr""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .filter(col("l_shipdate") >= lit("1997-09-01") && col("l_shipdate") < lit("1997-10-01"))
        .select(col("l_partkey"), revenue)
        .join(t.part.select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) * unscaleRev(sumFix(when(col("p_type") === "PROMO", col("rev"))
            .otherwise(zeroRev)))
          / unscaleRev(sumFix(col("rev")))).cast("double").as("promo_revenue"))
    },

    // q15 shape: top supplier — the revenue "view" is built once and
    // reused for both the per-supplier rows and the scalar max (exact
    // DECIMAL equality, no double-sum nondeterminism)
    q("q_tpch_q15",
      """WITH revenue0 AS (
        |  SELECT l_suppkey AS supplier_no,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM supplier, revenue0
        |WHERE s_suppkey = supplier_no
        |  AND total_rev = (SELECT max(total_rev) FROM revenue0)
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val rev0 = t.lineitem
        .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1997-04-01"))
        .select(col("l_suppkey"), revenue)
        .groupBy(col("l_suppkey")).agg(sumFix(col("rev")).as("total_rev"))
      val maxRev = rev0.agg(max(col("total_rev")).as("max_rev"))
      rev0.join(broadcast(maxRev)).filter(col("total_rev") === col("max_rev"))
        .join(t.supplier.select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), unscaleRev(col("total_rev")).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },

    // q16 shape: part-supplier relationship count — the bridge distinct,
    // a NOT IN on a filtered supplier set (no NULL keys → left_anti is
    // exactly NOT IN), then countDistinct per part class
    q("q_tpch_q16",
      """SELECT p_brand, p_type, p_size, count(DISTINCT ps.l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps, part
        |WHERE p_partkey = ps.l_partkey
        |  AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 15, 23, 36, 45, 49)
        |  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 100""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val qualParts = t.part
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO"
          && col("p_size").isin(1, 5, 9, 15, 23, 36, 45, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val badSupp = t.supplier.filter(col("s_name").like("%7%")).select("s_suppkey")
      // part filter BEFORE the bridge distinct: only qualifying pairs
      // are deduplicated
      t.lineitem.select(col("l_partkey"), col("l_suppkey"))
        .join(qualParts, col("l_partkey") === col("p_partkey")).distinct()
        .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
        .limit(100)
    },

    // q17 shape: small-quantity-order revenue — the correlated avg
    // becomes a per-part aggregate joined back on the part key; one
    // lineitem scan feeds both sides of the comparison
    q("q_tpch_q17",
      """SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#3' AND p_type = 'ECONOMY'
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val qualParts = t.part.filter(col("p_brand") === "Brand#3" && col("p_type") === "ECONOMY")
        .select("p_partkey")
      // per-part avg over ONLY qualifying parts (semi-filter before the
      // aggregate); l_quantity is integral-valued → the double avg is
      // exact and engine-order-independent
      val li = t.lineitem.select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(qualParts, col("l_partkey") === col("p_partkey"))
      val avgQty = li.groupBy(col("l_partkey").as("ap"))
        .agg((avg(col("l_quantity")) * 0.2).as("qty_cap"))
      li.join(avgQty, col("l_partkey") === col("ap"))
        .filter(col("l_quantity") < col("qty_cap"))
        .agg((unscale100(sumFix(centsDec("l_extendedprice")).as("s")) / 7.0)
          .cast("double").as("avg_yearly"))
    },

    // q19 shape: discounted-revenue OR-of-ANDs — Catalyst extracts the
    // common p_partkey = l_partkey equi-key; the brand/size/qty residual
    // evaluates post-join (the original's plan challenge)
    q("q_tpch_q19",
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem, part
        |WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity >= 1 AND l_quantity <= 11)
        |   OR (p_partkey = l_partkey AND p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_partkey = l_partkey AND p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val residual =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)
          && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)
          && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15)
          && col("l_quantity").between(20, 30))
      t.lineitem.select(col("l_partkey"), col("l_quantity"), revenue)
        .join(t.part
            .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34") && col("p_size") <= 15)
            .select(col("p_partkey"), col("p_brand"), col("p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(residual)
        .agg(unscaleRev(sumFix(col("rev"))).as("revenue"))
    },

    // q20 shape: potential-part promotion — nested semi-join: suppliers
    // who moved a large volume of a name-matched part, restricted to one
    // nation; the inner HAVING aggregate feeds a semi-join on s_suppkey
    q("q_tpch_q20",
      """SELECT s_name, s_acctbal
        |FROM supplier, nation
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem, part
        |    WHERE l_partkey = p_partkey AND p_name LIKE '%blue%'
        |      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |    GROUP BY l_suppkey, l_partkey
        |    HAVING sum(l_quantity) > 40)
        |  AND s_nationkey = n_nationkey AND n_name = 'NATION_2'
        |ORDER BY s_name""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val blueParts = t.part.filter(col("p_name").like("%blue%")).select("p_partkey")
      val bigMovers = t.lineitem
        .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .join(blueParts, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 40)
        .select("l_suppkey")
      t.supplier
        .join(broadcast(t.nation.filter(col("n_name") === "NATION_2").select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .join(bigMovers, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    },

    // q22 shape: global sales opportunity — above-average-balance
    // customers with no orders: scalar avg (exact decimal sum → double
    // division) broadcast, anti-join against orders, grouped by the
    // fixture's country-code stand-in (c_nationkey % 10)
    q("q_tpch_q22",
      """SELECT cntrycode, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM (SELECT c_nationkey % 10 AS cntrycode, c_acctbal, c_custkey FROM customer
        |      WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |                         FROM customer WHERE c_acctbal > 0.0)) custsale
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val avgBal = t.customer.filter(col("c_acctbal") > 0.0)
        .agg((unscale100(sumFix(centsDec("c_acctbal"))) / count(lit(1)))
          .as("avg_bal"))
      t.customer
        .select((col("c_nationkey") % 10).as("cntrycode"), col("c_acctbal"), col("c_custkey"))
        .join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(t.orders.filter(col("o_orderdate") >= lit("2000-01-01")).select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          unscale100(sumFix(centsDec("c_acctbal"))).as("totacctbal"))
        .orderBy(col("cntrycode"))
    }
  )
}
