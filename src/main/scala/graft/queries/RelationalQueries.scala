package graft
package queries

import org.apache.spark.sql.functions._

import QueryFixtures._

/** Relational queries: the TPC-H-shaped `q1`/`q3`/`q5`/`q10` and the
  * events analytics (window, sessionize, funnel, retention, skew join).
  */
object RelationalQueries {
  val specs: Seq[QuerySpec] = Seq(
    // B9: cohort retention matrix — users bucketed by first-seen day,
    // counted per day offset they return on. Two hash aggregates and
    // one join on user_id; the matrix itself is tiny at any scale
    QuerySpec("q_events_retention", { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      val cohorts = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      val activity = e.select(col("user_id"), col("day")).distinct()
      ntz(
        activity
          .join(cohorts, "user_id")
          .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      )
    }, Oracle(
      """WITH e AS (SELECT user_id, date_trunc('day', ts) AS day FROM events),
         cohorts AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
         activity AS (SELECT DISTINCT user_id, day FROM e)
         SELECT c.cohort_day, CAST(date_diff('day', c.cohort_day, a.day) AS INTEGER) AS day_offset,
                COUNT(DISTINCT a.user_id) AS n_users
         FROM activity a JOIN cohorts c USING (user_id)
         GROUP BY 1, 2""")),
    // B1: pricing summary (decimal-exact aggregation)
    QuerySpec("q1_agg", { (s, dir) =>
      Tables
        .lineitem(s, dir)
        .where(col("l_shipdate") <= lit(ts("1998-09-02T00:00:00Z")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          exactSum(col("l_quantity")).as("sum_qty"),
          exactSum(col("l_extendedprice")).as("sum_base_price"),
          exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          (exactSum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"),
        )
    }, Oracle(
      s"""SELECT l_returnflag, l_linestatus,
                ${exactSumSql("l_quantity")} AS sum_qty,
                ${exactSumSql("l_extendedprice")} AS sum_base_price,
                ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
                ${exactSumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
                ${exactSumSql("l_quantity")} / COUNT(*) AS avg_qty,
                COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""")),
    // B2: shipping-priority join + top-k (TPC-H Q3 shape)
    QuerySpec("q3_join", { (s, dir) =>
      val cutoff = ts("1997-06-01T00:00:00Z")
      ntz(
        Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
          .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
          .where(col("o_orderdate") < lit(cutoff))
          .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
          .where(col("l_shipdate") > lit(cutoff))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
          .limit(10)
      )
    }, Oracle(
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
                ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00' AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""")),
    // B3: local-supplier volume, 6-way join with broadcast dims (Q5 shape)
    QuerySpec("q5_multijoin", { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)).where(col("r_name") === "ASIA"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    }, Oracle(
      s"""SELECT n_name, ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
           AND c_nationkey = s_nationkey AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
         GROUP BY n_name""")),
    // B7: returned-item revenue ranking (TPC-H Q10 shape)
    QuerySpec("q10_returns", { (s, dir) =>
      ntz(
        Tables.customer(s, dir)
          .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
          .where(col("l_returnflag") === "R")
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"))
          .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      )
    }, Oracle(
      s"""SELECT c_custkey, c_name, n_name, c_acctbal,
                ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         FROM customer, orders, lineitem, nation
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_returnflag = 'R' AND c_nationkey = n_nationkey
         GROUP BY c_custkey, c_name, n_name, c_acctbal
         ORDER BY revenue DESC, c_custkey LIMIT 20""")),
    // B4: top-3 orders per customer by price (window rank)
    QuerySpec("q_window", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk").cast("long").as("rk"))
    }, Oracle(
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) WHERE rk <= 3""")),
    // B5: sessionization (30 min inactivity) via lag + running sum
    QuerySpec("q_events_sessionize", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val runSum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ntz(
        Tables.events(s, dir)
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
          .withColumn(
            "new_s",
            when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > lit(1800000000L), lit(1)).otherwise(lit(0)),
          )
          .withColumn("session_id", sum(col("new_s")).over(runSum))
          .groupBy(col("user_id"), col("session_id"))
          .agg(
            min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"),
            count(lit(1)).as("n_events"),
          )
      )
    }, Oracle(
      """WITH marked AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM marked)
         SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events
         FROM sess GROUP BY 1, 2""")),
    // B8: conversion funnel view → click → purchase per user: first
    // view, first click strictly after it, first purchase strictly
    // after that — three aggregate-then-join stages on user_id (no
    // window over raw events, no skew beyond the user key)
    QuerySpec("q_events_funnel", { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val users = e.select(col("user_id")).distinct()
      val v = e.where(col("event_type") === "view").groupBy(col("user_id")).agg(min(col("ts")).as("view_ts"))
      val c = e
        .join(v, "user_id")
        .where(col("event_type") === "click" && col("ts") > col("view_ts"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("click_ts"))
      val p = e
        .join(c, "user_id")
        .where(col("event_type") === "purchase" && col("ts") > col("click_ts"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("purchase_ts"))
      ntz(
        users
          .join(v, Seq("user_id"), "left")
          .join(c, Seq("user_id"), "left")
          .join(p, Seq("user_id"), "left")
          .withColumn(
            "stage",
            when(col("purchase_ts").isNotNull, 3)
              .when(col("click_ts").isNotNull, 2)
              .when(col("view_ts").isNotNull, 1)
              .otherwise(0),
          )
      )
    }, Oracle(
      """WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e JOIN v USING (user_id)
               WHERE e.event_type = 'click' AND e.ts > v.view_ts GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e JOIN c USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts > c.click_ts GROUP BY 1)
         SELECT u.user_id, v.view_ts, c.click_ts, p.purchase_ts,
                CASE WHEN p.purchase_ts IS NOT NULL THEN 3
                     WHEN c.click_ts IS NOT NULL THEN 2
                     WHEN v.view_ts IS NOT NULL THEN 1
                     ELSE 0 END AS stage
         FROM (SELECT DISTINCT user_id FROM events) u
         LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""")),
    // B10: salted join on a deliberately skewed key — a quarter of all
    // events fold onto user 0, the hot key a plain shuffle join would
    // send to ONE reducer; SkewJoin.saltedJoin spreads it over 8 salt
    // slices (SkewJoinSpec asserts the salt in the executed plan and
    // the hot key's spread). Output is identical to the plain join, so
    // the oracle is the unsalted SQL.
    QuerySpec("q_events_skew_join", { (s, dir) =>
      val fact = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("skew_uid", when(pmod(col("user_id"), lit(4)) === 0, lit(0L)).otherwise(col("user_id")))
      val dim = fact.select(col("skew_uid")).distinct().withColumn("tier", pmod(col("skew_uid"), lit(5L)).cast("long"))
      graft.operators.SkewJoin
        .saltedJoin(fact, dim, "skew_uid", col("event_id"), nSalts = 8)
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_value"))
    }, Oracle(
      // the salted join result is exactly the plain join; the dim row per
      // key is unique by construction, so the join adds no rows and the
      // oracle aggregates directly
      s"""WITH f AS (SELECT CASE WHEN user_id % 4 = 0 THEN CAST(0 AS BIGINT) ELSE user_id END AS skew_uid, value
                     FROM events)
         SELECT CAST(skew_uid % 5 AS BIGINT) AS tier, COUNT(*) AS n_events, ${exactSumSql("value")} AS sum_value
         FROM f GROUP BY 1""")),
    // B6: tumbling 1h window aggregates over events
    QuerySpec("q_events_window_agg", { (s, dir) =>
      ntz(
        Tables.events(s, dir)
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            exactSum(col("value")).as("sum_value"),
            countDistinct(col("user_id")).as("n_users"),
          )
      )
    }, Oracle(
      s"""SELECT date_trunc('hour', ts) AS hour, event_type,
                COUNT(*) AS n, ${exactSumSql("value")} AS sum_value,
                COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2""")),
  )
}
