package graft
package entry

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{Behavior, Mutations, Profiling, Relational}

/** Relational and event keys: TPC-H style aggregates and joins, event
  * sessions, windows and funnels, profiling, mutation folds and
  * Z-order codes.
  */
object RelationalKeys {
  import Key.key

  /** Mutations.demoLog restated and folded (latest seq per vec_id wins,
    * deletes hide the row): inserts, then overwrites of vec_id % 10 = 0,
    * then — with `deletes` — deletes of vec_id % 7 = 0. */
  private def mutationFoldSql(deletes: Boolean): String = {
    val del = if (!deletes) "" else "\n  UNION ALL\n  SELECT vec_id + 2000000, " +
      s"'delete', vec_id, NULL FROM ${Sql.E} WHERE vec_id % 7 = 0"
    s"""WITH log AS (
       |  SELECT vec_id AS seq, 'insert' AS op, vec_id, label FROM ${Sql.E}
       |  UNION ALL
       |  SELECT vec_id + 1000000, 'insert', vec_id, label + 100 FROM ${Sql.E} WHERE vec_id % 10 = 0$del),
       |folded AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY seq DESC) AS rn FROM log)
       |SELECT vec_id, label FROM folded
       |WHERE rn = 1 AND op = 'insert'
       |ORDER BY vec_id""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    // pivot face: per-user wide counts over the closed event-type set
    // (explicit value list = deterministic columns, no discovery scan)
    key("user_event_pivot")((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id")))
      // conditional sums restate the pivot's closed value list
      .oracle("""SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),
    key("mutations_fold")((s, d) =>
      Mutations.apply(Mutations.demoLog(Tables.embeddings(s, d))))
      .oracle(mutationFoldSql(deletes = true)),
    // the SAME fold replayed incrementally through a bucket-partitioned
    // StateTable (r15) — seq-tier batches, partition-pruned reads,
    // stage-then-commit partition replace; shares mutations_fold's
    // oracle, which makes the state-table machinery itself an
    // oracle-checked surface, not just a spec/soak-gated one
    key("mutations_fold_table")((s, d) =>
      Mutations.applyViaStateTable(
        Mutations.demoLog(Tables.embeddings(s, d)),
        java.nio.file.Files.createTempDirectory("fold-table").toString))
      // the state-table replay must fold to the identical visible table
      .oracle(mutationFoldSql(deletes = true)),
    // TIME-TRAVEL face (r16): the whole log folds through the table,
    // the read resolves the RETAINED generation two tiers in — i.e.
    // after the overwrite phase but before the delete phase. The
    // oracle replays only `seq < 2000000`, so the manifest-retention
    // machinery (readAt against a superseded manifest whose files a
    // later commit dropped) is what the hash checks.
    key("mutations_fold_at")((s, d) =>
      Mutations.applyViaStateTableAsOf(
        Mutations.demoLog(Tables.embeddings(s, d)),
        java.nio.file.Files.createTempDirectory("fold-at").toString,
        keepTiers = 2))
      // time travel: the state AS OF the end of tier 1 — replay only
      // seq < 2000000 (inserts + overwrites, no deletes)
      .oracle(mutationFoldSql(deletes = false)),
    key("pricing_summary")((s, d) => Relational.pricingSummary(s, d))
      .oracle("""SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    key("revenue_by_nation")((s, d) => Relational.revenueByNation(s, d))
      .oracle("""SELECT n_name, c_mktsegment,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, c_mktsegment
        |ORDER BY n_name, c_mktsegment""".stripMargin),
    key("top_orders_per_customer")((s, d) => Relational.topOrdersPerCustomer(s, d))
      .oracle("""SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice, rank
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders)
        |WHERE rank <= 3
        |ORDER BY o_custkey, rank""".stripMargin),
    key("events_hourly")((s, d) => Relational.hourlyEvents(s, d))
      .oracle("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
        |  count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_epoch, event_type""".stripMargin),
    key("user_sessions")((s, d) => Relational.userSessions(s, d))
      .oracle("""WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged),
        |per_session AS (
        |  SELECT user_id, session_id, count(*) AS n_events, sum(value) AS session_value
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT user_id,
        |  CAST(max(session_id) AS BIGINT) AS n_sessions,
        |  round(avg(n_events), 6) AS avg_events_per_session,
        |  round(sum(session_value), 4) AS total_value
        |FROM per_session
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),
    // rolling event-time features: per event, the same user's strictly-
    // prior-hour count/value via a RANGE frame on exact microseconds
    key("rolling_user_activity")((s, d) => Relational.rollingUserActivity(s, d))
      // the identical strictly-prior RANGE frame on epoch microseconds
      .oracle("""WITH e AS (SELECT event_id, user_id, value, epoch_us(ts) AS ts_us
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_prev_hour,
        |  round(coalesce(sum(value) OVER w, 0.0), 4) + 0.0 AS value_prev_hour
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |  RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin),
    key("event_prop_stats")((s, d) => Relational.eventPropStats(s, d))
      .oracle("""SELECT event_type, count(*) AS n,
        |  round(avg(k), 6) AS avg_k, min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),
    // binned range join — equi-join shaped, never a nested-loop cross
    // product; binning only prunes, so it is oracle-checked against the
    // naive BETWEEN join
    key("range_join_windows")((s, d) => Relational.eventsInMaintenanceWindows(s, d))
      .oracle("""WITH t0s AS (
        |  SELECT event_type, min(epoch_us(ts)) AS t0 FROM events GROUP BY event_type),
        |ivs AS (
        |  SELECT event_type, k, t0 + k * 21600000000 AS w_start,
        |         t0 + k * 21600000000 + 3600000000 AS w_end
        |  FROM t0s CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)),
        |ev AS (SELECT event_type, epoch_us(ts) AS t_us, value FROM events)
        |SELECT i.event_type, CAST(i.k AS BIGINT) AS k,
        |  count(*) AS n_events, round(sum(ev.value), 4) AS sum_value
        |FROM ev JOIN ivs i
        |  ON ev.event_type = i.event_type
        | AND ev.t_us >= i.w_start AND ev.t_us < i.w_end
        |GROUP BY i.event_type, i.k
        |ORDER BY i.event_type, k""".stripMargin),
    // single-pass data-profiling report (ingest pre-flight)
    key("profile_events")((s, d) =>
      Profiling.profile(
        Tables.events(s, d).withColumn("value", round(col("value"), 4)),
        Seq("event_id", "user_id", "event_type", "value")))
      .oracle {
        // CAST sums to BIGINT (DuckDB integer sums are HUGEINT — the r1
        // type-parity lesson); value rounded upstream so min/max render
        // identically as strings in both engines
        def one(c: String) =
          s"""SELECT '$c' AS "column", count(*) AS n_rows,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |  count(DISTINCT $c) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_value,
             |  CAST(max($c) AS VARCHAR) AS max_value
             |FROM e""".stripMargin
        s"""WITH e AS (SELECT event_id, user_id, event_type, round(value, 4) AS value FROM events)
           |${Seq("event_id", "user_id", "event_type", "value").map(one).mkString("\nUNION ALL\n")}
           |ORDER BY "column"""".stripMargin
      },
    // set operations (union/intersect/except — absent in the reference,
    // SURVEY §2.5; first-class here)
    key("customer_setops")((s, d) => Relational.customerSetOps(s, d))
      .oracle("""SELECT 'building_with_orders' AS op, count(*)::BIGINT AS n FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'customers_without_orders', count(*)::BIGINT FROM (
        |  SELECT c_custkey FROM customer
        |  EXCEPT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'union_distinct', count(*)::BIGINT FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION SELECT o_custkey FROM orders)
        |ORDER BY op""".stripMargin),
    // ROLLUP with subtotals + grand total
    key("revenue_rollup")((s, d) => Relational.revenueRollup(s, d))
      .oracle("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin),
    // scalar-function + join-type coverage
    key("string_funcs")((s, d) => Relational.stringFunctions(s, d))
      .oracle("""SELECT doc_id,
        |  upper(substr(text, 1, 20)) AS prefix_upper,
        |  reverse(substr(text, 1, 10)) AS prefix_rev,
        |  lpad(doc_id::VARCHAR, 6, '0') AS padded_id,
        |  ((length(text) - length(replace(text, 'spark', ''))) // 5)::BIGINT AS n_spark,
        |  position('merge' IN text)::BIGINT AS merge_pos
        |FROM documents
        |ORDER BY doc_id""".stripMargin),
    key("date_parts")((s, d) => Relational.dateParts(s, d))
      .oracle("""SELECT o_orderkey,
        |  year(o_orderdate)::INT AS y,
        |  quarter(o_orderdate)::INT AS q,
        |  month(o_orderdate)::INT AS m,
        |  day(o_orderdate)::INT AS d,
        |  isodow(o_orderdate)::INT AS isodow,
        |  date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS epoch_days
        |FROM orders
        |WHERE o_orderkey < 400
        |ORDER BY o_orderkey""".stripMargin),
    key("semi_anti_join")((s, d) => Relational.semiAntiJoins(s, d))
      .oracle("""SELECT 'customers_with_big_orders' AS op, count(*)::BIGINT AS n
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        |UNION ALL
        |SELECT 'suppliers_without_lineitems', count(*)::BIGINT
        |FROM supplier
        |WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem)
        |ORDER BY op""".stripMargin),
    // as-of join (most recent strictly-prior click per purchase)
    key("asof_purchase_clicks")((s, d) => Relational.asofPurchaseClicks(s, d))
      .oracle("""WITH ev AS (
        |  SELECT event_id, user_id, ts, event_type FROM events
        |  WHERE event_type IN ('purchase', 'click')),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type = 'click'
        |                    THEN struct_pack(click_id := event_id, click_ts := ts) END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc
        |  FROM ev)
        |SELECT event_id AS purchase_id, user_id,
        |       epoch_us(ts)::BIGINT AS purchase_ts_us,
        |       pc.click_id AS click_id,
        |       (epoch_us(ts) - epoch_us(pc.click_ts))::BIGINT AS gap_us
        |FROM w
        |WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin),
    // strict-sequence funnel: view → click → purchase, each stage's time
    // strictly after the previous stage's
    key("funnel_conversion")((s, d) =>
      Behavior.funnel(Tables.events(s, d), Seq("view", "click", "purchase")))
      .oracle("""WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts)::BIGINT AS t FROM events),
        |s0 AS (SELECT user_id, min(t) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s1 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s0 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.t > s0.t GROUP BY e.user_id),
        |s2 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.t > s1.t GROUP BY e.user_id),
        |c AS (
        |  SELECT 0 AS idx, 'view' AS stage, count(*) AS n_users FROM s0
        |  UNION ALL SELECT 1, 'click', count(*) FROM s1
        |  UNION ALL SELECT 2, 'purchase', count(*) FROM s2)
        |SELECT c.stage, c.n_users,
        |  CASE WHEN coalesce(p.n_users, c.n_users) = 0 THEN 0.0
        |       ELSE round(c.n_users::DOUBLE / coalesce(p.n_users, c.n_users), 6)
        |  END AS conversion
        |FROM c LEFT JOIN c p ON c.idx = p.idx + 1
        |ORDER BY c.idx""".stripMargin),
    // weekly cohort retention triangle over first-event cohorts
    key("cohort_retention")((s, d) =>
      Behavior.cohortRetention(Tables.events(s, d)))
      .oracle("""WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts)::BIGINT // 86400000000 // 7 AS w
        |  FROM events),
        |first AS (SELECT user_id, min(w) AS cohort_week FROM uw GROUP BY user_id)
        |SELECT cohort_week, w - cohort_week AS week_offset,
        |  count(*) AS n_users
        |FROM uw JOIN first USING (user_id)
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin),
    // Morton (Z-order) clustering codes over (user_id, day) — the
    // codegen'd InterleaveBits expression, bit-reproduced in the oracle
    key("zorder_codes")((s, d) => {
      // integer division, NOT floor(double /): a double quotient near an
      // exact integer can round up across the day boundary where DuckDB's
      // `//` (exact int division) does not. Negative epochs (pre-1970 ts)
      // are also engine-consistent: Spark `div` and DuckDB 1.0 integer `//`
      // BOTH truncate toward zero (verified: -7 div 2 = -7 // 2 = -3), so
      // the day bucket agrees on such fixtures too — by the same
      // truncation rule, not by floor.
      val day = expr("unix_micros(ts) div 86400000000")
      Tables.events(s, d)
        .where(col("event_id") < 20000)
        .select(
          col("event_id"),
          col("user_id").cast("long").as("user_id"),
          day.as("day"),
          VectorFunctions.zorder(col("user_id"), day).as("zcode"))
        .orderBy(col("event_id"))
    })
      .oracle {
        // bit-exact SQL twin of InterleaveBits.morton: bit i of a → output
        // bit 2i, bit i of b → 2i+1, over the low 32 bits (generated terms)
        def morton(a: String, b: String): String =
          (0 until 32).map(i =>
            s"((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1})")
            .mkString("(", " | ", ")")
        s"""WITH e AS (
           |  SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
           |         epoch_us(ts) // 86400000000 AS day
           |  FROM events WHERE event_id < 20000)
           |SELECT event_id, user_id, day,
           |  ${morton("user_id", "day")} AS zcode
           |FROM e
           |ORDER BY event_id""".stripMargin
      },
  )
}
