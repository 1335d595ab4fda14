package graft.relational

import graft.{Catalog, Materialize, QueryDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointStats.Actual

/** Fourth batch of relational coverage: correlated existence predicates,
  * ordered string aggregation, deterministic mode / discrete quantiles,
  * running distinct counts over windows, gaps-and-islands streaks, and
  * median absolute deviation.
  *
  * Scale notes (100 TB stance):
  *  - q50 runs correlated EXISTS / NOT EXISTS through the SQL surface and
  *    lets Catalyst decorrelate them into ONE left-semi and ONE left-anti
  *    hash join on `custkey` — never a per-row subquery probe. The plan
  *    is pinned in PlanQualitySpec.
  *  - q51/q52 are single hash-shuffle group-bys; the ordered string
  *    aggregation sorts only WITHIN each group's collected set (bounded:
  *    the priority domain is 5 values), not globally.
  *  - q53's running-distinct state is `collect_set` over a user-ordered
  *    frame — bounded by the event-type domain, so the window state stays
  *    O(|domain|) per user regardless of event count.
  *  - q54 is the gaps-and-islands idiom: one shuffle to (user, day),
  *    arithmetic on row_number (no self-join), then a keyed re-aggregate.
  *  - q55 reuses q36's exact fixed-point median shape twice (value, then
  *    absolute deviation); the per-flag medians travel back as a
  *    broadcast dimension, so the big side shuffles only on the window
  *    partition key.
  *
  * Determinism: every double travels as `round(x*100)` BIGINT fixed-point
  * until the final cast (see RelationalQueries.scala decimal notes); all
  * ranked picks carry explicit total-order tie-breaks.
  */
object RelationalQueries4 {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Catalog.t(s, d, n)

  /** q80's staged-reduction crossover (round 17, from the r16 advice):
    * ONE constant interpolated into BOTH dialect strings, so the exact
    * and staged branches cannot drift apart silently — the gate corpus
    * never reaches the staged branch, which is exactly why a one-sided
    * edit would split the oracle hash only above test scale.
    */
  private val Q80StageUsers = 2000000L

  def all: Seq[QueryDef] = Seq(

    // ----------------------------------------- correlated EXISTS / NOT EXISTS
    // Customers with at least one >200k order and no 'F'-status order.
    // Catalyst decorrelates to left-semi + left-anti joins (complement to
    // q13's explicit DataFrame-API joins and q24's scalar subquery).
    QueryDef(
      "q50_exists_subquery",
      Some("""SELECT c_custkey, c_mktsegment FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
             |  AND NOT EXISTS (SELECT 1 FROM orders o2
             |    WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')""".stripMargin),
      (s, d) => {
        val suffix = math.abs(d.hashCode)
        val cv = s"cust_q50_$suffix"; val ov = s"ord_q50_$suffix"
        t(s, d, "customer").createOrReplaceTempView(cv)
        t(s, d, "orders").createOrReplaceTempView(ov)
        s.sql(s"""SELECT c_custkey, c_mktsegment FROM $cv c
                 |WHERE EXISTS (SELECT 1 FROM $ov o
                 |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
                 |  AND NOT EXISTS (SELECT 1 FROM $ov o2
                 |    WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')""".stripMargin)
      }),

    // ------------------------------------------- ordered string aggregation
    // Per customer: the distinct order priorities ever used, joined in
    // lexicographic order. `collect_set` arrives in arbitrary partition
    // order; `array_sort` makes the join deterministic cross-engine.
    QueryDef(
      "q51_string_agg",
      Some("""SELECT o_custkey,
             |  string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS prio_path
             |FROM orders GROUP BY o_custkey""".stripMargin),
      (s, d) =>
        t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), "|")
            .as("prio_path"))),

    // ------------------------------- deterministic mode + discrete median
    // Per market segment: the modal order priority (ties broken by the
    // lexicographically smallest value) and the DISCRETE median price
    // (the element at rank ceil(n/2) — an actual data value, not an
    // interpolation; complement to q36's interpolable-median family).
    QueryDef(
      "q52_mode_quantile",
      Some("""WITH j AS (SELECT c_mktsegment AS seg, o_orderpriority AS prio,
             |    cast(round(o_totalprice * 100) as bigint) AS p100,
             |    o_orderkey
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |m AS (SELECT seg, prio, count(*) AS cnt FROM j GROUP BY seg, prio),
             |mr AS (SELECT seg, prio, row_number() OVER (PARTITION BY seg
             |    ORDER BY cnt DESC, prio) AS rn FROM m),
             |q AS (SELECT seg, p100, row_number() OVER (PARTITION BY seg
             |    ORDER BY p100, o_orderkey) AS rn,
             |    count(*) OVER (PARTITION BY seg) AS n FROM j)
             |SELECT mr.seg AS c_mktsegment, mr.prio AS mode_prio,
             |  cast(q.p100 as double) / 100 AS median_price
             |FROM mr JOIN q ON mr.seg = q.seg
             |WHERE mr.rn = 1 AND q.rn = (q.n + 1) // 2""".stripMargin),
      (s, d) => {
        val j = t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"),
            col("o_orderpriority").as("prio"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("p100"),
            col("o_orderkey"))
        val mode = j.groupBy(col("seg"), col("prio"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("seg")).orderBy(col("cnt").desc, col("prio"))))
          .filter(col("rn") === 1)
          .select(col("seg"), col("prio").as("mode_prio"))
        val med = j
          .select(col("seg"), col("p100"),
            row_number().over(Window.partitionBy(col("seg"))
              .orderBy(col("p100"), col("o_orderkey"))).as("rn"),
            count(lit(1)).over(Window.partitionBy(col("seg"))).as("n"))
          .filter(col("rn") === expr("(n + 1) div 2"))
          .select(col("seg"), (col("p100").cast("double") / 100).as("median_price"))
        mode.join(med, Seq("seg"))
          .select(col("seg").as("c_mktsegment"), col("mode_prio"), col("median_price"))
      }),

    // -------------------------------------- running distinct count window
    // Per event: how many DISTINCT event types this user has produced up
    // to and including this event. Spark has no count(DISTINCT) window;
    // size(collect_set) over the running frame is the idiomatic
    // equivalent and its state is bounded by the type domain.
    QueryDef(
      "q53_window_distinct",
      Some("""SELECT event_id,
             |  count(DISTINCT event_type) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS types_so_far
             |FROM events""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .select(col("event_id"),
            size(collect_set(col("event_type")).over(w)).as("types_so_far"))
      }),

    // ----------------------------------------- gaps-and-islands streaks
    // Consecutive-day activity streaks per user: distinct active days,
    // anchor = day - row_number (constant within a run of consecutive
    // days), then per-user streak stats. No self-join at any point.
    QueryDef(
      "q54_streaks",
      Some("""WITH days AS (SELECT DISTINCT user_id, cast(ts as date) AS day FROM events),
             |num AS (SELECT user_id, day,
             |    day - cast(row_number() OVER (PARTITION BY user_id ORDER BY day) as int) AS anchor
             |  FROM days),
             |runs AS (SELECT user_id, anchor, count(*) AS len
             |  FROM num GROUP BY user_id, anchor)
             |SELECT user_id, cast(count(*) as bigint) AS n_streaks,
             |  cast(max(len) as bigint) AS max_streak
             |FROM runs GROUP BY user_id""".stripMargin),
      (s, d) => {
        val days = t(s, d, "events")
          .select(col("user_id"), col("ts").cast("date").as("day"))
          .distinct()
        val num = days.withColumn("anchor",
          date_sub(col("day"), row_number().over(
            Window.partitionBy(col("user_id")).orderBy(col("day")))))
        num.groupBy(col("user_id"), col("anchor"))
          .agg(count(lit(1)).as("len"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_streaks"), max(col("len")).as("max_streak"))
      }),

    // ------------------------------------ median absolute deviation (MAD)
    // Per return flag: MAD of quantity — the discrete median of
    // |q - median(q)| in exact fixed-point. The per-flag median returns
    // as a broadcast dim; both medians use q36's rank-pick shape with
    // full tie-breaks.
    QueryDef(
      "q55_mad",
      Some("""WITH x AS (SELECT l_returnflag, l_orderkey, l_linenumber,
             |    cast(round(l_quantity * 100) as bigint) AS q100 FROM lineitem),
             |med AS (SELECT l_returnflag, q100 AS med100 FROM (
             |    SELECT l_returnflag, q100,
             |      row_number() OVER (PARTITION BY l_returnflag
             |        ORDER BY q100, l_orderkey, l_linenumber) AS rn,
             |      count(*) OVER (PARTITION BY l_returnflag) AS n FROM x)
             |  WHERE rn = (n + 1) // 2),
             |dev AS (SELECT x.l_returnflag, abs(x.q100 - med.med100) AS d100,
             |    x.l_orderkey, x.l_linenumber
             |  FROM x JOIN med ON x.l_returnflag = med.l_returnflag)
             |SELECT l_returnflag, cast(d100 as double) / 100 AS mad FROM (
             |  SELECT l_returnflag, d100,
             |    row_number() OVER (PARTITION BY l_returnflag
             |      ORDER BY d100, l_orderkey, l_linenumber) AS rn,
             |    count(*) OVER (PARTITION BY l_returnflag) AS n FROM dev)
             |WHERE rn = (n + 1) // 2""".stripMargin),
      (s, d) => Materialize.scoped { m =>
        // Round 17 (guide §2.5): the rank-pick median sorted the ENTIRE
        // lineitem table inside a window partitioned by the 3-value
        // return flag — two full-table sorts feeding 3 reducers each, the
        // textbook skewed-partition shape. The discrete median at rank
        // (n+1) div 2 depends only on the (flag, value) HISTOGRAM: the
        // tie-break columns order equal values among themselves and
        // cannot change which VALUE sits at the picked rank. So: one
        // map-side-combinable histogram aggregate (~50 distinct
        // quantities per flag), a cumulative count over the tiny
        // histogram, and the deviation median derives from the SAME
        // histogram (count(|q-med| = v) = count(q = med+v) +
        // count(q = med-v)) — one lineitem scan total, zero full-table
        // sorts, identical rows (oracle-hash-verified).
        def histMedian(hist: DataFrame, valueCol: String, out: String): DataFrame = {
          val wcum = Window.partitionBy(col("l_returnflag"))
            .orderBy(col(valueCol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val wall = Window.partitionBy(col("l_returnflag"))
          hist
            .withColumn("cum", sum(col("cnt")).over(wcum))
            .withColumn("n", sum(col("cnt")).over(wall))
            // the target rank falls inside this value's run of tied rows
            .filter(col("cum") >= expr("(n + 1) div 2") &&
              col("cum") - col("cnt") < expr("(n + 1) div 2"))
            .select(col("l_returnflag"), col(valueCol).as(out))
        }
        // tiny (|flags| x |distinct quantities|); eagerly materialized so
        // its two consumers (median pick + deviation histogram) cost ONE
        // lineitem scan, not two
        val hist = m.pin(t(s, d, "lineitem")
          .select(col("l_returnflag"),
            expr("cast(round(l_quantity * 100) as bigint)").as("q100"))
          .groupBy(col("l_returnflag"), col("q100"))
          .agg(count(lit(1)).as("cnt")), Actual)
        val med = histMedian(hist, "q100", "med100")
        val devHist = hist.join(broadcast(med), Seq("l_returnflag"))
          .select(col("l_returnflag"),
            abs(col("q100") - col("med100")).as("d100"), col("cnt"))
          .groupBy(col("l_returnflag"), col("d100"))
          .agg(sum(col("cnt")).as("cnt"))
        histMedian(devHist, "d100", "mad100")
          .select(col("l_returnflag"),
            (col("mad100").cast("double") / 100).as("mad"))
      }),

    // -------------------------------- IGNORE NULLS window navigation
    // The forward-fill navigation family: per customer in order-date
    // order, the FIRST big (>200k) order so far, the MOST RECENT big
    // order so far (last_value IGNORE NULLS = the classic forward-fill
    // idiom), and the SECOND big order so far (nth_value). One shuffle,
    // one window; running frame, full tie-break order.
    QueryDef(
      "q56_ignore_nulls",
      Some("""SELECT o_orderkey, o_custkey,
             |  first_value(CASE WHEN o_totalprice > 200000 THEN o_orderkey END
             |    IGNORE NULLS) OVER w AS first_big,
             |  last_value(CASE WHEN o_totalprice > 200000 THEN o_orderkey END
             |    IGNORE NULLS) OVER w AS latest_big,
             |  nth_value(CASE WHEN o_totalprice > 200000 THEN o_orderkey END, 2
             |    IGNORE NULLS) OVER w AS second_big
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey
             |  ORDER BY o_orderdate, o_orderkey
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val big = when(col("o_totalprice") > 200000, col("o_orderkey"))
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            first(big, ignoreNulls = true).over(w).as("first_big"),
            last(big, ignoreNulls = true).over(w).as("latest_big"),
            nth_value(big, 2, ignoreNulls = true).over(w).as("second_big"))
      }),

    // ------------------------------------ time-weighted average (j04)
    // The temporal-join family's aggregation counterpart: treat each
    // (user, event_type) series as a step function — a reading holds
    // until that user's next reading of the same type — and compute the
    // time-weighted mean of `value` per event_type. The integral runs in
    // exact integers (cents x held-milliseconds) so shuffle order cannot
    // perturb it; the single double division happens once per group.
    //
    // Scale shape: the hold-duration window partitions by
    // (user_id, event_type) — high cardinality, skew-free — NOT by the
    // 5-value event_type domain; the per-type rollup is then an ordinary
    // map-side-combinable keyed aggregate. Closing interval (last
    // reading per series) has no duration and is excluded, the standard
    // right-open convention.
    QueryDef(
      "j04_time_weighted_avg",
      Some("""WITH e AS (SELECT user_id, event_type, event_id,
             |    epoch_ms(cast(ts as timestamp)) AS ms,
             |    cast(round(value * 100) as bigint) AS cents FROM events),
             |h AS (SELECT event_type, cents, ms,
             |    lead(ms) OVER (PARTITION BY user_id, event_type
             |      ORDER BY ms, event_id) AS nms FROM e)
             |SELECT event_type,
             |  cast(count(*) as bigint) AS n_holds,
             |  cast(sum(nms - ms) as bigint) AS total_ms,
             |  cast(sum(cents * (nms - ms)) as double)
             |    / (100.0 * cast(sum(nms - ms) as double)) AS twa
             |FROM h WHERE nms IS NOT NULL
             |GROUP BY event_type""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ms"), col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_millis(col("ts")).as("ms"),
            expr("cast(round(value * 100) as bigint)").as("cents"))
          .withColumn("nms", lead(col("ms"), 1).over(w))
          .filter(col("nms").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_holds"),
            sum(col("nms") - col("ms")).as("total_ms"),
            // the integral accumulates in decimal(38,0): per-row products
            // fit int64 easily, but their SUM is ~1.6e16 at sf0.1 and
            // scales linearly with corpus time x rows — int64 would
            // overflow around sf50 (DuckDB's sum is already int128)
            (sum((col("cents") * (col("nms") - col("ms")))
              .cast("decimal(38,0)")).cast("double")
              / (lit(100.0) * sum(col("nms") - col("ms")).cast("double")))
              .as("twa"))
      }),

    // ----------------------------------- nearest-direction as-of (j05)
    // merge_asof(direction='nearest'): each event matches the SAME
    // user's temporally closest order-day representative in EITHER
    // direction (j01 is backward-only, j03 forward-only); equidistant
    // ties resolve backward, the pandas convention. Both directional
    // candidates come from the j01 union-merge idiom — one ascending
    // and one descending running last(IGNORE NULLS) over the SAME
    // (user-keyed, time-ordered) shuffled layout, so the second
    // direction costs a sort, not a second Exchange — and the pick is
    // a narrow per-row compare. No probe join, nothing quadratic.
    QueryDef(
      "j05_asof_nearest",
      Some("""WITH reps AS (SELECT o_custkey, max(o_orderkey) AS order_key,
             |    epoch_ms(o_orderdate) AS order_ms
             |  FROM orders GROUP BY o_custkey, o_orderdate),
             |e AS (SELECT event_id, user_id,
             |    epoch_ms(cast(ts as timestamp)) AS ts_ms FROM events),
             |b AS (SELECT e.event_id, r.order_key AS bk, r.order_ms AS bm
             |  FROM e ASOF LEFT JOIN reps r
             |    ON e.user_id = r.o_custkey AND e.ts_ms >= r.order_ms),
             |f AS (SELECT e.event_id, r.order_key AS fk, r.order_ms AS fm
             |  FROM e ASOF LEFT JOIN reps r
             |    ON e.user_id = r.o_custkey AND e.ts_ms <= r.order_ms)
             |SELECT e.event_id, e.user_id, e.ts_ms,
             |  CASE WHEN bk IS NOT NULL AND (fk IS NULL
             |           OR e.ts_ms - bm <= fm - e.ts_ms)
             |       THEN bk ELSE fk END AS order_key,
             |  CASE WHEN bk IS NOT NULL AND (fk IS NULL
             |           OR e.ts_ms - bm <= fm - e.ts_ms)
             |       THEN bm ELSE fm END AS order_ms,
             |  CASE WHEN bk IS NULL AND fk IS NULL THEN NULL
             |       WHEN bk IS NOT NULL AND (fk IS NULL
             |           OR e.ts_ms - bm <= fm - e.ts_ms)
             |       THEN 'back' ELSE 'fwd' END AS direction
             |FROM e JOIN b USING (event_id) JOIN f USING (event_id)""".stripMargin),
      (s, d) => {
        val reps = t(s, d, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max(col("o_orderkey")).as("order_key"))
          .withColumn("oms", expr("unix_millis(cast(o_orderdate as timestamp))"))
          .select(col("o_custkey").as("user_id"), col("oms").as("tm"),
            lit(1).as("src"), col("order_key"), col("oms").as("order_ms"),
            lit(null).cast("long").as("event_id"))
        val ev = t(s, d, "events").select(col("user_id"),
          unix_millis(col("ts")).as("tm"),
          lit(0).as("src"), lit(null).cast("long").as("order_key"),
          lit(null).cast("long").as("order_ms"), col("event_id"))
        // ascending scan: orders first at equal time (<= semantics)
        val wB = Window.partitionBy(col("user_id"))
          .orderBy(col("tm").asc, col("src").desc,
            col("event_id").asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // descending scan over the SAME layout: nearest following order
        val wF = Window.partitionBy(col("user_id"))
          .orderBy(col("tm").desc, col("src").desc,
            col("event_id").desc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        reps.unionByName(ev)
          .withColumn("bk", last(col("order_key"), ignoreNulls = true).over(wB))
          .withColumn("bm", last(col("order_ms"), ignoreNulls = true).over(wB))
          .withColumn("fk", last(col("order_key"), ignoreNulls = true).over(wF))
          .withColumn("fm", last(col("order_ms"), ignoreNulls = true).over(wF))
          .filter(col("src") === 0)
          .select(col("event_id"), col("user_id"), col("tm").as("ts_ms"),
            expr("""CASE WHEN bk IS NOT NULL AND (fk IS NULL
                   |    OR tm - bm <= fm - tm) THEN bk ELSE fk END"""
              .stripMargin).as("order_key"),
            expr("""CASE WHEN bk IS NOT NULL AND (fk IS NULL
                   |    OR tm - bm <= fm - tm) THEN bm ELSE fm END"""
              .stripMargin).as("order_ms"),
            expr("""CASE WHEN bk IS NULL AND fk IS NULL THEN NULL
                   |  WHEN bk IS NOT NULL AND (fk IS NULL
                   |    OR tm - bm <= fm - tm) THEN 'back'
                   |  ELSE 'fwd' END""".stripMargin).as("direction"))
      }),

    // ---------------------------- continuous percentiles (q57)
    // Interpolated (PERCENTILE_CONT) quartiles per return flag — the
    // continuous counterpart to q36/q52's rank-pick DISCRETE quantiles.
    // The interpolation position runs in exact integer hundredths:
    // pos = (n-1)*p, idx = pos div 100, rem = pos mod 100, and the
    // interpolated value is the EXACT integer (lo*100 + (hi-lo)*rem) in
    // ten-thousandths of a unit, divided once to double — so both
    // engines produce bit-identical quartiles with no libm in sight.
    // One ranking window + a broadcast (flag x 3) position dim probing
    // exactly <= 2 ranked rows per quartile.
    QueryDef(
      "q57_percentile_cont",
      Some("""WITH x AS (SELECT l_returnflag,
             |    cast(round(l_quantity * 100) as bigint) AS q100,
             |    l_orderkey, l_linenumber FROM lineitem),
             |r AS (SELECT l_returnflag, q100,
             |    row_number() OVER (PARTITION BY l_returnflag
             |      ORDER BY q100, l_orderkey, l_linenumber) AS rn,
             |    count(*) OVER (PARTITION BY l_returnflag) AS n FROM x),
             |ps AS (SELECT unnest([25, 50, 75]) AS p),
             |tgt AS (SELECT l_returnflag, p,
             |    ((n - 1) * p) // 100 AS idx, ((n - 1) * p) % 100 AS rem, n
             |  FROM (SELECT DISTINCT l_returnflag, n FROM r), ps),
             |j AS (SELECT t.l_returnflag, t.p, t.rem,
             |    max(CASE WHEN rn = idx + 1 THEN q100 END) AS lo,
             |    max(CASE WHEN rn = least(idx + 2, t.n) THEN q100 END) AS hi
             |  FROM tgt t JOIN r ON r.l_returnflag = t.l_returnflag
             |    AND (rn = idx + 1 OR rn = least(idx + 2, t.n))
             |  GROUP BY t.l_returnflag, t.p, t.rem)
             |SELECT l_returnflag, cast(p as int) AS p,
             |  cast(lo * 100 + (hi - lo) * rem as double) / 10000.0 AS pc
             |FROM j""".stripMargin),
      (s, d) => {
        val wo = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("q100"), col("l_orderkey"), col("l_linenumber"))
        val wc = Window.partitionBy(col("l_returnflag"))
        val r = t(s, d, "lineitem")
          .select(col("l_returnflag"),
            expr("cast(round(l_quantity * 100) as bigint)").as("q100"),
            col("l_orderkey"), col("l_linenumber"))
          .select(col("l_returnflag"), col("q100"),
            row_number().over(wo).as("rn"), count(lit(1)).over(wc).as("n"))
        import s.implicits._
        val tgt = r.select(col("l_returnflag").as("tf"), col("n")).distinct()
          .crossJoin(Seq(25, 50, 75).toDF("p"))
          .select(col("tf"), col("p"),
            expr("((n - 1) * p) div 100").as("idx"),
            expr("((n - 1) * p) % 100").as("rem"), col("n").as("nn"))
        r.join(broadcast(tgt),
            col("l_returnflag") === col("tf") &&
              (col("rn") === col("idx") + 1 ||
                col("rn") === least(col("idx") + 2, col("nn"))))
          .groupBy(col("tf"), col("p"), col("rem"))
          .agg(max(when(col("rn") === col("idx") + 1, col("q100"))).as("lo"),
            max(when(col("rn") === least(col("idx") + 2, col("nn")),
              col("q100"))).as("hi"))
          .select(col("tf").as("l_returnflag"), col("p").cast("int").as("p"),
            (expr("cast(lo * 100 + (hi - lo) * rem as double)") / 10000.0)
              .as("pc"))
      }),

    // ------------------------------- event-time lateness profile (q58)
    // The watermark-sizing report: per event, how far BEHIND the
    // already-ingested maximum event time it arrived (arrival order =
    // the monotone ingest id), bucketed into power-of-2 second bands
    // (-1 = in order). THE question to answer before choosing
    // `withWatermark` bounds — a watermark of W seconds drops exactly
    // the mass in buckets >= log2(W). Per-user running max keeps the
    // window partitioned on a high-cardinality key; the histogram is a
    // dozen-row aggregate.
    QueryDef(
      "q58_lateness_profile",
      Some("""WITH e AS (SELECT user_id, event_id,
             |    epoch_ms(cast(ts as timestamp)) AS ms FROM events),
             |w AS (SELECT user_id, ms,
             |    max(ms) OVER (PARTITION BY user_id ORDER BY event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS prevmax FROM e),
             |l AS (SELECT greatest(0, coalesce(prevmax - ms, 0)) AS late
             |  FROM w),
             |b AS (SELECT late, CASE WHEN late = 0 THEN -1
             |    ELSE cast(length(bin(greatest(late // 1000, 1))) - 1 as int)
             |    END AS bucket FROM l),
             |t AS (SELECT count(*) AS total FROM b),
             |g AS (SELECT bucket, count(*) AS n_events,
             |    cast(max(late) as bigint) AS max_lateness_ms
             |  FROM b GROUP BY bucket)
             |SELECT bucket, n_events, max_lateness_ms,
             |  cast(n_events * 1000000 // total as bigint) AS share_fx
             |FROM g, t""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val b = t(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_millis(col("ts")).as("ms"))
          .withColumn("prevmax", max(col("ms")).over(w))
          .select(greatest(lit(0L),
            coalesce(col("prevmax") - col("ms"), lit(0L))).as("late"))
          .withColumn("bucket",
            expr("""CASE WHEN late = 0 THEN -1
                   |  ELSE cast(length(bin(greatest(late div 1000, 1))) - 1
                   |    as int) END""".stripMargin))
        val total = b.agg(count(lit(1)).as("total"))
        b.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_events"),
            max(col("late")).as("max_lateness_ms"))
          .crossJoin(broadcast(total))
          .select(col("bucket"), col("n_events"), col("max_lateness_ms"),
            expr("cast(n_events * 1000000 div total as bigint)")
              .as("share_fx"))
      }),

    // ---------------------------------------- first-touch attribution
    // Which entry channel converts: sessionize (q47's exact 30-min gap
    // semantics), tag each session with its FIRST event's type, flag
    // sessions containing a purchase, roll up conversion per entry
    // type. The entry pick is min(struct(ms, event_id, event_type)) —
    // ONE aggregate over the already-windowed relation, equivalent to
    // the oracle's rn=1 window because event_id is unique — so the
    // whole query rides a single user-keyed Exchange plus one keyed
    // rollup; the final per-channel report is 5 rows.
    QueryDef(
      "q59_attribution",
      Some(s"""WITH e AS (SELECT user_id, event_id, event_type,
              |    epoch_ms(cast(ts as timestamp)) AS ms FROM events),
              |x AS (SELECT user_id, event_id, event_type, ms,
              |    CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id
              |        ORDER BY ms, event_id) > $GapMs THEN 1 ELSE 0 END AS brk
              |  FROM e),
              |s AS (SELECT user_id, event_id, event_type, ms,
              |    sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
              |      ROWS UNBOUNDED PRECEDING) + 1 AS session_id
              |  FROM x),
              |f AS (SELECT user_id, session_id, event_type AS entry_type
              |  FROM (SELECT user_id, session_id, event_type,
              |      row_number() OVER (PARTITION BY user_id, session_id
              |        ORDER BY ms, event_id) AS rn FROM s) z WHERE rn = 1),
              |cv AS (SELECT user_id, session_id,
              |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              |      AS conv
              |  FROM s GROUP BY 1, 2),
              |a AS (SELECT entry_type, count(*) AS n_sessions,
              |    cast(sum(conv) as bigint) AS n_converted
              |  FROM f JOIN cv USING (user_id, session_id) GROUP BY 1)
              |SELECT entry_type, n_sessions, n_converted,
              |  cast(n_converted * 1000000 // n_sessions as bigint) AS conv_fx
              |FROM a""".stripMargin),
      (s, d) => {
        val ord = Seq(col("ms"), col("event_id"))
        val wl = Window.partitionBy(col("user_id")).orderBy(ord: _*)
        val wc = Window.partitionBy(col("user_id")).orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sess = t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_millis(col("ts")).as("ms"))
          .withColumn("brk",
            when(col("ms") - lag(col("ms"), 1).over(wl) > GapMs, 1)
              .otherwise(0))
          .withColumn("session_id", (sum(col("brk")).over(wc) + 1).cast("int"))
        sess.groupBy(col("user_id"), col("session_id"))
          .agg(min(struct(col("ms"), col("event_id"), col("event_type")))
              .as("fe"),
            max(when(col("event_type") === "purchase", 1).otherwise(0))
              .as("conv"))
          .select(col("fe.event_type").as("entry_type"), col("conv"))
          .groupBy(col("entry_type"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("conv")).cast("long").as("n_converted"))
          .select(col("entry_type"), col("n_sessions"), col("n_converted"),
            expr("cast(n_converted * 1000000 div n_sessions as bigint)")
              .as("conv_fx"))
      }),

    // ----------------------------- interval overlap join (j06)
    // Sessions (q47's exact 30-min-gap semantics, half-open
    // [start, end+1) so point sessions have length 1) overlap-joined
    // against "incident windows" — hours with >= 5 error events. Per
    // overlapping session: window count and total overlapped ms. The
    // interval join never runs as a theta join: sessions EXPLODE to
    // their covered hour buckets (bounded by session span) and meet
    // the hour-keyed incident table in an ordinary equi-join; incident
    // hours are disjoint, so the per-session rollup is a plain sum, no
    // pair dedup. This grid-bucket rewrite is THE scalable plan for
    // interval overlap at 100 TB — j02's value-range join uses the
    // same discipline. An incident hour is one with STRICTLY more
    // errors than the hourly mean (integer cross-multiply, no
    // division) — scale-free, so the report is non-trivial at every
    // sf.
    QueryDef(
      "j06_incident_overlap",
      Some(s"""WITH e AS (SELECT user_id, event_id, event_type,
              |    epoch_ms(cast(ts as timestamp)) AS ms FROM events),
              |x AS (SELECT user_id, event_id, ms,
              |    CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id
              |        ORDER BY ms, event_id) > $GapMs THEN 1 ELSE 0 END AS brk
              |  FROM e),
              |s AS (SELECT user_id, ms,
              |    sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
              |      ROWS UNBOUNDED PRECEDING) + 1 AS session_id
              |  FROM x),
              |sess AS (SELECT user_id, cast(session_id as int) AS session_id,
              |    min(ms) AS start_ms, max(ms) AS end_ms
              |  FROM s GROUP BY 1, 2),
              |eh0 AS (SELECT ms // 3600000 AS h, count(*) AS c FROM e
              |  WHERE event_type = 'error' GROUP BY 1),
              |et AS (SELECT cast(sum(c) as bigint) AS total,
              |    cast(count(*) as bigint) AS nh FROM eh0),
              |eh AS (SELECT h FROM eh0, et WHERE c * nh > total),
              |ov AS (SELECT user_id, session_id,
              |    least(end_ms + 1, (h + 1) * 3600000)
              |      - greatest(start_ms, h * 3600000) AS ov
              |  FROM sess JOIN eh
              |    ON h BETWEEN start_ms // 3600000 AND end_ms // 3600000)
              |SELECT user_id, session_id, count(*) AS n_win,
              |  cast(sum(ov) as bigint) AS overlap_ms
              |FROM ov GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val ord = Seq(col("ms"), col("event_id"))
        val wl = Window.partitionBy(col("user_id")).orderBy(ord: _*)
        val wc = Window.partitionBy(col("user_id")).orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val e = t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_millis(col("ts")).as("ms"))
        val sess = e
          .withColumn("brk",
            when(col("ms") - lag(col("ms"), 1).over(wl) > GapMs, 1)
              .otherwise(0))
          .withColumn("session_id", (sum(col("brk")).over(wc) + 1).cast("int"))
          .groupBy(col("user_id"), col("session_id"))
          .agg(min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"))
        val errHours = e.filter(col("event_type") === "error")
          .groupBy(expr("ms div 3600000").as("h"))
          .agg(count(lit(1)).as("n_err"))
        val errTotals = errHours.agg(sum(col("n_err")).as("total"),
          count(lit(1)).as("nh"))
        val incidents = errHours.crossJoin(broadcast(errTotals))
          .filter(col("n_err") * col("nh") > col("total"))
          .select(col("h"))
        sess
          .select(col("user_id"), col("session_id"), col("start_ms"),
            col("end_ms"), explode(expr(
              "sequence(start_ms div 3600000, end_ms div 3600000)"))
              .as("h"))
          .join(incidents, Seq("h"))
          .select(col("user_id"), col("session_id"),
            (least(col("end_ms") + 1, (col("h") + 1) * 3600000L)
              - greatest(col("start_ms"), col("h") * 3600000L)).as("ov"))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_win"),
            sum(col("ov")).cast("long").as("overlap_ms"))
      }),

    // ------------------------------------ behavior Markov chain (q60)
    // First-order Markov transition matrix over per-user event
    // sequences: P(next event type | current type). The per-user
    // ordering rides ONE user-keyed Exchange (high-cardinality,
    // skew-free) and `lead`; the transition rollup is a 25-row
    // aggregate over the 5x5 type domain with map-side partials, and
    // the per-source totals ride a window over that 25-row relation —
    // nothing after the first shuffle scales with |events|.
    QueryDef(
      "q60_markov_transitions",
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |    epoch_ms(cast(ts as timestamp)) AS ms FROM events),
             |p AS (SELECT event_type AS cur_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ms, event_id) AS next_type FROM e),
             |c AS (SELECT cur_type, next_type, count(*) AS n_trans
             |  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2),
             |t AS (SELECT *, sum(n_trans) OVER (PARTITION BY cur_type)
             |    AS total FROM c)
             |SELECT cur_type, next_type, n_trans,
             |  cast(n_trans * 1000000 // total as bigint) AS p_fx
             |FROM t""".stripMargin),
      (s, d) => {
        val wl = Window.partitionBy(col("user_id"))
          .orderBy(col("ms"), col("event_id"))
        val wt = Window.partitionBy(col("cur_type"))
        t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_millis(col("ts")).as("ms"))
          .select(col("event_type").as("cur_type"),
            lead(col("event_type"), 1).over(wl).as("next_type"))
          .filter(col("next_type").isNotNull)
          .groupBy(col("cur_type"), col("next_type"))
          .agg(count(lit(1)).as("n_trans"))
          .withColumn("total", sum(col("n_trans")).over(wt))
          .select(col("cur_type"), col("next_type"), col("n_trans"),
            expr("cast(n_trans * 1000000 div total as bigint)").as("p_fx"))
      }),

    // --------------------------------------- RFM segmentation (q61)
    // Classic marketing RFM: per customer recency (days since last
    // order, against the corpus-wide max order date), frequency
    // (order count) and monetary (exact cents), each cut into
    // quartiles by `ntile(4)` with a custkey tie-break so the cuts are
    // total-ordered and bit-deterministic; report the 64-cell segment
    // grid. Orders collapse to customer grain FIRST (one keyed
    // Exchange with map-side partials), so the three ntile sorts run
    // over |customers| rows, not |orders|; the anchor date is a 1-row
    // broadcast. Monetary stays integer cents end-to-end.
    QueryDef(
      "q61_rfm_segments",
      Some("""WITH a AS (SELECT max(o_orderdate) AS anchor FROM orders),
             |cg AS (SELECT o_custkey,
             |    date_diff('day', max(o_orderdate),
             |      (SELECT anchor FROM a)) AS rec_days,
             |    count(*) AS freq,
             |    sum(cast(round(o_totalprice * 100) as bigint)) AS cents
             |  FROM orders GROUP BY 1),
             |q AS (SELECT o_custkey, rec_days, freq, cents,
             |    cast(ntile(4) OVER (ORDER BY rec_days ASC, o_custkey ASC)
             |      as int) AS r_q,
             |    cast(ntile(4) OVER (ORDER BY freq DESC, o_custkey ASC)
             |      as int) AS f_q,
             |    cast(ntile(4) OVER (ORDER BY cents DESC, o_custkey ASC)
             |      as int) AS m_q
             |  FROM cg)
             |SELECT r_q, f_q, m_q, count(*) AS n_customers,
             |  cast(sum(cents) as bigint) AS seg_cents,
             |  cast(min(o_custkey) as bigint) AS sample_custkey
             |FROM q GROUP BY 1, 2, 3""".stripMargin),
      (s, d) => {
        val o = t(s, d, "orders")
        val anchor = o.agg(max(col("o_orderdate")).as("anchor"))
        val cg = o
          .groupBy(col("o_custkey"))
          .agg(max(col("o_orderdate")).as("last_order"),
            count(lit(1)).as("freq"),
            sum(expr("cast(round(o_totalprice * 100) as bigint)"))
              .as("cents"))
          .crossJoin(broadcast(anchor))
          .select(col("o_custkey"),
            datediff(col("anchor"), col("last_order")).cast("long")
              .as("rec_days"),
            col("freq"), col("cents"))
        cg
          .withColumn("r_q", ntile(4).over(
            Window.orderBy(col("rec_days").asc, col("o_custkey").asc)))
          .withColumn("f_q", ntile(4).over(
            Window.orderBy(col("freq").desc, col("o_custkey").asc)))
          .withColumn("m_q", ntile(4).over(
            Window.orderBy(col("cents").desc, col("o_custkey").asc)))
          .groupBy(col("r_q"), col("f_q"), col("m_q"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("cents")).cast("long").as("seg_cents"),
            min(col("o_custkey")).cast("long").as("sample_custkey"))
      }),

    // ----------------------------------- ABC / Pareto analysis (q62)
    // Classify parts into A/B/C revenue classes by cumulative share
    // (A: first 70% of revenue, B: to 90%, C: tail) — the inventory
    // 80/20 report. All share math is integer cross-multiplication
    // against exact cents (cum*10 <= total*7), no percentage floats.
    // Lineitems collapse to part grain first (one keyed Exchange with
    // map-side partials); the cumulative window sorts |parts| rows,
    // not |lineitems|, and the final report is 3 rows.
    QueryDef(
      "q62_abc_analysis",
      Some("""WITH pr AS (SELECT l_partkey,
             |    cast(sum(cast(round(l_extendedprice * 100) as bigint))
             |      as bigint) AS cents
             |  FROM lineitem GROUP BY 1),
             |t AS (SELECT cast(sum(cents) as bigint) AS total FROM pr),
             |c AS (SELECT l_partkey, cents,
             |    sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC
             |      ROWS UNBOUNDED PRECEDING) AS cum FROM pr),
             |k AS (SELECT l_partkey, cents,
             |    CASE WHEN cum * 10 <= total * 7 THEN 'A'
             |         WHEN cum * 10 <= total * 9 THEN 'B'
             |         ELSE 'C' END AS cls
             |  FROM c, t)
             |SELECT cls, count(*) AS n_parts,
             |  cast(sum(cents) as bigint) AS class_cents,
             |  cast(sum(cents) * 1000000 // (SELECT total FROM t)
             |    as bigint) AS share_fx
             |FROM k GROUP BY 1""".stripMargin),
      (s, d) => {
        val pr = t(s, d, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
            .as("cents"))
        val total = pr.agg(sum(col("cents")).as("total"))
        val wcum = Window.orderBy(col("cents").desc, col("l_partkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pr.withColumn("cum", sum(col("cents")).over(wcum))
          .crossJoin(broadcast(total))
          .withColumn("cls", expr(
            """CASE WHEN cum * 10 <= total * 7 THEN 'A'
              |     WHEN cum * 10 <= total * 9 THEN 'B'
              |     ELSE 'C' END""".stripMargin))
          .groupBy(col("cls"))
          .agg(count(lit(1)).as("n_parts"),
            sum(col("cents")).cast("long").as("class_cents"),
            expr("cast(sum(cents) * 1000000 div min(total) as bigint)")
              .as("share_fx"))
      }),

    // ----------------------------------- basket affinity (q63)
    // Market-basket association: part pairs co-ordered in the same
    // order, with support and LIFT (how much more often than chance)
    // in integer fixed point; top-20 by support. The pair explode is
    // bounded by order width (distinct parts per order ~ lines/order),
    // never an all-pairs product over the part dimension; per-part
    // supports ride back as two keyed joins on the (small) pair
    // relation.
    QueryDef(
      "q63_basket_affinity",
      Some("""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey
             |  FROM lineitem),
             |n AS (SELECT cast(count(DISTINCT l_orderkey) as bigint)
             |    AS n_orders FROM op),
             |ps AS (SELECT l_partkey, count(*) AS supp FROM op GROUP BY 1),
             |pp AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             |    count(*) AS supp_ab
             |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |r AS (SELECT part_a, part_b, supp_ab,
             |    sa.supp AS supp_a, sb.supp AS supp_b,
             |    cast(n_orders * supp_ab * 1000000 // (sa.supp * sb.supp)
             |      as bigint) AS lift_fx,
             |    row_number() OVER (ORDER BY supp_ab DESC, part_a ASC,
             |      part_b ASC) AS rn
             |  FROM pp JOIN ps sa ON pp.part_a = sa.l_partkey
             |  JOIN ps sb ON pp.part_b = sb.l_partkey
             |  CROSS JOIN n)
             |SELECT part_a, part_b, cast(supp_ab as bigint) AS supp_ab,
             |  cast(supp_a as bigint) AS supp_a,
             |  cast(supp_b as bigint) AS supp_b, lift_fx,
             |  cast(rn as int) AS rn
             |FROM r WHERE rn <= 20""".stripMargin),
      (s, d) => {
        // `op` feeds four consumers in one plan, but caching it was
        // MEASURED 1.5x WORSE (round 17, interleaved TimeQ A/B x3:
        // warm 2.91 vs 1.91 s): the repeated subtree ends in an
        // identical distinct Exchange that ReuseExchange already
        // deduplicates, so an InMemoryRelation only adds a columnar
        // build + read on top of the reused shuffle. Unlike c11, where
        // the repeats diverged above the exchange, there is nothing
        // here for a cache to save. Left uncached deliberately.
        val op = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val n = op.agg(countDistinct(col("l_orderkey")).as("n_orders"))
        val ps = op.groupBy(col("l_partkey")).agg(count(lit(1)).as("supp"))
        val pp = op.select(col("l_orderkey"), col("l_partkey").as("part_a"))
          .join(op.select(col("l_orderkey"), col("l_partkey").as("part_b")),
            Seq("l_orderkey"))
          .filter(col("part_a") < col("part_b"))
          .groupBy(col("part_a"), col("part_b"))
          .agg(count(lit(1)).as("supp_ab"))
          .filter(col("supp_ab") >= 2)
        val wr = Window.orderBy(col("supp_ab").desc, col("part_a").asc,
          col("part_b").asc)
        pp
          .join(ps.select(col("l_partkey").as("part_a"),
            col("supp").as("supp_a")), Seq("part_a"))
          .join(ps.select(col("l_partkey").as("part_b"),
            col("supp").as("supp_b")), Seq("part_b"))
          .crossJoin(broadcast(n))
          .withColumn("lift_fx", expr(
            "cast(n_orders * supp_ab * 1000000 div (supp_a * supp_b) as bigint)"))
          .withColumn("rn", row_number().over(wr))
          .filter(col("rn") <= 20)
          .select(col("part_a"), col("part_b"), col("supp_ab"),
            col("supp_a"), col("supp_b"), col("lift_fx"),
            col("rn").cast("int").as("rn"))
      }),

    // ------------------------------- conversion-time profile (q64)
    // Per entry channel (q59's exact session semantics): how long a
    // converting session takes from first event to first purchase —
    // count, DISCRETE median (q36's rank-pick, fully tie-broken), and
    // max. The funnel-latency report product teams read next to q59's
    // conversion rates. One user-keyed Exchange sessionizes; converting
    // sessions then shuffle once on the 5-value entry type ONLY for
    // the median window (bounded relation: converting sessions, not
    // events).
    QueryDef(
      "q64_conversion_time",
      Some(s"""WITH e AS (SELECT user_id, event_id, event_type,
              |    epoch_ms(cast(ts as timestamp)) AS ms FROM events),
              |x AS (SELECT user_id, event_id, event_type, ms,
              |    CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id
              |        ORDER BY ms, event_id) > $GapMs THEN 1 ELSE 0 END AS brk
              |  FROM e),
              |s AS (SELECT user_id, event_id, event_type, ms,
              |    sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
              |      ROWS UNBOUNDED PRECEDING) + 1 AS session_id
              |  FROM x),
              |f AS (SELECT user_id, session_id, event_type AS entry_type
              |  FROM (SELECT user_id, session_id, event_type,
              |      row_number() OVER (PARTITION BY user_id, session_id
              |        ORDER BY ms, event_id) AS rn FROM s) z WHERE rn = 1),
              |cv AS (SELECT user_id, session_id, min(ms) AS start_ms,
              |    min(CASE WHEN event_type = 'purchase' THEN ms END) AS fp
              |  FROM s GROUP BY 1, 2),
              |tt AS (SELECT f.entry_type, cv.user_id, cv.session_id,
              |    cv.fp - cv.start_ms AS ttc
              |  FROM cv JOIN f ON cv.user_id = f.user_id
              |    AND cv.session_id = f.session_id
              |  WHERE cv.fp IS NOT NULL),
              |r AS (SELECT *, row_number() OVER (PARTITION BY entry_type
              |    ORDER BY ttc ASC, user_id ASC, session_id ASC) AS rn,
              |    count(*) OVER (PARTITION BY entry_type) AS n FROM tt)
              |SELECT entry_type, cast(max(n) as bigint) AS n_converted,
              |  cast(max(CASE WHEN rn = (n + 1) // 2 THEN ttc END)
              |    as bigint) AS median_ttc_ms,
              |  cast(max(ttc) as bigint) AS max_ttc_ms
              |FROM r GROUP BY 1""".stripMargin),
      (s, d) => {
        val ord = Seq(col("ms"), col("event_id"))
        val wl = Window.partitionBy(col("user_id")).orderBy(ord: _*)
        val wc = Window.partitionBy(col("user_id")).orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sess = t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_millis(col("ts")).as("ms"))
          .withColumn("brk",
            when(col("ms") - lag(col("ms"), 1).over(wl) > GapMs, 1)
              .otherwise(0))
          .withColumn("session_id", (sum(col("brk")).over(wc) + 1).cast("int"))
        val tt = sess.groupBy(col("user_id"), col("session_id"))
          .agg(min(struct(col("ms"), col("event_id"), col("event_type")))
              .as("fe"),
            min(col("ms")).as("start_ms"),
            min(when(col("event_type") === "purchase", col("ms"))).as("fp"))
          .filter(col("fp").isNotNull)
          .select(col("fe.event_type").as("entry_type"), col("user_id"),
            col("session_id"), (col("fp") - col("start_ms")).as("ttc"))
        val wm = Window.partitionBy(col("entry_type"))
          .orderBy(col("ttc").asc, col("user_id").asc, col("session_id").asc)
        val wn = Window.partitionBy(col("entry_type"))
        tt.withColumn("rn", row_number().over(wm))
          .withColumn("n", count(lit(1)).over(wn))
          .groupBy(col("entry_type"))
          .agg(max(col("n")).cast("long").as("n_converted"),
            max(when(col("rn") === expr("(n + 1) div 2"), col("ttc")))
              .cast("long").as("median_ttc_ms"),
            max(col("ttc")).cast("long").as("max_ttc_ms"))
      }),

    // ---------------------------- supplier concentration / HHI (q65)
    // Herfindahl–Hirschman concentration of supplier revenue per
    // nation: Σ share² over the nation's suppliers, in integer fixed
    // point (share_fx = cents·1e6 // nation total; hhi_fx =
    // Σ share_fx² // 1e6) — the market-concentration report (10000+
    // suppliers each tiny → hhi→0; one supplier → 1e6). Lineitems
    // collapse to (supplier) grain first; the supplier dim broadcasts;
    // everything after the one revenue Exchange runs on supplier-count
    // rows.
    QueryDef(
      "q65_supplier_hhi",
      Some("""WITH sr AS (SELECT l_suppkey,
             |    cast(sum(cast(round(l_extendedprice * 100) as bigint))
             |      as bigint) AS cents
             |  FROM lineitem GROUP BY 1),
             |j AS (SELECT n.n_name AS nation, sr.l_suppkey, sr.cents
             |  FROM sr JOIN supplier s ON sr.l_suppkey = s.s_suppkey
             |  JOIN nation n ON s.s_nationkey = n.n_nationkey),
             |t AS (SELECT nation, cast(sum(cents) as bigint) AS total
             |  FROM j GROUP BY 1),
             |sh AS (SELECT j.nation, j.cents,
             |    cast(j.cents * 1000000 // t.total as bigint) AS share_fx
             |  FROM j JOIN t ON j.nation = t.nation)
             |SELECT nation, count(*) AS n_suppliers,
             |  cast(sum(cents) as bigint) AS nation_cents,
             |  cast(sum(share_fx * share_fx) // 1000000 as bigint) AS hhi_fx,
             |  cast(max(share_fx) as bigint) AS top_share_fx
             |FROM sh GROUP BY 1""".stripMargin),
      (s, d) => {
        val sr = t(s, d, "lineitem")
          .groupBy(col("l_suppkey"))
          .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
            .as("cents"))
        val dim = t(s, d, "supplier")
          .join(t(s, d, "nation"),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("nation"))
        val j = sr.join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
        val total = j.groupBy(col("nation"))
          .agg(sum(col("cents")).as("total"))
        j.join(broadcast(total), "nation")
          .withColumn("share_fx",
            expr("cast(cents * 1000000 div total as bigint)"))
          .groupBy(col("nation"))
          .agg(count(lit(1)).as("n_suppliers"),
            sum(col("cents")).cast("long").as("nation_cents"),
            expr("cast(sum(share_fx * share_fx) div 1000000 as bigint)")
              .as("hhi_fx"),
            max(col("share_fx")).as("top_share_fx"))
      }),

    // -------------------------------- activity-gap profile (q66)
    // Per user: the LONGEST silent gap between consecutive events and
    // how many gaps exceeded one hour — the complement to q58 (which
    // measures ARRIVAL lateness; this measures EVENT-TIME silence),
    // the profile that sizes session timeouts and liveness alerts.
    // Users with a single event have no gaps and report zeros. One
    // user-keyed window Exchange; the report is user-grain, joinless.
    QueryDef(
      "q66_activity_gaps",
      Some("""WITH e AS (SELECT user_id, event_id,
             |    epoch_ms(cast(ts as timestamp)) AS ms FROM events),
             |g AS (SELECT user_id,
             |    ms - lag(ms) OVER (PARTITION BY user_id
             |      ORDER BY ms, event_id) AS gap FROM e)
             |SELECT user_id, count(*) AS n_events,
             |  cast(coalesce(max(gap), 0) as bigint) AS max_gap_ms,
             |  cast(sum(CASE WHEN gap > 3600000 THEN 1 ELSE 0 END)
             |    as bigint) AS n_long_gaps
             |FROM g GROUP BY 1""".stripMargin),
      (s, d) => {
        val wl = Window.partitionBy(col("user_id"))
          .orderBy(col("ms"), col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_millis(col("ts")).as("ms"))
          .withColumn("gap", col("ms") - lag(col("ms"), 1).over(wl))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            coalesce(max(col("gap")), lit(0L)).as("max_gap_ms"),
            sum(when(col("gap") > 3600000L, 1L).otherwise(0L))
              .cast("long").as("n_long_gaps"))
      }),

    // -------------------------- new vs returning revenue (q67)
    // Per order month: how many DISTINCT customers were NEW (their
    // first-ever order falls in this month) vs returning, and the
    // exact cents each cohort spent — the growth-vs-retention revenue
    // split every monthly business review opens with (q45's cohort
    // matrix is the long-form; this is the headline row). First-order
    // months ride one custkey Exchange; the classification is a
    // co-keyed join back (AQE broadcasts the customer-grain side);
    // the report is |months|×2 rows.
    QueryDef(
      "q67_new_vs_returning",
      Some("""WITH fo AS (SELECT o_custkey,
             |    min(date_trunc('month', o_orderdate)) AS first_month
             |  FROM orders GROUP BY 1),
             |m AS (SELECT o.o_custkey,
             |    date_trunc('month', o.o_orderdate) AS month,
             |    cast(round(o.o_totalprice * 100) as bigint) AS cents,
             |    CASE WHEN date_trunc('month', o.o_orderdate)
             |      = fo.first_month THEN 'new' ELSE 'returning' END AS cohort
             |  FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey)
             |SELECT month, cohort,
             |  cast(count(DISTINCT o_custkey) as bigint) AS n_customers,
             |  count(*) AS n_orders,
             |  cast(sum(cents) as bigint) AS revenue_cents
             |FROM m GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val o = t(s, d, "orders")
        // trunc() keeps DATE type to match the oracle's date_trunc-over-
        // DATE output exactly (see q45)
        val fo = o.groupBy(col("o_custkey"))
          .agg(min(trunc(col("o_orderdate"), "month"))
            .as("first_month"))
        o.select(col("o_custkey"),
            trunc(col("o_orderdate"), "month").as("month"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
          .join(fo, "o_custkey")
          .withColumn("cohort",
            when(col("month") === col("first_month"), "new")
              .otherwise("returning"))
          .groupBy(col("month"), col("cohort"))
          .agg(countDistinct(col("o_custkey")).as("n_customers"),
            count(lit(1)).as("n_orders"),
            sum(col("cents")).cast("long").as("revenue_cents"))
      }),

    // Referential-integrity audit — the lake-governance report a data
    // platform runs before promoting a snapshot: orphan facts (lineitem
    // rows whose order is missing), childless parents (orders with zero
    // lineitems), dangling foreign keys (order custkeys absent from
    // customer), plus the per-order fan-out profile. One full-outer key
    // reconciliation between orders and the lineitem-per-order rollup
    // (both sides arrive pre-aggregated or key-projected, so the join
    // is keyed and partial-aggregated) + one anti-join against the
    // customer dimension; the report is a single row of exact counts.
    QueryDef(
      "q68_integrity_audit",
      Some("""WITH lc AS (SELECT l_orderkey, count(*) AS n_lines
             |  FROM lineitem GROUP BY 1),
             |rec AS (SELECT o.o_orderkey AS ok, o.o_custkey,
             |    lc.l_orderkey AS lk, lc.n_lines
             |  FROM orders o FULL JOIN lc ON o.o_orderkey = lc.l_orderkey),
             |ck AS (SELECT count(*) AS n_dangling_cust FROM (
             |  SELECT DISTINCT o_custkey FROM orders
             |  EXCEPT SELECT c_custkey FROM customer) z)
             |SELECT
             |  cast(count(ok) as bigint) AS n_orders,
             |  cast(coalesce(sum(n_lines), 0) as bigint) AS n_lineitems,
             |  cast(coalesce(sum(CASE WHEN ok IS NULL THEN n_lines END), 0)
             |    as bigint) AS n_orphan_lines,
             |  cast(sum(CASE WHEN ok IS NOT NULL AND lk IS NULL
             |    THEN 1 ELSE 0 END) as bigint) AS n_empty_orders,
             |  cast(max(n_lines) as bigint) AS max_lines_per_order,
             |  (SELECT n_dangling_cust FROM ck) AS n_dangling_cust
             |FROM rec""".stripMargin),
      (s, d) => {
        val o = t(s, d, "orders").select("o_orderkey", "o_custkey")
        val lc = t(s, d, "lineitem").groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_lines"))
        val rec = o.join(lc, o("o_orderkey") === lc("l_orderkey"),
          "full_outer")
        val audit = rec.agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("n_lines")), lit(0L)).cast("long")
            .as("n_lineitems"),
          coalesce(sum(when(col("o_orderkey").isNull, col("n_lines"))),
            lit(0L)).cast("long").as("n_orphan_lines"),
          sum(when(col("o_orderkey").isNotNull && col("l_orderkey").isNull,
            1L).otherwise(0L)).cast("long").as("n_empty_orders"),
          max(col("n_lines")).cast("long").as("max_lines_per_order"))
        val dangling = o.select(col("o_custkey")).distinct()
          .join(t(s, d, "customer").select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).cast("long").as("n_dangling_cust"))
        audit.crossJoin(dangling)
      }),

    // Customer-value decile lift (gain chart) — "the top 10% of
    // customers carry X% of revenue", the concentration report behind
    // every retention budget. Exact global ranks come from
    // ScaleOps.globalPrefixSum (range-partition + per-partition prefix +
    // broadcast offsets), NOT a single-reducer row_number window, so the
    // customer-grain rank assignment scales to any width; the decile is
    // pure rank arithmetic (`1 + (rk-1)*10 div n` — identical allocation
    // in both engines, no ntile boundary-tie ambiguity), and only the
    // 10-row decile report ever sees an unpartitioned window. Revenue
    // travels as exact cents; the cumulative share is integer ppm.
    QueryDef(
      "q69_decile_lift",
      Some("""WITH c AS (SELECT o_custkey, cast(sum(cast(round(o_totalprice
             |    * 100) as bigint)) as bigint) AS cents
             |  FROM orders GROUP BY 1),
             |r AS (SELECT cents, row_number() OVER (ORDER BY cents DESC,
             |    o_custkey) AS rk FROM c),
             |d AS (SELECT cast(1 + (rk - 1) * 10 // (SELECT count(*)
             |    FROM c) as int) AS decile, cents FROM r),
             |a AS (SELECT decile, count(*) AS n_customers,
             |    cast(sum(cents) as bigint) AS revenue_cents
             |  FROM d GROUP BY 1)
             |SELECT decile, n_customers, revenue_cents,
             |  cast(sum(revenue_cents) OVER (ORDER BY decile
             |      ROWS UNBOUNDED PRECEDING) * 1000000
             |    // sum(revenue_cents) OVER () as bigint) AS cum_revenue_ppm
             |FROM a""".stripMargin),
      (s, d) => {
        val cust = t(s, d, "orders").groupBy(col("o_custkey"))
          .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)"))
            .cast("long").as("cents"))
        val (ranked, n) = ScaleOps.globalPrefixSumWithTotal(cust,
          Seq(col("cents").desc, col("o_custkey").asc), lit(1), "rk")
        val agg = ranked
          .withColumn("decile",
            expr(s"cast(1 + (rk - 1) * 10 div ${n}L as int)"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("cents")).cast("long").as("revenue_cents"))
        // the remaining windows see exactly 10 rows — bounded report math
        val wCum = Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        agg
          .withColumn("__cum", sum(col("revenue_cents")).over(wCum))
          .withColumn("__tot", sum(col("revenue_cents")).over(wAll))
          .withColumn("cum_revenue_ppm",
            expr("cast(__cum * 1000000L div __tot as bigint)"))
          .drop("__cum", "__tot")
      }),

    // Sequence-pattern mining over event paths — the MATCH_RECOGNIZE-
    // class capability: each user's journey becomes the ordered string
    // of event-type initials (first 12 events — bounded per-key state),
    // then the path-frequency table reports which journeys dominate and
    // which match the conversion pattern `v.*c.*p` (view→…→click→…→
    // purchase). Complements q43's FIXED funnel: here the patterns are
    // MINED from the data, not prescribed. One user-keyed window caps
    // the path, one hash aggregate builds it (collect_list bounded at
    // 12 rows per user), one more counts identical paths.
    QueryDef(
      "q70_event_paths",
      Some("""WITH e AS (SELECT user_id,
             |    epoch_ms(cast(ts as timestamp)) AS ms, event_id,
             |    substr(event_type, 1, 1) AS c FROM events),
             |o AS (SELECT user_id, c, row_number() OVER (
             |    PARTITION BY user_id ORDER BY ms, event_id) AS rn FROM e),
             |p AS (SELECT user_id, string_agg(c, '' ORDER BY rn) AS path
             |  FROM o WHERE rn <= 12 GROUP BY user_id)
             |SELECT path, count(*) AS n_users,
             |  regexp_matches(path, 'v.*c.*p') AS matches_funnel
             |FROM p GROUP BY path""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ms"), col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), unix_millis(col("ts")).as("ms"),
            col("event_id"), substring(col("event_type"), 1, 1).as("c"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 12)
          .groupBy(col("user_id"))
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("rn"), col("c")))),
            x => x.getField("c")), "").as("path"))
          .groupBy(col("path"))
          .agg(count(lit(1)).as("n_users"))
          .withColumn("matches_funnel", col("path").rlike("v.*c.*p"))
      }),

    // q71: MERGEABLE-SKETCH quantiles — the 100 TB alternative to the
    // exact-sort paths (q46/q48/q57 shuffle every row to rank it). The
    // sketch is a fixed-width histogram over whole value units: its
    // per-partition partials merge by ADDITION (one map-side-combinable
    // groupBy — the same associativity st24 relies on), and quantile
    // extraction runs on the ≤|buckets|×|types| sketch rows, never the
    // event mass. p50/p95/p99 resolve to the smallest bucket whose
    // cumulative count reaches ceil(p·n/100) — deterministic integer
    // math, bit-identical in both engines. Bucketing is FLOOR division
    // via the same pmod identity ON BOTH SIDES: Spark `div` and DuckDB
    // integer `//` both truncate toward zero (measured, not assumed),
    // which would make the zero bucket TWICE the width of every other
    // (cents −99..99 all landing in 0) — a fixed-width histogram must
    // floor, so a negative value (−1.5 → cents −150) lands in bucket
    // −2, sign-uniform. (The ceil-rank divisions stay truncating:
    // their operands are counts, provably ≥ 0, where truncate = floor.)
    // The cents rounding is the st24-established parity. Error bound:
    // one bucket width, priced by the fixed grid — the honest trade
    // the exact paths price the other way.
    QueryDef(
      "q71_sketch_quantiles",
      Some("""WITH r AS (SELECT event_type,
             |    cast(round(value * 100) as bigint) AS cents FROM events),
             |c AS (SELECT event_type,
             |    (cents - ((cents % 100) + 100) % 100) // 100 AS bucket
             |  FROM r),
             |h AS (SELECT event_type, bucket, count(*) AS c
             |  FROM c GROUP BY 1, 2),
             |x AS (SELECT *, sum(c) OVER (PARTITION BY event_type
             |      ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(c) OVER (PARTITION BY event_type) AS n FROM h)
             |SELECT event_type, cast(max(n) as bigint) AS n_events,
             |  min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bucket END)
             |    AS p50_bucket,
             |  min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bucket END)
             |    AS p95_bucket,
             |  min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bucket END)
             |    AS p99_bucket
             |FROM x GROUP BY event_type""".stripMargin),
      (s, d) => {
        // floor(cents / 100) as pure integer math: subtracting the
        // always-nonnegative pmod makes the numerator an exact multiple
        // whose truncating `div` equals the floor; the oracle applies
        // the identical identity (DuckDB integer `//` ALSO truncates)
        val bucket = "(cast(round(value * 100) as bigint)" +
          " - pmod(cast(round(value * 100) as bigint), 100)) div 100"
        val hist = t(s, d, "events")
          .select(col("event_type"), expr(bucket).as("bucket"))
          .groupBy(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("c"))
        val wCum = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("event_type"))
        def pick(p: Int) =
          min(when(col("cum") >= expr(s"(n * $p + 99) div 100"),
            col("bucket"))).as(s"p${p}_bucket")
        hist
          .withColumn("cum", sum(col("c")).over(wCum))
          .withColumn("n", sum(col("c")).over(wAll))
          .groupBy(col("event_type"))
          .agg(max(col("n")).as("n_events"), pick(50), pick(95), pick(99))
      }),

    // q72: KMV SET ALGEBRA — distinct-count estimates for the UNION
    // and INTERSECTION of every event-type pair's user population,
    // computed entirely from per-type k-minimum-values sketches
    // (t09's graft_kmin TypedImperativeAggregate). The audience-overlap
    // question ("how many users click AND purchase?") at 100 TB:
    // the event mass crosses ONE map-side-combinable aggregate per
    // type (shuffle carries ≤ k longs per group per mapper), and ALL
    // pair algebra runs on the ≤ |types| sketch rows — never a
    // user-level pair join. The math is the standard KMV identity
    // set: kmin(A ∪ B) ⊆ kmin(A) ∪ kmin(B) (so union sketches merge
    // from sketches alone), any union-sketch member below its own
    // set's kth-min is IN that set's sketch (so intersection
    // membership is decidable from sketches alone), and
    // est_inter = p·est_union/k. Estimates are deterministic integer
    // math on the shared polyhash (exact in both engines); the exact
    // union/intersection columns are the AUDIT baseline the gate
    // verifies the estimates against (the s04 recall idiom) — a
    // production run keeps only the sketch half.
    QueryDef(
      "q72_kmv_set_ops",
      // non-NULL population keys on both sides (st27's shared law)
      Some(s"""WITH uu AS (SELECT DISTINCT event_type, user_id FROM events
             |  WHERE user_id IS NOT NULL),
             |h AS (SELECT event_type,
             |    ${graft.llm.TextExprs.duckWordHash("cast(user_id as varchar)")}
             |      AS h FROM uu),
             |sk AS (SELECT event_type,
             |    list_sort(list_distinct(list(h))) AS fl FROM h GROUP BY 1),
             |s2 AS (SELECT event_type,
             |    fl[1:cast(least(len(fl), $KmvK) as int)] AS hs FROM sk),
             |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    a.hs AS ha, b.hs AS hb
             |  FROM s2 a, s2 b WHERE a.event_type < b.event_type),
             |m AS (SELECT type_a, type_b, ha, hb,
             |    list_sort(list_distinct(ha || hb)) AS mf FROM pr),
             |m2 AS (SELECT type_a, type_b, ha, hb,
             |    mf[1:cast(least(len(mf), $KmvK) as int)] AS mu FROM m),
             |ee AS (SELECT type_a, type_b, cast(len(mu) as bigint) AS u,
             |    cast(len(list_filter(mu, x -> list_contains(ha, x)
             |      AND list_contains(hb, x))) as bigint) AS p, mu FROM m2),
             |es AS (SELECT type_a, type_b, u, p,
             |    ${graft.functions.KmvEstimator.duck("mu", KmvK)} AS est_union
             |  FROM ee),
             |nx AS (SELECT event_type, count(*) AS n FROM uu GROUP BY 1),
             |xi AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    count(*) AS ei
             |  FROM uu a JOIN uu b ON a.user_id = b.user_id
             |    AND a.event_type < b.event_type GROUP BY 1, 2)
             |SELECT es.type_a, es.type_b,
             |  cast(est_union as bigint) AS est_union,
             |  cast(na.n + nb.n - coalesce(xi.ei, 0) as bigint) AS exact_union,
             |  cast(CASE WHEN u >= $KmvK THEN p * est_union // u
             |    ELSE p END as bigint) AS est_inter,
             |  cast(coalesce(xi.ei, 0) as bigint) AS exact_inter,
             |  cast(abs(est_union - (na.n + nb.n - coalesce(xi.ei, 0)))
             |      * 1000000
             |      // (na.n + nb.n - coalesce(xi.ei, 0)) as bigint)
             |    AS union_err_ppm
             |FROM es
             |JOIN nx na ON na.event_type = es.type_a
             |JOIN nx nb ON nb.event_type = es.type_b
             |LEFT JOIN xi ON xi.type_a = es.type_a
             |  AND xi.type_b = es.type_b""".stripMargin),
      (s, d) => Materialize.scoped { m =>
        graft.functions.GraftFunctions.register(s)
        val uu = m.pin(t(s, d, "events") // sketches + exact audit share one scan
          .filter(col("user_id").isNotNull)
          .select(col("event_type"), col("user_id")).distinct(), Actual)
        val sk = uu
          .select(col("event_type"),
            expr("graft_polyhash32(cast(user_id as string))").as("h"))
          .groupBy(col("event_type"))
          .agg(expr(s"graft_kmin(h, $KmvK)").as("hs"))
        val a = sk.select(col("event_type").as("type_a"), col("hs").as("ha"))
        val b = sk.select(col("event_type").as("type_b"), col("hs").as("hb"))
        val est = a.crossJoin(b).filter(col("type_a") < col("type_b"))
          .withColumn("mu", expr(
            s"slice(array_sort(array_union(ha, hb)), 1, $KmvK)"))
          .withColumn("u", expr("cast(size(mu) as bigint)"))
          .withColumn("p", expr("cast(size(filter(mu, " +
            "x -> array_contains(ha, x) AND array_contains(hb, x))) " +
            "as bigint)"))
          .withColumn("est_union",
            expr(graft.functions.KmvEstimator.spark("mu", KmvK)))
          .withColumn("est_inter", expr(
            s"CASE WHEN u >= $KmvK THEN p * est_union div u ELSE p END"))
        val nx = uu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val xi = uu.as("ua").join(uu.as("ub"),
            col("ua.user_id") === col("ub.user_id") &&
              col("ua.event_type") < col("ub.event_type"))
          .groupBy(col("ua.event_type").as("type_a"),
            col("ub.event_type").as("type_b"))
          .agg(count(lit(1)).as("ei"))
        est
          .join(nx.select(col("event_type").as("type_a"), col("n").as("na")),
            "type_a")
          .join(nx.select(col("event_type").as("type_b"), col("n").as("nb")),
            "type_b")
          .join(xi, Seq("type_a", "type_b"), "left")
          .select(col("type_a"), col("type_b"),
            col("est_union").cast("long").as("est_union"),
            expr("na + nb - coalesce(ei, 0L)").cast("long").as("exact_union"),
            col("est_inter").cast("long").as("est_inter"),
            expr("coalesce(ei, 0L)").cast("long").as("exact_inter"),
            expr("abs(est_union - (na + nb - coalesce(ei, 0L))) * 1000000" +
              " div (na + nb - coalesce(ei, 0L))").cast("long")
              .as("union_err_ppm"))
      }),

    // q73: ORDERED FUNNEL — per-user first-occurrence chain over the
    // canonical view → click → purchase stages: a user converts to a
    // stage only if their FIRST event of that stage happened at or
    // after their first event of the previous one (ties count — two
    // events in the same microsecond are one touch). Three rows out:
    // stage, users reaching it in order, and the fixed-point conversion
    // from the previous stage (1e6 at the head). Scale: ONE keyed
    // min-aggregate over the filtered event scan (map-side combinable,
    // pivoted by conditional min, never a self-join per stage — the
    // classic funnel anti-pattern is k-1 self-joins), then a 1-row fold
    // unpivoted via stack. NULL user_ids are excluded (q72/st27's
    // non-NULL population law).
    QueryDef(
      "q73_funnel_conversion",
      Some("""WITH f AS (SELECT user_id,
             |    min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
             |    min(CASE WHEN event_type = 'click' THEN ts END) AS t2,
             |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
             |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
             |r AS (SELECT
             |    count(t1) AS n1,
             |    count(CASE WHEN t2 >= t1 THEN 1 END) AS n2,
             |    count(CASE WHEN t2 >= t1 AND t3 >= t2 THEN 1 END) AS n3
             |  FROM f),
             |u AS (SELECT 1 AS stage_no, 'view' AS stage, n1 AS n_users,
             |    cast(1000000 as bigint) AS conv_fx FROM r
             |  UNION ALL SELECT 2, 'click', n2,
             |    CASE WHEN n1 = 0 THEN 0 ELSE n2 * 1000000 // n1 END FROM r
             |  UNION ALL SELECT 3, 'purchase', n3,
             |    CASE WHEN n2 = 0 THEN 0 ELSE n3 * 1000000 // n2 END FROM r)
             |SELECT cast(stage_no as bigint) AS stage_no, stage,
             |  cast(n_users as bigint) AS n_users,
             |  cast(conv_fx as bigint) AS conv_fx
             |FROM u""".stripMargin),
      (s, d) => {
        val f = Catalog.t(s, d, "events")
          .filter(col("user_id").isNotNull)
          .groupBy(col("user_id"))
          .agg(
            min(when(col("event_type") === "view", col("ts"))).as("t1"),
            min(when(col("event_type") === "click", col("ts"))).as("t2"),
            min(when(col("event_type") === "purchase", col("ts"))).as("t3"))
        val r = f.agg(
          count(col("t1")).as("n1"),
          count(when(col("t2") >= col("t1"), lit(1))).as("n2"),
          count(when(col("t2") >= col("t1") && col("t3") >= col("t2"),
            lit(1))).as("n3"))
        r.select(expr(
          """stack(3,
            |  1L, 'view', n1, 1000000L,
            |  2L, 'click', n2,
            |    CASE WHEN n1 = 0 THEN 0L ELSE n2 * 1000000 div n1 END,
            |  3L, 'purchase', n3,
            |    CASE WHEN n2 = 0 THEN 0L ELSE n3 * 1000000 div n2 END)
            |  AS (stage_no, stage, n_users, conv_fx)""".stripMargin))
          .select(col("stage_no").cast("long").as("stage_no"), col("stage"),
            col("n_users").cast("long").as("n_users"),
            col("conv_fx").cast("long").as("conv_fx"))
      }),

    // q74: rolling 7-day EXACT distinct actives per day — the DAU/WAU
    // engagement panel, computed scale-safely: a sliding `count(
    // DISTINCT)` window over raw events is quadratic state, so instead
    // each distinct (day, user) CONTRIBUTION explodes to the ≤7
    // window-end days it covers (bounded 7× expansion of an already
    // day-deduped frame) and a plain keyed distinct-agg finishes — no
    // window function holds per-user state at all. Window-end days are
    // the days observed in the data (no synthetic calendar). The oracle
    // states the same semantics as a day×events range join — clearer
    // SQL, same answer, quadratic only oracle-side where it's fine.
    QueryDef(
      "q74_rolling_distinct",
      Some("""WITH e AS (SELECT cast(ts AS DATE) AS day, user_id
             |  FROM events WHERE user_id IS NOT NULL),
             |days AS (SELECT DISTINCT day AS wday FROM e),
             |r7 AS (SELECT d.wday, count(DISTINCT u.user_id) AS n_active_7d
             |  FROM days d JOIN e u
             |    ON u.day BETWEEN d.wday - 6 AND d.wday GROUP BY 1),
             |r1 AS (SELECT day AS wday, count(DISTINCT user_id) AS n_active_1d
             |  FROM e GROUP BY 1)
             |SELECT r7.wday, cast(n_active_1d as bigint) AS n_active_1d,
             |  cast(n_active_7d as bigint) AS n_active_7d
             |FROM r7 JOIN r1 USING (wday)""".stripMargin),
      (s, d) => {
        val e = t(s, d, "events").filter(col("user_id").isNotNull)
          .select(to_date(col("ts")).as("day"), col("user_id"))
        val du = e.distinct()
        val days = e.select(col("day").as("wday")).distinct()
        val contrib = du.select(col("user_id"),
          explode(expr("sequence(day, date_add(day, 6), interval 1 day)"))
            .as("wday"))
        val r7 = contrib.join(days, "wday")
          .groupBy(col("wday"))
          .agg(countDistinct(col("user_id")).as("n_active_7d"))
        // du is already (day, user)-distinct: a plain count IS the
        // distinct count — no expand/two-phase distinct agg needed
        // (round-13 review)
        val r1 = du.groupBy(col("day").as("wday"))
          .agg(count(lit(1)).as("n_active_1d"))
        r7.join(r1, "wday")
          .select(col("wday"),
            col("n_active_1d").cast("long").as("n_active_1d"),
            col("n_active_7d").cast("long").as("n_active_7d"))
      }),

    // q75: CUSUM drift detection over daily event volumes, per event
    // type — the classic sequential change detector, computed EXACTLY
    // with the drawdown identity instead of the textbook recursion:
    // C_t = max(0, C_{t-1} + d_t) has the closed form
    // C_t = P_t − min(0, min_{j≤t} P_j) over prefix sums P, so two
    // window functions replace an inherently sequential loop — the
    // only shape that distributes (per-type windows over day grain;
    // state is one partition's day count, never event count). The
    // deviation is integer-scaled by the type's day count
    // (d_t = n_days·x_t − total) so zero floats exist anywhere;
    // cusum_up catches volume surges, cusum_down collapses.
    QueryDef(
      "q75_cusum_drift",
      Some("""WITH x AS (SELECT event_type, cast(ts AS DATE) AS day,
             |    cast(count(*) as bigint) AS n_events
             |  FROM events GROUP BY 1, 2),
             |t AS (SELECT event_type,
             |    cast(count(*) as bigint) AS n_days,
             |    cast(sum(n_events) as bigint) AS total
             |  FROM x GROUP BY 1),
             |d AS (SELECT x.event_type, day, n_events,
             |    n_days * n_events - total AS dev
             |  FROM x JOIN t USING (event_type)),
             |p AS (SELECT event_type, day, n_events,
             |    sum(dev) OVER (PARTITION BY event_type ORDER BY day
             |      ROWS UNBOUNDED PRECEDING) AS pre
             |  FROM d),
             |m AS (SELECT event_type, day, n_events, pre,
             |    min(pre) OVER (PARTITION BY event_type ORDER BY day
             |      ROWS UNBOUNDED PRECEDING) AS mn,
             |    max(pre) OVER (PARTITION BY event_type ORDER BY day
             |      ROWS UNBOUNDED PRECEDING) AS mx
             |  FROM p)
             |SELECT event_type, day, n_events,
             |  cast(pre - least(mn, 0) as bigint) AS cusum_up,
             |  cast(greatest(mx, 0) - pre as bigint) AS cusum_down
             |FROM m""".stripMargin),
      (s, d) => {
        val x = t(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"))
        val tt = x.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"), sum(col("n_events")).as("total"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        x.join(tt, "event_type")
          .withColumn("dev",
            col("n_days") * col("n_events") - col("total"))
          .withColumn("pre", sum(col("dev")).over(w))
          .withColumn("mn", min(col("pre")).over(w))
          .withColumn("mx", max(col("pre")).over(w))
          .select(col("event_type"), col("day"),
            col("n_events").cast("long").as("n_events"),
            (col("pre") - least(col("mn"), lit(0L)))
              .cast("long").as("cusum_up"),
            (greatest(col("mx"), lit(0L)) - col("pre"))
              .cast("long").as("cusum_down"))
      }),

    // j07: interval COALESCING (temporal union) — merge each user's
    // overlapping/touching activity intervals [ts, ts + value·1s) into
    // maximal islands and report the UNION duration: the dedup that
    // makes "time covered" honest when intervals overlap (ad exposure,
    // device sessions, GPU occupancy — summing raw durations double
    // counts). The j-family's missing set-operation: j06 JOINS
    // overlapping intervals, this UNIONS them. Gaps-and-islands on
    // intervals: island starts where start_ms exceeds the running max
    // end over all PRIOR intervals (ordered start, event_id tiebreak);
    // the island id is a running flag sum — two windows + two keyed
    // aggs, all partitioned by user, integer-exact ms arithmetic
    // (floor() both sides: DuckDB's double→bigint cast rounds while
    // Spark's truncates — floor removes the dialect split).
    QueryDef(
      "j07_interval_coalesce",
      Some("""WITH e AS (SELECT user_id, event_id,
             |    epoch_ms(cast(ts as timestamp)) AS start_ms,
             |    epoch_ms(cast(ts as timestamp))
             |      + greatest(cast(floor(value * 1000) as bigint), 0)
             |      AS end_ms
             |  FROM events WHERE user_id IS NOT NULL),
             |f AS (SELECT *,
             |    max(end_ms) OVER (PARTITION BY user_id
             |      ORDER BY start_ms, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS prev_max
             |  FROM e),
             |g AS (SELECT *, CASE WHEN prev_max IS NULL
             |      OR start_ms > prev_max THEN 1 ELSE 0 END AS newisl
             |  FROM f),
             |h AS (SELECT *, sum(newisl) OVER (PARTITION BY user_id
             |      ORDER BY start_ms, event_id
             |      ROWS UNBOUNDED PRECEDING) AS island
             |  FROM g),
             |isl AS (SELECT user_id, island,
             |    max(end_ms) - min(start_ms) AS span_ms,
             |    count(*) AS n
             |  FROM h GROUP BY 1, 2)
             |SELECT user_id, cast(sum(n) as bigint) AS n_intervals,
             |  cast(count(*) as bigint) AS n_islands,
             |  cast(sum(span_ms) as bigint) AS covered_ms
             |FROM isl GROUP BY user_id""".stripMargin),
      (s, d) => {
        val e = t(s, d, "events").filter(col("user_id").isNotNull)
          .select(col("user_id"), col("event_id"),
            unix_millis(col("ts")).as("start_ms"),
            (unix_millis(col("ts")) +
              greatest(expr("cast(floor(value * 1000) as bigint)"),
                lit(0L))).as("end_ms"))
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("start_ms"), col("event_id"))
        val wPrev = ord.rowsBetween(Window.unboundedPreceding, -1)
        val wRun = ord.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val h = e
          .withColumn("prev_max", max(col("end_ms")).over(wPrev))
          .withColumn("newisl",
            when(col("prev_max").isNull ||
              col("start_ms") > col("prev_max"), 1L).otherwise(0L))
          .withColumn("island", sum(col("newisl")).over(wRun))
        h.groupBy(col("user_id"), col("island"))
          .agg((max(col("end_ms")) - min(col("start_ms"))).as("span_ms"),
            count(lit(1)).as("n"))
          .groupBy(col("user_id"))
          .agg(sum(col("n")).cast("long").as("n_intervals"),
            count(lit(1)).cast("long").as("n_islands"),
            sum(col("span_ms")).cast("long").as("covered_ms"))
      }),

    // q76: time-decayed engagement score — recency weighting with a
    // 7-day half-life done in INTEGER arithmetic: weight = 1e6 >>
    // (age_days div 7), so every weight is exact in both engines (no
    // pow(), no float decay product to drift). The anchor ("now") is
    // the corpus max day — a 1-row scalar riding a broadcast (the q61
    // RFM idiom). Shift capped at 30: beyond ~30 half-lives the weight
    // is 0 anyway and >> 63 is undefined territory in neither engine
    // we want to visit. Scale: one scalar + one keyed agg.
    QueryDef(
      "q76_decayed_engagement",
      Some("""WITH mx AS (SELECT max(cast(ts AS DATE)) AS anchor FROM events),
             |e AS (SELECT user_id,
             |    date_diff('day', cast(ts AS DATE), anchor) AS age_days
             |  FROM events, mx WHERE user_id IS NOT NULL)
             |SELECT user_id,
             |  cast(count(*) as bigint) AS n_events,
             |  cast(min(age_days) as bigint) AS last_age_days,
             |  cast(sum(1000000 >> least(age_days // 7, 30)) as bigint)
             |    AS decayed_fx
             |FROM e GROUP BY user_id""".stripMargin),
      (s, d) => {
        val mx = t(s, d, "events")
          .agg(max(to_date(col("ts"))).as("anchor"))
        t(s, d, "events").filter(col("user_id").isNotNull)
          .crossJoin(broadcast(mx))
          .withColumn("age_days",
            datediff(col("anchor"), to_date(col("ts"))))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).cast("long").as("n_events"),
            min(col("age_days")).cast("long").as("last_age_days"),
            sum(expr("shiftright(1000000L, cast(least(age_days div 7," +
              " 30) as int))")).cast("long").as("decayed_fx"))
      }),

    // q77: COUNT-MIN sketch — the third sketch class in the registry
    // (KMV estimates cardinality, Misra-Gries finds heavy hitters,
    // count-min answers POINT FREQUENCY queries from fixed state).
    // The sketch is 4 rows × 64 counters built map-side-combinably
    // straight off the event stream shape (each event explodes to its
    // 4 (row, bucket) cells, partial-aggregating to ≤256 keys per
    // partition before any shuffle — state is the grid, never the
    // keyspace). Sketched keys are (user, day) activity cells — a
    // keyspace that EXCEEDS the grid width at every gate scale, so
    // collisions are real and the min-over-rows machinery is doing
    // work (per-user keys would make the sketch vacuously exact).
    // The audit half probes the top-10 exact-heavy keys: estimate =
    // min over rows of the probed counter, which can only OVER-count
    // (cm_est ≥ exact_n is a structural law, spec-pinned). Hash
    // family: 4 affine maps mod a prime then mod the width — plain
    // int64 arithmetic, exact in both engines, one formula string
    // serving Spark and DuckDB.
    QueryDef(
      "q77_countmin_sketch",
      Some(cmOracle),
      (s, d) => {
        val e = cmKeyed(t(s, d, "events"))
        val sketch = e
          .select(posexplode(cmCells).as(Seq("r", "bucket")))
          .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))
        countMinEstimates(sketch, e)
      }),

    // q78: NELSON-AALEN cumulative hazard for time-to-next-order — the
    // survival-analysis panel (repeat-purchase propensity) done with
    // censoring handled honestly: every order except a customer's last
    // yields an OBSERVED duration to the next one; the last order is
    // CENSORED at the corpus horizon and contributes to risk sets only.
    // The estimator sums d_t/n_t over event durations; each term is an
    // order-independent integer (d_t·1e9 div n_t), so the cumulative
    // sum is exact cross-engine — no float survival product (the
    // Kaplan-Meier form) to drift. Scale: one customer-keyed window
    // (lead), one day-grain aggregate; the risk-set windows run on
    // DURATION grain — bounded by the corpus day span, never by order
    // count (the q75 day-grain discipline).
    QueryDef(
      "q78_survival_hazard",
      Some("""WITH o AS (SELECT o_custkey, o_orderkey,
             |    cast(o_orderdate AS DATE) AS day FROM orders),
             |mx AS (SELECT max(day) AS horizon FROM o),
             |sq AS (SELECT o_custkey, day, lead(day) OVER (
             |    PARTITION BY o_custkey ORDER BY day, o_orderkey) AS nxt
             |  FROM o),
             |u AS (SELECT
             |    CASE WHEN nxt IS NOT NULL THEN date_diff('day', day, nxt)
             |         ELSE date_diff('day', day, horizon) END AS dur,
             |    CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
             |  FROM sq, mx),
             |g AS (SELECT dur, count(*) AS n_all, sum(ev) AS d_t
             |  FROM u GROUP BY 1),
             |tt AS (SELECT sum(n_all) AS total FROM g),
             |r AS (SELECT dur, d_t, total - coalesce(sum(n_all) OVER (
             |      ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING), 0) AS n_risk
             |  FROM g, tt),
             |h AS (SELECT dur, n_risk, d_t,
             |    d_t * 1000000000 // n_risk AS hz FROM r WHERE d_t >= 1)
             |SELECT cast(dur as bigint) AS dur_days,
             |  cast(n_risk as bigint) AS n_risk,
             |  cast(d_t as bigint) AS n_events,
             |  cast(hz as bigint) AS hazard_fx,
             |  cast(sum(hz) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)
             |    as bigint) AS cum_hazard_fx
             |FROM h""".stripMargin),
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_custkey"),
          col("o_orderkey"), to_date(col("o_orderdate")).as("day"))
        val mx = o.agg(max(col("day")).as("horizon"))
        val wc = Window.partitionBy(col("o_custkey"))
          .orderBy(col("day"), col("o_orderkey"))
        val u = o.withColumn("nxt", lead(col("day"), 1).over(wc))
          .crossJoin(broadcast(mx))
          .select(
            when(col("nxt").isNotNull, datediff(col("nxt"), col("day")))
              .otherwise(datediff(col("horizon"), col("day"))).as("dur"),
            when(col("nxt").isNotNull, 1L).otherwise(0L).as("ev"))
        val g = u.groupBy(col("dur"))
          .agg(count(lit(1)).as("n_all"), sum(col("ev")).as("d_t"))
        val tot = g.agg(sum(col("n_all")).as("total"))
        val wBefore = Window.orderBy(col("dur"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRun = Window.orderBy(col("dur"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        g.crossJoin(broadcast(tot))
          .withColumn("n_risk", col("total") -
            coalesce(sum(col("n_all")).over(wBefore), lit(0L)))
          .filter(col("d_t") >= 1)
          .withColumn("hz", expr("d_t * 1000000000L div n_risk"))
          .select(col("dur").cast("long").as("dur_days"),
            col("n_risk").cast("long").as("n_risk"),
            col("d_t").cast("long").as("n_events"),
            col("hz").cast("long").as("hazard_fx"),
            sum(col("hz")).over(wRun).cast("long").as("cum_hazard_fx"))
      }),

    // q80: HOLDOUT LIFT — the experimentation readout (A/B analysis):
    // users hash-split into control/treatment by user_id parity (the
    // deterministic holdout every rollout needs), conversion = any
    // 'purchase' event, and the report is one row of exact counts,
    // fixed-point rates, lift, and the two-proportion z² statistic.
    // z² is computed as ONE exact rational — z² = (c1·n0 − c0·n1)² ·
    // (n0+n1) / (n0·n1·c·(n−c)) — in decimal(38,0)/HUGEINT (the p28
    // discipline: the squared cross term wraps int64 past ~3e9
    // user-conversions), then ONE integer division to fixed point.
    // No float variance chain to drift cross-engine; z² ≥ 3.84 is the
    // familiar 95% line. Scale: one keyed aggregate over users, one
    // scalar fold — nothing grows with event volume.
    QueryDef(
      "q80_holdout_lift",
      Some(s"""WITH u AS (SELECT user_id, abs(user_id % 2) AS variant,
             |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS conv
             |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
             |a AS (SELECT
             |    coalesce(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END),
             |      0) AS n0,
             |    coalesce(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END),
             |      0) AS c0,
             |    coalesce(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END),
             |      0) AS n1,
             |    coalesce(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END),
             |      0) AS c1
             |  FROM u),
             |z AS (SELECT n0, c0, n1, c1,
             |    (cast(c1 as HUGEINT) * n0 - cast(c0 as HUGEINT) * n1)
             |      AS df,
             |    cast(n0 as HUGEINT) * n1 * (c0 + c1)
             |      * (n0 + n1 - c0 - c1) AS den
             |  FROM a)
             |SELECT cast(n0 as bigint) AS n_control,
             |  cast(c0 as bigint) AS conv_control,
             |  cast(n1 as bigint) AS n_treatment,
             |  cast(c1 as bigint) AS conv_treatment,
             |  cast(CASE WHEN n0 = 0 THEN 0
             |    ELSE c0 * 1000000 // n0 END as bigint) AS rate_control_fx,
             |  cast(CASE WHEN n1 = 0 THEN 0
             |    ELSE c1 * 1000000 // n1 END as bigint) AS rate_treatment_fx,
             |  cast(CASE WHEN n0 = 0 OR n1 = 0 THEN 0
             |    ELSE c1 * 1000000 // n1 - c0 * 1000000 // n0 END
             |    as bigint) AS lift_fx,
             |  cast(CASE WHEN den = 0 THEN 0
             |    WHEN n0 + n1 <= $Q80StageUsers
             |    THEN df * df * (n0 + n1) * 1000000 // den
             |    ELSE cast((df * df)
             |        // (cast(n0 as HUGEINT) * n1) as HUGEINT)
             |      * (n0 + n1) * 1000000
             |      // (cast(c0 + c1 as HUGEINT) * (n0 + n1 - c0 - c1))
             |    END as bigint) AS z2_fx
             |FROM z""".stripMargin),
      (s, d) => {
        // abs(): truncated modulo gives variant -1 for negative odd
        // ids in BOTH engines, which would silently drop those users
        // from both arms (round-13 review)
        val u = t(s, d, "events").filter(col("user_id").isNotNull)
          .groupBy(col("user_id"), expr("abs(user_id % 2)").as("variant"))
          .agg(max(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("conv"))
        u.agg(
          coalesce(sum(when(col("variant") === 0, 1L).otherwise(0L)),
            lit(0L)).as("n0"),
          coalesce(sum(when(col("variant") === 0, col("conv"))
            .otherwise(0L)), lit(0L)).as("c0"),
          coalesce(sum(when(col("variant") === 1, 1L).otherwise(0L)),
            lit(0L)).as("n1"),
          coalesce(sum(when(col("variant") === 1, col("conv"))
            .otherwise(0L)), lit(0L)).as("c1"))
          .withColumn("df", expr("cast(c1 as decimal(38,0)) * n0" +
            " - cast(c0 as decimal(38,0)) * n1"))
          .withColumn("den", expr("cast(n0 as decimal(38,0)) * n1" +
            " * (c0 + c1) * (n0 + n1 - c0 - c1)"))
          .select(col("n0").cast("long").as("n_control"),
            col("c0").cast("long").as("conv_control"),
            col("n1").cast("long").as("n_treatment"),
            col("c1").cast("long").as("conv_treatment"),
            expr("cast(CASE WHEN n0 = 0 THEN 0" +
              " ELSE c0 * 1000000L div n0 END as bigint)")
              .as("rate_control_fx"),
            expr("cast(CASE WHEN n1 = 0 THEN 0" +
              " ELSE c1 * 1000000L div n1 END as bigint)")
              .as("rate_treatment_fx"),
            expr("cast(CASE WHEN n0 = 0 OR n1 = 0 THEN 0" +
              " ELSE c1 * 1000000L div n1 - c0 * 1000000L div n0 END" +
              " as bigint)").as("lift_fx"),
            // z² stages past n = 2,000,000 users (round 16, closing the
            // r15 verdict's "last unstaged single rational"): the exact
            // numerator df²·n·1e6 grows ~6e4·n⁵ and overflows
            // decimal(38,0)/HUGEINT near n ≈ 4.4e6 users. Below the
            // threshold both engines evaluate the single exact rational
            // (2e36 at the crossover — 50× headroom); above it both
            // stage IDENTICALLY: q = df² div (n0·n1) — an integer
            // ≤ n0·n1 (|df| ≤ n0·n1), Long-safe to n ≈ 6e9, truncation
            // error < 1 — then q·n·1e6 div (c·(n−c)), numerator
            // ≤ 2.5e5·n³, good to n ≈ 3.6e9 users (den's own
            // decimal(38,0) bound binds first). Staging error ≤
            // n·1e6/(c·(n−c)) fx — ≤ 1 fx once conversions exceed ~1e6;
            // both dialects take the same branch at the same n, so the
            // gate hash cannot split. Spec: RoundSixteenOpsSpec.
            expr("cast(CASE WHEN den = 0 THEN 0" +
              s" WHEN n0 + n1 <= $Q80StageUsers" +
              " THEN df * df * (n0 + n1) * 1000000 div den" +
              " ELSE cast((df * df)" +
              " div (cast(n0 as decimal(38,0)) * n1) as decimal(38,0))" +
              " * (n0 + n1) * 1000000" +
              " div (cast(c0 + c1 as decimal(38,0))" +
              " * (n0 + n1 - c0 - c1))" +
              " END as bigint)").as("z2_fx"))
      }),

    // q81: THEIL-SEN robust trend per event type — the median of all
    // pairwise day-over-day slopes, the estimator that shrugs off the
    // outlier days that wreck least squares (q40's moments): up to
    // ~29% contamination moves it nowhere. Exactness: slopes are
    // integer fixed point ((Δy·1e6) div Δx — both engines truncate
    // integer division toward zero, verified), the median is the
    // LOWER median by rank (the q36 idiom — no interpolation, no
    // floats), and the intercept is the lower median of the integer
    // residuals y·1e6 − slope_fx·x. Scale: the pair join runs on DAY
    // grain per type — (span choose 2) pairs regardless of event
    // volume, the q75 day-grain discipline squared; event volume only
    // ever crosses ONE keyed count. Types with a single day emit NULL
    // trend rather than vanishing (the t46 zero-hit lesson).
    QueryDef(
      "q81_theilsen_trend",
      Some("""WITH dg AS (SELECT event_type, cast(ts AS DATE) AS day,
             |    cast(count(*) as bigint) AS y,
             |    date_diff('day', DATE '1970-01-01', cast(ts AS DATE))
             |      AS x
             |  FROM events GROUP BY 1, 2),
             |p AS (SELECT a.event_type,
             |    ((b.y - a.y) * 1000000) // (b.x - a.x) AS slope_fx,
             |    a.x AS xa, b.x AS xb
             |  FROM dg a JOIN dg b ON a.event_type = b.event_type
             |    AND a.x < b.x),
             |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
             |      ORDER BY slope_fx, xa, xb) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS cnt FROM p),
             |sl AS (SELECT event_type, slope_fx, cnt AS n_pairs
             |  FROM r WHERE rn = (cnt + 1) // 2),
             |res AS (SELECT d.event_type,
             |    d.y * 1000000 - s.slope_fx * d.x AS r_fx, d.x
             |  FROM dg d JOIN sl s USING (event_type)),
             |ri AS (SELECT *, row_number() OVER (PARTITION BY event_type
             |      ORDER BY r_fx, x) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS cnt FROM res),
             |ic AS (SELECT event_type, r_fx AS intercept_fx
             |  FROM ri WHERE rn = (cnt + 1) // 2),
             |nd AS (SELECT event_type, cast(count(*) as bigint) AS n_days
             |  FROM dg GROUP BY 1)
             |SELECT nd.event_type, n_days,
             |  cast(coalesce(n_pairs, 0) as bigint) AS n_pairs,
             |  cast(slope_fx as bigint) AS slope_fx,
             |  cast(intercept_fx as bigint) AS intercept_fx
             |FROM nd LEFT JOIN sl USING (event_type)
             |  LEFT JOIN ic USING (event_type)""".stripMargin),
      (s, d) => {
        val dg = t(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("x",
            datediff(col("day"), lit("1970-01-01").cast("date")))
        val a = dg.select(col("event_type"), col("x").as("xa"),
          col("y").as("ya"))
        val bb = dg.select(col("event_type"), col("x").as("xb"),
          col("y").as("yb"))
        val pairs = a.join(bb, Seq("event_type"))
          .filter(col("xa") < col("xb"))
          .select(col("event_type"),
            expr("((yb - ya) * 1000000L) div (xb - xa)").as("slope_fx"),
            col("xa"), col("xb"))
        val wo = Window.partitionBy(col("event_type"))
          .orderBy(col("slope_fx"), col("xa"), col("xb"))
        val wc = Window.partitionBy(col("event_type"))
        val sl = pairs
          .select(col("event_type"), col("slope_fx"),
            row_number().over(wo).as("rn"), count(lit(1)).over(wc).as("cnt"))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("event_type"), col("slope_fx"),
            col("cnt").as("n_pairs"))
        val res = dg.join(sl.select(col("event_type"), col("slope_fx")),
            Seq("event_type"))
          .select(col("event_type"),
            (col("y") * lit(1000000L) - col("slope_fx") * col("x"))
              .as("r_fx"), col("x"))
        val wo2 = Window.partitionBy(col("event_type"))
          .orderBy(col("r_fx"), col("x"))
        val ic = res
          .select(col("event_type"), col("r_fx"),
            row_number().over(wo2).as("rn"), count(lit(1)).over(wc).as("cnt"))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("event_type"), col("r_fx").as("intercept_fx"))
        val nd = dg.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"))
        nd.join(sl.select(col("event_type"), col("slope_fx"),
            col("n_pairs")), Seq("event_type"), "left")
          .join(ic, Seq("event_type"), "left")
          .select(col("event_type"),
            col("n_days").cast("long").as("n_days"),
            coalesce(col("n_pairs"), lit(0L)).cast("long").as("n_pairs"),
            col("slope_fx").cast("long").as("slope_fx"),
            col("intercept_fx").cast("long").as("intercept_fx"))
      }),

    // q79: BENFORD first-digit audit over order totals — the
    // data-integrity screen for fabricated or truncated numeric feeds
    // (organic multi-scale amounts follow log10(1+1/d); a synthetic or
    // clipped generator does not, and the per-digit deviation says
    // which). Exactness: the leading digit comes from the CENTS
    // integer's decimal string (never float log10, whose pow-of-10
    // edges round differently per engine), observed shares are integer
    // fixed point, and the expected-mass table is nine shared 1e9
    // literals. All nine digits are emitted even at zero observations
    // (the t46 zero-hit lesson). Scale: one scan, a 9-key aggregate,
    // and a broadcast scalar.
    QueryDef(
      "q79_benford_audit",
      Some(s"""WITH c AS (SELECT cast(round(o_totalprice * 100) as bigint)
             |    AS cents FROM orders),
             |o AS (SELECT cast(substr(cast(cents as varchar), 1, 1)
             |    as bigint) AS digit FROM c),
             |g AS (SELECT digit, count(*) AS n_obs FROM o
             |  WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
             |tt AS (SELECT coalesce(sum(n_obs), 0) AS total FROM g),
             |dd AS (SELECT unnest(range(1, 10)) AS digit),
             |j AS (SELECT dd.digit, coalesce(g.n_obs, 0) AS n_obs
             |  FROM dd LEFT JOIN g USING (digit))
             |SELECT cast(digit as bigint) AS digit,
             |  cast(n_obs as bigint) AS n_obs,
             |  cast(CASE WHEN total > 0
             |    THEN n_obs * 1000000000 // total ELSE 0 END as bigint)
             |    AS obs_fx,
             |  cast($benfordCase as bigint) AS exp_fx,
             |  cast(abs(CASE WHEN total > 0
             |    THEN n_obs * 1000000000 // total ELSE 0 END
             |    - $benfordCase) as bigint) AS dev_fx
             |FROM j, tt""".stripMargin),
      (s, d) => {
        val obs = t(s, d, "orders")
          .select(expr("cast(substring(cast(cast(round(o_totalprice" +
            " * 100) as bigint) as string), 1, 1) as bigint)").as("digit"))
          .filter(col("digit").between(1, 9))
          .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
        val tot = obs.agg(coalesce(sum(col("n_obs")), lit(0L)).as("total"))
        val digits = s.range(1, 10).select(col("id").as("digit"))
        digits.join(obs, Seq("digit"), "left")
          .na.fill(0L, Seq("n_obs"))
          .crossJoin(broadcast(tot))
          .withColumn("obs_fx", when(col("total") > 0,
            expr("n_obs * 1000000000L div total")).otherwise(0L))
          .select(col("digit").cast("long").as("digit"),
            col("n_obs").cast("long").as("n_obs"),
            col("obs_fx").cast("long").as("obs_fx"),
            expr(benfordCase).cast("long").as("exp_fx"),
            abs(col("obs_fx") - expr(benfordCase)).cast("long")
              .as("dev_fx"))
      })
  )

  // ---------------------------------------------- q77 count-min family
  /** Count-min grid: 4 independent affine hashes over a prime, folded
    * to 64 counters each — 256 longs of total state. The sketched
    * key is the (user, day) activity cell packed into one int64:
    * `(user_id mod 1000003) · 100003 + epoch_day` — the user id is
    * reduced mod the prime BEFORE the multiply, so the packing never
    * overflows even for snowflake-style 64-bit ids (users aliasing
    * mod the prime share a sketch key, which a sketch tolerates by
    * construction), and the downstream affine products stay ≤ ~1e15.
    * The formula is one string valid in BOTH dialects (int64 exact
    * everywhere).
    * Width 64 keeps the keyspace-to-width ratio ≥6 from the smallest
    * gate scale up, so probes genuinely OVER-count and the audit's
    * over_n column prices the sketch trade (a wider grid would be
    * vacuously exact on the test corpora and exercise nothing); a
    * production deployment sizes width to ceil(e/ε) for its N.
    * Shared with st30, which maintains the same grid from a live
    * stream (kappa: identical oracle).
    */
  private val CmDepth = 4
  private val CmWidth = 64
  private val CmA = Array(984123457L, 573259391L, 367191221L, 192910123L)
  private val CmB = Array(12289L, 524287L, 8191L, 131071L)

  /** Bucket formula shared verbatim by both dialects. Both Spark and
    * DuckDB use C-style truncated `%`, so a negative packed key (a
    * negative user id survives `cmKeyed`'s packing) would yield a
    * NEGATIVE bucket and silently widen the grid past depth×width —
    * the final `(x % w + w) % w` folds that case back into [0, w) in
    * both engines identically, keeping the ≤256-cell state bound
    * unconditional.
    */
  private def cmBucket(key: String, r: Int): String =
    s"(((($key % 1000003) * ${CmA(r)} + ${CmB(r)}) % 1000003)" +
      s" % $CmWidth + $CmWidth) % $CmWidth"

  /** Driver-side mirror of the bucket family — one bucket per grid
    * row for a packed key (scale smoke probes; tiny, exact).
    */
  private[graft] def cmBucketsScala(key: Long): Array[Long] =
    (0 until CmDepth).map(r =>
      ((((key % 1000003L) * CmA(r) + CmB(r)) % 1000003L)
        % CmWidth + CmWidth) % CmWidth)
      .map(_.toLong).toArray

  /** The same family as a dialect-shared CASE over an `r` column. */
  private def cmBucketCase: String =
    (0 until CmDepth).map(r =>
      s"WHEN $r THEN ${cmBucket("k", r)}")
      .mkString("CASE r ", " ", " ELSE NULL END")

  /** The sketched population: non-NULL users at (user, day) grain,
    * with the packed sketch key `k` alongside. Batch q77 projects
    * this from the table read; st30 applies the same projection to
    * the live stream (`ts` already normalized by the sink harness).
    */
  private[graft] def cmKeyed(events: DataFrame): DataFrame =
    events.filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .withColumn("k", expr(
        "(user_id % 1000003) * 100003L + datediff(day, DATE '1970-01-01')"))

  /** A keyed row's 4 grid cells, ready for `posexplode` → (r, bucket)
    * — the map side of the sketch build (batch q77 and stream st30
    * share it).
    */
  private[graft] def cmCells =
    array((0 until CmDepth).map(r => expr(cmBucket("k", r))): _*)

  /** The audit half shared by q77/st30: probe the sketch for the
    * top-10 exact-heavy (user, day) keys; the estimate is the min
    * over the 4 probed counters, which can only over-count
    * (cm_est ≥ exact_n). `keyed` must be the [[cmKeyed]] population
    * the sketch was built from.
    */
  private[graft] def countMinEstimates(
      sketch: DataFrame, keyed: DataFrame): DataFrame = {
    val top = keyed.groupBy(col("user_id"), col("day"), col("k"))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id").asc, col("day").asc)
      .limit(10)
    val probe = top.select(col("user_id"), col("day"), col("exact_n"),
      posexplode(cmCells).as(Seq("r", "bucket")))
    broadcast(probe).join(sketch, Seq("r", "bucket"))
      .groupBy(col("user_id"), col("day"), col("exact_n"))
      .agg(min(col("cnt")).as("cm_est"))
      .select(col("user_id"), col("day"),
        col("exact_n").cast("long").as("exact_n"),
        col("cm_est").cast("long").as("cm_est"),
        (col("cm_est") - col("exact_n")).cast("long").as("over_n"))
  }

  /** q77's full oracle — st30 reuses it verbatim (the streaming grid
    * must equal the batch grid cell-for-cell; kappa equivalence).
    */
  private[graft] def cmOracle: String =
    s"""WITH e AS (SELECT user_id, cast(ts AS DATE) AS day,
       |    (user_id % 1000003) * 100003
       |      + date_diff('day', DATE '1970-01-01', cast(ts AS DATE)) AS k
       |  FROM events WHERE user_id IS NOT NULL),
       |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
       |hb AS (SELECT r, $cmBucketCase AS bucket FROM e CROSS JOIN rs),
       |sk AS (SELECT r, bucket, count(*) AS cnt FROM hb GROUP BY 1, 2),
       |ex AS (SELECT user_id, day, k, count(*) AS exact_n
       |  FROM e GROUP BY 1, 2, 3),
       |top AS (SELECT user_id, day, k, exact_n FROM ex
       |  ORDER BY exact_n DESC, user_id, day LIMIT 10),
       |pb AS (SELECT user_id, day, exact_n, r, $cmBucketCase AS bucket
       |  FROM top CROSS JOIN rs),
       |est AS (SELECT user_id, day, exact_n, min(cnt) AS cm_est
       |  FROM pb JOIN sk USING (r, bucket) GROUP BY 1, 2, 3)
       |SELECT user_id, day, cast(exact_n as bigint) AS exact_n,
       |  cast(cm_est as bigint) AS cm_est,
       |  cast(cm_est - exact_n as bigint) AS over_n
       |FROM est""".stripMargin

  /** q79's expected Benford mass per digit, ×1e9 (floor of
    * log10(1+1/d)·1e9) — one literal table shared by both engines so
    * the comparison column is exact, not a float log in either dialect.
    */
  private val benfordCase: String =
    "CASE digit WHEN 1 THEN 301029995 WHEN 2 THEN 176091259" +
      " WHEN 3 THEN 124938736 WHEN 4 THEN 96910013" +
      " WHEN 5 THEN 79181246 WHEN 6 THEN 66946789" +
      " WHEN 7 THEN 57991946 WHEN 8 THEN 51152522" +
      " WHEN 9 THEN 45757490 ELSE 0 END"

  /** KMV sketch width for q72's set algebra: 64 minima bound the
    * standard error near 1/√(k−2) ≈ 12.7% — the coarse-audit regime
    * where the sketch-vs-exact gap stays honest at gate scale.
    */
  private[graft] val KmvK = 64

  /** q47/st02's session gap (30 min) — the attribution report must
    * sessionize identically to the session inventory it complements.
    */
  private val GapMs = 1800000L
}
