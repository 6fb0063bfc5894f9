package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Advanced windowing beyond the reference's fixed sliding windows:
  * gap-based sessionization (Spark `session_window`) and multi-level
  * aggregation (cube / grouping sets) — capabilities a labour-market
  * analytics engine needs even though the reference hand-rolled none of
  * them.
  */
object Sessions {

  /** Shared with the streaming session parity row (same gap, same
    * stable sum ⇒ same oracle).
    */
  val sessionOracle: Option[String] = Some(
      s"""WITH marked AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
         |           <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
         |  FROM events),
         |islands AS (
         |  SELECT user_id, ts, value,
         |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM marked)
         |SELECT user_id, min(ts) AS session_start,
         |  count(*) AS n_events,
         |  ${graft.util.Stable.dsumSql("value")} AS sum_value
         |FROM islands GROUP BY user_id, sid""".stripMargin)

  private val sessions = Q(
    "w6_session_windows",
    (s, d) =>
      // per-user sessions with a 30-minute inactivity gap; session start
      // is the first event's timestamp (matches the islands oracle)
      Tables(s, d).events
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          graft.util.Stable.dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"), col("sum_value")),
    sessionOracle,
  )

  private val cubeQ = Q(
    "a14_cube_rollup",
    (s, d) =>
      // multi-level totals in one pass: (priority, status), (priority),
      // (status), () — with grouping_id to disambiguate null group keys
      Tables(s, d).orders
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .select("o_orderpriority", "o_orderstatus", "n", "gid"),
    Some(
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus)
        |    AS BIGINT) AS gid
        |FROM orders
        |GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin),
  )

  /** As-of composed from built-ins (SURVEY §7.3 preference (a)): each
    * purchase matched to the user's latest view at-or-before it.
    * Union-tag both sides, order by (ts, kind) within user, and carry
    * the last seen view id forward — one shuffle on user_id, no
    * range-join explosion. kind sorts views before purchases at equal
    * timestamps, matching ASOF's v.ts <= p.ts.
    */
  def asofComposed(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("kind"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("kind"))
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("view_id",
        last(when(col("kind") === 0, col("event_id")), ignoreNulls = true)
          .over(w))
      .filter(col("kind") === 1 && col("view_id").isNotNull)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("view_id"))
  }

  private val asof = Q(
    "j12_asof_join",
    (s, d) => asofComposed(Tables(s, d).events),
    asofOracleSql,
  )

  /** Shared by the composed (`j12`), native-exec (`j12b`) and streaming
    * (`j12c`) as-of forms: all three must match DuckDB's ASOF JOIN
    * exactly.
    */
  private[graft] def asofOracleSql = Some(
    """SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND v.ts <= p.ts""".stripMargin)

  /** The same as-of semantics through the engine's custom planner surface:
    * logical [[graft.plans.AsOfJoinPlan]] → [[graft.plans.AsOfJoinStrategy]]
    * → [[graft.plans.AsOfJoinExec]] sort-merge (see that file's scaladoc for
    * why the physical operator beats the union+window composition). Oracle
    * and output schema identical to `j12_asof_join`.
    */
  def asofNativeExec(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_event"))
    graft.plans.AsOfJoin.backward(purchases, views,
        leftKey = "user_id", rightKey = "v_user",
        leftTimeCol = "ts", rightTimeCol = "v_ts",
        rightTie = Some("v_event"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("v_event").as("view_id"))
  }

  private val asofNative = Q(
    "j12b_asof_native",
    (s, d) => asofNativeExec(Tables(s, d).events),
    asofOracleSql,
  )

  /** FORWARD as-of — each view matched to the user's NEXT purchase
    * at-or-after it ("time to next conversion", the prospective twin of
    * j12's retrospective read). No new physical operator: forward(t) ≡
    * backward(−t), so the query feeds the SAME native sort-merge exec
    * with reflected micro timestamps (and a negated id as the tie
    * column, so the backward largest-tie rule lands on the SMALLEST
    * event id forward — deterministic). DuckDB states the forward
    * semantics natively (`ASOF JOIN ... ON v.ts <= p.ts`), so the
    * reflection trick is proven, not assumed.
    */
  private val asofForward = Q(
    "j12d_asof_forward",
    (s, d) => {
      val e = Tables(s, d).events
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"),
          (-unix_micros(col("ts"))).as("neg_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_event"),
          (-unix_micros(col("ts"))).as("p_neg_ts"),
          (-col("event_id")).as("p_neg_id"))
      graft.plans.AsOfJoin.backward(views, purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTimeCol = "neg_ts", rightTimeCol = "p_neg_ts",
          rightTie = Some("p_neg_id"))
        .select(col("event_id").as("view_id"), col("user_id"),
          col("p_event").as("purchase_id"))
    },
    Some(
      """SELECT v.event_id AS view_id, v.user_id,
        |  p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id AND v.ts <= p.ts""".stripMargin),
  )

  /** NEAREST as-of — each view matched to the user's CLOSEST purchase in
    * either direction, completing the as-of family (backward j12,
    * forward j12d): compose BOTH native sort-merge passes and pick the
    * smaller absolute gap, ties to the backward match (the "prefer the
    * record that already existed" reading). Cost = the two passes it is
    * built from plus one view-keyed full-outer join — no new physical
    * operator, no window. The gap surfaces in exact epoch-micro
    * integers, so the pick is engine-exact.
    */
  private val asofNearest = Q(
    "j12e_asof_nearest",
    (s, d) => {
      val e = Tables(s, d).events
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"),
          unix_micros(col("ts")).as("v_us"),
          (-unix_micros(col("ts"))).as("neg_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_event"),
          unix_micros(col("ts")).as("p_us"),
          col("ts").as("p_ts"),
          (-unix_micros(col("ts"))).as("p_neg_ts"),
          (-col("event_id")).as("p_neg_id"))
      val b = graft.plans.AsOfJoin.backward(views, purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTimeCol = "ts", rightTimeCol = "p_ts",
          rightTie = Some("p_event"))
        .select(col("event_id").as("view_id"), col("user_id"),
          col("v_us"), col("p_event").as("pb"),
          (col("v_us") - col("p_us")).as("gap_b"))
      val f = graft.plans.AsOfJoin.backward(views, purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTimeCol = "neg_ts", rightTimeCol = "p_neg_ts",
          rightTie = Some("p_neg_id"))
        .select(col("event_id").as("view_id"),
          col("user_id").as("f_user"), col("p_event").as("pf"),
          (col("p_us") - col("v_us")).as("gap_f"))
      b.join(f, Seq("view_id"), "full_outer")
        .select(col("view_id"),
          coalesce(col("user_id"), col("f_user")).as("user_id"),
          when(col("pf").isNull, col("pb"))
            .when(col("pb").isNull, col("pf"))
            .when(col("gap_f") < col("gap_b"), col("pf"))
            .otherwise(col("pb")).as("purchase_id"),
          when(col("pf").isNull, col("gap_b"))
            .when(col("pb").isNull, col("gap_f"))
            .when(col("gap_f") < col("gap_b"), col("gap_f"))
            .otherwise(col("gap_b")).as("gap_us"))
    },
    Some(
      """WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
        |p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT v.event_id AS view_id, v.user_id,
        |    p.event_id AS pb, epoch_us(v.ts) - epoch_us(p.ts) AS gap_b
        |  FROM v ASOF JOIN p
        |    ON v.user_id = p.user_id AND p.ts <= v.ts),
        |f AS (
        |  SELECT v.event_id AS view_id, v.user_id,
        |    p.event_id AS pf, epoch_us(p.ts) - epoch_us(v.ts) AS gap_f
        |  FROM v ASOF JOIN p
        |    ON v.user_id = p.user_id AND v.ts <= p.ts)
        |SELECT coalesce(b.view_id, f.view_id) AS view_id,
        |  coalesce(b.user_id, f.user_id) AS user_id,
        |  CASE WHEN f.pf IS NULL THEN b.pb
        |       WHEN b.pb IS NULL THEN f.pf
        |       WHEN f.gap_f < b.gap_b THEN f.pf ELSE b.pb END
        |    AS purchase_id,
        |  CAST(CASE WHEN f.pf IS NULL THEN b.gap_b
        |       WHEN b.pb IS NULL THEN f.gap_f
        |       WHEN f.gap_f < b.gap_b THEN f.gap_f ELSE b.gap_b END
        |    AS BIGINT) AS gap_us
        |FROM b FULL OUTER JOIN f ON b.view_id = f.view_id""".stripMargin),
  )

  /** Ordered conversion funnel (view → click → purchase) with a per-step
    * conversion window: each user's first view, first click within
    * [[FunnelWindowHours]] hours AFTER that view, first purchase within
    * the window after that click. The classic product-analytics operator
    * the reference's weekly-stock reporting stops short of
    * (`dqa/data_getters.py` aggregates but never sequences). Shape: one
    * min-agg per step, then a join chain all keyed on `user_id` — the
    * exchange on `user_id` is planned once and reused down the chain, so
    * cost is K small aggregations, never a self-join explosion.
    * Timestamps surface as epoch micros (engine-exact integers on both
    * sides of the oracle).
    */
  val FunnelWindowHours = 12

  private val funnel = Q(
    "e_funnel_steps",
    (s, d) => {
      val e = Tables(s, d).events
      def step(evType: String, prev: org.apache.spark.sql.DataFrame,
               prevCol: String, outCol: String) =
        e.filter(col("event_type") === evType)
          .join(prev, "user_id")
          .filter(col("ts") > col(prevCol) &&
            col("ts") <= col(prevCol) +
              expr(s"INTERVAL $FunnelWindowHours HOURS"))
          .groupBy("user_id").agg(min(col("ts")).as(outCol))
      val views = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t_view"))
      val clicks = step("click", views, "t_view", "t_click")
      val purchases = step("purchase", clicks, "t_click", "t_purchase")
      e.select("user_id").distinct()
        .join(views, Seq("user_id"), "left")
        .join(clicks, Seq("user_id"), "left")
        .join(purchases, Seq("user_id"), "left")
        .select(col("user_id"),
          unix_micros(col("t_view")).as("view_us"),
          unix_micros(col("t_click")).as("click_us"),
          unix_micros(col("t_purchase")).as("purchase_us"),
          when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2)
            .when(col("t_view").isNotNull, 1)
            .otherwise(0).as("stage"))
    },
    Some(
      s"""WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
         |           WHERE event_type = 'view' GROUP BY 1),
         |c AS (SELECT e.user_id, min(e.ts) AS t_click
         |      FROM events e JOIN v USING (user_id)
         |      WHERE e.event_type = 'click' AND e.ts > v.t_view
         |        AND e.ts <= v.t_view + INTERVAL $FunnelWindowHours HOUR
         |      GROUP BY 1),
         |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
         |      FROM events e JOIN c USING (user_id)
         |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
         |        AND e.ts <= c.t_click + INTERVAL $FunnelWindowHours HOUR
         |      GROUP BY 1),
         |u AS (SELECT DISTINCT user_id FROM events)
         |SELECT u.user_id,
         |  CAST(epoch_us(v.t_view) AS BIGINT) AS view_us,
         |  CAST(epoch_us(c.t_click) AS BIGINT) AS click_us,
         |  CAST(epoch_us(p.t_purchase) AS BIGINT) AS purchase_us,
         |  CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
         |            WHEN c.user_id IS NOT NULL THEN 2
         |            WHEN v.user_id IS NOT NULL THEN 1
         |            ELSE 0 END AS INT) AS stage
         |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
         |  LEFT JOIN p USING (user_id)""".stripMargin),
  )

  /** First-order Markov transition matrix over per-user event streams —
    * the clickstream sibling of the bigram LM (`t_bigram_condprob` walks
    * token streams, this walks event streams): consecutive-event pairs
    * per user via one lag window, transition counts, and the conditional
    * probability in exact parts-per-million (cnt·10⁶ floor-div row
    * total — positive operands, so Spark's truncating `div` and
    * DuckDB's flooring `//` agree). The per-user window plus two
    * transition-alphabet-sized aggregates is the whole cost — the
    * standard input to funnel mining, next-event prediction and
    * bot-pattern detection.
    */
  private val transitions = Q(
    "e_event_transitions",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      val tr = Tables(s, d).events
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("cnt"))
      // row total via a window over the alphabet-sized transition frame
      // (a second aggregation branch would duplicate the whole upstream
      // subtree pre-AQE: measured 5 exchanges vs 3)
      tr.withColumn("tot", sum("cnt").over(
          org.apache.spark.sql.expressions.Window.partitionBy("prev_type")))
        .select(col("prev_type"), col("next_type"), col("cnt"),
          expr("cnt * 1000000L div tot").as("p_ppm"))
    },
    Some(
      """WITH tr AS (
        |  SELECT event_type AS prev_type, next_type, count(*) AS cnt
        |  FROM (SELECT event_type,
        |          lead(event_type) OVER (PARTITION BY user_id
        |            ORDER BY ts, event_id) AS next_type
        |        FROM events)
        |  WHERE next_type IS NOT NULL
        |  GROUP BY 1, 2),
        |tot AS (SELECT prev_type, CAST(sum(cnt) AS BIGINT) AS tot
        |        FROM tr GROUP BY 1)
        |SELECT tr.prev_type, tr.next_type, CAST(tr.cnt AS BIGINT) AS cnt,
        |  CAST(tr.cnt * 1000000 // tot.tot AS BIGINT) AS p_ppm
        |FROM tr JOIN tot USING (prev_type)""".stripMargin),
  )

  /** Lookback window for crediting touches to a conversion. */
  val AttributionLookbackDays = 7

  /** Multi-touch attribution over the event stream: every `purchase` is
    * a conversion; the view/click/signup events of the SAME user in the
    * 7 days before it are its touches. Three standard credit models in
    * one pass — first-touch, last-touch, and linear (1/n per touch) —
    * rolled up per touch type. The fan-out join is keyed on user_id (the
    * natural shuffle key; per-user event counts are bounded), window
    * ranks are per conversion, and the linear credit uses the
    * decimal-stable sum so partial-agg order can't move the published
    * number.
    */
  private val attribution = Q(
    "e_attribution",
    (s, d) => {
      val e = Tables(s, d).events
      val conv = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id"),
          col("ts").as("conv_ts"))
      val touches = e.filter(col("event_type").isin("view", "click", "signup"))
        .select(col("user_id"), col("event_type").as("touch_type"),
          col("ts").as("touch_ts"), col("event_id").as("touch_id"))
      val joined = conv.join(touches, Seq("user_id"))
        .filter(col("touch_ts") < col("conv_ts") &&
          col("touch_ts") >= col("conv_ts") -
            expr(s"INTERVAL $AttributionLookbackDays DAYS"))
      val byConv = org.apache.spark.sql.expressions.Window
        .partitionBy("conv_id")
      joined
        .withColumn("rn_first", row_number().over(
          byConv.orderBy(col("touch_ts"), col("touch_id"))))
        .withColumn("rn_last", row_number().over(
          byConv.orderBy(desc("touch_ts"), desc("touch_id"))))
        .withColumn("n_touches", count(lit(1)).over(byConv))
        .groupBy("touch_type")
        .agg(
          sum(when(col("rn_first") === 1, 1L).otherwise(0L))
            .as("first_touch"),
          sum(when(col("rn_last") === 1, 1L).otherwise(0L)).as("last_touch"),
          round(graft.util.Stable.dsum(
            lit(1.0) / col("n_touches").cast("double"), 9), 4)
            .as("linear_credit"))
    },
    Some(
      s"""WITH conv AS (
         |  SELECT event_id AS conv_id, user_id, ts AS conv_ts
         |  FROM events WHERE event_type = 'purchase'),
         |touch AS (
         |  SELECT user_id, event_type AS touch_type, ts AS touch_ts,
         |    event_id AS touch_id
         |  FROM events WHERE event_type IN ('view', 'click', 'signup')),
         |j AS (
         |  SELECT c.conv_id, t.touch_type, t.touch_ts, t.touch_id,
         |    row_number() OVER (PARTITION BY c.conv_id
         |      ORDER BY t.touch_ts, t.touch_id) AS rn_first,
         |    row_number() OVER (PARTITION BY c.conv_id
         |      ORDER BY t.touch_ts DESC, t.touch_id DESC) AS rn_last,
         |    count(*) OVER (PARTITION BY c.conv_id) AS n_touches
         |  FROM conv c JOIN touch t USING (user_id)
         |  WHERE t.touch_ts < c.conv_ts
         |    AND t.touch_ts >= c.conv_ts
         |      - INTERVAL $AttributionLookbackDays DAY)
         |SELECT touch_type,
         |  CAST(sum(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS first_touch,
         |  CAST(sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS last_touch,
         |  round(${graft.util.Stable.dsumSql(
        "1.0 / CAST(n_touches AS DOUBLE)", 9)}, 4) AS linear_credit
         |FROM j GROUP BY 1""".stripMargin),
  )

  /** CUSUM changepoint detection on per-type daily event volumes (Page
    * 1954): S_i = max(0, S_{i−1} + (c_i·D − T)) accumulates excess over
    * the per-type mean in INTEGER units (deviation scaled by D = #days
    * so the mean never becomes a float), and days where S exceeds T/10
    * — 10% of total volume in cumulative excess — flag a sustained
    * level shift. The ops-monitoring primitive for "did this event
    * stream change behaviour, and when".
    *
    * The recurrence is sequential BY DEFINITION (max(0,·) breaks prefix
    * decomposition), so it runs as a bounded per-key fold: each type's
    * day series (≤ a few hundred rows) collects into an array and the
    * prefix states come from an O(n²) nested aggregate — per-key work
    * is days², the corpus never re-shuffles, and every key folds in
    * parallel. The DuckDB oracle replays the identical recurrence as a
    * recursive CTE over the day index.
    */
  private val cusum = Q(
    "e_cusum_changepoints",
    (s, d) => {
      val daily = graft.Tables(s, d).events
        .select(col("event_type"), col("ts").cast("date").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val perType = daily.groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("day"), col("c"))))
          .as("seq"),
          sum(col("c")).as("t"), count(lit(1)).as("nd"))
      perType.select(col("event_type"), col("t"), explode(expr(
        """transform(sequence(1, size(seq)), i -> struct(
          |  element_at(seq, i).day AS day,
          |  aggregate(slice(seq, 1, i), CAST(0 AS BIGINT),
          |    (acc, x) -> greatest(CAST(0 AS BIGINT),
          |      acc + (x.c * size(seq) - t))) AS cusum))""".stripMargin))
        .as("r"))
        .select(col("event_type"), col("r.day").as("day"),
          col("r.cusum").as("cusum"))
        .filter(col("cusum") > expr("t div 10"))
    },
    Some(
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, day, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
        |  FROM daily),
        |tot AS (
        |  SELECT event_type, CAST(sum(c) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS nd
        |  FROM daily GROUP BY 1),
        |walk(event_type, i, s) AS (
        |  SELECT x.event_type, x.i,
        |    greatest(0, x.c * tot.nd - tot.t)
        |  FROM idx x JOIN tot USING (event_type) WHERE x.i = 1
        |  UNION ALL
        |  SELECT x.event_type, x.i,
        |    greatest(0, w.s + (x.c * tot.nd - tot.t))
        |  FROM walk w
        |  JOIN idx x ON x.event_type = w.event_type AND x.i = w.i + 1
        |  JOIN tot ON tot.event_type = x.event_type)
        |SELECT w.event_type, idx.day, CAST(w.s AS BIGINT) AS cusum
        |FROM walk w JOIN idx USING (event_type, i)
        |JOIN tot USING (event_type)
        |WHERE w.s > tot.t // 10""".stripMargin),
  )

  def all: Seq[Q] = Seq(sessions, cubeQ, asof, asofNative, asofForward,
    asofNearest, funnel, transitions, attribution, cusum)
}
