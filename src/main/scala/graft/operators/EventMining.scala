package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral sequence/set mining over the events stream — the product
  * analytics the reference's event log would feed if it had more than a
  * health check: Markov next-event transitions, market-basket
  * association rules over session item-sets, and EWMA trend smoothing
  * of the daily volume series.
  *
  * All three sessionize with the same gap rule as
  * [[Relational.eventSessions]] so session identity is consistent
  * across the analytics family.
  *
  * Scale shape: one user-keyed window pass for sessionization (the
  * shuffle is keyed by user_id, the same partitioning the session
  * operator already uses, so at 100 TB these share one exchange);
  * everything downstream aggregates to frames bounded by the
  * EVENT-TYPE VOCABULARY (|types|² transition cells, |types|² rule
  * pairs, |types|×days EWMA grid), never the event count.
  */
object EventMining {

  /** The inline sessionization chain — the BUILDER behind
    * [[ensureSessionTable]]. Projected to exactly the columns the
    * session consumers read (the props/value payload never rides the
    * user-keyed exchange — project before the exchange). */
  private[graft] def sessionAssign(spark: SparkSession, dir: String,
      gapSec: Long): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("tsec").asc, col("event_id").asc)
    Relational.eventsWithTsec(spark, dir)
      .select("event_id", "user_id", "tsec", "event_type")
      .withColumn("prev", lag(col("tsec"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev").isNull || col("tsec") - col("prev") > gapSec, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("event_id", "user_id", "tsec", "event_type", "session_seq")
  }

  /** Build-once per-(corpus generation, gap) session assignment — the
    * `_dl`/attrs sidecar discipline applied to sessionization (r18):
    * session_seq is a pure function of (events content, gapSec), so
    * the user-keyed window pass runs ONCE per corpus generation and
    * every session consumer (transitions, basket rules, opening paths,
    * the eventSessions report) probes the persisted table instead of
    * re-sessionizing the event log per query. Bucketed by user_id with
    * the shared builder lock / attach protocol, so the per-session
    * windows downstream keep their exchange-free user_id clustering.
    *
    * GAP CARDINALITY (r19 ADVICE): one `graft_sess_<gap>_<fp>` table
    * persists per distinct gapSec value, with no LRU bound — callers
    * pass the CANONICAL analytics gap(s) (every registered consumer
    * uses 1800 s), not an ad-hoc per-request parameter. An unbounded
    * gap stream would mint unbounded warehouse tables per corpus
    * generation; a parameter-sweeping caller must clean up after
    * itself or sessionize inline via [[sessionAssign]]. */
  def ensureSessionTable(spark: SparkSession, dir: String,
      gapSec: Long): String = {
    val name =
      s"graft_sess_${gapSec}_${ScaleOps.contentHash(dir, "events")}"
    ScaleOps.ensure(spark, ScaleOps.Family("sessions", 1),
        ScaleOps.AttachSpec(name, "user_id", 8)) {
      Seq(sessionAssign(spark, dir, gapSec))
    }
  }

  private def sessionized(spark: SparkSession, dir: String,
      gapSec: Long): DataFrame =
    spark.table(ensureSessionTable(spark, dir, gapSec))

  /** First-order Markov transition matrix of event types WITHIN
    * sessions: for every (from, to) adjacent pair, its count and the
    * row-normalized transition probability — the "what happens after a
    * click" panel.
    *
    * The lead() runs inside the per-(user, session) window of the one
    * sessionization pass; the probability normalizer is a window over
    * the AGGREGATED |types|² frame (bounded by vocabulary, partitioned
    * by from_type — never a corpus-wide window). */
  def transitions(spark: SparkSession, dir: String,
      gapSec: Long): DataFrame = {
    val bySess = Window.partitionBy("user_id", "session_seq")
      .orderBy(col("tsec").asc, col("event_id").asc)
    val pairs = sessionized(spark, dir, gapSec)
      .withColumn("next_type", lead(col("event_type"), 1).over(bySess))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
    val byFrom = Window.partitionBy("from_type")
    pairs
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("prob",
        round(col("n_pairs") / sum(col("n_pairs")).over(byFrom), 6))
      .orderBy(col("from_type").asc, col("to_type").asc)
  }

  def transitionsOracleSql(gapSec: Long): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type,
       |    epoch_ns(ts) // 1000000000 AS tsec
       |  FROM events
       |), l AS (
       |  SELECT *, lag(tsec) OVER (PARTITION BY user_id
       |    ORDER BY tsec ASC, event_id ASC) AS prev
       |  FROM e
       |), s AS MATERIALIZED (
       |  SELECT user_id, event_id, event_type, tsec,
       |    sum(CASE WHEN prev IS NULL OR tsec - prev > $gapSec
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id
       |            ORDER BY tsec ASC, event_id ASC
       |            ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM l
       |), p AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id, session_seq
       |      ORDER BY tsec ASC, event_id ASC) AS to_type
       |  FROM s
       |), c AS (
       |  SELECT from_type, to_type, count(*) AS n_pairs
       |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
       |)
       |SELECT from_type, to_type, n_pairs,
       |  round(n_pairs / sum(n_pairs) OVER (PARTITION BY from_type),
       |        6) AS prob
       |FROM c ORDER BY from_type ASC, to_type ASC""".stripMargin

  /** Market-basket association rules (Agrawal-Srikant shape) where a
    * basket = one session's DISTINCT event-type set: per unordered type
    * pair, basket support, confidence a→b, and lift. The
    * sanity-analytics layer over any event log ("do users who error
    * also purchase?").
    *
    * The pair join is an equi-join on the basket key (each side ≤
    * |types| rows per basket — never a corpus-side blowup); per-type
    * basket counts broadcast back onto the |types|² pair frame; the
    * single global basket total rides as a 1-row broadcast
    * (PlanLint-allowlisted scalar pattern). */
  def basketRules(spark: SparkSession, dir: String,
      gapSec: Long): DataFrame = {
    // Baskets as per-session type-set ARRAYS: the groupBy runs on the
    // sessionization window's own user_id partitioning
    // (HashPartitioning(user_id) satisfies ClusteredDistribution(user,
    // session)), so building baskets adds NO exchange — and pair
    // generation becomes a row-local double explode over the ≤|types|
    // array instead of the r13 self-join (which shuffled the item frame
    // twice and re-ran sessionization per side). One cached frame feeds
    // the pair counts, the per-type counts, and the basket total.
    val baskets = sessionized(spark, dir, gapSec)
      .groupBy("user_id", "session_seq")
      .agg(collect_set(col("event_type")).as("basket"))
      .select(col("basket"))
      .transform(CacheScope.cached)
    val totals = baskets.agg(count(lit(1)).as("n_baskets"))
    val typeCounts = baskets
      .select(explode(col("basket")).as("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_type"))
    baskets
      .select(explode(col("basket")).as("item_a"), col("basket"))
      .select(col("item_a"), explode(col("basket")).as("item_b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(typeCounts.select(col("event_type").as("item_a"),
        col("n_type").as("n_a"))), Seq("item_a"))
      .join(broadcast(typeCounts.select(col("event_type").as("item_b"),
        col("n_type").as("n_b"))), Seq("item_b"))
      .crossJoin(broadcast(totals))
      .select(
        col("item_a"), col("item_b"), col("n_ab"),
        round(col("n_ab") / col("n_baskets"), 6).as("support"),
        round(col("n_ab") / col("n_a"), 6).as("confidence"),
        round(col("n_ab") * col("n_baskets") / (col("n_a") * col("n_b")),
          6).as("lift"))
      .orderBy(col("item_a").asc, col("item_b").asc)
  }

  def basketRulesOracleSql(gapSec: Long): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type,
       |    epoch_ns(ts) // 1000000000 AS tsec
       |  FROM events
       |), l AS (
       |  SELECT *, lag(tsec) OVER (PARTITION BY user_id
       |    ORDER BY tsec ASC, event_id ASC) AS prev
       |  FROM e
       |), s AS (
       |  SELECT user_id, event_type, tsec, event_id,
       |    sum(CASE WHEN prev IS NULL OR tsec - prev > $gapSec
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id
       |            ORDER BY tsec ASC, event_id ASC
       |            ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM l
       |), items AS MATERIALIZED (
       |  SELECT DISTINCT user_id, session_seq, event_type FROM s
       |), tot AS (
       |  SELECT count(*) AS n_baskets FROM (
       |    SELECT DISTINCT user_id, session_seq FROM items)
       |), tc AS (
       |  SELECT event_type, count(*) AS n_type FROM items GROUP BY 1
       |), pairs AS (
       |  SELECT a.event_type AS item_a, b.event_type AS item_b,
       |    count(*) AS n_ab
       |  FROM items a JOIN items b
       |    ON a.user_id = b.user_id AND a.session_seq = b.session_seq
       |   AND a.event_type < b.event_type
       |  GROUP BY 1, 2
       |)
       |SELECT item_a, item_b, n_ab,
       |  round(n_ab / t.n_baskets, 6) AS support,
       |  round(n_ab / ta.n_type, 6) AS confidence,
       |  round(n_ab * t.n_baskets / (ta.n_type * tb.n_type), 6) AS lift
       |FROM pairs
       |JOIN tc ta ON ta.event_type = item_a
       |JOIN tc tb ON tb.event_type = item_b
       |CROSS JOIN tot t
       |ORDER BY item_a ASC, item_b ASC""".stripMargin

  /** EWMA smoothing (pandas `ewm(adjust=False)` recurrence: s_0 = x_0,
    * s_i = (1-α)·s_{i-1} + α·x_i) of the DAILY event count per type —
    * the trend line a monitoring dashboard draws over the raw volume
    * series, with missing days counted as true zeros (a dense day grid,
    * not just observed days — decay is per DAY, not per observation).
    *
    * The recurrence is computed closed-form in one partitioned window
    * pass: s_i = r^i · Σ_{j≤i} w_j with w_0 = x_0, w_j = α·x_j·r^{-j}
    * (r = 1-α) — no driver loop, no sequential dependency the engine
    * can't parallelize. All terms are positive so the fp error stays
    * relative (no cancellation); with α ≥ 0.3 and day spans in the
    * hundreds, r^{-j} stays far inside double range. The day axis
    * derives from a 1-row [min,max] aggregate exploded via sequence();
    * the |types|×|days| grid is a broadcast cross of two bounded dims
    * (PlanLint-allowlisted). */
  /** The DENSE (event_type, day) grid of daily counts — missing days
    * materialized as true zeros, `i` = 0-based day index. The shared
    * substrate of every daily-series operator below; |types|×|days|
    * rows, built by crossing two bounded dims (1-row [min,max]
    * aggregate exploded via sequence × the type vocabulary). */
  private def denseDaily(spark: SparkSession, dir: String): DataFrame = {
    val ev = Relational.eventsWithTsec(spark, dir)
      .select(col("event_type"), expr("tsec div 86400").as("day"))
    val days = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("d0"), explode(sequence(col("d0"), col("d1"))).as("day"))
      .select(col("day"), (col("day") - col("d0")).as("i"))
    val grid = ev.select("event_type").distinct().crossJoin(broadcast(days))
    val counts = ev.groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_events"))
    grid.join(counts, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("n_events"))
  }

  def ewmaDaily(spark: SparkSession, dir: String,
      alpha: Double): DataFrame = {
    val r = 1.0 - alpha
    val byType = Window.partitionBy("event_type").orderBy(col("i").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    denseDaily(spark, dir)
      .withColumn("w",
        when(col("i") === 0, col("n_events").cast("double"))
          .otherwise(lit(alpha) * col("n_events") * pow(lit(r), -col("i"))))
      .withColumn("ewma",
        round(pow(lit(r), col("i")) * sum(col("w")).over(byType), 6))
      .select(col("event_type"), col("day"), col("n_events"), col("ewma"))
      .orderBy(col("event_type").asc, col("day").asc)
  }

  def ewmaDailyOracleSql(alpha: Double): String = {
    val r = 1.0 - alpha
    s"""WITH e AS (
       |  SELECT event_type,
       |    (epoch_ns(ts) // 1000000000) // 86400 AS day
       |  FROM events
       |), b AS (
       |  SELECT min(day) AS d0, max(day) AS d1 FROM e
       |), days AS (
       |  SELECT day, day - (SELECT d0 FROM b) AS i
       |  FROM (SELECT unnest(range(d0, d1 + 1)) AS day FROM b)
       |), grid AS (
       |  SELECT t.event_type, d.day, d.i
       |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN days d
       |), c AS (
       |  SELECT event_type, day, count(*) AS n_events
       |  FROM e GROUP BY 1, 2
       |), g AS (
       |  SELECT grid.event_type, grid.day, grid.i,
       |    COALESCE(c.n_events, 0) AS n_events
       |  FROM grid LEFT JOIN c USING (event_type, day)
       |), w AS (
       |  SELECT *, sum(CASE WHEN i = 0 THEN CAST(n_events AS DOUBLE)
       |    ELSE $alpha * n_events * power($r, -i) END)
       |    OVER (PARTITION BY event_type ORDER BY i ASC
       |          ROWS UNBOUNDED PRECEDING) AS acc
       |  FROM g
       |)
       |SELECT event_type, day, n_events,
       |  round(power($r, i) * acc, 6) AS ewma
       |FROM w ORDER BY event_type ASC, day ASC""".stripMargin
  }

  /** Autocorrelation function of the daily count series per event type,
    * lags 1..maxLag — the periodicity detector (a weekly-seasonal
    * series spikes at lag 7) that complements [[ewmaDaily]]'s trend and
    * Changepoints' level shifts.
    *
    * Numerics are EXACT until the final division: the lagged pairing is
    * an equi-join of the dense grid with itself (key = type, day−lag —
    * |types|×|days|×maxLag rows, all bounded dims), and Pearson r is
    * assembled from pure BIGINT power sums (n, Σx, Σy, Σxy, Σx², Σy²)
    * that cannot lose precision or depend on summation order; only the
    * last divide is floating-point, so the round(6) gate is safe. Zero
    * variance on either side → NULL by contract. */
  def acfDaily(spark: SparkSession, dir: String, maxLag: Int): DataFrame = {
    val d = denseDaily(spark, dir).select(
      col("event_type"), col("day"), col("n_events").as("x"))
    val lagged = d.select(col("event_type"), col("day"),
      explode(sequence(lit(1), lit(maxLag))).as("lag"),
      col("x").as("y"))
      .withColumn("day", col("day") + col("lag"))
    d.join(lagged, Seq("event_type", "day"))
      .groupBy("event_type", "lag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("lag"), col("n"),
        // variance/covariance terms form in DOUBLE on both engines
        // (the partPriceCv discipline): the BIGINT product of two
        // variance terms is QUARTIC in the daily counts — the worst
        // Int64 headroom in the file; identical IEEE ops keep parity
        round(
          (col("n").cast("double") * col("sxy") -
            col("sx").cast("double") * col("sy")) /
            sqrt((col("n").cast("double") * col("sxx") -
              col("sx").cast("double") * col("sx")) *
              (col("n").cast("double") * col("syy") -
                col("sy").cast("double") * col("sy"))),
          6).as("acf"))
      .orderBy(col("event_type").asc, col("lag").asc)
  }

  def acfDailyOracleSql(maxLag: Int): String =
    s"""WITH e AS (
       |  SELECT event_type,
       |    (epoch_ns(ts) // 1000000000) // 86400 AS day
       |  FROM events
       |), b AS (
       |  SELECT min(day) AS d0, max(day) AS d1 FROM e
       |), days AS (
       |  SELECT unnest(range(d0, d1 + 1)) AS day FROM b
       |), g AS MATERIALIZED (
       |  SELECT t.event_type, d.day, COALESCE(c.n_events, 0) AS x
       |  FROM (SELECT DISTINCT event_type FROM e) t
       |  CROSS JOIN days d
       |  LEFT JOIN (SELECT event_type, day, count(*) AS n_events
       |             FROM e GROUP BY 1, 2) c
       |    USING (event_type, day)
       |), p AS (
       |  SELECT a.event_type, l.lag, a.x, b2.x AS y
       |  FROM g a
       |  CROSS JOIN (SELECT unnest(range(1, $maxLag + 1)) AS lag) l
       |  JOIN g b2 ON b2.event_type = a.event_type
       |    AND b2.day = a.day - l.lag
       |), s AS (
       |  SELECT event_type, lag, count(*) AS n,
       |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
       |    sum(x * x) AS sxx, sum(y * y) AS syy
       |  FROM p GROUP BY 1, 2
       |)
       |SELECT event_type, lag, n,
       |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
       |    sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
       |       * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
       |    6) AS acf
       |FROM s ORDER BY event_type ASC, lag ASC""".stripMargin

  /** Day-of-week seasonal profile per event type: mean and population
    * σ of the daily count per weekday slot (pure epoch-day arithmetic,
    * `(day+4) mod 7`, 0 = Sunday — no timezone machinery on either
    * engine), plus how many days sit outside mean±2σ — the seasonal
    * baseline a monitoring pipeline alerts against.
    *
    * Same exact-integer-sums discipline as [[acfDaily]]; the per-slot
    * moments come back onto the daily grid as a |types|×7 broadcast for
    * the outlier count, and the threshold comparison multiplies through
    * by n² to stay in exact BIGINT arithmetic:
    * |x−μ| > 2σ  ⟺  (n·x−sx)² > 4·(n·sxx−sx²). */
  def dowProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = denseDaily(spark, dir)
      .withColumn("dow", (col("day") + 4) % 7)
    val prof = d.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n_days"),
        sum(col("n_events")).as("sx"),
        sum(col("n_events") * col("n_events")).as("sxx"))
    // the squared comparison forms in DOUBLE on both engines (the
    // partPriceCv discipline): daily-count sums squared exceed Int64
    // headroom at warehouse scale, where ANSI Spark throws and DuckDB
    // promotes to HUGEINT — identical IEEE double products keep the
    // engines bit-equal instead (values ≤ 2⁵³ are still exact)
    d.join(broadcast(prof), Seq("event_type", "dow"))
      .withColumn("dev",
        col("n_days").cast("double") * col("n_events") - col("sx"))
      .withColumn("is_out",
        when(col("dev") * col("dev") >
          lit(4.0) * (col("n_days").cast("double") * col("sxx") -
            col("sx").cast("double") * col("sx")),
          1L).otherwise(0L))
      .groupBy("event_type", "dow")
      .agg(
        first(col("n_days")).as("n_days"),
        round(first(col("sx")) / first(col("n_days")), 6).as("mean_n"),
        round(sqrt(first(col("sxx")).cast("double") *
          first(col("n_days")) -
          first(col("sx")).cast("double") * first(col("sx"))) /
          first(col("n_days")), 6).as("sd_n"),
        sum(col("is_out")).as("n_outlier_days"))
      .orderBy(col("event_type").asc, col("dow").asc)
  }

  val dowProfileOracleSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    (epoch_ns(ts) // 1000000000) // 86400 AS day
      |  FROM events
      |), b AS (
      |  SELECT min(day) AS d0, max(day) AS d1 FROM e
      |), days AS (
      |  SELECT unnest(range(d0, d1 + 1)) AS day FROM b
      |), g AS MATERIALIZED (
      |  SELECT t.event_type, d.day, (d.day + 4) % 7 AS dow,
      |    COALESCE(c.n_events, 0) AS x
      |  FROM (SELECT DISTINCT event_type FROM e) t
      |  CROSS JOIN days d
      |  LEFT JOIN (SELECT event_type, day, count(*) AS n_events
      |             FROM e GROUP BY 1, 2) c
      |    USING (event_type, day)
      |), prof AS MATERIALIZED (
      |  SELECT event_type, dow, count(*) AS n_days,
      |    sum(x) AS sx, sum(x * x) AS sxx
      |  FROM g GROUP BY 1, 2
      |)
      |SELECT g.event_type, g.dow,
      |  first(p.n_days) AS n_days,
      |  round(first(p.sx) / first(p.n_days), 6) AS mean_n,
      |  round(sqrt(CAST(first(p.sxx) AS DOUBLE) * first(p.n_days) -
      |    CAST(first(p.sx) AS DOUBLE) * first(p.sx)) / first(p.n_days),
      |    6) AS sd_n,
      |  CAST(sum(CASE WHEN
      |      (CAST(p.n_days AS DOUBLE) * g.x - p.sx) *
      |      (CAST(p.n_days AS DOUBLE) * g.x - p.sx) >
      |      4.0 * (CAST(p.n_days AS DOUBLE) * p.sxx -
      |             CAST(p.sx AS DOUBLE) * p.sx)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier_days
      |FROM g JOIN prof p USING (event_type, dow)
      |GROUP BY g.event_type, g.dow
      |ORDER BY g.event_type ASC, g.dow ASC""".stripMargin

  /** User growth curve: per day, the daily active users, the NEW users
    * (first ever seen that day), and the cumulative user count — the
    * DAU/acquisition panel of every product dashboard.
    *
    * First-seen reduces per user (one user-keyed aggregate), then
    * everything lives on the bounded day axis: the cumulative sum is a
    * prefix sum over the |days|-row frame (bounded global window,
    * allowlisted — the day axis, never the event count). All-integer
    * outputs, order-proof. */
  def userGrowth(spark: SparkSession, dir: String): DataFrame = {
    val ev = Relational.eventsWithTsec(spark, dir)
      .select(col("user_id"), expr("tsec div 86400").as("day"))
    val dau = ev.groupBy("day")
      .agg(countDistinct(col("user_id")).as("n_active"))
    val newPerDay = ev.groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
    val cum = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dau.join(newPerDay, Seq("day"), "left")
      .na.fill(0L, Seq("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(cum))
      .orderBy(col("day").asc)
  }

  val userGrowthOracleSql: String =
    """WITH e AS (
      |  SELECT user_id,
      |    (epoch_ns(ts) // 1000000000) // 86400 AS day
      |  FROM events
      |), dau AS (
      |  SELECT day, count(DISTINCT user_id) AS n_active
      |  FROM e GROUP BY 1
      |), fs AS (
      |  SELECT user_id, min(day) AS day FROM e GROUP BY 1
      |), nw AS (
      |  SELECT day, count(*) AS n_new FROM fs GROUP BY 1
      |)
      |SELECT dau.day, dau.n_active,
      |  COALESCE(nw.n_new, 0) AS n_new,
      |  CAST(sum(COALESCE(nw.n_new, 0)) OVER (ORDER BY dau.day ASC
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
      |FROM dau LEFT JOIN nw USING (day)
      |ORDER BY dau.day ASC""".stripMargin

  /** Funnel latency: the time-to-convert distribution from a user's
    * FIRST view to their first purchase strictly after it — the
    * "how long does conversion take" summary beside eventsFunnel's
    * "how many convert". One row: viewer/converter counts, mean and
    * exact continuous-interpolation quantiles of the delta in seconds
    * (Spark `percentile` ≡ DuckDB `quantile_cont`).
    *
    * Two user-keyed aggregates sharing one shuffle key; the final
    * 1-row reduction is an aggregate (never a window), and the viewer
    * total rides back as a 1-row broadcast (allowlisted scalar). */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Relational.eventsWithTsec(spark, dir)
      .select(col("user_id"), col("event_type"), col("tsec"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tsec")).as("fv"))
    val deltas = ev.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("tsec") > col("fv"))
      .groupBy("user_id")
      .agg((min(col("tsec")) - first(col("fv"))).as("delta"))
    val viewers = firstView.agg(count(lit(1)).as("n_viewers"))
    deltas.agg(
      count(lit(1)).as("n_converted"),
      round(avg(col("delta")), 6).as("mean_sec"),
      round(expr("percentile(delta, 0.5)"), 6).as("p50_sec"),
      round(expr("percentile(delta, 0.9)"), 6).as("p90_sec"),
      min(col("delta")).as("min_sec"),
      max(col("delta")).as("max_sec"))
      .crossJoin(broadcast(viewers))
      .select(col("n_viewers"), col("n_converted"), col("mean_sec"),
        col("p50_sec"), col("p90_sec"), col("min_sec"), col("max_sec"))
  }

  /** Top session OPENING PATHS — the first `steps` event types of each
    * session as one path string, ranked by frequency: the "how do
    * journeys start" panel one level above [[transitions]]' single-step
    * matrix. Deterministic assembly: the k-th step is a conditional
    * max over the session's row_number ≤ k rows (never collect_list
    * order), concatenated with '>'. Sessions shorter than `steps` pad
    * with '·' so partial journeys stay distinct from truncated ones.
    * One sessionization window + one session-keyed reduce; the path
    * vocabulary is bounded by |types|^steps. */
  def openingPaths(spark: SparkSession, dir: String, gapSec: Long,
      steps: Int, k: Int): DataFrame = {
    val bySess = Window.partitionBy("user_id", "session_seq")
      .orderBy(col("tsec").asc, col("event_id").asc)
    val stepped = sessionized(spark, dir, gapSec)
      .withColumn("rn", row_number().over(bySess))
      .filter(col("rn") <= steps)
    val stepCols = (1 to steps).map(i =>
      max(when(col("rn") === i, col("event_type"))).as(s"s$i"))
    stepped.groupBy("user_id", "session_seq")
      .agg(stepCols.head, stepCols.tail: _*)
      .select(concat_ws(">",
        (1 to steps).map(i => coalesce(col(s"s$i"), lit("·"))): _*)
        .as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(k)
  }

  def openingPathsOracleSql(gapSec: Long, steps: Int, k: Int): String = {
    val stepCols = (1 to steps).map(i =>
      s"max(CASE WHEN rn = $i THEN event_type END) AS s$i")
      .mkString(", ")
    val pathExpr = (1 to steps).map(i => s"COALESCE(s$i, '·')")
      .mkString(" || '>' || ")
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type,
       |    epoch_ns(ts) // 1000000000 AS tsec
       |  FROM events
       |), l AS (
       |  SELECT *, lag(tsec) OVER (PARTITION BY user_id
       |    ORDER BY tsec ASC, event_id ASC) AS prev
       |  FROM e
       |), s AS (
       |  SELECT user_id, event_id, event_type, tsec,
       |    sum(CASE WHEN prev IS NULL OR tsec - prev > $gapSec
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id
       |            ORDER BY tsec ASC, event_id ASC
       |            ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM l
       |), r AS (
       |  SELECT user_id, session_seq, event_type,
       |    row_number() OVER (PARTITION BY user_id, session_seq
       |      ORDER BY tsec ASC, event_id ASC) AS rn
       |  FROM s
       |), g AS (
       |  SELECT user_id, session_seq, $stepCols
       |  FROM r WHERE rn <= $steps GROUP BY 1, 2
       |)
       |SELECT $pathExpr AS path, count(*) AS n_sessions
       |FROM g GROUP BY 1
       |ORDER BY n_sessions DESC, path ASC LIMIT $k""".stripMargin
  }

  /** Behavioral-diversity histogram: Shannon entropy of each user's
    * event-type distribution, bucketed in half-bit bands — the
    * "single-purpose vs explorer" user segmentation (and, for a
    * training-data log, the mode-collapse signal diversity_report
    * computes for text, applied to behavior). Per-user type counts are
    * exact integers; the entropy terms −p·log2(p) evaluate identically
    * on both engines (p is a ratio of identical integers). Output is
    * the corpus-level H distribution summary (exact interpolated
    * quantiles — a histogram collapses on the fixture's uniform
    * synthetic behavior). Two combinable reduces, |users|
    * intermediate. */
  def userEntropy(spark: SparkSession, dir: String): DataFrame = {
    val perUT = Relational.eventsWithTsec(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
    val perU = perUT.groupBy("user_id")
      .agg(sum(col("n")).as("tot"))
    val ent = perUT.join(perU, Seq("user_id"))
      .select(col("user_id"),
        (col("n") / col("tot") *
          log2(col("n").cast("double") / col("tot"))).as("term"))
      .groupBy("user_id")
      .agg((-sum(col("term"))).as("h"))
    ent.agg(
      count(lit(1)).as("n_users"),
      round(min(col("h")), 4).as("min_h"),
      round(expr("percentile(h, 0.1)"), 4).as("p10_h"),
      round(expr("percentile(h, 0.5)"), 4).as("p50_h"),
      round(expr("percentile(h, 0.9)"), 4).as("p90_h"),
      round(max(col("h")), 4).as("max_h"))
  }

  val userEntropyOracleSql: String =
    """WITH ut AS (
      |  SELECT user_id, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), u AS (
      |  SELECT user_id, CAST(sum(n) AS BIGINT) AS tot
      |  FROM ut GROUP BY 1
      |), h AS (
      |  SELECT ut.user_id,
      |    -sum(CAST(ut.n AS DOUBLE) / u.tot *
      |         log2(CAST(ut.n AS DOUBLE) / u.tot)) AS h
      |  FROM ut JOIN u USING (user_id)
      |  GROUP BY 1
      |)
      |SELECT count(*) AS n_users,
      |  round(min(h), 4) AS min_h,
      |  round(quantile_cont(h, 0.1), 4) AS p10_h,
      |  round(quantile_cont(h, 0.5), 4) AS p50_h,
      |  round(quantile_cont(h, 0.9), 4) AS p90_h,
      |  round(max(h), 4) AS max_h
      |FROM h""".stripMargin

  /** Event-MIX drift between the time halves of the log — the events
    * twin of the documents' `drift_psi`: split the span at its integer
    * midpoint, compare each type's share across halves, and report the
    * per-type χ² contribution against the pooled expectation (the
    * two-sample homogeneity test, the alert a traffic-mix regression
    * trips). Integer counts + 1-row scalar rides (midpoint, half
    * totals) keep everything exact until the final divisions. */
  def typeMixDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Relational.eventsWithTsec(spark, dir)
      .select(col("event_type"), col("tsec"))
    val mid = e.agg(
      expr("(min(tsec) + max(tsec)) div 2").as("mid"))
    val halves = e.crossJoin(broadcast(mid))
      .select(col("event_type"),
        when(col("tsec") <= col("mid"), 1L).otherwise(2L).as("half"))
      .groupBy("event_type")
      .agg(
        sum(when(col("half") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("half") === 2L, 1L).otherwise(0L)).as("n2"))
    val totals = halves.agg(sum(col("n1")).as("t1"),
      sum(col("n2")).as("t2"))
    halves.crossJoin(broadcast(totals))
      .withColumn("p", (col("n1") + col("n2")) /
        (col("t1") + col("t2")).cast("double"))
      .select(col("event_type"), col("n1"), col("n2"),
        round(col("n1") / col("t1").cast("double"), 6).as("share1"),
        round(col("n2") / col("t2").cast("double"), 6).as("share2"),
        round(
          pow(col("n1") - col("t1") * col("p"), 2) /
            (col("t1") * col("p")) +
            pow(col("n2") - col("t2") * col("p"), 2) /
              (col("t2") * col("p")), 4).as("chi2_contrib"))
      .orderBy(col("event_type").asc)
  }

  val typeMixDriftOracleSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_ns(ts) // 1000000000 AS tsec
      |  FROM events
      |), m AS (
      |  SELECT (min(tsec) + max(tsec)) // 2 AS mid FROM e
      |), h AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN tsec <= m.mid THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN tsec > m.mid THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n2
      |  FROM e, m GROUP BY 1
      |), t AS (
      |  SELECT CAST(sum(n1) AS BIGINT) AS t1,
      |    CAST(sum(n2) AS BIGINT) AS t2
      |  FROM h
      |)
      |SELECT event_type, n1, n2,
      |  round(CAST(n1 AS DOUBLE) / t1, 6) AS share1,
      |  round(CAST(n2 AS DOUBLE) / t2, 6) AS share2,
      |  round(
      |    pow(n1 - t1 * ((n1 + n2) / CAST(t1 + t2 AS DOUBLE)), 2)
      |      / (t1 * ((n1 + n2) / CAST(t1 + t2 AS DOUBLE))) +
      |    pow(n2 - t2 * ((n1 + n2) / CAST(t1 + t2 AS DOUBLE)), 2)
      |      / (t2 * ((n1 + n2) / CAST(t1 + t2 AS DOUBLE))), 4)
      |    AS chi2_contrib
      |FROM h, t
      |ORDER BY event_type ASC""".stripMargin

  /** Inter-event gap distribution per user — the EVIDENCE behind the
    * session gap constant (the 30-minute industry default this repo's
    * sessionizers inherit): exact quantiles of the per-user
    * consecutive-event gap, per event count decade. A principled gap
    * sits far above p50 and near the distribution's knee; this query
    * is how you'd re-derive it from your own traffic. One user-keyed
    * lag window (the sessionization exchange), integer gaps, exact
    * `percentile` ≡ `quantile_cont`. */
  def gapStats(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("tsec").asc, col("event_id").asc)
    Relational.eventsWithTsec(spark, dir)
      .withColumn("prev", lag(col("tsec"), 1).over(byUser))
      .filter(col("prev").isNotNull)
      .select((col("tsec") - col("prev")).as("gap"))
      .agg(
        count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap, 0.5)"), 4).as("p50_gap"),
        round(expr("percentile(gap, 0.9)"), 4).as("p90_gap"),
        round(expr("percentile(gap, 0.99)"), 4).as("p99_gap"),
        max(col("gap")).as("max_gap"))
  }

  val gapStatsOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    epoch_ns(ts) // 1000000000 AS tsec
      |  FROM events
      |), l AS (
      |  SELECT tsec - lag(tsec) OVER (PARTITION BY user_id
      |    ORDER BY tsec ASC, event_id ASC) AS gap
      |  FROM e
      |)
      |SELECT count(*) AS n_gaps,
      |  round(quantile_cont(gap, 0.5), 4) AS p50_gap,
      |  round(quantile_cont(gap, 0.9), 4) AS p90_gap,
      |  round(quantile_cont(gap, 0.99), 4) AS p99_gap,
      |  max(gap) AS max_gap
      |FROM l WHERE gap IS NOT NULL""".stripMargin

  /** Benford's-law first-digit audit of the value column — the
    * fabricated-data / instrumentation-bug screen financial and data-
    * quality pipelines run: observed first-digit shares vs the Benford
    * expectation log10(1+1/d), with the per-digit χ² contribution.
    * Digit extraction is STRING-based (first char of the engine's
    * shortest decimal rendering of values ≥ 1) so no log/floor fp
    * arithmetic touches the bucketing; the Benford constants are
    * computed once in Scala and injected as identical literals into
    * BOTH engines. One scan + a 9-row frame with the total as an
    * allowlisted 1-row ride. */
  def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    val digits = graft.Tables.events(spark, dir)
      .filter(col("value") >= 1.0)
      .select(substring(col("value").cast("string"), 1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("n_total"))
    val benford = (1 to 9).map(d => d.toString -> math.log10(1.0 + 1.0 / d))
    val bCol = benford.foldLeft(lit(0.0)) { case (acc, (d, p)) =>
      when(col("digit") === d, lit(p)).otherwise(acc)
    }
    digits.crossJoin(broadcast(total))
      .withColumn("benford", bCol)
      .select(col("digit"), col("n"),
        round(col("n") / col("n_total"), 6).as("share"),
        round(col("benford"), 6).as("benford_share"),
        round(pow(col("n") - col("n_total") * col("benford"), 2) /
          (col("n_total") * col("benford")), 4).as("chi2_contrib"))
      .orderBy(col("digit").asc)
  }

  val benfordDigitsOracleSql: String = {
    val benford = (1 to 9).map(d =>
      s"WHEN '$d' THEN ${math.log10(1.0 + 1.0 / d)}").mkString(" ")
    s"""WITH d AS (
       |  SELECT substr(CAST(value AS VARCHAR), 1, 1) AS digit
       |  FROM events WHERE value >= 1.0
       |), g AS (
       |  SELECT digit, count(*) AS n FROM d GROUP BY 1
       |), t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g)
       |SELECT digit, n,
       |  round(CAST(n AS DOUBLE) / n_total, 6) AS share,
       |  round(CASE digit $benford ELSE 0.0 END, 6) AS benford_share,
       |  round(pow(n - n_total * (CASE digit $benford ELSE 0.0 END), 2)
       |    / (n_total * (CASE digit $benford ELSE 0.0 END)), 4)
       |    AS chi2_contrib
       |FROM g, t
       |ORDER BY digit ASC""".stripMargin
  }

  /** One-way ANOVA of event `value` across event types — "does the
    * value distribution actually differ by type": between/within sum
    * of squares and the F statistic. The fixture's values are 2-dp
    * decimals, so scaling by 100 makes every power sum an EXACT
    * integer (the q10 fixed-point discipline): SSB/SSW come out of
    * pure BIGINT arithmetic and only the final F division is floating
    * point. One scan, |types|-row intermediate. */
  def valueAnova(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.events(spark, dir)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("v"))
    val per = e.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("ss"))
    per.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("n_total"),
      sum(col("ss")).as("ss_all"),
      sum(col("s")).as("s_all"),
      // Σ_g s_g²/n_g in double — cast BEFORE squaring, mirroring the
      // oracle's CAST(s AS DOUBLE) * s: a long×long square of a
      // value×100 sum (~5e9 at sf1) exceeds Int64, where ANSI Spark
      // throws and non-ANSI silently wraps away from the oracle
      sum(col("s").cast("double") * col("s") / col("n")).as("grp_term"))
      .select(
        col("k"), col("n_total"),
        round((col("grp_term") -
          col("s_all").cast("double") * col("s_all") / col("n_total")) /
          lit(10000.0), 4)
          .as("ssb"),
        round((col("ss_all") - col("grp_term")) / lit(10000.0), 4)
          .as("ssw"),
        round(((col("grp_term") -
          col("s_all").cast("double") * col("s_all") / col("n_total")) /
          (col("k") - 1)) /
          ((col("ss_all") - col("grp_term")) /
            (col("n_total") - col("k"))), 6).as("f_stat"))
  }

  val valueAnovaOracleSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events
      |), per AS (
      |  SELECT event_type, count(*) AS n, sum(v) AS s,
      |    sum(v * v) AS ss
      |  FROM e GROUP BY 1
      |), t AS (
      |  SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n_total,
      |    CAST(sum(ss) AS BIGINT) AS ss_all,
      |    CAST(sum(s) AS BIGINT) AS s_all,
      |    sum(CAST(s AS DOUBLE) * s / n) AS grp_term
      |  FROM per
      |)
      |SELECT k, n_total,
      |  round((grp_term - CAST(s_all AS DOUBLE) * s_all / n_total)
      |        / 10000.0, 4) AS ssb,
      |  round((ss_all - grp_term) / 10000.0, 4) AS ssw,
      |  round(((grp_term - CAST(s_all AS DOUBLE) * s_all / n_total)
      |         / (k - 1)) /
      |        ((ss_all - grp_term) / (n_total - k)), 6) AS f_stat
      |FROM t""".stripMargin

  /** Robust anomaly detection on the daily series: median absolute
    * deviation (MAD) outliers per event type — the robust twin of
    * [[dowProfile]]'s mean±2σ (a single spike inflates σ and hides
    * itself; the median pair doesn't). Day is an outlier when
    * |x − median| > 3 × 1.4826 × MAD (the Gaussian-consistent
    * constant). Exact continuous-interpolation medians (`percentile` ≡
    * `quantile_cont`); per-type day-series state is bounded by the day
    * span. NULL-guard: a flat series has MAD 0 — its days are flagged
    * only if they differ from the median at all. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val d = denseDaily(spark, dir)
    val med = d.groupBy("event_type")
      .agg(expr("percentile(n_events, 0.5)").as("med"))
    val dev = d.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("n_events") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(first(col("med")).as("med"),
        expr("percentile(adev, 0.5)").as("mad"))
    dev.select("event_type", "n_events")
      .join(broadcast(mad.select(col("event_type"),
        col("med").as("m2"), col("mad"))), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        round(first(col("m2")), 4).as("median_n"),
        round(first(col("mad")), 4).as("mad_n"),
        // literal 4.4478 (= 3 × 1.4826) spelled identically on both
        // sides so the threshold double is bit-equal
        sum(when(abs(col("n_events") - col("m2")) >
          lit(4.4478) * col("mad"), 1L).otherwise(0L))
          .as("n_outlier_days"))
      .orderBy(col("event_type").asc)
  }

  val madOutliersOracleSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    (epoch_ns(ts) // 1000000000) // 86400 AS day
      |  FROM events
      |), b AS (
      |  SELECT min(day) AS d0, max(day) AS d1 FROM e
      |), days AS (
      |  SELECT unnest(range(d0, d1 + 1)) AS day FROM b
      |), g AS MATERIALIZED (
      |  SELECT t.event_type, d.day, COALESCE(c.n_events, 0) AS n_events
      |  FROM (SELECT DISTINCT event_type FROM e) t
      |  CROSS JOIN days d
      |  LEFT JOIN (SELECT event_type, day, count(*) AS n_events
      |             FROM e GROUP BY 1, 2) c
      |    USING (event_type, day)
      |), med AS MATERIALIZED (
      |  SELECT event_type, quantile_cont(n_events, 0.5) AS med
      |  FROM g GROUP BY 1
      |), dev AS MATERIALIZED (
      |  SELECT g.event_type, g.n_events, med.med,
      |    abs(g.n_events - med.med) AS adev
      |  FROM g JOIN med USING (event_type)
      |), mad AS (
      |  SELECT event_type, first(med) AS med,
      |    quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY 1
      |)
      |SELECT dev.event_type,
      |  round(first(mad.med), 4) AS median_n,
      |  round(first(mad.mad), 4) AS mad_n,
      |  CAST(sum(CASE WHEN abs(dev.n_events - mad.med) >
      |    4.4478 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outlier_days
      |FROM dev JOIN mad USING (event_type)
      |GROUP BY dev.event_type
      |ORDER BY dev.event_type ASC""".stripMargin

  /** Inactivity/churn distribution: users bucketed by how many whole
    * DAYS their LAST event trails the corpus frontier — bucket 0 is
    * the active base, the tail is churn (the inverse view of
    * [[Relational.eventsRetention]]'s cohort matrix; day grain because
    * the dense fixture keeps every user inside the last week). One
    * user-keyed max-reduce; the frontier rides as a 1-row broadcast
    * (allowlisted); output is bounded by the day span. */
  def inactivity(spark: SparkSession, dir: String): DataFrame = {
    val lastSeen = Relational.eventsWithTsec(spark, dir)
      .groupBy("user_id").agg(max(col("tsec")).as("last_sec"))
    val frontier = lastSeen.agg(max(col("last_sec")).as("hi"))
    lastSeen.crossJoin(broadcast(frontier))
      .select(expr("(hi - last_sec) div 86400").as("days_inactive"))
      .groupBy("days_inactive")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("days_inactive").asc)
  }

  val inactivityOracleSql: String =
    """WITH ls AS (
      |  SELECT user_id, max(epoch_ns(ts) // 1000000000) AS last_sec
      |  FROM events GROUP BY 1
      |), f AS (SELECT max(last_sec) AS hi FROM ls)
      |SELECT (f.hi - ls.last_sec) // 86400 AS days_inactive,
      |  count(*) AS n_users
      |FROM ls, f
      |GROUP BY 1 ORDER BY days_inactive ASC""".stripMargin

  val timeToConvertOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_ns(ts) // 1000000000 AS tsec
      |  FROM events
      |), fv AS MATERIALIZED (
      |  SELECT user_id, min(tsec) AS fv FROM e
      |  WHERE event_type = 'view' GROUP BY 1
      |), d AS (
      |  SELECT e.user_id, min(e.tsec) - first(fv.fv) AS delta
      |  FROM e JOIN fv USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.tsec > fv.fv
      |  GROUP BY e.user_id
      |)
      |SELECT (SELECT count(*) FROM fv) AS n_viewers,
      |  count(*) AS n_converted,
      |  round(avg(delta), 6) AS mean_sec,
      |  round(quantile_cont(delta, 0.5), 6) AS p50_sec,
      |  round(quantile_cont(delta, 0.9), 6) AS p90_sec,
      |  min(delta) AS min_sec,
      |  max(delta) AS max_sec
      |FROM d""".stripMargin
}
