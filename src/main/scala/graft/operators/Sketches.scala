package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextAnalyzer

/** Sketch operators (the brief's "novel sketch" slot).
  *
  * Count-min sketch over the corpus term stream: d md5-derived hash
  * rows × w buckets; each token occurrence increments one bucket per
  * row; a term's frequency estimate is the MINIMUM of its d bucket
  * counts — never an underestimate, overestimates bounded by collision
  * mass (Cormode & Muthukrishnan 2005). All hashing is md5-hex-prefix
  * based so the DuckDB oracle computes the identical sketch, and the
  * build is one groupBy over (row, bucket): d·w cells total regardless
  * of corpus size — the sketch is mergeable across partitions/batches
  * by cell-wise addition, which is exactly what the partial aggregate
  * does.
  */
object Sketches {

  val Depth = 4
  val Width = 256 // one md5 hex-pair → bucket in [0, 255]

  /** bucket_i(token) = first hex byte of md5(i || ':' || token). */
  private def bucketExpr(i: Int, token: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(s"$i:"), token)), 1, 2), 16, 10)
      .cast("int")

  /** The sketch cells: (row, bucket, cnt) — d·w rows max. One corpus
    * scan: each token explodes to its Depth (sketch_row, bucket) structs
    * instead of unioning Depth re-tokenized scans. */
  def countMinCells(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(TextAnalyzer.tokens(col("text"))).as("token"))
    toks
      .select(explode(array((0 until Depth).map(i =>
        struct(lit(i).as("sketch_row"),
          bucketExpr(i, col("token")).as("bucket"))): _*)).as("cell"))
      .groupBy(col("cell.sketch_row").as("sketch_row"),
        col("cell.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Estimates vs. truth for a set of probe terms: the count-min
    * guarantee (estimate >= true count) is directly visible in the
    * output. */
  def countMinEstimates(spark: SparkSession, dir: String,
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val cells = countMinCells(spark, dir)
    val probes = terms
      .flatMap { t =>
        (0 until Depth).map(i => (t, i,
          Integer.parseInt(
            md5Hex(s"$i:$t").substring(0, 2), 16)))
      }
      .toDF("term", "sketch_row", "bucket")
    val trueTf = Tables.documents(spark, dir)
      .select(explode(TextAnalyzer.tokens(col("text"))).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("token").as("term"))
      .agg(count(lit(1)).as("true_tf"))
    probes
      .join(cells, Seq("sketch_row", "bucket"), "left")
      .groupBy("term")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_estimate"))
      .join(trueTf, Seq("term"), "left")
      .select(col("term"), coalesce(col("true_tf"), lit(0L)).as("true_tf"),
        col("cm_estimate"))
      .orderBy(col("term").asc)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def countMinOracleSql(terms: Seq[String]): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val rowsUnion = (0 until Depth).map { i =>
      s"""SELECT $i AS sketch_row,
         |  CAST('0x' || substr(md5('$i:' || token), 1, 2) AS INT)
         |    AS bucket
         |FROM toks""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val probeRows = terms.flatMap { t =>
      (0 until Depth).map(i =>
        s"('$t', $i, CAST('0x' || substr(md5('$i:' || '$t'), 1, 2) AS INT))")
    }.mkString(", ")
    s"""WITH toks AS (
       |  SELECT t AS token FROM (
       |    SELECT ${TextAnalyzer.sqlTokenize("text")} AS t FROM documents
       |  ) WHERE ${TextAnalyzer.sqlTermFilter("t")}
       |), cells AS (
       |  SELECT sketch_row, bucket, count(*) AS cnt FROM (
       |  $rowsUnion
       |  ) GROUP BY sketch_row, bucket
       |), probes(term, sketch_row, bucket) AS (VALUES $probeRows),
       |est AS (
       |  SELECT p.term, min(coalesce(c.cnt, 0)) AS cm_estimate
       |  FROM probes p LEFT JOIN cells c
       |    ON c.sketch_row = p.sketch_row AND c.bucket = p.bucket
       |  GROUP BY p.term
       |), truth AS (
       |  SELECT token AS term, count(*) AS true_tf FROM toks
       |  WHERE token IN ($termList) GROUP BY token
       |)
       |SELECT e.term, coalesce(t.true_tf, 0) AS true_tf, e.cm_estimate
       |FROM est e LEFT JOIN truth t ON t.term = e.term
       |ORDER BY e.term ASC""".stripMargin
  }

  // ---- HyperLogLog ------------------------------------------------------

  val HllRegisters = 256 // one md5 hex-pair → register index (p = 8 bits)
  val HllRankHexDigits = 12 // 48 bits of rank material after the index

  /** Deterministic HyperLogLog distinct-count sketch (Flajolet et al.
    * 2007), md5-derived so the DuckDB oracle computes bit-identical
    * registers: register = first hex byte of md5(value), rank = 1 +
    * leading zero BITS of the next 12 hex digits (nibble-position ×4 +
    * per-nibble zeros), capped at 49 when all 48 bits are zero.
    *
    * Scale shape: the register table is the sketch — m rows per group,
    * mergeable by register-wise MAX, which is exactly what the partial
    * aggregate does across partitions; adding a corpus shard never
    * reshuffles history. The estimate's harmonic sum Σ 2^-rank is
    * computed as the INTEGER Σ 2^(49-rank) (exact in a long — float
    * summation order would make the last ulp nondeterministic), so the
    * only floating arithmetic is one fixed expression per group.
    */
  def hllEstimate(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(col("user_id").cast("string"))
    val reg = conv(substring(h, 1, 2), 16, 10).cast("int")
    val rest = substring(h, 3, HllRankHexDigits)
    val zeros = length(regexp_extract(rest, "^(0*)", 1))
    val nib = substring(rest, zeros + 1, lit(1))
    val nibZeros = when(nib === "1", 3)
      .when(nib.isin("2", "3"), 2)
      .when(nib.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    val rank = when(zeros === HllRankHexDigits,
      lit(4 * HllRankHexDigits + 1))
      .otherwise(zeros * 4 + nibZeros + 1)
    val m = HllRegisters
    val alpha = 0.7213 / (1 + 1.079 / m)
    val regs = Tables.events(spark, dir)
      .select(col("event_type"), reg.as("reg"), rank.as("rank"))
      .groupBy("event_type", "reg")
      .agg(max(col("rank")).as("mx"))
    // harmonic denominator: present registers via the integer-exact
    // scaled sum, plus 2^-0 = 1 for each EMPTY register; small-range
    // linear counting applies on the standard E_raw <= 2.5m cutoff
    // (gating on any-empty-register would cap estimates at m*ln(m) in
    // the one-empty-register regime — Flajolet et al. 2007 §4)
    val denom = col("isum").cast("double") / lit(math.pow(2.0, 49)) +
      (lit(m) - col("regs_used")).cast("double")
    val raw = lit(alpha * m * m) / denom
    regs
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("regs_used"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - mx)")).as("isum"))
      .select(col("event_type"), col("regs_used"), col("isum"),
        round(
          when(raw <= lit(2.5 * m) && col("regs_used") < lit(m),
            lit(m.toDouble) * log(lit(m.toDouble)
              / (lit(m) - col("regs_used")).cast("double")))
            .otherwise(raw),
          2).as("hll_estimate"))
      .orderBy(col("event_type").asc)
  }

  /** Truth join for the HLL check: estimate next to the exact distinct
    * count (the oracle recomputes both; error visibly small). */
  def hllVsExact(spark: SparkSession, dir: String): DataFrame = {
    val exact = Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    hllEstimate(spark, dir)
      .join(exact, Seq("event_type"))
      .select("event_type", "exact_distinct", "regs_used", "isum",
        "hll_estimate")
      .orderBy(col("event_type").asc)
  }

  def hllOracleSql: String = {
    val m = HllRegisters
    val d = HllRankHexDigits
    s"""WITH h AS (
       |  SELECT event_type, user_id,
       |    md5(CAST(user_id AS VARCHAR)) AS hx
       |  FROM events
       |), parts AS (
       |  SELECT event_type,
       |    CAST('0x' || substr(hx, 1, 2) AS INT) AS reg,
       |    length(regexp_extract(substr(hx, 3, $d), '^(0*)', 1)) AS zeros,
       |    substr(hx, 3 + length(regexp_extract(substr(hx, 3, $d),
       |      '^(0*)', 1)), 1) AS nib
       |  FROM h
       |), ranked AS (
       |  SELECT event_type, reg,
       |    CASE WHEN zeros = $d THEN ${4 * d + 1}
       |         ELSE zeros * 4 +
       |           CASE WHEN nib = '1' THEN 3
       |                WHEN nib IN ('2', '3') THEN 2
       |                WHEN nib IN ('4', '5', '6', '7') THEN 1
       |                ELSE 0 END + 1
       |    END AS rank
       |  FROM parts
       |), regs AS (
       |  SELECT event_type, reg, max(rank) AS mx
       |  FROM ranked GROUP BY event_type, reg
       |), agg AS (
       |  SELECT event_type, count(*) AS regs_used,
       |    CAST(sum(CAST(1 AS BIGINT) << (49 - mx)) AS BIGINT) AS isum
       |  FROM regs GROUP BY event_type
       |), exact AS (
       |  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
       |  FROM events GROUP BY event_type
       |)
       |SELECT a.event_type, e.exact_distinct, a.regs_used, a.isum,
       |  round(
       |    CASE WHEN (CAST(${0.7213 / (1 + 1.079 / m)} AS DOUBLE) * $m * $m)
       |           / (CAST(a.isum AS DOUBLE) / ${math.pow(2.0, 49)}
       |              + CAST($m - a.regs_used AS DOUBLE)) <= ${2.5 * m}
       |         AND a.regs_used < $m
       |      THEN $m.0 * ln($m.0 / CAST($m - a.regs_used AS DOUBLE))
       |      ELSE (CAST(${0.7213 / (1 + 1.079 / m)} AS DOUBLE) * $m * $m)
       |           / (CAST(a.isum AS DOUBLE) / ${math.pow(2.0, 49)}
       |              + CAST($m - a.regs_used AS DOUBLE))
       |    END, 2) AS hll_estimate
       |FROM agg a JOIN exact e ON e.event_type = a.event_type
       |ORDER BY a.event_type ASC""".stripMargin
  }

  // ---- Bloom filter -----------------------------------------------------

  val BloomBits = 256
  val BloomWordBits = 32 // words stay < 2^32: no sign traps in either engine
  val BloomHashes = 4

  /** bit index k(value) = first hex byte of md5(k || ':' || value),
    * k in [0, BloomHashes). */
  private def bloomIdx(k: Int, v: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(s"$k:"), v)), 1, 2), 16, 10).cast("int")

  /** Deterministic Bloom filter per event_type over user ids: one
    * 256-bit filter as 8 32-bit words, built by a bit_or aggregate —
    * mergeable across shards by word-wise OR (the partial aggregate),
    * like every sketch here. Probes report the filter's verdict beside
    * ground truth: no false negatives ever; false positives possible
    * and visibly bounded. md5-derived bits → the DuckDB oracle builds
    * the identical filter. */
  def bloomMembership(spark: SparkSession, dir: String,
      probeIds: Seq[Long]): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val idxs = ev.select(col("event_type"),
      explode(array((0 until BloomHashes).map(k =>
        bloomIdx(k, col("user_id").cast("string"))): _*)).as("idx"))
    val words = idxs
      .groupBy(col("event_type"), (col("idx") / BloomWordBits)
        .cast("int").as("word"))
      .agg(bit_or(expr(
        s"shiftleft(CAST(1 AS BIGINT), idx % $BloomWordBits)")).as("bits"))
    // probe bit positions (driver-side md5 of the literal probe ids)
    val probes = probeIds.flatMap { id =>
      (0 until BloomHashes).map { k =>
        val idx = Integer.parseInt(md5Hex(s"$k:$id").substring(0, 2), 16)
        (id, idx / BloomWordBits, idx % BloomWordBits)
      }
    }.toDF("probe_id", "word", "bit")
    // every (event_type, probe-bit) must be tested: a word with no row
    // in the filter means bits = 0 (non-member), so LEFT join from the
    // full grid — an inner join would silently drop exactly the rows
    // that prove non-membership
    val grid = ev.select("event_type").distinct()
      .crossJoin(broadcast(probes))
    val truth = ev.select(col("event_type").as("t_type"),
      col("user_id")).distinct()
    grid.join(words, Seq("event_type", "word"), "left")
      .withColumn("bits", coalesce(col("bits"), lit(0L)))
      .groupBy("event_type", "probe_id")
      .agg(min(expr("(bits >> bit) & 1")).cast("int").as("all_bits_set"))
      .join(truth,
        col("event_type") === col("t_type") &&
          col("probe_id") === col("user_id"), "left")
      .select(col("event_type"), col("probe_id"),
        (col("all_bits_set") === 1).as("bloom_member"),
        col("user_id").isNotNull.as("truth_member"))
      .orderBy(col("event_type").asc, col("probe_id").asc)
  }

  def bloomOracleSql(probeIds: Seq[Long]): String = {
    val idxExprs = (0 until BloomHashes).map(k =>
      s"CAST('0x' || substr(md5('$k:' || CAST(user_id AS VARCHAR)), 1, 2) AS INT)")
      .mkString(", ")
    val probeRows = probeIds.flatMap { id =>
      (0 until BloomHashes).map { k =>
        val idx = Integer.parseInt(md5Hex(s"$k:$id").substring(0, 2), 16)
        s"($id, ${idx / BloomWordBits}, ${idx % BloomWordBits})"
      }
    }.mkString(", ")
    s"""WITH idxs AS (
       |  SELECT event_type, unnest([$idxExprs]) AS idx FROM events
       |), words AS (
       |  SELECT event_type, idx // $BloomWordBits AS word,
       |    CAST(bit_or(CAST(1 AS BIGINT) << (idx % $BloomWordBits))
       |      AS BIGINT) AS bits
       |  FROM idxs GROUP BY event_type, idx // $BloomWordBits
       |), probes(probe_id, word, bit) AS (VALUES $probeRows),
       |grid AS (
       |  SELECT t.event_type, p.probe_id, p.word, p.bit
       |  FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN probes p
       |), verdict AS (
       |  SELECT g.event_type, g.probe_id,
       |    CAST(min((coalesce(w.bits, 0) >> g.bit) & 1) AS INT)
       |      AS all_bits_set
       |  FROM grid g LEFT JOIN words w
       |    ON w.event_type = g.event_type AND w.word = g.word
       |  GROUP BY g.event_type, g.probe_id
       |), truth AS (
       |  SELECT DISTINCT event_type, user_id FROM events
       |)
       |SELECT v.event_type, v.probe_id,
       |  v.all_bits_set = 1 AS bloom_member,
       |  t.user_id IS NOT NULL AS truth_member
       |FROM verdict v LEFT JOIN truth t
       |  ON t.event_type = v.event_type AND t.user_id = v.probe_id
       |ORDER BY v.event_type ASC, v.probe_id ASC""".stripMargin
  }

  /** Exact interpolated quantiles of event values per type (Spark
    * `percentile` ≡ DuckDB `quantile_cont` — both the continuous
    * interpolated definition, so the oracle is exact). */
  def eventQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy(col("event_type").asc)

  val eventQuantilesOracleSql: String =
    """SELECT event_type, count(*) AS n,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.95), 6) AS p95,
      |  round(quantile_cont(value, 0.99), 6) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type ASC""".stripMargin

  /** Fixed-bin value histogram per event type — the distribution sketch
    * next to the quantiles above: bucket = clamp(floor((v-lo)/width)),
    * a pure scan-local projection, then ONE partial-agg shuffle on
    * (type, bucket) whose output is at most nTypes·nBins rows
    * regardless of corpus size — the same "mergeable cells" property
    * as the count-min sketch, so 100 TB histograms cost one scan. */
  def valueHistogram(spark: SparkSession, dir: String, lo: Double,
      width: Double, nBins: Int): DataFrame = {
    val bucket = least(
      greatest(floor((col("value") - lit(lo)) / lit(width)), lit(0L)),
      lit((nBins - 1).toLong)).cast("int")
    Tables.events(spark, dir)
      .select(col("event_type"), bucket.as("bucket"), col("value"))
      .groupBy("event_type", "bucket")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type").asc, col("bucket").asc)
  }

  def valueHistogramOracleSql(lo: Double, width: Double,
      nBins: Int): String =
    s"""SELECT event_type,
       |  CAST(least(greatest(floor((value - $lo) / $width), 0),
       |             ${nBins - 1}) AS INT) AS bucket,
       |  count(*) AS n, round(sum(value), 2) AS sum_value
       |FROM events
       |GROUP BY event_type, CAST(least(greatest(floor((value - $lo)
       |  / $width), 0), ${nBins - 1}) AS INT)
       |ORDER BY event_type ASC, bucket ASC""".stripMargin

  /** Z-score outlier detection per event type — the third distribution
    * lens next to quantiles (order statistics) and histograms (shape):
    * rows more than `z` sample standard deviations above their type's
    * mean. The per-type stats are a tiny aggregate broadcast back into
    * a scan-local filter — one pass for stats, one for the verdict, no
    * row-level shuffle. The z-score is ROUNDED to 6 before the
    * threshold test in BOTH engines: mean/stddev carry ~1e-12
    * summation-order differences, and an unrounded comparison would
    * let a value that close to the boundary flip row membership per
    * engine. A degenerate constant-valued type (sd = 0) is filtered on
    * BOTH sides: Spark's double division would yield Infinity/NaN
    * while DuckDB's yields NULL — opposite row-membership verdicts. */
  def valueOutliers(spark: SparkSession, dir: String,
      z: Double): DataFrame = {
    val stats = Tables.events(spark, dir)
      .groupBy(col("event_type").as("s_type"))
      .agg(avg(col("value")).as("mean"),
        stddev_samp(col("value")).as("sd"))
    Tables.events(spark, dir)
      .join(broadcast(stats), col("event_type") === col("s_type"))
      .filter(col("sd") > lit(0d))
      .withColumn("zscore",
        round((col("value") - col("mean")) / col("sd"), 6))
      .filter(col("zscore") > lit(z))
      .select(col("event_id"), col("event_type"), col("value"),
        col("zscore"))
      .orderBy(col("zscore").desc, col("event_id").asc)
  }

  def valueOutliersOracleSql(z: Double): String =
    s"""WITH s AS (
       |  SELECT event_type AS s_type, avg(value) AS m,
       |    stddev_samp(value) AS sd
       |  FROM events GROUP BY event_type
       |)
       |SELECT event_id, e.event_type, value,
       |  round((value - s.m) / s.sd, 6) AS zscore
       |FROM events e JOIN s ON s.s_type = e.event_type
       |WHERE s.sd > 0
       |  AND round((value - s.m) / s.sd, 6) > $z
       |ORDER BY zscore DESC, event_id ASC""".stripMargin

  /** MERGEABLE quantile sketch — the missing member of the sketch
    * family (HLL/Bloom/CMS ship above; [[eventQuantiles]] is the EXACT
    * form, which needs a per-group sort and is not a 100 TB primitive
    * for a global distribution). HDR-histogram shape with
    * 3-significant-decimal-digit buckets: each fixed-point value maps
    * scan-locally to its bucket bound nearest zero (sign × first 3
    * digits of |m| right-padded with zeros — STRING arithmetic, the
    * proven engine-exact bucketing trick; bucketing |m| and
    * reattaching the sign keeps the ≤ 0.5 %-of-|m| bucket-width
    * guarantee for NEGATIVE values too, where padding a '-'-prefixed
    * string would eat a significant digit), one partial-agg shuffle
    * folds the corpus to ≤ 1800·decades cells, and quantile recovery
    * is a prefix sum over that BOUNDED frame (sign × monotone(|m|) is
    * monotone in m, so bucket order = value order). Cells are
    * integers and merge by addition — shards/days/sources combine
    * without re-scanning, and the est is within one bucket width
    * (≤ 0.5 % relative) of the true rank statistic by construction;
    * `rel_err` against the exact interpolated quantile is reported
    * per row (NULL when the exact quantile is 0 — relative error is
    * undefined at a zero denominator). Targets are per-mille integers
    * so the rank arithmetic is exact: rank = ⌈n·p/1000⌉. */
  def hdrQuantiles(spark: SparkSession, dir: String,
      pMille: Seq[Int]): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(round(col("value") * 100).cast("long").as("m"))
      .withColumn("ms", abs(col("m")).cast("string"))
      .withColumn("lb", expr(
        "(CASE WHEN m < 0 THEN -1 ELSE 1 END) * " +
          "(CASE WHEN length(ms) <= 3 THEN abs(m) ELSE " +
          "CAST(rpad(substring(ms, 1, 3), length(ms), '0') AS BIGINT) " +
          "END)"))
      .transform(graft.operators.CacheScope.cached)
    val buckets = ev.groupBy("lb").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("lb"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = buckets.withColumn("cum", sum(col("cnt")).over(w))
    val exList = pMille.map(p => p / 1000.0).mkString(", ")
    val stats = ev.agg(count(lit(1)).as("n"),
      expr(s"percentile(m, array($exList))").as("ex"))
    val psDf = pMille.zipWithIndex.toDF("p_mille", "px")
    cum.crossJoin(broadcast(psDf.crossJoin(stats)))
      .withColumn("target", expr("(n * p_mille + 999) div 1000"))
      .filter(col("cum") >= col("target"))
      .groupBy("p_mille", "px", "n")
      .agg(min(col("lb")).as("est_m"),
        first(col("ex")).as("ex"))
      .select(col("p_mille").cast("long").as("p_mille"), col("n"),
        round(col("est_m") / lit(100.0), 2).as("est_value"),
        round(element_at(col("ex"), col("px") + 1) / lit(100.0), 6)
          .as("exact_cont"),
        round(abs(col("est_m") - element_at(col("ex"), col("px") + 1)) /
          nullif(element_at(col("ex"), col("px") + 1), lit(0.0)), 4)
          .as("rel_err"))
      .orderBy(col("p_mille").asc)
  }

  def hdrQuantilesOracleSql(pMille: Seq[Int]): String = {
    val psRows = pMille.map(p => s"($p)").mkString(", ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT CAST(round(value * 100) AS BIGINT) AS m FROM events
       |), b AS (
       |  SELECT (CASE WHEN m < 0 THEN -1 ELSE 1 END) *
       |    (CASE WHEN length(CAST(abs(m) AS VARCHAR)) <= 3 THEN abs(m)
       |     ELSE CAST(rpad(substring(CAST(abs(m) AS VARCHAR), 1, 3),
       |                CAST(length(CAST(abs(m) AS VARCHAR)) AS INTEGER),
       |                '0') AS BIGINT)
       |     END) AS lb
       |  FROM e
       |), h AS (SELECT lb, count(*) AS cnt FROM b GROUP BY 1),
       |c AS MATERIALIZED (
       |  SELECT lb, sum(cnt) OVER (ORDER BY lb
       |    ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM h
       |), st AS (SELECT count(*) AS n FROM e),
       |ps(p_mille) AS (VALUES $psRows),
       |sel AS (
       |  SELECT p.p_mille, st.n, min(c.lb) AS est_m
       |  FROM ps p, st, c
       |  WHERE c.cum >= (st.n * p.p_mille + 999) // 1000
       |  GROUP BY 1, 2
       |), exl AS (
       |  SELECT quantile_cont(m,
       |    [${pMille.map(p => p / 1000.0).mkString(", ")}]) AS ql
       |  FROM e
       |), exq AS (
       |  -- parallel unnests zip positionally: p list order = ql order
       |  SELECT unnest([${pMille.mkString(", ")}]) AS p_mille,
       |    unnest(ql) AS exact_m
       |  FROM exl
       |)
       |SELECT CAST(s.p_mille AS BIGINT) AS p_mille, s.n,
       |  round(s.est_m / 100.0, 2) AS est_value,
       |  round(x.exact_m / 100.0, 6) AS exact_cont,
       |  round(abs(s.est_m - x.exact_m) / nullif(x.exact_m, 0), 4)
       |    AS rel_err
       |FROM sel s JOIN exq x USING (p_mille)
       |ORDER BY p_mille ASC""".stripMargin
  }
}

/** Changepoint detection over the event stream — the monitoring read a
  * pipeline runs on its own throughput: for every event type and
  * 10-minute bucket, the sliding two-sample statistic
  * |Σ counts of the next W observed buckets − Σ counts of the previous
  * W observed buckets| (windows of equal length ⇒ the mean-shift score
  * is an exact integer — no division, no doubles). Top-k scored
  * boundaries are the candidate regime changes. "Observed buckets":
  * rows-based windows over buckets that HAVE events — empty buckets
  * don't exist in either engine's frame, identically.
  *
  * Scale shape: one partial-aggregable shuffle to (type, bucket) grain
  * — a date-range-bounded dimension, NOT corpus-sized — then per-type
  * rows-windows over that grain and a global TakeOrderedAndProject.
  */
object Changepoints {
  import org.apache.spark.sql.expressions.Window

  def eventsChangepoints(spark: SparkSession, dir: String, w: Int,
      k: Int): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    val counts = ev
      .select(col("event_type"),
        (graft.Tables.tsSeconds(ev).cast("long") / 600).cast("long")
          .as("bucket"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"))
    val ord = Window.partitionBy("event_type").orderBy(col("bucket").asc)
    val left = ord.rowsBetween(-w, -1)
    val right = ord.rowsBetween(0, w - 1)
    counts
      .withColumn("sum_left", sum(col("n")).over(left))
      .withColumn("cnt_left", count(lit(1)).over(left))
      .withColumn("sum_right", sum(col("n")).over(right))
      .withColumn("cnt_right", count(lit(1)).over(right))
      .filter(col("cnt_left") === w && col("cnt_right") === w)
      .select(col("event_type"), col("bucket"),
        col("sum_left"), col("sum_right"),
        abs(col("sum_right") - col("sum_left")).as("shift"))
      .orderBy(col("shift").desc, col("event_type").asc,
        col("bucket").asc)
      .limit(k)
  }

  def eventsChangepointsOracleSql(w: Int, k: Int): String =
    s"""WITH counts AS (
       |  SELECT event_type,
       |    CAST(floor(epoch(ts) / 600) AS BIGINT) AS bucket,
       |    count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), scored AS (
       |  SELECT event_type, bucket,
       |    sum(n) OVER (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN $w PRECEDING AND 1 PRECEDING) AS sum_left,
       |    count(*) OVER (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN $w PRECEDING AND 1 PRECEDING) AS cnt_left,
       |    sum(n) OVER (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING)
       |      AS sum_right,
       |    count(*) OVER (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING)
       |      AS cnt_right
       |  FROM counts
       |)
       |SELECT event_type, bucket,
       |  CAST(sum_left AS BIGINT) AS sum_left,
       |  CAST(sum_right AS BIGINT) AS sum_right,
       |  CAST(abs(sum_right - sum_left) AS BIGINT) AS shift
       |FROM scored WHERE cnt_left = $w AND cnt_right = $w
       |ORDER BY shift DESC, event_type ASC, bucket ASC LIMIT $k""".stripMargin
}
