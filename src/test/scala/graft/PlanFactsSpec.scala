package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** Plan-fact regression pinning (r14 verdict #8): PLANS.md carries the
  * promised plans as prose and PlanLintSpec bans anti-patterns, but
  * neither notices a LOST broadcast or a NEW shuffle in a headline
  * query — a silent plan regression only surfaces as a bench diff a
  * round later. This spec pins the exact (shuffle-exchange count,
  * broadcast-exchange count, partition-pruned-scan presence) triple
  * for the headline queries, so a plan change fails `sbt test` by name
  * the moment it happens. Counts are over `queryExecution.sparkPlan`
  * (the pre-AQE physical plan — deterministic at planning time,
  * independent of runtime stats).
  *
  * When a pinned fact changes ON PURPOSE (an optimization lands),
  * update the table here AND the matching PLANS.md entry in the same
  * commit — the pair is the documented plan contract.
  */
class PlanFactsSpec extends SparkSpec {

  private case class Facts(shuffles: Int, broadcasts: Int,
      prunedScan: Boolean)

  private def all(p: SparkPlan): Seq[SparkPlan] =
    (p +: p.children.flatMap(all)) ++ p.subqueries.flatMap(all)

  private def factsOf(name: String,
      confs: Map[String, String] = Map.empty): Facts = {
    // exchanges are inserted by the EnsureRequirements preparation, so
    // count on executedPlan; AQE is disabled for the probe so the plan
    // is the deterministic planning-time one (AdaptiveSparkPlanExec
    // hides its inner plan from children traversal and re-plans at
    // runtime — the opposite of a pinnable fact)
    val overrides = confs + ("spark.sql.adaptive.enabled" -> "false")
    val prev = overrides.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val qe = SparkEntry.queries(name)(spark, Sf0001).queryExecution
      val nodes = all(qe.executedPlan)
      Facts(
        nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
        nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
        nodes.exists {
          case s: FileSourceScanExec => s.partitionFilters.nonEmpty
          case _ => false
        })
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // The pinned contract: query -> (shuffles, broadcasts, pruned scan).
  // Derived from the r15 plans; rationale for each lives in PLANS.md.
  private val pinned: Map[String, Facts] = Map(
    // (fts_topk moved to pinnedWithConf below: routed since round 16,
    // both routes pinned with the route conf forced)
    // collection-scoped keyset pagination rides the partitioned layout;
    // offset+limit fold into the ordered take — zero exchanges
    "s3_pagination_scoped" -> Facts(0, 0, true),
    // bucketed fact-fact join: ZERO shuffle exchanges is the whole
    // point; the one broadcast is the tiny dim ride
    "bucketed_revenue" -> Facts(0, 1, false),
    // single-query IVF probe: static bucket pruning on the persisted
    // index, TakeOrderedAndProject — zero exchanges, zero broadcasts
    "ivf_ann" -> Facts(0, 0, false),
    // batched IVF serving, Q queries one job: probe-pair broadcast +
    // codes-side broadcast, per-query top-k window shuffle + the
    // grouped take + ordered output — the Q-independent exchange set
    "ivf_batch" -> Facts(3, 2, false),
    // brute-force cosine top-k: the query vector rides as a literal
    // (driver-held, or one lookup job above the broadcast bound) — no
    // broadcast, zero shuffles (TakeOrderedAndProject)
    "knn_cosine" -> Facts(0, 0, false),
    // MinHash+LSH banding over the PERSISTED band index (r15): joins
    // are UNHINTED — real table stats self-correct with scale, so at
    // THIS fixture's size the planner broadcasts one (genuinely tiny)
    // side and pays one band-key exchange; at corpus scale the same
    // stats exceed the threshold and the join exchanges instead
    "dedup_minhash" -> Facts(1, 1, false),
    // TPC-H Q3 shape: both dims broadcast, one aggregate exchange,
    // top-k via TakeOrderedAndProject (no sort exchange)
    "q3_shipping" -> Facts(1, 2, false),
    // tumbling windows: the window aggregate exchange + the ordered
    // output's range exchange
    "events_tumbling" -> Facts(2, 0, false),
    // Gopher gate rollup: scan-local signals, source-grain aggregate
    // exchange + ordered output
    "quality_gopher" -> Facts(2, 0, false),
    // compacted-generation probe: identical plan shape to ivf_ann —
    // static bucket pruning, TakeOrderedAndProject, NO tombstone
    // anti-join anywhere (that absence is the compaction win)
    "ivf_ann_compacted" -> Facts(0, 0, false),
    // vacuumed index stats: term-bucketed scan satisfies the groupBy
    // distribution — vocabulary aggregate with zero exchanges
    "fts_vacuum_termstats" -> Facts(0, 0, false),
    // hierarchical-fit gate as a PROBE over the persisted fit tables:
    // sizes aggregate off the assign table (1 exchange) + energy off
    // the cluster-bucketed cent table (0 — bucketing satisfies the
    // groupBy) + ordered output; the k1·k2-row energy side broadcasts
    // into the join — no Lloyd rounds in the plan at all
    "kmeans_hier" -> Facts(2, 1, false))

  // r15 verdict #7: the top bench entries not yet covered, plus BOTH
  // routes of the round-16 routed flagships (conf-forced so the pin is
  // independent of catalog state / test order). Placeholders measured
  // and rationale in PLANS.md.
  private val routeScan = Map("graft.fts.route" -> "scan")
  private val routeIndex = Map("graft.fts.route" -> "index")
  private val pinnedWithConf
      : Seq[(String, Map[String, String], Facts)] = Seq(
    // scan route: zero exchanges, partition-pruned documents scan
    ("fts_topk", routeScan, Facts(0, 0, true)),
    // index probe: one doc-keyed pivot exchange over the pruned
    // postings, TakeOrderedAndProject — corpus never rescanned
    ("fts_topk", routeIndex, Facts(1, 0, false)),
    // BM25 scan route: one 1-row stats aggregate exchange + its
    // broadcast ride, TakeOrderedAndProject
    ("fts_bm25", routeScan, Facts(1, 1, false)),
    // BM25 probe: postings pivot exchange + its re-partition into the
    // bucketed dl-sidecar join; broadcasts = the two 1-row stats
    // frames (dfs, corpus n/sumdl) + the planner's fixture-size choice
    // on the dl join
    ("fts_bm25", routeIndex, Facts(2, 3, false)),
    // session_seq probed from the bucketed session table (r18): the
    // sessionize exchange is gone; the user_id bucketing satisfies the
    // lead window, so the exchange set is the transition aggregate +
    // its normalizer window + ordered output
    ("events_transitions", Map.empty[String, String], Facts(3, 0, false)),
    // routed PPJoin at fixture volume → the BRUTE posting-join
    // formulation: zero-exchange co-located self-join on the bucketed
    // index, pair-grain count aggregate + ordered output; one
    // planner-chosen broadcast at fixture size
    ("dedup_ppjoin", Map.empty[String, String], Facts(2, 1, false)),
    // recall curve: ADC rank + refine cached once; per-width bounded
    // windows + exact-side joins re-read the cache — exchanges are
    // width-bounded, broadcasts all fold into the cached frame
    ("ivfpq_recall_curve", Map.empty[String, String], Facts(7, 0, false)))

  test("headline queries keep their pinned (shuffles, broadcasts, " +
      "pruned-scan) plan facts") {
    val diffs = pinned.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      val got = factsOf(name)
      graft.operators.CacheScope.release(spark)
      if (got != want)
        Some(s"$name: pinned $want, planned $got")
      else None
    }
    assert(diffs.isEmpty,
      s"plan-fact regressions (update PLANS.md + the pin if " +
        s"intentional):\n${diffs.mkString("\n")}")
  }

  test("routed flagships + top bench entries keep their pinned facts") {
    val diffs = pinnedWithConf.flatMap { case (name, confs, want) =>
      val got = factsOf(name, confs)
      graft.operators.CacheScope.release(spark)
      if (got != want)
        Some(s"$name$confs: pinned $want, planned $got")
      else None
    }
    assert(diffs.isEmpty,
      s"plan-fact regressions (update PLANS.md + the pin if " +
        s"intentional):\n${diffs.mkString("\n")}")
  }
}
