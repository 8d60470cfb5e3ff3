package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persist-once EVALUATION artifacts — the exact-KNN ground-truth
  * lists and exact pair sets that the recall gates score approximate
  * structures against.
  *
  * A recall gate has two sides: the approximate structure under test
  * (which must run live, every time — that is what the gate measures)
  * and the exact reference it is scored against. The reference is a
  * deterministic pure function of (corpus, query set, k): production
  * evaluation harnesses compute it once per corpus snapshot and reuse
  * it across every tuning run, because at 100 TB the exact side is a
  * full-corpus scan per evaluation and the approximate side is the
  * only thing that changes between runs. This cache gives the gates
  * that discipline: tables are keyed by the corpus CONTENT fingerprint
  * (the ensureIndex convention — an in-place fixture regeneration
  * starts a new key, so stale truth can never be served) plus a digest
  * of the gate parameters. Bench accounting matches the index
  * families: the build lands in the first consumer's rep 0 and
  * min-of-N drops it.
  *
  * Correctness is untouched: the persisted frame is bit-identical to
  * the inline computation it replaces (same plan, same determinism
  * contract), and every DuckDB oracle still recomputes its exact side
  * from scratch — the hash gate would catch a divergent cache. */
object EvalCache {

  /** [[ScaleOps.digest]] of a parameter list, for table-name keys: a
    * collision here would silently serve the WRONG exact reference to
    * a recall gate — misreported recall, not a loud failure. */
  def keyOf(parts: Any*): String =
    ScaleOps.digest(parts.map(_.toString).mkString("|"))

  /** The generation-bearing catalog name [[ensure]] persists under —
    * exposed so consumers can key driver memos on the SAME identity
    * (the nbConfusion cstat memo) without duplicating the naming
    * convention. */
  def tableName(dir: String, srcTable: String, label: String): String =
    s"graft_gt_${label}_${ScaleOps.contentHash(dir, srcTable)}"

  /** Persist `build` once per (corpus fingerprint, label) and return
    * the catalog table. `build` is by-name: a cache hit never
    * constructs the frame. Ground-truth frames are Q·k rows (bounded
    * by the gate's own parameters), so one bucket suffices. */
  def ensure(spark: SparkSession, dir: String, srcTable: String,
      label: String, bucketCol: String)(build: => DataFrame): DataFrame =
    spark.table(ScaleOps.ensure(spark,
      ScaleOps.AttachSpec(tableName(dir, srcTable, label), bucketCol, 1)) {
      Seq(build)
    })
}
