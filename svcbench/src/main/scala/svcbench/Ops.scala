package svcbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Fts, Hybrid, Relational, Similarity}

/** One read request: the operator call that returns the DataFrame and
  * the DuckDB oracle SQL of the same response. `check` marks it for the
  * oracle, `trace` for tracing in a traced phase. */
final case class Read(cls: String, check: Boolean, trace: Boolean,
    build: (SparkSession, String) => DataFrame, oracle: () => String)

/** Maps the generated request descriptions to the program's public
  * operator functions. */
object Ops {
  /** IVF cell count the auto policy picks for the generated corpus;
    * the filtered probe uses the same index. */
  private def cells(nVecs: Long) = Similarity.autoNCentroids(nVecs)

  def read(o: JsonNode, nVecs: Long): Read = {
    val cls = o.get("cls").asText
    def s(k: String) = o.get(k).asText
    def l(k: String) = o.get(k).asLong
    def i(k: String) = o.get(k).asInt
    def flag(k: String) = o.has(k) && o.get(k).asBoolean
    val (check, trace) = (flag("check"), flag("trace"))
    cls match {
      case "fts_topk" =>
        val (q, lang) = (s("q"), s("lang"))
        Read(cls, check, trace, (sp, d) => Fts.searchAuto(sp, d, q, lang, 10),
          () => Fts.searchOracleSql(q, lang, 10))
      case "fts_bm25" =>
        val (q, lang) = (s("q"), s("lang"))
        Read(cls, check, trace, (sp, d) => Fts.searchBm25Auto(sp, d, q, lang, 10),
          () => Fts.searchBm25OracleSql(q, lang, 10))
      case "hybrid_rrf" =>
        val (q, lang, v) = (s("q"), s("lang"), l("qid"))
        Read(cls, check, trace,
          (sp, d) => Hybrid.rrfSearch(sp, d, q, lang, v, 20, 60, 10),
          () => Hybrid.rrfSearchOracleSql(q, lang, v, 20, 60, 10))
      case "ivf_ann" =>
        val v = l("qid")
        Read(cls, check, trace, (sp, d) => Similarity.ivfTopKAuto(sp, d, v, 10),
          () => Similarity.ivfTopKAutoOracleSql(v, 10))
      case "ivf_filtered" =>
        val (v, label, c) = (l("qid"), i("label"), cells(nVecs))
        Read(cls, check, trace,
          (sp, d) => Similarity.ivfTopKFiltered(sp, d, v, label, 10, c, 2),
          () => Similarity.ivfTopKFilteredOracleSql(v, label, 10, c, 2))
      case "knn_cosine" =>
        val v = l("qid")
        Read(cls, check, trace, (sp, d) => Similarity.knnCosine(sp, d, v, 10, 0.95),
          () => Similarity.knnCosineOracleSql(v, 10, 0.95))
      case "paginate" =>
        val off = i("off")
        Read(cls, check, trace,
          (sp, d) => Relational.paginateDocuments(sp, d, 50, off),
          () => Relational.paginateOracleSql(50, off))
    }
  }
}
