package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: run only the named queries (comma-separated) —
    // local dev iteration; the driver always passes exactly two args
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.create(Session.cpus, Session.cpus)
    new java.io.File(outDir).mkdirs()
    // A query that throws must be VISIBLE in the artifact, not just on
    // stderr: round 6's pq_scan threw (orphaned table location), its
    // directory was simply absent, and the correctness artifact looked
    // green with the query missing. _failures.json makes a silent drop
    // impossible.
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          // stderr marker BEFORE the run: lets a log scan attribute
          // engine-level ERROR lines (e.g. a whole-stage-codegen
          // fallback) to the query that triggered them
          System.err.println(s"[verify] running $name")
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // drop per-query persist()ed frames so cached copies don't
          // accumulate across the 100+ query dump
          Timing.release(spark)
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Timing.release(spark)
          Some(name -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val fjson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), fjson)
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} quer(ies) FAILED: " +
          failures.map(_._1).mkString(", "))
    }
    spark.stop()
  }
}
