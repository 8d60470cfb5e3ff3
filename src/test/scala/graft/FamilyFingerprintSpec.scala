package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.operators.ScaleOps

/** Generation identity check: every persisted family is built at sf0.01
  * (by constructing every registered query over a fresh copy of the
  * fixture, which builds each family with the parameters its queries
  * use), and each table's attach marker — (family tag, version, plan
  * digest) — is checked against the committed golden list
  * `src/test/resources/family_fingerprints.txt`, one line per table:
  * `<tag> <version> <table> <plan digest>`, the table named with the
  * fixture's content hashes as `{documents}`, `{embeddings}`, ....
  *
  * A plan that changes while its family's version stays the same fails
  * by family name: a fresh session would otherwise attach a generation
  * the old builder wrote. Bump the family's version beside its
  * `AttachSpec`s, then replace the golden list with the corrected lines
  * the failure prints. A new table or family fails the same way. */
class FamilyFingerprintSpec extends SparkSpec {

  private val goldenPath = Paths.get("src/test/resources/family_fingerprints.txt")

  private case class Line(tag: String, version: Int, table: String,
      plan: String) {
    override def toString = s"$tag $version $table $plan"
  }

  /** `Family("tag", n)` declarations in the main sources. */
  private def declaredFamilies: Map[String, Int] = {
    val decl = """Family\("(\w+)",\s*(\d+)\)""".r
    sourceTexts.flatMap(decl.findAllMatchIn(_))
      .map(m => m.group(1) -> m.group(2).toInt).toMap
  }

  private def sourceTexts: Seq[String] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => new String(Files.readAllBytes(p), "UTF-8")).toSeq
    finally files.close()
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val files = Files.walk(src)
    try files.iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    } finally files.close()
  }

  private def warehouse: Path =
    Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

  /** Builds every family over a fresh copy of sf0.01 — a new path and
    * new mtimes each run — and returns the marked tables, named with
    * the copy's hashes masked. */
  private lazy val built: Seq[(String, ScaleOps.Marker, String)] = {
    val dir = Files.createTempDirectory("graft-fingerprint-sf0.01")
    copyTree(Paths.get("/root/testdata/sf0.01"), dir)
    val d = dir.toString
    def building(name: String)(body: => Any): Unit =
      try body
      catch { case e: Exception => fail(s"$name failed to build: $e") }
      finally {
        operators.CacheScope.release(spark)
        spark.catalog.clearCache()
      }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      building(name)(fn(spark, d))
    }
    // the fts_lang queries take the index route only above sf0.01's size
    Seq("fr", "zh").foreach(lang => building(s"fts_lang $lang")(
      operators.Fts.ensureLangIndex(spark, d, lang)))
    val masks = (Tables.All.map(t => ScaleOps.contentHash(d, t) -> s"{$t}") :+
      (ScaleOps.dirHash(d) -> "{dir}")).toMap
    val listing = Files.list(warehouse)
    try listing.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      .flatMap { t =>
        masks.collectFirst { case (h, m) if t.contains(h) => t.replace(h, m) }
          .flatMap(masked => ScaleOps.Marker.read(spark, t)
            .filter(_.family != ScaleOps.Adhoc).map(m => (t, m, masked)))
      }
    finally listing.close()
  }

  test("every persisted family's plans match the golden fingerprints " +
      "under their declared versions") {
    val actual = built.map { case (_, m, masked) =>
      Line(m.family.tag, m.family.version, masked, m.plan)
    }.sortBy(_.table)
    val golden = (if (Files.exists(goldenPath))
      Files.readAllLines(goldenPath).asScala.toSeq else Nil)
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split(" ")).collect {
        case Array(tag, v, table, plan) => table -> Line(tag, v.toInt, table, plan)
      }.toMap
    val problems = actual.flatMap { a =>
      golden.get(a.table) match {
        case None => Some(s"family ${a.tag}: new table ${a.table}")
        case Some(g) if g.version == a.version && g.plan != a.plan =>
          Some(s"family ${a.tag}: the plan of ${a.table} changed under " +
            s"unchanged version ${a.version} — bump the family's version")
        case Some(g) if g != a =>
          Some(s"family ${a.tag}: ${a.table} is at version ${a.version}, " +
            s"the golden line at ${g.version}")
        case _ => None
      }
    } ++ (golden.keySet -- actual.map(_.table)).toSeq.sorted.map(t =>
      s"family ${golden(t).tag}: golden table $t was not built")
    assert(problems.isEmpty,
      problems.mkString("\n") + "\n\ncorrected golden lines:\n" +
        actual.mkString("", "\n", "\n"))
  }

  test("the golden list covers every family the sources declare, " +
      "and every ensure names its family") {
    val declared = declaredFamilies - ScaleOps.Adhoc.tag
    val builtTags = built.map(_._2.family).map(f => f.tag -> f.version).toMap
    val missing = declared.keySet -- builtTags.keySet
    assert(missing.isEmpty,
      s"declared families the spec does not build: ${missing.toSeq.sorted}")
    val undeclared = builtTags.keySet -- declared.keySet
    assert(undeclared.isEmpty, s"families built without a declaration: " +
      undeclared.toSeq.sorted)
    val versions = declared.filter { case (t, v) => builtTags(t) != v }
    assert(versions.isEmpty, s"markers behind their declarations: $versions")
    // the ad-hoc ensure (no family) is for specs and forced rewrites
    val adhoc = """\bensure\(\s*spark\s*,\s*(ScaleOps\.)?AttachSpec""".r
    val unnamed = sourceTexts.flatMap(adhoc.findAllIn(_))
    assert(unnamed.isEmpty, s"ensure calls without a family: $unnamed")
  }

  test("attachAll registers each family's table with the schema Spark " +
      "infers from its files") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val mismatched = built.flatMap { case (t, m, _) =>
      val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
      val spec = ScaleOps.AttachSpec(s"${t}_att",
        meta.bucketSpec.map(b => (b.bucketColumnNames.head, b.numBuckets)),
        meta.partitionColumnNames)
      val copy = warehouse.resolve(spec.table)
      copyTree(warehouse.resolve(t), copy)
      try {
        assert(ScaleOps.attachAll(spark, Seq(spec), m.family), t)
        val inferred = spark.read.parquet(copy.toString).schema
        Option.when(spark.table(spec.table).schema != inferred)(
          s"$t: ${spark.table(spec.table).schema.toDDL} vs ${inferred.toDDL}")
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS ${spec.table}")
        graft.sources.ParquetStore.deleteRecursively(copy)
      }
    }
    assert(mismatched.isEmpty, mismatched.mkString("\n"))
  }
}
