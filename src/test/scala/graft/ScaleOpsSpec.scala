package graft

import org.apache.spark.sql.functions._

import graft.operators.ScaleOps

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("contentHash: stable for unchanged files, changes when a table " +
      "is regenerated in place, differs across dirs") {
    val h1 = ScaleOps.contentHash(Sf0001, "documents")
    // 10 digest bytes: a 4-byte name risks a silent collision
    assert(h1.matches("[0-9a-f]{20}"), h1)
    assert(ScaleOps.dirHash(Sf0001).matches("[0-9a-f]{20}"))
    assert(h1 == ScaleOps.contentHash(Sf0001, "documents"))
    assert(h1 != ScaleOps.contentHash(Sf0001, "embeddings"))
    // simulate an in-place fixture regeneration: same path, new bytes
    val d = java.nio.file.Files.createTempDirectory("graft_chash_")
    val f = d.resolve("documents.parquet")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
    val a = ScaleOps.contentHash(d.toString, "documents")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3, 4))
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 5000))
    val b = ScaleOps.contentHash(d.toString, "documents")
    assert(a != b,
      "regenerating a table in place must change the fingerprint")
    graft.sources.ParquetStore.deleteRecursively(d)
  }

  test("bucketed fact-fact join plans with NO shuffle exchange") {
    val orders = Tables.orders(spark, Sf0001)
      .select("o_orderkey", "o_totalprice")
    val lineitem = Tables.lineitem(spark, Sf0001)
      .select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    ScaleOps.writeBucketed(orders, "b_orders", "o_orderkey", 8)
    ScaleOps.writeBucketed(lineitem, "b_lineitem", "o_orderkey", 8)
    val joined = ScaleOps.bucketedJoin(spark, "b_orders", "b_lineitem",
      "o_orderkey")
    assert(!ScaleOps.hasShuffleExchange(joined),
      "bucketed join must not shuffle:\n" +
        joined.queryExecution.executedPlan.toString)
    // and it is still correct
    val expected = orders.join(lineitem, Seq("o_orderkey")).count()
    assert(joined.count() == expected)
  }

  test("bucketed_revenue: whole join+agg plan has NO shuffle exchange " +
      "and matches the plain-join computation") {
    val df = ScaleOps.bucketedRevenue(spark, Sf0001, 10)
    assert(!ScaleOps.hasShuffleExchange(df),
      "bucketed revenue must not shuffle:\n" +
        df.queryExecution.executedPlan.toString)
    val got = df.collect().map(r =>
      (r.getAs[Long]("o_orderkey"), r.getAs[Double]("revenue"))).toSeq
    val expected = Tables.orders(spark, Sf0001)
      .join(Tables.lineitem(spark, Sf0001),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum((col("l_extendedprice")
          * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)")), 2)
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
      .collect().map(r =>
        (r.getAs[Long]("o_orderkey"), r.getAs[Double]("revenue"))).toSeq
    assert(got == expected)
  }

  test("unbucketed version of the same join DOES shuffle (control)") {
    val orders = Tables.orders(spark, Sf0001)
      .select("o_orderkey", "o_totalprice")
    val lineitem = Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    // disable auto-broadcast so the control path is a genuine SMJ
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = orders.join(lineitem, Seq("o_orderkey"))
      assert(ScaleOps.hasShuffleExchange(joined))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partition-by-collection layout prunes directories at plan time") {
    val dir = java.nio.file.Files.createTempDirectory("part").toString + "/docs"
    ScaleOps.writePartitioned(
      Tables.documents(spark, Sf0001), dir, "lang")
    val all = spark.read.parquet(dir)
    val pruned = all.filter(col("lang") === "fr")
    // the fr query must read strictly fewer files than the full scan
    val allFiles = ScaleOps.filesRead(all.select("doc_id"))
    val prunedFiles = ScaleOps.filesRead(pruned.select("doc_id"))
    assert(prunedFiles > 0 && prunedFiles < allFiles,
      s"pruned=$prunedFiles all=$allFiles")
    // and correctness is unchanged
    assert(pruned.count() ==
      Tables.documents(spark, Sf0001).filter(col("lang") === "fr").count())
  }

  test("salted aggregation equals the direct aggregation") {
    val direct = Tables.lineitem(spark, Sf0001)
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).as("total"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    val salted = ScaleOps.saltedCountSum(
      Tables.lineitem(spark, Sf0001), "l_suppkey", "l_quantity", 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (n, s)) =>
      assert(n == direct(k)._1)
      assert(math.abs(s - direct(k)._2) < 1e-6)
    }
  }

  test("zorderKey interleaves bits (known values) and stays within 2*bits bits") {
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L),
      (65535L, 65535L)).toDF("x", "y")
    val out = df.select(ScaleOps.zorderKey(col("x"), col("y"), 16))
      .collect().map(_.getLong(0))
    // x bits land even, y bits odd: z(1,0)=1, z(0,1)=2, z(1,1)=3,
    // z(3,5)= x:011 y:101 -> 100111 = 39
    assert(out.toSeq == Seq(0L, 1L, 2L, 3L, 39L, (1L << 32) - 1))
  }

  test("writeZOrdered yields disjoint per-file key ranges (file-pruning shape)") {
    val dir = java.nio.file.Files.createTempDirectory("zord").toString
    val keyed = ScaleOps.zorderEventKeys(spark, Sf0001, Int.MaxValue)
    ScaleOps.writeZOrdered(keyed, dir, "zkey", 8)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 1)
    val ranges = files.map { f =>
      val mm = spark.read.parquet(f)
        .agg(min(col("zkey")), max(col("zkey"))).head()
      (mm.getLong(0), mm.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2,
        s"overlapping file ranges: $hi > $lo2")
      case _ =>
    }
  }

  test("attach: a fresh session registers an existing persisted table " +
      "instead of rebuilding — rows identical, bucket pruning intact, " +
      "and no marker / stale-layout marker refuses") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = "graft_attspec_src"
    val dup = "graft_attspec_dup"
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $dup")
    val df = (1L to 5000L).map(i => (i, s"v$i")).toDF("doc_id", "v")
    ScaleOps.writeBucketed(df, src, "doc_id", 8)
    // simulate a fresh JVM's view: the FILES exist (copy the committed
    // location, marker included) but the catalog has no entry
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val (s, d) = (Paths.get(wh, src), Paths.get(wh, dup))
    graft.sources.ParquetStore.deleteRecursively(d)
    Files.walk(s).forEach { p =>
      Files.copy(p, d.resolve(s.relativize(p).toString),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def spec(t: String) = ScaleOps.AttachSpec(t, "doc_id", 8)
    assert(ScaleOps.attachAll(spark, Seq(spec(dup))))
    val a = spark.table(dup).orderBy("doc_id").collect()
    val b = spark.table(src).orderBy("doc_id").collect()
    assert(a.nonEmpty && (a sameElements b))
    // the registered bucket spec is live: an equality probe on the
    // bucket key statically prunes to 1 of 8 buckets
    val plan = spark.table(dup).filter(col("doc_id") === 4242L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount: 1 out of 8"), plan)
    // no marker (interrupted build / partially-deleted location) or a
    // marker from an older builder version => NOT attachable
    val dup2 = "graft_attspec_dup2"
    spark.sql(s"DROP TABLE IF EXISTS $dup2")
    val d2 = Paths.get(wh, dup2)
    graft.sources.ParquetStore.deleteRecursively(d2)
    Files.walk(d).forEach { p =>
      Files.copy(p, d2.resolve(d.relativize(p).toString),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Files.delete(d2.resolve("_GRAFT_ATTACH"))
    assert(!ScaleOps.attachAll(spark, Seq(spec(dup2))))
    Files.write(d2.resolve("_GRAFT_ATTACH"),
      "someFutureLayout".getBytes("UTF-8"))
    assert(!ScaleOps.attachAll(spark, Seq(spec(dup2))))
    // attach group is all-or-nothing: one missing member fails the group
    assert(!ScaleOps.attachAll(spark,
      Seq(spec(dup), spec("graft_attspec_absent"))))
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $dup") // external: files survive
    graft.sources.ParquetStore.deleteRecursively(d)
    graft.sources.ParquetStore.deleteRecursively(d2)
  }

  // --- the ensure lifecycle, once per layout ---------------------------

  private val layouts: Seq[(String, String => ScaleOps.AttachSpec)] = Seq(
    "bucketed" -> (t => ScaleOps.AttachSpec(t, "doc_id", 4)),
    "partitioned" -> (t => ScaleOps.AttachSpec(t, partitionCols = Seq("part"))),
    "plain" -> (t => ScaleOps.AttachSpec(t)))

  private def generation(tag: String) =
    (1L to 100L).map(i => (i, tag, i % 3)).toDF("doc_id", "v", "part")

  private def location(t: String): java.nio.file.Path =
    java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)

  private def lockOf(t: String): java.nio.file.Path =
    location(t).getParent.resolve(s".graft_build_$t.lock")

  private def reset(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    graft.sources.ParquetStore.deleteRecursively(location(t))
    java.nio.file.Files.deleteIfExists(lockOf(t))
  }

  /** Installs `src`'s committed files (marker included) as `dst`'s
    * location, with no catalog entry for `dst`: what a fresh session
    * sees of a generation another session built. */
  private def installCopy(src: String, dst: String): Unit =
    installCopyTo(location(src), location(dst))

  private def installCopyTo(s: java.nio.file.Path,
      d: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    Files.walk(s).forEach { p =>
      val q = d.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** (distinct `v` tags, row count) of a table. */
  private def contents(t: String): (Set[String], Long) = {
    val df = spark.table(t)
    (df.select("v").distinct().as[String].collect().toSet, df.count())
  }

  test("build lock: a dead builder's lock is broken and the build " +
      "proceeds; a live builder's lock makes the waiter ATTACH the " +
      "committed generation instead of rewriting it") {
    import java.nio.file.Files
    layouts.foreach { case (layout, spec) =>
      val (t, src) = (s"graft_lock_$layout", s"graft_lock_${layout}_src")
      reset(t); reset(src)
      ScaleOps.ensure(spark, spec(src))(Seq(generation("gen1")))
      // (a) stale lock from a crashed builder (dead PID): broken, build
      // runs, lock released afterwards
      Files.createDirectories(lockOf(t).getParent)
      Files.write(lockOf(t), "999999999".getBytes("UTF-8"))
      assert(ScaleOps.ensure(spark, spec(t))(Seq(generation("dead"))) == t)
      assert(!Files.exists(lockOf(t)), s"$layout: lock not released")
      assert(contents(t) == ((Set("dead"), 100L)), layout)
      // (b) live builder (this JVM's PID) holds the lock and commits
      // gen1 when it releases 2 s later. The waiter must serve gen1 —
      // NOT clobber it with its own gen2 frame, and not rebuild.
      reset(t)
      Files.write(lockOf(t),
        ProcessHandle.current.pid.toString.getBytes("UTF-8"))
      val releaser = new Thread(() => {
        Thread.sleep(2000); installCopy(src, t)
        Files.deleteIfExists(lockOf(t)); ()
      })
      val builds = ScaleOps.BuildTimer.count
      val t0 = System.nanoTime()
      releaser.start()
      ScaleOps.ensure(spark, spec(t))(Seq(generation("gen2")))
      releaser.join()
      assert((System.nanoTime() - t0) / 1e9 > 1.5, s"$layout: did not wait")
      assert(ScaleOps.BuildTimer.count == builds, s"$layout: rebuilt")
      assert(contents(t) == ((Set("gen1"), 100L)),
        s"$layout: waiter clobbered the committed generation")
      reset(t); reset(src)
    }
  }

  test("ensure: a killed build (_SUCCESS, no marker) and a foreign " +
      "marker are refused and rebuilt") {
    import java.nio.file.Files
    layouts.foreach { case (layout, spec) =>
      val (t, src) = (s"graft_kill_$layout", s"graft_kill_${layout}_src")
      reset(t); reset(src)
      ScaleOps.ensure(spark, spec(src))(Seq(generation("gen1")))
      val marker = Files.readAllBytes(location(src).resolve("_GRAFT_ATTACH"))
      installCopy(src, t)
      Files.delete(location(t).resolve("_GRAFT_ATTACH"))
      assert(Files.exists(location(t).resolve("_SUCCESS")))
      ScaleOps.ensure(spark, spec(t))(Seq(generation("killed")))
      assert(contents(t) == ((Set("killed"), 100L)), layout)
      assert(Files.readAllBytes(location(t).resolve("_GRAFT_ATTACH"))
        sameElements marker, s"$layout: rebuild left no marker")
      reset(t)
      installCopy(src, t)
      Files.write(location(t).resolve("_GRAFT_ATTACH"),
        "someFutureLayout".getBytes("UTF-8"))
      ScaleOps.ensure(spark, spec(t))(Seq(generation("foreign")))
      assert(contents(t) == ((Set("foreign"), 100L)), layout)
      reset(t); reset(src)
    }
  }

  test("ensure: a group whose guard is missing rebuilds every table, " +
      "in spec order, as one counted build") {
    import java.nio.file.Files
    val (companion, guard) = ("graft_group_part", "graft_group_guard")
    val specs = Seq(layouts(1)._2(companion), layouts(2)._2(guard))
    reset(companion); reset(guard)
    ScaleOps.ensure(spark, specs: _*)(
      Seq(generation("gen1"), generation("gen1")))
    // the guard is gone (the companion is still registered and marked)
    spark.sql(s"DROP TABLE $guard")
    assert(!Files.exists(location(guard)))
    // the guard's rows survive its write only if the companion was
    // already committed and marked when the guard's frame ran
    val companionMarker = location(companion).resolve("_GRAFT_ATTACH")
    val companionDone = udf(() => Files.exists(companionMarker))
      .asNondeterministic()
    val builds = ScaleOps.BuildTimer.count
    ScaleOps.ensure(spark, specs: _*)(Seq(generation("gen2"),
      generation("gen2").filter(companionDone())))
    assert(ScaleOps.BuildTimer.count == builds + 1)
    assert(contents(companion) == ((Set("gen2"), 100L)))
    assert(contents(guard) == ((Set("gen2"), 100L)),
      "the guard was written before its companion")
    reset(companion); reset(guard)
  }

  test("attach: a generation written in another layout is refused, and " +
      "ensure rebuilds it in the caller's layout") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val (src, t) = ("graft_layout_src", "graft_layout_dst")
    reset(src); reset(t)
    ScaleOps.ensure(spark, ScaleOps.AttachSpec(src, "doc_id", 8))(
      Seq(generation("gen8")))
    installCopy(src, t)
    val four = ScaleOps.AttachSpec(t, "doc_id", 4)
    assert(!ScaleOps.attachAll(spark, Seq(four)))
    assert(!spark.catalog.tableExists(t))
    val builds = ScaleOps.BuildTimer.count
    ScaleOps.ensure(spark, four)(Seq(generation("gen4")))
    assert(ScaleOps.BuildTimer.count == builds + 1)
    assert(contents(t) == ((Set("gen4"), 100L)))
    assert(spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
      .bucketSpec.map(_.numBuckets).contains(4))
    reset(src); reset(t)
  }

  test("ensure: a generation built over another family's table is " +
      "refused and rebuilt once that input is rebuilt under a new " +
      "version, whether it read the input as a table or as literals") {
    import java.nio.file.Files
    val (in, rel, lits) = ("graft_dep_in", "graft_dep_rel", "graft_dep_lit")
    Seq(in, rel, lits).foreach(reset)
    def ensureIn(version: Int, tag: String) =
      ScaleOps.ensure(spark, ScaleOps.Family("dep_in", version),
        ScaleOps.AttachSpec(in))(Seq(generation(tag)))
    def ensureDependents(version: Int): Unit = {
      ScaleOps.ensure(spark, ScaleOps.Family("dep_rel", 1),
        ScaleOps.AttachSpec(rel))(
        Seq(spark.table(ensureIn(version, "unused")).select("doc_id", "v")))
      ScaleOps.ensure(spark, ScaleOps.Family("dep_lit", 1),
        ScaleOps.AttachSpec(lits)) {
        val tag = spark.table(ensureIn(version, "unused"))
          .select("v").head().getString(0)
        Seq(generation(tag))
      }
    }
    // a fresh session's view: every table's files, no catalog entry
    def forget(): Unit = Seq(in, rel, lits).foreach { t =>
      val keep = Files.createTempDirectory("graft-dep")
      installCopyTo(location(t), keep)
      reset(t)
      installCopyTo(keep, location(t))
      graft.sources.ParquetStore.deleteRecursively(keep)
    }
    ensureIn(1, "gen1")
    ensureDependents(1)
    assert(contents(rel)._1 == Set("gen1") && contents(lits)._1 == Set("gen1"))
    // unchanged input: everything attaches
    forget()
    val builds = ScaleOps.BuildTimer.count
    ensureIn(1, "unused")
    ensureDependents(1)
    assert(ScaleOps.BuildTimer.count == builds)
    assert(contents(rel)._1 == Set("gen1") && contents(lits)._1 == Set("gen1"))
    // the input's builder changed and its version was bumped; the
    // dependents' versions were not
    forget()
    ensureIn(2, "gen2")
    assert(ScaleOps.BuildTimer.count == builds + 1)
    ensureDependents(2)
    assert(ScaleOps.BuildTimer.count == builds + 3,
      "a dependent attached over its rebuilt input")
    assert(contents(rel)._1 == Set("gen2") && contents(lits)._1 == Set("gen2"))
    Seq(in, rel, lits).foreach(reset)
  }

  test("attach: registering a built group starts no Spark job and " +
      "registers the building session's schema") {
    layouts.foreach { case (layout, spec) =>
      val (t, src) = (s"graft_cost_$layout", s"graft_cost_${layout}_src")
      reset(t); reset(src)
      ScaleOps.ensure(spark, spec(src))(Seq(generation("gen1")))
      installCopy(src, t)
      val (attached, jobs) = jobsFired(ScaleOps.attachAll(spark, Seq(spec(t))))
      assert(attached && jobs == 0, s"$layout: $jobs jobs")
      // the written types: inference would read the long `part`
      // partition values back as ints
      assert(spark.table(t).schema == spark.table(src).schema, layout)
      assert(contents(t) == ((Set("gen1"), 100L)), layout)
      reset(t); reset(src)
    }
  }
}
