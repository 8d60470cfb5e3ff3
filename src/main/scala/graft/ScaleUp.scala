package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale-ladder fixture generator: replicate an existing SF directory
  * `factor`× into a new directory, preserving the DATA'S STRUCTURE so
  * per-query work grows linearly with the copy count:
  *
  *  - every fact table's keys are shifted per copy (orderkey, custkey,
  *    doc_id, vec_id, event_id, user_id …) so referential joins stay
  *    consistent within a copy and never collide across copies;
  *  - document TEXT is re-tokenized per copy (each word gets a copy
  *    suffix) so the shingle/minhash/simhash duplicate structure of one
  *    copy repeats per copy instead of every doc gaining `factor−1` new
  *    near-duplicates (which would grow candidate pairs quadratically
  *    and measure the data, not the engine);
  *  - embeddings are rotated per copy (a cyclic dim shift — an isometry,
  *    so within-copy KNN/clustering topology is preserved while
  *    cross-copy vectors decorrelate);
  *  - tiny dims (region, nation) stay fixed, as TPC-H does.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> <factor>
  * (e.g. /root/testdata/sf0.1 target/testdata/sf1 10)
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val (src, out, factor) = (args(0), args(1), args(2).toInt)
    val spark = Session.create(Session.cpus, 32)

    def copies(df: DataFrame): DataFrame =
      df.crossJoin(
        spark.range(factor.toLong).select(col("id").as("_copy")))

    /** max+1 of a key column — the per-copy shift stride. */
    def stride(df: DataFrame, k: String): Long =
      df.agg(max(col(k))).collect()(0).getLong(0) + 1L

    def shifted(k: String, s: Long) = col(k) + col("_copy") * s

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val ev = spark.read.parquet(s"$src/events.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val supp = spark.read.parquet(s"$src/supplier.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")

    val dS = stride(docs, "doc_id")
    val eS = stride(ev, "event_id"); val uS = stride(ev, "user_id")
    val oS = stride(ord, "o_orderkey"); val cS = stride(cust, "c_custkey")
    val sS = stride(supp, "s_suppkey"); val pS = stride(part, "p_partkey")

    def write(df: DataFrame, name: String): Unit = {
      // 32 files per table: the crossJoin-with-range build otherwise
      // inherits the single-file source's ONE partition, and a 1-file/
      // 1-row-group parquet table cannot be split — every scan in the
      // sf1 sweep would run as one task regardless of cores (measured:
      // cdc_chunks pinned a single core for 15+ min). Multi-file
      // layout is also the realistic shape: production tables are
      // written by many tasks.
      df.drop("_copy").repartition(32).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name written")
    }

    // documents: per-copy word suffix keeps dup structure per-copy
    write(copies(docs).select(
      shifted("doc_id", dS).as("doc_id"),
      when(col("_copy") === 0, col("text")).otherwise(
        concat(regexp_replace(col("text"), lit(" "),
          concat(lit("_c"), col("_copy"), lit(" "))),
          lit("_c"), col("_copy"))).as("text"),
      col("lang"), col("source"), col("n_chars"), col("_copy")),
      "documents")

    // embeddings: cyclic dim rotation by copy index (isometry per copy)
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    write(copies(emb).select(
      shifted("vec_id", dS).as("vec_id"),
      when(col("_copy") === 0, col("embedding")).otherwise(
        concat(
          slice(col("embedding"), (col("_copy") % dim) + 1,
            lit(dim) - (col("_copy") % dim)),
          slice(col("embedding"), lit(1), col("_copy") % dim)))
        .as("embedding"),
      col("label"), col("_copy")), "embeddings")

    write(copies(ev).select(
      shifted("event_id", eS).as("event_id"), col("ts"),
      shifted("user_id", uS).as("user_id"),
      col("event_type"), col("value"), col("props"), col("_copy")),
      "events")

    write(copies(ord).select(
      shifted("o_orderkey", oS).as("o_orderkey"),
      shifted("o_custkey", cS).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"), col("_copy")), "orders")

    write(copies(li).select(
      shifted("l_orderkey", oS).as("l_orderkey"),
      shifted("l_partkey", pS).as("l_partkey"),
      shifted("l_suppkey", sS).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate"), col("_copy")), "lineitem")

    write(copies(cust).select(
      shifted("c_custkey", cS).as("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"),
      col("_copy")), "customer")

    write(copies(supp).select(
      (shifted("s_suppkey", sS).as("s_suppkey") +:
        supp.columns.filter(_ != "s_suppkey").map(col).toSeq): _*),
      "supplier")

    write(copies(part).select(
      (shifted("p_partkey", pS).as("p_partkey") +:
        part.columns.filter(_ != "p_partkey").map(col).toSeq): _*),
      "part")

    // fixed dims copy through unchanged
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t written")
    }
    spark.stop()
  }
}
