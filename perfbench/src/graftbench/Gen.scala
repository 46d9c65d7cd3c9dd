package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generators for every input the benchmark feeds the engine.
  *
  * Tables follow the star schema + extension tables the engine's queries
  * read (`graft.Tables`): same names, columns and types, with value
  * distributions shaped like the reference fixtures (uniform keys, a
  * 30-word vocabulary plus one rare term, 64-dim near-isotropic
  * embeddings). Every value is a pure function of (seed, row id), built
  * from `xxhash64` expressions, so a seed gives the same rows at any
  * partitioning and on any machine.
  */
object Gen {
  /** Rows per table at scale 1 (sf1), as in the reference fixtures
    * (sf0.1: 150 k orders, ~600 k lineitem rows); a scale factor
    * multiplies them.
    */
  private val Base: Map[String, Long] = Map(
    "customer" -> 150000L, "supplier" -> 10000L, "part" -> 200000L,
    "orders" -> 1500000L, "events" -> 1000000L, "documents" -> 50000L,
    "embeddings" -> 20000L)

  /** Fixed partition count for generated frames: the layout (and so every
    * order-sensitive detail of a downstream plan) does not depend on the
    * host's core count.
    */
  val Parts = 4

  val StarTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val AllTables: Seq[String] = StarTables ++ Seq("events", "documents", "embeddings")

  val Vocab: Seq[String] = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  def rows(table: String, sf: Double): Long =
    math.max(1L, math.round(Base(table) * sf))

  /** Uniform long in [0, n) from (seed, salt, parts...). */
  def hmod(seed: Long, salt: String, n: Long, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: parts): _*), lit(n))

  /** Uniform double in [0, 1). */
  def unif(seed: Long, salt: String, parts: Column*): Column =
    hmod(seed, salt, 1L << 30, parts: _*).cast("double") / (1L << 30).toDouble

  private def day(base: String, offset: Column): Column =
    date_add(lit(base).cast("date"), offset.cast("int")).cast(TimestampNTZType)

  private def range(spark: SparkSession, n: Long): DataFrame =
    spark.range(0L, n, 1L, Parts).toDF("id")

  def table(spark: SparkSession, name: String, seed: Long, sf: Double): DataFrame = {
    val id = col("id")
    val (nCust, nSupp, nPart, nOrd) =
      (rows("customer", sf), rows("supplier", sf), rows("part", sf), rows("orders", sf))
    name match {
      case "region" =>
        val names = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        range(spark, 5).select(id.cast("int").as("r_regionkey"),
          element_at(typedLit(names), (id + 1).cast("int")).as("r_name"))
      case "nation" =>
        range(spark, 25).select(id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id.cast("string")).as("n_name"),
          pmod(id, lit(5)).cast("int").as("n_regionkey"))
      case "customer" =>
        val segs = Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
        range(spark, nCust).select(id.as("c_custkey"),
          format_string("Customer#%09d", id).as("c_name"),
          hmod(seed, "c_nat", 25, id).cast("int").as("c_nationkey"),
          round(unif(seed, "c_bal", id) * 10000 - 1000, 2).as("c_acctbal"),
          element_at(typedLit(segs), (hmod(seed, "c_seg", 5, id) + 1).cast("int"))
            .as("c_mktsegment"))
      case "supplier" =>
        range(spark, nSupp).select(id.as("s_suppkey"),
          format_string("Supplier#%09d", id).as("s_name"),
          hmod(seed, "s_nat", 25, id).cast("int").as("s_nationkey"),
          round(unif(seed, "s_bal", id) * 10000, 2).as("s_acctbal"))
      case "part" =>
        val adj = Seq("small", "red", "large", "blue", "shiny", "green")
        val noun = Seq("ring", "widget", "bolt", "gear", "valve", "panel")
        val types = Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
        range(spark, nPart).select(id.as("p_partkey"),
          concat_ws(" ",
            element_at(typedLit(adj), (hmod(seed, "p_adj", 6, id) + 1).cast("int")),
            element_at(typedLit(noun), (hmod(seed, "p_noun", 6, id) + 1).cast("int")))
            .as("p_name"),
          concat(lit("Brand#"), (hmod(seed, "p_brand", 25, id) + 1).cast("string"))
            .as("p_brand"),
          element_at(typedLit(types), (hmod(seed, "p_type", 6, id) + 1).cast("int"))
            .as("p_type"),
          (hmod(seed, "p_size", 50, id) + 1).cast("int").as("p_size"),
          round(lit(900.0) + pmod(id, lit(1000)) / 10.0, 2).as("p_retailprice"))
      case "orders" =>
        val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        range(spark, nOrd).select(id.as("o_orderkey"),
          hmod(seed, "o_cust", nCust, id).as("o_custkey"),
          element_at(typedLit(Seq("F", "O", "P")),
            (hmod(seed, "o_stat", 3, id) + 1).cast("int")).as("o_orderstatus"),
          round(unif(seed, "o_price", id) * 500000 + 1000, 2).as("o_totalprice"),
          orderDate(seed, id).as("o_orderdate"),
          element_at(typedLit(prio), (hmod(seed, "o_prio", 5, id) + 1).cast("int"))
            .as("o_orderpriority"))
      case "lineitem" =>
        range(spark, nOrd)
          .select(id.as("l_orderkey"),
            explode(sequence(lit(1), (hmod(seed, "l_n", 7, id) + 1).cast("int")))
              .as("l_linenumber"))
          .select(lineitemCols(seed, col("l_orderkey"), col("l_linenumber"),
            nPart, nSupp): _*)
      case "events" =>
        val n = rows("events", sf)
        val types = Seq("click", "signup", "error", "view", "purchase")
        val span = 30L * 86400L * 1000000L // 30 days in micros
        range(spark, n).select(id.as("event_id"),
          timestamp_micros(lit(1704067200000000L) + (id * (span / n)) +
            hmod(seed, "e_jit", span / n, id)).cast(TimestampNTZType).as("ts"),
          hmod(seed, "e_user", math.max(1L, n / 66), id).as("user_id"),
          element_at(typedLit(types), (hmod(seed, "e_type", 5, id) + 1).cast("int"))
            .as("event_type"),
          round(unif(seed, "e_val", id) * unif(seed, "e_val2", id) * 560, 2).as("value"),
          concat(lit("{\"k\": "), hmod(seed, "e_k", 100, id).cast("string"), lit("}"))
            .as("props"))
      case "documents" =>
        documents(spark, seed, rows("documents", sf))
      case "embeddings" =>
        val n = rows("embeddings", sf)
        // sum of four uniforms: a bell shape with std 0.125 per component
        val comp = (i: Column) =>
          ((unif(seed, "v1", id, i) + unif(seed, "v2", id, i) +
            unif(seed, "v3", id, i) + unif(seed, "v4", id, i) - 2.0) * 0.2165)
            .cast("float")
        range(spark, n).select(id.as("vec_id"),
          transform(sequence(lit(1), lit(64)), comp).as("embedding"),
          hmod(seed, "v_label", 10, id).cast("int").as("label"))
    }
  }

  def orderDate(seed: Long, orderKey: Column): Column =
    day("1995-01-01", hmod(seed, "o_date", 2404, orderKey))

  /** A lineitem row as a pure function of (order key, line number). */
  def lineitemCols(seed: Long, ok: Column, ln: Column, nPart: Long,
                   nSupp: Long): Seq[Column] = {
    val qty = (hmod(seed, "l_qty", 50, ok, ln) + 1).cast("double")
    val pk = hmod(seed, "l_part", nPart, ok, ln)
    Seq(ok.as("l_orderkey"), pk.as("l_partkey"),
      hmod(seed, "l_supp", nSupp, ok, ln).as("l_suppkey"),
      ln.cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + pmod(pk, lit(1000)) / 10.0), 2).as("l_extendedprice"),
      (hmod(seed, "l_disc", 11, ok, ln) / 100.0).as("l_discount"),
      (hmod(seed, "l_tax", 9, ok, ln) / 100.0).as("l_tax"),
      element_at(typedLit(Seq("A", "N", "R")),
        (hmod(seed, "l_rf", 3, ok, ln) + 1).cast("int")).as("l_returnflag"),
      element_at(typedLit(Seq("F", "O")),
        (hmod(seed, "l_ls", 2, ok, ln) + 1).cast("int")).as("l_linestatus"),
      date_add(orderDate(seed, ok).cast("date"),
        (hmod(seed, "l_ship", 95, ok, ln) + 1).cast("int"))
        .cast(TimestampNTZType).as("l_shipdate"))
  }

  /** Words of document `id`: 10-100 tokens from [[Vocab]]. About 2% of
    * documents are near-copies of an earlier one (5% of positions
    * re-drawn) and 0.2% exact copies, so the dedup operators have pairs to
    * find; about 5% start with the rare term `dup`.
    */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val vocab = typedLit(Vocab)
    def len(d: Column) = (hmod(seed, "d_len", 91, d) + 10).cast("int")
    def word(d: Column, i: Column, salt: String) =
      element_at(vocab, (hmod(seed, salt, Vocab.size.toLong, d, i) + 1).cast("int"))
    val kind = hmod(seed, "d_kind", 1000, id)
    // source doc of a copy: an earlier id (the first doc is always original)
    val src = when(id > 0 && kind < 22, pmod(hmod(seed, "d_src", 1L << 40, id), greatest(id, lit(1L))))
      .otherwise(id)
    val words = transform(sequence(lit(1), len(src)), i =>
      when(kind >= 2 && kind < 22 && id > 0 &&
          hmod(seed, "d_edit", 20, id, i) === 0, word(id, i, "d_w2"))
        .otherwise(word(src, i, "d_w")))
    val text = when(hmod(seed, "d_dup", 20, src) === 0,
      concat(lit("dup "), array_join(words, " "))).otherwise(array_join(words, " "))
    val langs = Seq("en", "en", "en", "en", "de", "es", "fr", "zh")
    range(spark, n).select(id.as("doc_id"), text.as("text"),
        element_at(typedLit(langs), (hmod(seed, "d_lang", 8, id) + 1).cast("int")).as("lang"),
        concat(lit("src"), hmod(seed, "d_srcname", 20, id).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Write every table of `tables` under `dir` as `<name>.parquet`. */
  def writeTables(spark: SparkSession, dir: String, seed: Long, sf: Double,
                  tables: Seq[String]): Unit =
    tables.foreach { t =>
      table(spark, t, seed, sf).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
}
