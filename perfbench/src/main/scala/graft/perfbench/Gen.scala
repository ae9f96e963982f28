package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Seeded synthetic tables with the fixture tables' schemas and value
  * domains (the shapes `graft.tools.GenData` documents: dyadic embedding
  * values, word-salad documents over the OLAP vocabulary, µs NTZ
  * timestamps). Every column is a pure function of (seed, row id), so the
  * same seed gives the same tables; the row counts depend on `sf` only, so
  * every seed does the same amount of work. */
final class Gen(spark: SparkSession, seed: Long, sf: Double) {
  private def h(tag: String, cs: Column*): Column =
    xxhash64((lit(s"$seed/$tag") +: cs): _*)
  private def u(tag: String, id: Column): Column =
    pmod(h(tag, id), lit(1000000L)).cast("double") / 1e6
  private def mod(tag: String, id: Column, n: Long): Column =
    pmod(h(tag, id), lit(n))
  private def pick(tag: String, id: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (mod(tag, id, values.size.toLong) + 1).cast("int"))
  private def ntz(epochUs: Column): Column =
    timestamp_micros(epochUs).cast(TimestampNTZType)

  private def n(base: Long): Long = math.max(1L, (base * sf).toLong)
  private def ids(rows: Long): DataFrame = spark.range(rows).toDF("id")
  private val id = col("id")

  /** Documents with ids in [from, until). */
  def documents(from: Long, until: Long): DataFrame = {
    import Gen.vocab
    val words = transform(
      sequence(lit(0), (mod("dlen", id, 60L) + 10).cast("int")),
      j => element_at(array(vocab.map(lit): _*),
        (pmod(h("dw", id, j), lit(vocab.size.toLong)) + 1).cast("int")))
    spark.range(from, until).toDF("id").select(
      id.as("doc_id"),
      concat_ws(" ", words).as("text"),
      pick("dlang", mod("dl2", id, 100L),
        Seq.fill(44)("en") ++ Seq.fill(15)("zh") ++ Seq.fill(15)("es") ++
          Seq.fill(14)("de") ++ Seq.fill(12)("fr")).as("lang"),
      concat(lit("src"), mod("dsrc", id, 20L).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim label-clustered embeddings with ids in [from, until); every
    * value is an exact k/64. */
  def embeddings(from: Long, until: Long): DataFrame = {
    val emb = transform(sequence(lit(0), lit(63)), j =>
      ((pmod(h("ex", id, j), lit(64L)) - 32) +
        (pmod(h("ec", id % 10, j), lit(16L)) - 8)).cast("double") / 64.0)
    spark.range(from, until).toDF("id").select(
      id.as("vec_id"), transform(emb, _.cast("float")).as("embedding"),
      (id % 10).cast("int").as("label"))
  }

  /** The named fixture tables at scale `sf`. */
  def tables(names: Set[String]): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val nations = 25L
    val region = Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
    val nation = (0 until nations.toInt).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val nCust = n(150000); val nPart = n(200000); val nSupp = n(10000)
    val nOrd = n(1500000); val nDocs = n(50000); val nEvents = n(1000000)
    val customer = ids(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      mod("cnat", id, nations).cast("int").as("c_nationkey"),
      round(u("cbal", id) * 11000 - 1000, 2).as("c_acctbal"),
      pick("cseg", id, Seq("BUILDING", "MACHINERY", "FURNITURE",
        "HOUSEHOLD", "AUTOMOBILE")).as("c_mktsegment"))
    val supplier = ids(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      mod("snat", id, nations).cast("int").as("s_nationkey"),
      round(u("sbal", id) * 11000 - 1000, 2).as("s_acctbal"))
    val part = ids(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        pick("padj", id, Seq("small", "large", "red", "blue", "green",
          "shiny", "old", "new")),
        pick("pnoun", id, Seq("ring", "widget", "bolt", "gear", "valve",
          "wheel", "pin", "cog"))).as("p_name"),
      concat(lit("Brand#"), (mod("pbr", id, 25L) + 1).cast("string"))
        .as("p_brand"),
      pick("ptyp", id, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (mod("psz", id, 50L) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u("prp", id) * 100, 1).as("p_retailprice"))
    val day = 86400000000L
    val epoch1995 = 788918400000000L
    val orders = ids(nOrd).select(id.as("o_orderkey"),
      mod("ocust", id, nCust).as("o_custkey"),
      pick("ost", id, Seq("P", "O", "F")).as("o_orderstatus"),
      round(u("otp", id) * 250000 + 1000, 2).as("o_totalprice"),
      ntz(lit(epoch1995) + mod("odt", id, 2400L) * day).as("o_orderdate"),
      pick("opr", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = ids(n(6000000)).select(
      mod("lok", id, nOrd).as("l_orderkey"),
      mod("lpk", id, nPart).as("l_partkey"),
      mod("lsk", id, nSupp).as("l_suppkey"),
      (mod("lln", id, 7L) + 1).cast("int").as("l_linenumber"),
      (mod("lq", id, 50L) + 1).cast("double").as("l_quantity"),
      round(u("lep", id) * 100000 + 900, 2).as("l_extendedprice"),
      (mod("ld", id, 11L).cast("double") / 100).as("l_discount"),
      (mod("lt", id, 9L).cast("double") / 100).as("l_tax"),
      pick("lrf", id, Seq("A", "N", "R")).as("l_returnflag"),
      pick("lls", id, Seq("O", "F")).as("l_linestatus"),
      ntz(lit(epoch1995) + (mod("lsd", id, 2500L) + 1) * day)
        .as("l_shipdate"))
    val nUsers = math.max(10L, nCust / 10)
    val epoch2024 = 1704067200000000L
    val span = 30L * day
    val events = ids(nEvents).select(id.as("event_id"),
      ntz(lit(epoch2024) + id * (span / nEvents) +
        mod("ejit", id, span / nEvents)).as("ts"),
      mod("eu", id, nUsers).as("user_id"),
      pick("eet", id, Seq("click", "view", "purchase", "signup", "error"))
        .as("event_type"),
      round(u("ev", id) * 490 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", mod("ek", id, 100L)).as("props"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents(0, nDocs), "embeddings" -> embeddings(0, nDocs))
      .filter { case (n, _) => names(n) }
  }

  /** Write each table as `<dir>/<name>.parquet`, one file per table. */
  def write(dir: String, tables: Seq[(String, DataFrame)]): Unit =
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}

object Gen {
  /** The documents' word-salad vocabulary. */
  val vocab: Seq[String] = Seq("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "sort", "join",
    "group", "filter", "index", "shard", "query", "plan", "cost", "disk",
    "page", "cache", "stats", "tuple", "block", "write", "read", "window", "a")
}
