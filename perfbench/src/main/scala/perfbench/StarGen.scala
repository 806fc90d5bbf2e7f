package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the harness tables the engine's `Queries` read
  * (`{dir}/{name}.parquet`, the layout `graft.sources.Tables` loads): the
  * star schema, `events` and `documents`, at a chosen size. All take the
  * sf0.1 fixture's columns and types. `events` and `documents` also take
  * its measured shape (see each); the star tables' value domains are
  * TPC-H-like and were not measured against it.
  *
  * Every column is a pure function of (seed, row id) through `xxhash64`,
  * so the content does not depend on partitioning or scheduling.
  */
object StarGen {

  final case class Sizes(customers: Int, parts: Int, suppliers: Int, orders: Int,
                         lineitems: Int, events: Int, users: Int, documents: Int)

  /** The 30 words of the sf0.1 `documents` texts, each about equally
    * frequent there. */
  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private final class H(seed: Long) {
    /** Uniform double in [0, 1) keyed by (seed, salt, keys...). */
    def u(salt: String, keys: Column*): Column =
      pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(1L << 40))
        .cast("double") / (1L << 40).toDouble
    def int(salt: String, n: Int, keys: Column*): Column =
      floor(u(salt, keys: _*) * n).cast("long")
    def of(salt: String, xs: Seq[String], keys: Column*): Column =
      element_at(array(xs.map(lit): _*), (int(salt, xs.size, keys: _*) + 1).cast("int"))
  }

  /** Write the named `tables` under `dir`. */
  def write(spark: SparkSession, dir: String, seed: Long, sz: Sizes,
            tables: Set[String]): Unit = {
    val h = new H(seed)
    val id = col("id")
    def rows(n: Long): DataFrame = spark.range(0, n, 1, 1).toDF()
    def save(name: String, df: => DataFrame): Unit =
      if (tables(name)) df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def money(c: Column): Column = round(c, 2)
    def day(salt: String, from: String, days: Int, keys: Column*): Column =
      date_add(lit(from).cast("date"), h.int(salt, days, keys: _*).cast("int"))
        .cast("timestamp")

    save("region", rows(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")))
    save("nation", rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    save("customer", rows(sz.customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      h.int("c_nat", 25, id).cast("int").as("c_nationkey"),
      money(h.u("c_bal", id) * 10999.65 - 999.85).as("c_acctbal"),
      h.of("c_seg", Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"), id)
        .as("c_mktsegment")))
    save("supplier", rows(sz.suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      h.int("s_nat", 25, id).cast("int").as("s_nationkey"),
      money(h.u("s_bal", id) * 10999.65 - 999.85).as("s_acctbal")))
    save("part", rows(sz.parts).select(id.as("p_partkey"),
      concat_ws(" ", h.of("p_adj", Seq("blue", "old", "small", "new", "large", "hot", "cold", "red"), id),
        h.of("p_noun", Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"), id))
        .as("p_name"),
      concat(lit("Brand#"), (h.int("p_brand", 25, id) + 1).cast("string")).as("p_brand"),
      h.of("p_type", Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"), id).as("p_type"),
      (h.int("p_size", 50, id) + 1).cast("int").as("p_size"),
      money(lit(900.0) + (id % 1000) / 10.0).as("p_retailprice")))
    save("orders", rows(sz.orders).select(id.as("o_orderkey"),
      h.int("o_cust", sz.customers, id).as("o_custkey"),
      h.of("o_status", Seq("F", "O", "P"), id).as("o_orderstatus"),
      money(h.u("o_price", id) * 399000.0 + 1000.0).as("o_totalprice"),
      day("o_date", "1995-01-01", 2404, id).as("o_orderdate"),
      h.of("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority")))
    save("lineitem", rows(sz.lineitems).select(
      h.int("l_order", sz.orders, id).as("l_orderkey"),
      h.int("l_part", sz.parts, id).as("l_partkey"),
      h.int("l_supp", sz.suppliers, id).as("l_suppkey"),
      (h.int("l_line", 7, id) + 1).cast("int").as("l_linenumber"),
      (h.int("l_qty", 50, id) + 1).cast("double").as("l_quantity"),
      money(h.u("l_price", id) * 104099.0 + 900.68).as("l_extendedprice"),
      (h.int("l_disc", 11, id).cast("double") / 100.0).as("l_discount"),
      (h.int("l_tax", 9, id).cast("double") / 100.0).as("l_tax"),
      h.of("l_rflag", Seq("A", "N", "R"), id).as("l_returnflag"),
      h.of("l_lstatus", Seq("O", "F"), id).as("l_linestatus"),
      day("l_ship", "1995-01-02", 2498, id).as("l_shipdate")))
    // events, as measured in the sf0.1 fixture (100 000 events, 1 500
    // users): 30 days from 2024-01-01 in id order, users and event types
    // uniform, value exponential with mean 50 (median 34.8), `props` a
    // uniform key of 0-99
    val spanMicros = 30L * 24 * 3600 * 1000000L
    save("events", rows(sz.events).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + floor((id.cast("double") +
        h.u("e_jit", id)) * (spanMicros.toDouble / sz.events)).cast("long")).as("ts"),
      h.int("e_user", sz.users, id).as("user_id"),
      h.of("e_type", Seq("signup", "click", "error", "view", "purchase"), id).as("event_type"),
      money(-log1p(-h.u("e_val", id)) * 50.0).as("value"),
      format_string("{\"k\": %d}", h.int("e_k", 100, id)).as("props")))
    save("documents", documents(spark, h, sz.documents))
  }

  /** Documents shaped as measured in the sf0.1 fixture (5 000 rows):
    * lengths uniform over 10-99 words (mean 54, sd 25.7), words uniform
    * over [[Vocab]], 5 % near copies that repeat another document's text
    * and append the word `dup`, `lang` 41 % `en` and the rest even over
    * zh, es, fr and de, and `source` = `src` + id mod 20. A copy's source
    * is drawn as an original even when it is a copy itself (4 of the
    * fixture's 250 copies are copies of copies). */
  private def documents(spark: SparkSession, h: H, n: Int): DataFrame = {
    val id = col("id")
    val vocab = array(Vocab.map(lit): _*)
    val isCopy = h.u("d_copy", id) < 0.05
    val cid = when(isCopy, (id + 1 + h.int("d_src", n - 1, id)) % n).otherwise(id)
    spark.range(0, n, 1, 1)
      .withColumn("cid", cid)
      .withColumn("len", (h.int("d_len", 90, col("cid")) + 10).cast("int"))
      .withColumn("words", transform(sequence(lit(0), col("len") - 1), i =>
        element_at(vocab, (h.int("d_word", Vocab.size, col("cid"), i) + 1).cast("int"))))
      .select(id.as("doc_id"),
        concat_ws(" ", array_join(col("words"), " "), when(isCopy, lit("dup"))).as("text"),
        when(h.u("d_lang", id) < 0.41, lit("en"))
          .otherwise(h.of("d_lang4", Seq("zh", "es", "fr", "de"), id)).as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
}
