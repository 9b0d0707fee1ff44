package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table has the schema and value domains of
  * graft's TPC-H-ish test tables (star schema, `events`, `documents`,
  * `embeddings`), scaled by `sf`. A value is a pure function of
  * (seed, row id, column salt), so the same seed gives byte-identical
  * tables regardless of partitioning. Each table lands as one parquet file.
  */
object Gen {
  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  val StarTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events")

  /** Uniform double in [0, 1) keyed by (seed, salt, id). */
  def u(seed: Long, salt: Int, id: Column = col("id")): Column =
    shiftrightunsigned(xxhash64(id, lit(seed), lit(salt)), 11).cast("double") /
      lit(9007199254740992.0)
  /** Uniform long in [0, n). */
  def ui(seed: Long, salt: Int, n: Long, id: Column = col("id")): Column =
    floor(u(seed, salt, id) * n).cast("long")
  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (ui(seed, salt, values.size) + 1).cast("int"))
  private def money(lo: Double, hi: Double, seed: Long, salt: Int): Column =
    round(lit(lo) + u(seed, salt) * (hi - lo), 2)
  private def day(from: String, days: Int, seed: Long, salt: Int): Column =
    date_add(lit(java.sql.Date.valueOf(from)), ui(seed, salt, days).cast("int"))
      .cast("timestamp_ntz")

  private def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** The star-schema tables plus `events`, at scale factor `sf`. */
  def star(s: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val (nCust, nSupp, nPart, nOrd, nLine, nEv, nUser) =
      (n(150000), n(10000), n(200000), n(1500000), n(6000000), n(1000000), n(15000))
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(s.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), col("id").cast("int") + 1).as("r_name")),
      s"$dir/region.parquet")
    write(s.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), s"$dir/nation.parquet")
    write(s.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui(seed, 1, 25).cast("int").as("c_nationkey"),
      money(-999.99, 9999.99, seed, 2).as("c_acctbal"),
      pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")), s"$dir/customer.parquet")
    write(s.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui(seed, 4, 25).cast("int").as("s_nationkey"),
      money(-999.99, 9999.99, seed, 5).as("s_acctbal")), s"$dir/supplier.parquet")
    write(s.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick(seed, 6, Seq("blue", "old", "small", "new", "large", "hot", "cold", "red")),
        pick(seed, 7, Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")))
        .as("p_name"),
      concat(lit("Brand#"), ui(seed, 8, 25) + 1).as("p_brand"),
      pick(seed, 9, Seq("SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD")).as("p_type"),
      (ui(seed, 10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice")),
      s"$dir/part.parquet")
    write(s.range(nOrd).select(col("id").as("o_orderkey"),
      ui(seed, 11, nCust).as("o_custkey"),
      pick(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(1000.0, 500000.0, seed, 13).as("o_totalprice"),
      day("1995-01-01", 2404, seed, 14).as("o_orderdate"),
      pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), s"$dir/orders.parquet")
    write(s.range(nLine).select(ui(seed, 16, nOrd).as("l_orderkey"),
      ui(seed, 17, nPart).as("l_partkey"),
      ui(seed, 18, nSupp).as("l_suppkey"),
      (ui(seed, 19, 7) + 1).cast("int").as("l_linenumber"),
      (ui(seed, 20, 50) + 1).cast("double").as("l_quantity"),
      money(900.0, 105000.0, seed, 21).as("l_extendedprice"),
      (ui(seed, 22, 11) / 100.0).as("l_discount"),
      (ui(seed, 23, 9) / 100.0).as("l_tax"),
      pick(seed, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 25, Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", 2498, seed, 26).as("l_shipdate")), s"$dir/lineitem.parquet")
    // events arrive in id order over 30 days, microsecond timestamps
    val stepUs = 30L * 86400L * 1000000L / nEv
    write(s.range(nEv).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepUs +
        ui(seed, 27, stepUs)).cast("timestamp_ntz").as("ts"),
      ui(seed, 28, nUser).as("user_id"),
      pick(seed, 29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log1p(-u(seed, 30)) * 50.0 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), ui(seed, 31, 100), lit("}")).as("props")),
      s"$dir/events.parquet")
  }

  /** Random text over `vocab`: 10–100 tokens keyed by (seed, src). */
  private def text(seed: Long, src: Column, vocab: Column): Column = {
    val len = (ui(seed, 40, 91, src) + 10).cast("int")
    concat_ws(" ", transform(sequence(lit(1), len), i => element_at(vocab,
      (pmod(xxhash64(src, lit(seed), lit(41), i), size(vocab).cast("long")) + 1).cast("int"))))
  }

  /** `documents(doc_id, text, lang, source, n_chars)` with ids
    * `idBase until idBase + n`. About 5% of docs repeat an earlier doc's
    * text with a trailing `dup` token (near-duplicates). `copies` > 1
    * gives each `doc_id % copies` slice its own vocabulary: copy c uses
    * the tokens suffixed `~c` under a seeded per-copy permutation.
    */
  def documents(s: SparkSession, seed: Long, n: Long, idBase: Long = 0L,
      copies: Int = 1): DataFrame = {
    val rng = new scala.util.Random(seed)
    val vocabs = (0 until copies).map { c =>
      val perm = if (c == 0) Vocab else rng.shuffle(Vocab)
      array(perm.map(w => lit(if (c == 0) w else s"$w~$c")): _*)
    }
    val vocab = vocabs.zipWithIndex.foldLeft(vocabs.head) { case (acc, (v, c)) =>
      if (c == 0) acc else when(col("id") % copies === c, v).otherwise(acc)
    }
    val isDup = col("id") > 0 && u(seed, 42) < 0.05
    val src = when(isDup, ui(seed, 43, 1L << 40) % col("id")).otherwise(col("id"))
    s.range(n).select(col("id"), src.as("src"), isDup.as("dup"))
      .select((col("id") + idBase).as("doc_id"),
        concat(text(seed, col("src"), vocab), when(col("dup"), lit(" dup")).otherwise(lit("")))
          .as("text"),
        pick(seed, 44, Seq("en", "en", "en", "es", "fr", "zh", "de")).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `embeddings(vec_id, embedding: array<float>, label)`: unit-norm
    * Gaussian 64-d vectors with a random label 0–9.
    */
  def embeddings(s: SparkSession, seed: Long, n: Long): DataFrame = {
    val g = transform(sequence(lit(0), lit(63)), j =>
      sqrt(lit(-2.0) * log(lit(1.0) - u(seed, 50, col("id") * 64 + j))) *
        cos(lit(2 * math.Pi) * u(seed, 51, col("id") * 64 + j)))
    s.range(n).select(col("id"), g.as("g"))
      .select(col("id").as("vec_id"),
        transform(col("g"), x =>
          (x / sqrt(aggregate(col("g"), lit(0.0), (a, y) => a + y * y))).cast("float"))
          .as("embedding"),
        ui(seed, 52, 10).cast("int").as("label"))
  }

  def writeDocs(s: SparkSession, dir: String, seed: Long, nDocs: Long, nVecs: Long,
      copies: Int = 1): Unit = {
    write(documents(s, seed, nDocs, copies = copies), s"$dir/documents.parquet")
    write(embeddings(s, seed, nVecs), s"$dir/embeddings.parquet")
  }
}
