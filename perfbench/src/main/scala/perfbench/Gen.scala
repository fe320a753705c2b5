package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator for the star schema the query registry reads
  * (`graft.Tables`: region … embeddings) and for the sheet CSVs the ELT
  * product path ingests.
  *
  * Every value is a pure function of (seed, row id, column salt) through
  * xxhash64, so a table's content does not depend on partitioning or on
  * the number of cores. The query tables use a fixed seed: the row counts
  * a query must return are then the same for every benchmark seed, and
  * `expected_counts.json` can pin them.
  */
object Gen {

  val TableSeed = 42L

  /** Uniform double in [0, 1) from the row id and a per-column salt. */
  private def u(seed: Long, salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1000003L)).cast(DoubleType) / 1000003.0

  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(typedLit(values), (floor(u(seed, salt) * values.size) + 1).cast(IntegerType))

  private def below(seed: Long, salt: Int, n: Long): Column =
    floor(u(seed, salt) * n).cast(LongType)

  private def money(c: Column): Column = round(c, 2)

  /** `days` after `start` (yyyy-MM-dd) as a midnight timestamp. */
  private def day(start: String, days: Column): Column =
    date_add(lit(start).cast(DateType), days.cast(IntegerType)).cast(TimestampType)

  val Vocab: Seq[String] = Seq("the", "a", "join", "hash", "row", "batch", "scan",
    "column", "customer", "filter", "small", "slow", "merge", "order", "vector",
    "line", "table", "data", "agg", "value", "key", "stream", "window", "spark",
    "part", "group", "big", "sort", "query", "fast")

  /** Row counts per table at scale factor `sf` (TPC-H proportions). */
  final case class Counts(sf: Double, docs: Long, embeddings: Long) {
    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    val customer = n(150000); val supplier = n(10000); val part = n(200000)
    val orders = n(1500000); val lineitem = n(6000000); val events = n(1000000)
    val users = math.max(10L, n(15000))
  }

  def orders(spark: SparkSession, c: Counts, seed: Long = TableSeed): DataFrame =
    spark.range(c.orders).select(
      col("id").as("o_orderkey"),
      below(seed, 1, c.customer).as("o_custkey"),
      pick(seed, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(u(seed, 3) * 499000 + 1000).as("o_totalprice"),
      day("1995-01-01", floor(u(seed, 4) * 2404)).as("o_orderdate"),
      pick(seed, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

  /** Write every table `graft.Tables.names` lists under `dir`. */
  def tables(spark: SparkSession, dir: String, c: Counts): Unit = {
    val s = TableSeed
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", spark.range(5).select(col("id").cast(IntegerType).as("r_regionkey"),
      element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
        (col("id") + 1).cast(IntegerType)).as("r_name")).coalesce(1))
    write("nation", spark.range(25).select(col("id").cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast(StringType)).as("n_name"),
      pmod(col("id"), lit(5L)).cast(IntegerType).as("n_regionkey")).coalesce(1))
    write("customer", spark.range(c.customer).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      below(s, 10, 25).cast(IntegerType).as("c_nationkey"),
      money(u(s, 11) * 11000 - 1000).as("c_acctbal"),
      pick(s, 12, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    write("supplier", spark.range(c.supplier).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      below(s, 20, 25).cast(IntegerType).as("s_nationkey"),
      money(u(s, 21) * 11000 - 1000).as("s_acctbal")))
    write("part", spark.range(c.part).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick(s, 30, Seq("small", "large", "red", "blue", "hot", "cold", "old", "new")),
        pick(s, 31, Seq("widget", "bolt", "gear", "ring", "gizmo", "plate", "nut", "pipe")))
        .as("p_name"),
      concat(lit("Brand#"), (below(s, 32, 25) + 1).cast(StringType)).as("p_brand"),
      pick(s, 33, Seq("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD")).as("p_type"),
      (below(s, 34, 50) + 1).cast(IntegerType).as("p_size"),
      money(lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0).as("p_retailprice")))
    write("orders", orders(spark, c))
    val qty = (below(s, 41, 50) + 1).cast(DoubleType)
    write("lineitem", spark.range(c.lineitem).select(
      below(s, 40, c.orders).as("l_orderkey"),
      below(s, 42, c.part).as("l_partkey"),
      below(s, 43, c.supplier).as("l_suppkey"),
      (below(s, 44, 7) + 1).cast(IntegerType).as("l_linenumber"),
      qty.as("l_quantity"),
      money(qty * (u(s, 45) * 2000 + 900)).as("l_extendedprice"),
      (below(s, 46, 11) / 100.0).as("l_discount"),
      (below(s, 47, 9) / 100.0).as("l_tax"),
      pick(s, 48, Seq("R", "A", "N")).as("l_returnflag"),
      pick(s, 49, Seq("O", "F")).as("l_linestatus"),
      day("1995-01-02", floor(u(s, 50) * 2430)).as("l_shipdate")))
    // January 2024, ids in time order with jitter inside each slot
    val slotUs = 30L * 86400L * 1000000L / c.events
    write("events", spark.range(c.events).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * slotUs +
        floor(u(s, 60) * slotUs).cast(LongType)).as("ts"),
      below(s, 61, c.users).as("user_id"),
      pick(s, 62, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
      money(-log(lit(1.0) - u(s, 63)) * 50 + 0.01).as("value"),
      concat(lit("{\"k\": "), below(s, 64, 100).cast(StringType), lit("}")).as("props")))
    write("documents", documents(spark, c.docs))
    write("embeddings", embeddings(spark, c.embeddings))
  }

  /** Documents over a 30-word vocabulary; one in ten repeats an earlier
    * document's text with one extra token, so the dedup families find
    * near-duplicate clusters.
    */
  private def documents(spark: SparkSession, n: Long): DataFrame = {
    val s = TableSeed
    val isDup = col("id") > 10 && u(s, 70) < 0.1
    val base = when(isDup, col("id") - 1 - below(s, 71, 10)).otherwise(col("id"))
    val ntok = lit(8L) + floor(u(s, 72, col("base")) * 83).cast(LongType)
    val vocab = typedLit(Vocab)
    val words = transform(sequence(lit(1L), col("ntok")), i =>
      element_at(vocab, (pmod(xxhash64(lit(s), lit(73), col("base"), i), lit(Vocab.size.toLong)) + 1)
        .cast(IntegerType)))
    spark.range(n)
      .withColumn("base", base)
      .withColumn("ntok", ntok)
      .select(col("id").as("doc_id"),
        when(isDup, concat(concat_ws(" ", words), lit(" dup")))
          .otherwise(concat_ws(" ", words)).as("text"),
        pick(s, 74, Seq("en", "en", "en", "en", "zh", "es", "de", "fr", "en")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20L)).cast(StringType)).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
  }

  /** 64-dim unit vectors scattered around ten labelled centres. */
  private def embeddings(spark: SparkSession, n: Long): DataFrame = {
    val s = TableSeed
    def gauss(salt: Int, j: Column, key: Column): Column =
      (pmod(xxhash64(lit(s), lit(salt), key, j), lit(1000003L)).cast(DoubleType) / 1000003.0 - 0.5)
    val raw = transform(sequence(lit(0), lit(63)), j =>
      gauss(80, j, col("label").cast(LongType)) + gauss(81, j, col("id")) * 0.6)
    spark.range(n)
      .withColumn("label", below(s, 82, 10).cast(IntegerType))
      .withColumn("raw", raw)
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast(FloatType)).as("embedding"),
        col("label"))
  }

  // ───── sheet CSVs for the ELT product path ─────

  /** One sheet batch's header language and value formats. */
  final case class Dialect(ru: Boolean) {
    val header: Seq[String] =
      if (ru) Seq("PK", "Дата", "Тип", "Клиент", "Категория", "Поставщик", "РУБ Сумма", "Валюта")
      else Seq("PK", "Date", "Type", "Client", "Category", "Vendor", "Total RUB", "Currency")
    private val dmy = java.time.format.DateTimeFormatter.ofPattern("dd.MM.yyyy")

    /** Dates move +28 years (leap-aligned) past the marts' 2005 floor. */
    def row(o: OrderRow): Seq[String] = {
      val d = o.date.plusYears(28)
      val cents = math.floor(o.totalPrice * 100).toLong
      val money = s"${cents / 100}${if (ru) "," else "."}${"%02d".format(cents % 100)}"
      val income = o.status != "O"
      Seq(o.key.toString,
        if (ru) d.format(dmy) else d.toString,
        if (ru) (if (income) "Доход" else "Расход") else (if (income) "Income" else "Expense"),
        s"Customer#${o.custKey}",
        o.priority.drop(2),
        s"Vendor#${o.custKey % 53}",
        money, "RUB")
    }
  }

  final case class OrderRow(key: Long, custKey: Long, status: String, totalPrice: Double,
      date: java.time.LocalDate, priority: String)

  def orderRows(spark: SparkSession, c: Counts): Seq[OrderRow] =
    orders(spark, c).collect().toSeq.map { r =>
      OrderRow(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getTimestamp(4).toLocalDateTime.toLocalDate, r.getString(5))
    }

  private def csvField(v: String): String =
    if (v.exists(ch => ch == ',' || ch == '"' || ch == '\n')) "\"" + v.replace("\"", "\"\"") + "\""
    else v

  /** Write one batch as a headered CSV file in its own directory; returns
    * the number of bytes written.
    */
  def writeCsv(dir: java.nio.file.Path, rows: Seq[OrderRow], dialect: Dialect): Long = {
    java.nio.file.Files.createDirectories(dir)
    val sb = new StringBuilder
    (dialect.header +: rows.map(dialect.row)).foreach { fields =>
      sb.append(fields.map(csvField).mkString(",")).append('\n')
    }
    val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(dir.resolve("batch.csv"), bytes)
    bytes.length.toLong
  }
}
