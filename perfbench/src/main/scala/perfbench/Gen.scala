package perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same inputs; sizes are
  * fixed per workload, so seeds change values and not the amount of work. */
object Gen {

  // ---- etl_jdbc: the reference's source table, loaded into Derby ----

  val SourceTable = "SRC"
  /** epoch seconds of 2020-09-13T12:26:40Z, the first timestamp value */
  val SourceBase = 1600000000L
  /** seconds between consecutive distinct timestamp values */
  val SourceTick = 60L

  val SourceDdl: String =
    s"CREATE TABLE $SourceTable (ID BIGINT NOT NULL, TS BIGINT NOT NULL, " +
      "QTY DOUBLE, PRICE DECIMAL(12,2), NAME VARCHAR(24), D DATE, T TIMESTAMP)"

  /** One source row. `ts` repeats (about four rows per value); about 1 % of
    * names are the literal "NULL" and about 2 % of each nullable column is
    * SQL NULL. Doubles are quarter multiples below 10^5, so their string
    * form is exact and never scientific. */
  final case class SourceRow(id: Long, ts: Long, qty: java.lang.Double,
                             price: JBigDecimal, name: String,
                             d: LocalDate, t: LocalDateTime) {
    private def orNull[A](a: A)(f: A => String): String =
      if (a == null) null else f(a)

    /** The row as the sink holds it after stringify and null-literal drop. */
    def landed: Seq[String] = Seq(
      id.toString, ts.toString,
      orNull(qty)(_.toString),
      orNull(price)(_.toPlainString),
      if (name == null || name.equalsIgnoreCase("null")) null else name,
      orNull(d)(_.toString),
      orNull(t)(_.format(TsFormat)))
  }

  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def sourceRows(seed: Long, n: Int): Iterator[SourceRow] = {
    val rng = new SplittableRandom(seed)
    val distinctTs = math.max(1, n / 4)
    Iterator.range(0, n).map { i =>
      def nullable[A](a: => A): A = if (rng.nextInt(50) == 0) null.asInstanceOf[A] else a
      val ts = SourceBase + rng.nextInt(distinctTs) * SourceTick
      val qty = nullable(java.lang.Double.valueOf(rng.nextInt(400000) / 4.0))
      val price = nullable(JBigDecimal.valueOf(rng.nextLong(100000000L), 2))
      val name =
        if (rng.nextInt(100) == 0) "NULL"
        else nullable("n" + java.lang.Long.toString(rng.nextLong(1L << 40), 36))
      val d = nullable(LocalDate.ofEpochDay(18000L + rng.nextInt(2000)))
      val t = nullable(LocalDateTime.ofEpochSecond(
        SourceBase + rng.nextInt(10000000), 0, ZoneOffset.UTC))
      SourceRow(i.toLong, ts, qty, price, name, d, t)
    }
  }

  /** `--startTime` for the source: a timestamp value, so rows equal to it
    * exist; about 5 % of rows fall below it. */
  def sourceStart(n: Int): Long =
    SourceBase + (math.max(1, n / 4) / 20) * SourceTick

  /** Create and fill the source table over `url`, in the schema of `user`;
    * no index on TS. */
  def loadDerby(url: String, user: String, seed: Long, n: Int): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, user, user)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try st.execute(SourceDdl) finally st.close()
      val ps = conn.prepareStatement(
        s"INSERT INTO $SourceTable VALUES (?, ?, ?, ?, ?, ?, ?)")
      try {
        var pending = 0
        sourceRows(seed, n).foreach { r =>
          ps.setLong(1, r.id)
          ps.setLong(2, r.ts)
          if (r.qty == null) ps.setNull(3, java.sql.Types.DOUBLE)
          else ps.setDouble(3, r.qty)
          ps.setBigDecimal(4, r.price)
          ps.setString(5, r.name)
          ps.setDate(6, if (r.d == null) null else java.sql.Date.valueOf(r.d))
          ps.setTimestamp(7, if (r.t == null) null else java.sql.Timestamp.valueOf(r.t))
          ps.addBatch()
          pending += 1
          if (pending == 5000) { ps.executeBatch(); pending = 0 }
        }
        if (pending > 0) ps.executeBatch()
      } finally ps.close()
      conn.commit()
    } finally conn.close()
  }

  /** Expected sink content: the landed form of every row with
    * ts >= start. `--startTime` is inclusive on the JDBC path (the option's
    * contract, and the first chunk's `ts >= start` predicate); rows equal to
    * it exist in every seed, so the boundary is checked. */
  def expectedSource(seed: Long, n: Int, start: Long): RowDigest =
    RowDigest.of(sourceRows(seed, n).filter(_.ts >= start).map(_.landed))

  // ---- parquet fixtures (etl_parquet and lanes_mix) ----

  /** Table sizes: lineitem rows and the other tables the lanes read. */
  final case class Sizes(lineitem: Long, orders: Long, documents: Long,
                         events: Long, embeddings: Long)

  /** 64-bit seeded hash of (seed, row id, salt): each column draws from its
    * own salt, so columns are independent. */
  private def h(seed: Long, salt: Int, id: Column = col("id")): Column =
    xxhash64(lit(seed), id, lit(salt))

  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (pmod(h(seed, salt), lit(values.size.toLong)) + 1).cast("int"))

  private def day(from: String, seed: Long, salt: Int, days: Int): Column =
    date_add(lit(from).cast("date"), pmod(h(seed, salt), lit(days.toLong)).cast("int"))
      .cast("timestamp_ntz")

  /** TPC-H-shaped lineitem: 7 line numbers, 3 return flags x 2 statuses,
    * ship dates over 2500 days from 1995-01-02, money with two decimals. */
  def lineitem(spark: SparkSession, seed: Long, n: Long, orders: Long): DataFrame =
    spark.range(n).select(
      pmod(h(seed, 1), lit(orders)).as("l_orderkey"),
      pmod(h(seed, 2), lit(2000L)).as("l_partkey"),
      pmod(h(seed, 3), lit(100L)).as("l_suppkey"),
      (pmod(h(seed, 4), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(seed, 5), lit(50L)) + 1).cast("double").as("l_quantity"),
      (pmod(h(seed, 6), lit(10000000L)).cast("double") / 100).as("l_extendedprice"),
      (pmod(h(seed, 7), lit(11L)).cast("double") / 100).as("l_discount"),
      (pmod(h(seed, 8), lit(9L)).cast("double") / 100).as("l_tax"),
      pick(seed, 9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 10, Seq("O", "F")).as("l_linestatus"),
      day("1995-01-02", seed, 11, 2500).as("l_shipdate"))

  def orders(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("o_orderkey"),
      pmod(h(seed, 21), lit(math.max(1L, n / 10))).as("o_custkey"),
      pick(seed, 22, Seq("P", "O", "F")).as("o_orderstatus"),
      ((pmod(h(seed, 23), lit(49900000L)) + 100000).cast("double") / 100).as("o_totalprice"),
      day("1995-01-01", seed, 24, 2404).as("o_orderdate"),
      pick(seed, 25, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

  private val Vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
    "window", "order", "data", "column", "join", "small", "big", "customer",
    "query", "filter", "group", "stream", "index")

  /** Documents of 8-97 words over a 30-word vocabulary. About one in ten
    * copies its predecessor with every eighth word replaced, so near-
    * duplicate detection has pairs to find. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    val v = lit(Vocab.size.toLong)
    val dup = col("id") > 0 && pmod(h(seed, 31), lit(10L)) === 0
    spark.range(n)
      .withColumn("base", when(dup, col("id") - 1).otherwise(col("id")))
      .withColumn("nw", (pmod(h(seed, 32, col("base")), lit(90L)) + 8).cast("int"))
      .select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), col("nw")), i =>
          when(dup && pmod(i, lit(8)) === 0,
            element_at(vocab, (pmod(xxhash64(lit(seed), col("id"), i, lit(33)), v) + 1).cast("int")))
            .otherwise(
              element_at(vocab, (pmod(xxhash64(lit(seed), col("base"), i, lit(34)), v) + 1).cast("int")))))
          .as("text"),
        pick(seed, 35, Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
        concat(lit("src"), pmod(h(seed, 36), lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 150 users emitting 5 event types over 30 days from 2024-01-01. */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + pmod(h(seed, 41), lit(30L * 86400L * 1000000L)))
        .cast("timestamp_ntz").as("ts"),
      pmod(h(seed, 42), lit(150L)).as("user_id"),
      pick(seed, 43, Seq("click", "view", "signup", "purchase", "error")).as("event_type"),
      ((pmod(h(seed, 44), lit(49000L)) + 1).cast("double") / 100).as("value"),
      concat(lit("{\"k\": "), pmod(h(seed, 45), lit(100L)).cast("string"), lit("}")).as("props"))

  /** 64-dimensional float vectors in [-0.25, 0.25], 10 labels. */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        ((pmod(xxhash64(lit(seed), col("id"), i, lit(51)), lit(20001L)) - 10000)
          .cast("double") / 40000).cast("float")).as("embedding"),
      pmod(h(seed, 52), lit(10L)).cast("int").as("label"))

  /** Write each table as `<dir>/<name>.parquet`, one file per table like
    * the reference fixtures. */
  def writeTables(dir: String, tables: Seq[(String, DataFrame)]): Unit =
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
