package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftCli, SparkEntry}
import graft.operators.{Chunking, RowOps}
import graft.sinks.AppendSink
import graft.sources.JdbcPartitionedSource

/** A named workload: inputs built from the seed during set-up, then a fixed
  * list of operations per iteration, each called through the program's
  * public entry points. */
abstract class Workload(val spark: SparkSession, val work: String, val seed: Long) {
  def name: String

  /** Build the inputs for set-up repetition `rep` (timed as set-up). */
  def prepare(rep: Int): Unit

  /** Measure on the inputs of repetition `rep`; drop the others. */
  def use(rep: Int, reps: Int): Unit

  /** Operations of one iteration, in order. */
  def ops: Seq[String]

  /** One timed operation; returns the rows it delivered. */
  def run(op: String): Long

  /** Untimed check of an operation's row count. */
  def rowsOk(op: String, rows: Long): Boolean

  /** Untimed check of the content the last iteration left behind. */
  def contentOk(): Boolean

  /** Untimed, before every operation: the state a first run would see. */
  def reset(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Untimed iterations after the cold one, before the window opens: the
    * JIT is still compiling hard there, and its pace varies run to run. */
  def warmup: Int = 4

  /** Warm iterations taken even when the window has run out. */
  def minWarm: Int = 5

  /** Rows one iteration delivers, for `rows_per_s`. */
  def rowsPerIteration(results: Seq[OpResult]): Long = results.map(_.rows).sum

  protected def deleteDir(dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Part files and bytes under a sink directory. */
  def sinkFiles(dir: String): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val parts = fs.listStatus(p).filter(_.getPath.getName.startsWith("part-"))
      (parts.length.toLong, parts.map(_.getLen).sum)
    }
  }
}

final case class OpResult(op: String, seconds: Double, rows: Long, ok: Boolean)

object Workload {
  val Names: Seq[String] = Seq("etl_jdbc", "etl_parquet", "lanes_mix")

  def apply(name: String, spark: SparkSession, work: String, seed: Long): Workload =
    name match {
      case "etl_jdbc"    => new EtlJdbc(spark, work, seed)
      case "etl_parquet" => new EtlParquet(spark, work, seed)
      case "lanes_mix"   => new LanesMix(spark, work, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected ${Names.mkString(" | ")})")
    }

  /** Order-independent digest of a sink, all columns read as strings. */
  def digest(df: DataFrame, cols: Seq[String]): RowDigest = {
    import scala.jdk.CollectionConverters._
    RowDigest.of(df.select(cols.map(c => col(c).cast("string")): _*)
      .toLocalIterator().asScala
      .map(r => (0 until r.length).map(i => r.getString(i))))
  }
}

/** The reference loop over JDBC: `GraftCli.run` against an embedded Derby
  * table with no index on its timestamp column. */
final class EtlJdbc(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  val name = "etl_jdbc"
  val Rows = 40000
  val Chunks = 50
  private val start = Gen.sourceStart(Rows)
  private val sink = s"$work/sink"
  private var db = ""

  private def url(rep: Int) = s"jdbc:derby:memory:perfbench$rep"

  private val User = "perfbench"

  def prepare(rep: Int): Unit = Gen.loadDerby(url(rep) + ";create=true", User, seed, Rows)

  def use(rep: Int, reps: Int): Unit = {
    (0 until reps).filter(_ != rep).foreach { r =>
      try java.sql.DriverManager.getConnection(url(r) + ";drop=true")
      catch { case _: java.sql.SQLException => } // a drop reports itself as an exception
    }
    db = url(rep)
  }

  lazy val args: Seq[String] = Seq(
    s"--tableName=${Gen.SourceTable}", s"--connectionString=$db",
    s"--username=$User", s"--password=$User", s"--destDataset=$sink",
    "--timestampColumn=TS", s"--startTime=$start", s"--chunkSize=${Rows / Chunks}",
    "--driver=org.apache.derby.jdbc.EmbeddedDriver", "--sinkFormat=parquet")

  lazy val expected: RowDigest = Gen.expectedSource(seed, Rows, start)

  val ops = Seq("cli.run")

  def run(op: String): Long = GraftCli.run(spark, GraftCli.parse(args))

  override def reset(): Unit = { super.reset(); deleteDir(sink) }

  def rowsOk(op: String, rows: Long): Boolean = rows == expected.rows

  def contentOk(): Boolean = {
    val got = Workload.digest(AppendSink.readBack(spark, sink),
      Seq("ID", "TS", "QTY", "PRICE", "NAME", "D", "T"))
    if (got != expected) System.err.println(s"[perfbench] sink $got, expected $expected")
    got == expected
  }

  def sinkDir: String = sink

  /** The loop's layers called one at a time, each a span: the chunk plan,
    * the partitioned scan into the noop sink, the stringify projection into
    * the noop sink, the append, and the read-back. */
  def layers(t: Tracer): Int = {
    val cfg = GraftCli.parse(args).cfg
    reset()
    val ivs = t("chunking.plan") { Chunking.boundedScanIntervals(tsOnly(cfg), cfg, tieBreak = Nil) }
    val scanned = JdbcPartitionedSource.read(spark, cfg, ivs)
    t("source.scan") { scanned.write.format("noop").mode("overwrite").save() }
    val projected = RowOps.dropNullLiterals(RowOps.stringifyAll(scanned),
      scanned.columns.toIndexedSeq)
    t("rowops.stringify") { projected.write.format("noop").mode("overwrite").save() }
    t("sink.append") { AppendSink.append(projected, cfg.destDataset, "parquet") }
    t("sink.readback") { AppendSink.readBack(spark, cfg.destDataset).count() }
    ivs.size
  }

  /** Full chunk grid size (untimed, once per traced run). */
  def gridChunks(): Long = {
    val cfg = GraftCli.parse(args).cfg
    Chunking.plan(tsOnly(cfg), cfg, Nil).count()
  }

  /** The chunk planner's input, built as `GraftCli.runJdbc` builds it: the
    * timestamp column alone, as epoch seconds. */
  private def tsOnly(cfg: graft.core.GraftConfig): DataFrame =
    spark.read.jdbc(cfg.connectionString, cfg.tableName,
        JdbcPartitionedSource.connectionProperties(cfg))
      .select(col(cfg.timestampColumn).cast("long").as(cfg.timestampColumn))
}

/** The same loop in parquet-fixture mode (`RefPipeline.run` behind
  * `GraftCli.run`): no JDBC, so only chunking and the sink are exercised. */
final class EtlParquet(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  val name = "etl_parquet"
  val Rows = 200000L
  /** 1995-06-01T00:00:00Z: about 6 % of ship dates fall at or before it. */
  private val start = 801964800L
  private val sink = s"$work/sink"
  private var dir = ""

  private def fixture(rep: Int) = s"$work/fixture$rep"
  private def lineitem = Gen.lineitem(spark, seed, Rows, Rows / 4)

  def prepare(rep: Int): Unit = Gen.writeTables(fixture(rep), Seq("lineitem" -> lineitem))

  def use(rep: Int, reps: Int): Unit = {
    (0 until reps).filter(_ != rep).foreach(r => deleteDir(fixture(r)))
    dir = fixture(rep)
  }

  lazy val args: Seq[String] = Seq("--tableName=lineitem", s"--connectionString=$dir",
    "--username=perfbench", "--password=perfbench", s"--destDataset=$sink",
    "--timestampColumn=ts_epoch", s"--startTime=$start")

  private val SinkCols = Seq("l_orderkey", "l_linenumber", "l_returnflag",
    "l_linestatus", "ts_epoch")

  /** Expected sink content, straight from the generator: the rows with
    * ts > startTime, each column in its string form. */
  lazy val expected: RowDigest = Workload.digest(
    lineitem.withColumn("ts_epoch", col("l_shipdate").cast("timestamp").cast("long"))
      .filter(col("ts_epoch") > start), SinkCols)

  val ops = Seq("cli.run")

  def run(op: String): Long = GraftCli.run(spark, GraftCli.parse(args))

  override def reset(): Unit = { super.reset(); deleteDir(sink) }

  def rowsOk(op: String, rows: Long): Boolean = rows == expected.rows

  def contentOk(): Boolean =
    Workload.digest(AppendSink.readBack(spark, sink), SinkCols) == expected

  def sinkDir: String = sink
}

/** Seven read-only analytic lanes through the noop sink, in a seeded order. */
final class LanesMix(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  val name = "lanes_mix"
  val Lanes: Seq[String] = Seq("q_pagerank", "q_dedup_jaccard", "q_approx_sketch",
    "q_salted_join", "q_sessionize", "q_window_battery", "q_sim_topk_brute")
  val sizes = Gen.Sizes(lineitem = 30000L, orders = 7500L, documents = 500L,
    events = 5000L, embeddings = 500L)
  private var dir = ""

  private def fixture(rep: Int) = s"$work/fixture$rep"

  def prepare(rep: Int): Unit = Gen.writeTables(fixture(rep), Seq(
    "lineitem" -> Gen.lineitem(spark, seed, sizes.lineitem, sizes.orders),
    "orders" -> Gen.orders(spark, seed, sizes.orders),
    "documents" -> Gen.documents(spark, seed, sizes.documents),
    "events" -> Gen.events(spark, seed, sizes.events),
    "embeddings" -> Gen.embeddings(spark, seed, sizes.embeddings)))

  def use(rep: Int, reps: Int): Unit = {
    (0 until reps).filter(_ != rep).foreach(r => deleteDir(fixture(r)))
    dir = fixture(rep)
  }

  def fixtureDir: String = dir

  val ops: Seq[String] = new scala.util.Random(seed).shuffle(Lanes)

  /** A pass takes about 8 s and barely speeds up after the first, so the
    * window opens at once; three warm passes give a real median. */
  override def warmup: Int = 0
  override def minWarm: Int = 3

  /** Each lane's first run writes its result here, for the DuckDB oracle
    * check after the run; later runs use the noop sink. */
  def resultsDir: String = s"$work/lanes"
  private val captured = scala.collection.mutable.Set.empty[String]

  def run(op: String): Long = {
    val df = SparkEntry.queries(op)(spark, dir)
    if (captured.add(op)) df.coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$op")
    else df.write.format("noop").mode("overwrite").save()
    0L
  }

  def rowsOk(op: String, rows: Long): Boolean = true

  /** Lane results are checked against the DuckDB oracles after the run. */
  def contentOk(): Boolean = true

  /** Result rows of one pass, counted from the captured results. */
  override def rowsPerIteration(results: Seq[OpResult]): Long =
    Lanes.map(l => spark.read.parquet(s"$resultsDir/$l").count()).sum

  /** The lanes' oracle SQL, beside their results. */
  def writeOracles(): Unit = {
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => Lanes.contains(k) }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$resultsDir/oracle_sql.json"), Json(oracles))
  }
}
