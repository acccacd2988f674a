package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CountDownLatch,
  Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The registry's contract: nested builds, racing builds, per-session
  * scope and per-(session, memo) reset. The key's input-identity half
  * (plan fingerprints) is pinned by [[MemoFingerprintSpec]]. */
class SharedStateSpec extends SparkSpec {

  private def checkpointed(s: SparkSession, n: Int): DataFrame =
    s.range(n).toDF("id").localCheckpoint(true)

  private def ids(df: DataFrame): Seq[Long] =
    df.orderBy("id").collect().map(_.getLong(0)).toSeq

  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a build that calls another memo returns the same values as the " +
    "two calls made separately") {
    // the outer build inserts 64 entries while its own is still pending —
    // enough to resize the one map mid-build, which a computeIfAbsent
    // registry rejects as a "Recursive update"
    val ks = 0 until 64
    def inner(k: Int): DataFrame =
      SharedState.memo("spec.inner", spark, k)(
        spark.range(k, k + 1).toDF("id").localCheckpoint(true))
    def outer(): DataFrame =
      SharedState.memo("spec.outer", spark, "k") {
        ks.map(inner).reduce(_ union _)
          .filter(col("id") % 2 === 0).localCheckpoint(true)
      }
    def resetBoth(): Unit =
      Seq("spec.outer", "spec.inner").foreach(SharedState.reset(spark, _))
    try {
      val nested = ids(outer())
      // the inner entries built inside the outer build are stored: hits
      ks.foreach(k => SharedState.memo[DataFrame]("spec.inner", spark, k)(
        fail(s"inner $k was not stored by the nested build")))
      resetBoth()
      ks.foreach(inner)
      val separate = ids(outer())
      assert(nested == separate)
      assert(nested == (0L until 64L).filter(_ % 2 == 0))
    } finally resetBoth()
  }

  test("two threads racing on one key get a single value; the loser's " +
    "checkpoint RDD is released") {
    val bothBuilding = new CountDownLatch(2)
    val built = new ConcurrentLinkedQueue[DataFrame]()
    def build(): DataFrame = {
      val df = checkpointed(spark, 10)
      built.add(df)
      // neither thread inserts before both have built: a real race
      bothBuilding.countDown()
      bothBuilding.await(60, TimeUnit.SECONDS)
      df
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map(_ => pool.submit(new Callable[DataFrame] {
        def call(): DataFrame = SharedState.memo("spec.race", spark, "k")(build())
      }))
      val got = futures.map(_.get(120, TimeUnit.SECONDS))
      assert(got(0) eq got(1))
      assert(built.size == 2)
      val loser = built.asScala.find(_ ne got(0)).get
      assert(rddIds(loser).nonEmpty)
      assert(rddIds(loser).forall(id => !persisted.contains(id)))
      // the winner's blocks stay, pinned against the bench's cleanup
      assert(rddIds(got(0)).forall(id => persisted.contains(id) &&
        spark.sparkContext.getPersistentRDDs(id).name ==
          SharedState.PinnedRddName))
    } finally {
      pool.shutdownNow()
      SharedState.reset(spark, "spec.race")
    }
  }

  test("a new session misses an entry another session built") {
    val other = spark.newSession()
    val builds = new AtomicInteger(0)
    def entry(s: SparkSession): DataFrame =
      SharedState.memo("spec.session", s, "k") {
        builds.incrementAndGet()
        checkpointed(s, 3)
      }
    try {
      entry(spark)
      entry(spark)
      assert(builds.get == 1)
      assert(ids(entry(other)) == Seq(0L, 1L, 2L))
      assert(builds.get == 2)
    } finally {
      SharedState.reset(spark, "spec.session")
      SharedState.reset(other, "spec.session")
    }
  }

  test("reset(spark, a) drops a for that session only: memo b and the " +
    "other session's a stay") {
    val other = spark.newSession()
    try {
      val a = SharedState.memo("spec.a", spark, "k")(checkpointed(spark, 4))
      val b = SharedState.memo("spec.b", spark, "k")(checkpointed(spark, 4))
      val otherA = SharedState.memo("spec.a", other, "k")(
        checkpointed(other, 4))
      SharedState.reset(spark, "spec.a")
      assert(SharedState.memo[DataFrame]("spec.b", spark, "k")(
        fail("memo b was dropped")) eq b)
      assert(SharedState.memo[DataFrame]("spec.a", other, "k")(
        fail("the other session's a was dropped")) eq otherA)
      assert(rddIds(a).forall(id => !persisted.contains(id)))
      val rebuilt = SharedState.memo("spec.a", spark, "k")(
        checkpointed(spark, 4))
      assert((rebuilt ne a) && ids(rebuilt) == Seq(0L, 1L, 2L, 3L))
    } finally {
      Seq("spec.a", "spec.b").foreach(SharedState.reset(spark, _))
      SharedState.reset(other, "spec.a")
    }
  }

  test("no file under src/main/scala other than core/SharedState.scala " +
    "constructs a ConcurrentHashMap") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val registry = root.resolve("graft/core/SharedState.scala")
    val construct = """new\s+(java\.util\.concurrent\.)?ConcurrentHashMap""".r
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala.toList
        .filter(p => p.toString.endsWith(".scala") && p != registry)
        .filter(p => construct.findFirstIn(Files.readString(p)).isDefined)
      finally walk.close()
    assert(offenders.isEmpty,
      s"route shared state through graft.core.SharedState: $offenders")
  }
}
