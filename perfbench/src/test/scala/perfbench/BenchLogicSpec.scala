package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic, checks and generators. */
class BenchLogicSpec extends AnyFunSuite {

  test("median and quantiles interpolate between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) == 4.6)
    assert(Stats.median(Seq(7.0)) == 7.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("geomean weighs relative change equally and rejects non-positive values") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    val base = Stats.geomean(Seq(0.1, 10.0))
    // a 10 % gain on the small lane moves it as much as one on the big lane
    assert(math.abs(Stats.geomean(Seq(0.09, 10.0)) - Stats.geomean(Seq(0.1, 9.0))) < 1e-12)
    assert(Stats.geomean(Seq(0.09, 10.0)) < base)
    intercept[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }

  test("union length merges overlapping and nested intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20L)
    assert(Stats.unionLength(Seq((3L, 3L), (5L, 4L))) == 0L)
  }

  private val rows = Seq(Seq("1", "a", null), Seq("2", "b", "x"), Seq("3", null, "y"))

  test("row digest ignores order and catches a dropped, duplicated or altered row") {
    val d = RowDigest.of(rows)
    assert(RowDigest.of(rows.reverse) == d)
    assert(RowDigest.of(rows.tail) != d)
    assert(RowDigest.of(rows.tail).rows == 2)
    assert(RowDigest.of(rows :+ rows.head) != d)
    assert(RowDigest.of(Seq(Seq("1", "a", "null")) ++ rows.tail) != d)
    // the digest does not depend on the row count alone
    val swapped = Seq(Seq("1", "b", null), Seq("2", "a", "x"), rows(2))
    assert(RowDigest.of(swapped) != d)
  }

  test("row hash separates fields unambiguously and tells null from text") {
    assert(RowDigest.rowHash(Seq("ab", "c")) != RowDigest.rowHash(Seq("a", "bc")))
    assert(RowDigest.rowHash(Seq(null)) != RowDigest.rowHash(Seq("null")))
    assert(RowDigest.rowHash(Seq(null)) != RowDigest.rowHash(Seq("")))
  }

  test("self time is the span minus the union of its children, clipped to it") {
    val parent = Span(1, 0, "loop", 1, 0L, 100L)
    val kids = Seq(Span(2, 1, "a", 1, 10L, 40L), Span(3, 1, "b", 1, 30L, 50L),
      Span(4, 1, "c", 1, 90L, 130L))
    assert(Tracer.selfTime(parent, kids) == 100L - 40L - 10L)
    assert(Tracer.selfTime(parent, Nil) == 100L)
  }

  test("tracer nests spans and hangs measured intervals under the innermost one") {
    val t = new Tracer
    t.iter = 1
    t("loop") { t("plan") { Thread.sleep(2) }; Thread.sleep(1) }
    val plan = t.spans.find(_.name == "plan").get
    val loop = t.spans.find(_.name == "loop").get
    assert(plan.parent == loop.id && loop.parent == 0)
    assert(t.addChild("job.Chunking", plan.start + 1, plan.end).parent == plan.id)
    // measured intervals never become parents
    assert(t.addChild("job.Chunking", plan.start + 2, plan.end).parent == plan.id)
    assert(t.selfTime(plan) == 1L)
  }

  test("jobs without a source-file call site inherit their execution's layer") {
    val a = new JobRec(1, "$anonfun at CompletableFuture.java:1768", "7", 10L)
    val b = new JobRec(2, "count at Chunking.scala:210", "7", 11L)
    val c = new JobRec(3, "$anonfun at CompletableFuture.java:1768", "8", 12L)
    val d = new JobRec(4, "parquet at AppendSink.scala:36", "9", 13L)
    JobRec.resolve(Seq(a, b, c, d))
    assert(Seq(a, b, c, d).map(_.layer) == Seq("Chunking", "Chunking", "Chunking", "AppendSink"))
  }

  test("source rows: the same seed gives the same rows, another seed other rows") {
    val one = Gen.sourceRows(1L, 500).toList
    assert(Gen.sourceRows(1L, 500).toList == one)
    assert(Gen.sourceRows(2L, 500).toList != one)
    assert(Gen.expectedSource(1L, 500, Gen.sourceStart(500)) ==
      Gen.expectedSource(1L, 500, Gen.sourceStart(500)))
    // the start value is a timestamp value, so the inclusive boundary is exercised
    assert(one.exists(_.ts == Gen.sourceStart(500)))
    assert(one.exists(_.ts < Gen.sourceStart(500)))
    assert(one.exists(r => r.name == "NULL") || Gen.sourceRows(1L, 5000).exists(_.name == "NULL"))
  }

  test("landed form stringifies every type and drops the null literal") {
    val r = Gen.SourceRow(7L, 1600000060L, 12.25, java.math.BigDecimal.valueOf(12340, 2),
      "NULL", java.time.LocalDate.of(2021, 3, 4),
      java.time.LocalDateTime.of(2021, 3, 4, 5, 6, 7))
    assert(r.landed == Seq("7", "1600000060", "12.25", "123.40", null, "2021-03-04",
      "2021-03-04 05:06:07"))
  }

  test("parquet fixtures: the same seed gives the same tables, another seed others") {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      def rowsOf(seed: Long) = Seq(
        Gen.lineitem(spark, seed, 200, 50), Gen.orders(spark, seed, 50),
        Gen.documents(spark, seed, 20), Gen.events(spark, seed, 50),
        Gen.embeddings(spark, seed, 10)).map(_.collect().map(_.toString).toSeq)
      val one = rowsOf(1L)
      assert(rowsOf(1L) == one)
      rowsOf(2L).zip(one).foreach { case (other, same) => assert(other != same) }
      assert(one.head.size == 200)
    } finally spark.stop()
  }
}
