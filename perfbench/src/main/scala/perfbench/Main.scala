package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: builds one workload's inputs from the seed, times its
  * operations for a fixed window, checks their outputs and writes the
  * metrics as one JSON object to `--out`. `perfbench/run.py` builds the
  * program, starts this JVM, adds the DuckDB lane check and prints the
  * result line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  */
object Main {

  /** Set-up repetitions; `setup_s` takes the median input build. */
  val SetupReps = 3
  /** Untraced/traced iteration pairs taken even when the window has run out. */
  val TracedPairs = 3

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String)

  def parse(args: Seq[String]): Opts = {
    val kv = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"))
  }

  def session(work: String, lanes: Boolean): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (lanes) graft.GraftExtensions.registerAll(spark)
    spark
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** One operation: untimed reset, the timed call (a span when traced), an
    * untimed row check. */
  def runOp(wl: Workload, op: String, spans: Spans): OpResult = {
    wl.reset()
    val t0 = System.nanoTime()
    val rows = try Some(spans(op)(wl.run(op))) catch { case NonFatal(e) =>
      log(s"$op failed: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
    val dt = secs(t0)
    val ok = rows.exists(r => wl.rowsOk(op, r))
    if (rows.isDefined && !ok) log(s"$op delivered ${rows.get} rows, expected otherwise")
    OpResult(op, dt, rows.getOrElse(0L), ok)
  }

  def iteration(wl: Workload, spans: Spans): Seq[OpResult] =
    wl.ops.map(op => runOp(wl, op, spans))

  def main(args: Array[String]): Unit = {
    val o = parse(args.toIndexedSeq)
    val jvmStart = Host.jvmStartMs()
    val tCanary = System.nanoTime()
    val canaryStart = Host.canary()
    val canaryS = secs(tCanary)
    val spark = session(o.work, lanes = o.workload == "lanes_mix")
    spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect() // untimed warm-up
    val sessionReady = System.currentTimeMillis()
    val wl = Workload(o.workload, spark, o.work, o.seed)
    val repS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime(); wl.prepare(r); secs(t0)
    }
    wl.use(SetupReps / 2, SetupReps)
    // JVM start to a ready session (the canary excluded), plus the median
    // input build
    val setupS = (sessionReady - jvmStart) / 1e3 - canaryS + Stats.median(repS)
    log(f"setup: session ${(sessionReady - jvmStart) / 1e3}%.2f s, " +
      f"inputs ${repS.map(s => f"$s%.2f").mkString("/")} s")

    val m = new Metrics
    val ticks0 = Host.cpuTicks()
    val res = if (o.trace) traced(spark, wl, o, m) else untraced(wl, o, m)
    val steal = Host.stealRatio(ticks0, Host.cpuTicks())
    m("setup_s", setupS, "s")
    val canaryEnd = Host.canary()

    wl match {
      case l: LanesMix => l.writeOracles()
      case _ =>
    }
    if (o.trace) {
      m("host.canary_s", math.max(canaryStart, canaryEnd), "s")
      m("host.load_avg", Host.loadAvg(), "load")
      m("host.steal_ratio", steal, "ratio")
      m("jvm.jit_s", Host.jitS(), "s")
      m("jvm.gc_s", Host.gcS(), "s")
      m("jvm.classes_loaded", Host.classesLoaded().toDouble, "count")
    }
    log(f"canary ${canaryStart}%.3f s at start, ${canaryEnd}%.3f s at end; " +
      f"load ${Host.loadAvg()}%.2f; CPU stolen by the host ${steal * 100}%.1f %%")

    val all = res.cold ++ res.untimed ++ res.warm.flatten
    val out = Map(
      "workload" -> wl.name,
      "attempted" -> (all.size + res.contentChecks),
      "failed" -> (all.count(!_.ok) + res.contentFailures),
      "op_runs" -> all.groupBy(_.op).map { case (k, v) => k -> v.size },
      "metrics" -> m.toMap,
      "lanes_dir" -> (wl match { case l: LanesMix => l.resultsDir; case _ => "" }),
      "fixture_dir" -> (wl match { case l: LanesMix => l.fixtureDir; case _ => "" }))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), Json(out))
    spark.stop()
  }

  /** Timed cold and warm iterations, the untimed warm-up operations, and
    * the content checks made. */
  final case class Result(cold: Seq[OpResult], warm: Seq[Seq[OpResult]],
                          untimed: Seq[OpResult], contentChecks: Int,
                          contentFailures: Int)

  /** Ordered metric map: name -> (value, unit). */
  final class Metrics {
    private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def apply(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
    def toMap: collection.Map[String, Map[String, Any]] =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
  }

  private def contentCheck(wl: Workload): Boolean = {
    val ok = try wl.contentOk() catch { case NonFatal(e) =>
      log(s"content check failed: ${e.getMessage}"); false }
    if (!ok) log(s"${wl.name}: sink content differs from the generator's")
    ok
  }

  /** The end-to-end metrics: a cold iteration, then warm iterations until
    * the window closes. */
  def untraced(wl: Workload, o: Opts, m: Metrics): Result = {
    val coldCpu0 = Host.cpuS()
    val cold = iteration(wl, Spans.Off)
    m("cold_cpu_s", Host.cpuS() - coldCpu0, "s")
    val coldOk = contentCheck(wl)
    val untimed = Seq.fill(wl.warmup)(iteration(wl, Spans.Off)).flatten
    val tWindow = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[Seq[OpResult]]
    val cpu0 = Host.cpuS()
    while (warm.size < wl.minWarm || secs(tWindow) < o.seconds)
      warm += iteration(wl, Spans.Off)
    val cpuS = (Host.cpuS() - cpu0) / warm.size
    val lastOk = contentCheck(wl)
    val iters = warm.map(_.map(_.seconds).sum).toSeq
    m("cold_s", cold.map(_.seconds).sum, "s")
    m("iter_p50_s", Stats.median(iters), "s")
    m("rows_per_s", wl.rowsPerIteration(cold) / Stats.median(iters), "rows/s")
    m("cpu_s", cpuS, "s")
    val perOp = wl.ops.map(op => Stats.median(warm.toSeq.flatten.filter(_.op == op).map(_.seconds)))
    m("lanes_geomean_s", Stats.geomean(perOp), "s")
    if (wl.ops.size > 1) wl.ops.zip(perOp).foreach { case (op, t) => log(f"  $op%-20s p50 $t%.3f s") }
    log(f"${wl.name}: cold ${cold.map(_.seconds).sum}%.3f s; ${iters.size} warm " +
      f"iterations, p50 ${Stats.median(iters)}%.3f s: ${iters.map(t => f"$t%.2f").mkString(" ")}")
    Result(cold, warm.toSeq, untimed, 2, Seq(coldOk, lastOk).count(!_))
  }

  /** The per-layer metrics: untraced and traced iterations alternate in
    * one window, so the tracing overhead is their difference. */
  def traced(spark: SparkSession, wl: Workload, o: Opts, m: Metrics): Result = {
    val probe = new Probe(spark)
    val tracer = new Tracer
    val nsAnchor = System.nanoTime()
    val msAnchor = System.currentTimeMillis()
    def ns(ms: Long): Long = nsAnchor + (ms - msAnchor) * 1000000L

    /** Run `body` traced; attach its Spark jobs as child spans. */
    def tracedUnit[A](body: => A): (A, Window, Seq[(Span, JobRec)]) = {
      probe.take()
      probe.active = true
      val a = try body finally probe.active = false
      val w = probe.take()
      JobRec.resolve(w.jobs.toSeq)
      val jobs = w.jobs.toSeq.map(j =>
        tracer.addChild(s"job.${j.layer}", ns(j.startMs), ns(j.endMs)) -> j)
      (a, w, jobs)
    }

    val cold = iteration(wl, Spans.Off)
    m("cold_s", cold.map(_.seconds).sum, "s")
    val coldOk = contentCheck(wl)
    val untimed = Seq.fill(wl.warmup)(iteration(wl, Spans.Off)).flatten
    val tWindow = System.nanoTime()
    val cpu0 = Host.cpuS()
    val plain = mutable.ArrayBuffer.empty[Seq[OpResult]]
    val traced = mutable.ArrayBuffer.empty[(Seq[OpResult], Window, Span, Seq[(Span, JobRec)])]
    // per layer replay: its iteration id and its jobs
    val layers = mutable.ArrayBuffer.empty[(Int, Seq[(Span, JobRec)])]
    val sinkFiles = mutable.ArrayBuffer.empty[(Long, Long)]
    var intervals = 0
    while (traced.size < TracedPairs || secs(tWindow) < o.seconds) {
      plain += iteration(wl, Spans.Off)
      tracer.iter += 1
      val (res, w, jobs) = tracedUnit(tracer("iteration")(iteration(wl, tracer)))
      val root = tracer.spans.filter(s => s.iter == tracer.iter && s.name == "iteration").last
      traced += ((res, w, root, jobs))
      wl match {
        case e: EtlJdbc =>
          sinkFiles += e.sinkFiles(e.sinkDir)
          tracer.iter += 1
          val (n, _, ljobs) = tracedUnit(tracer("layers")(e.layers(tracer)))
          intervals = n
          layers += ((tracer.iter, ljobs))
        case p: EtlParquet => sinkFiles += p.sinkFiles(p.sinkDir)
        case _ =>
      }
    }
    val wall = secs(tWindow)
    val cpu = Host.cpuS() - cpu0
    val lastOk = contentCheck(wl)

    def med(f: ((Seq[OpResult], Window, Span, Seq[(Span, JobRec)])) => Double): Double =
      Stats.median(traced.toSeq.map(f))
    def spansNamed(iterSpan: Span, name: String): Seq[Span] =
      tracer.spans.filter(s => s.iter == iterSpan.iter && s.name == name)
    def jobTime(jobs: Seq[(Span, JobRec)], layer: String): Double =
      Stats.unionLength(jobs.collect { case (s, j) if j.layer == layer => (s.start, s.end) }) / 1e9

    val plainP50 = Stats.median(plain.toSeq.map(_.map(_.seconds).sum))
    val tracedP50 = med(_._1.map(_.seconds).sum)
    // loop wall during which no Spark job runs: each operation span's self time
    m("cli.driver_s", med { case (_, _, root, _) =>
      wl.ops.flatMap(op => spansNamed(root, op)).map(tracer.selfTime).sum / 1e9 }, "s")

    // chunk planning, scan, stringify and sink
    val etl = wl match {
      case e: EtlJdbc =>
        def layerDur(name: String): Double = Stats.median(layers.toSeq.map { case (it, _) =>
          tracer.spans.filter(s => s.iter == it && s.name == name).map(_.dur).sum / 1e9
        })
        def scanJobs(jobs: Seq[(Span, JobRec)]): Seq[JobRec] = {
          val scanIds = tracer.spans.filter(_.name == "source.scan").map(_.id).toSet
          jobs.collect { case (s, j) if scanIds(s.parent) => j }
        }
        val planS = layerDur("chunking.plan")
        val scanS = layerDur("source.scan")
        val strS = layerDur("rowops.stringify") - scanS
        val appendS = layerDur("sink.append") - layerDur("rowops.stringify")
        val readS = layerDur("sink.readback")
        val commitS = Stats.median(layers.toSeq.map { case (it, jobs) =>
          tracer.spans.filter(s => s.iter == it && s.name == "sink.append").map { a =>
            val ends = jobs.collect { case (s, _) if s.parent == a.id => s.end }
            (a.end - (if (ends.isEmpty) a.start else ends.max)) / 1e9
          }.sum
        })
        val lastScan = scanJobs(layers.last._2)
        val taskRun = lastScan.flatMap(_.taskRunS)
        val taskRows = lastScan.flatMap(_.taskRecords).map(_.toDouble)
        m("chunking.plan_s", planS, "s")
        m("chunking.chunks", e.gridChunks().toDouble, "count")
        m("chunking.scan_intervals", intervals.toDouble, "count")
        m("chunking.rows_read", Stats.median(layers.toSeq.map { case (_, jobs) =>
          jobs.collect { case (_, j) if j.layer == "Chunking" => j.taskRecords.sum }.sum.toDouble
        }), "rows")
        m("source.scan_s", scanS, "s")
        m("source.partitions", lastScan.map(_.tasks).sum.toDouble, "count")
        m("source.rows", taskRows.sum, "rows")
        m("source.task_p50_s", if (taskRun.isEmpty) 0.0 else Stats.median(taskRun), "s")
        m("source.task_p90_s", if (taskRun.isEmpty) 0.0 else Stats.quantile(taskRun, 0.9), "s")
        m("source.skew", if (taskRows.isEmpty || Stats.median(taskRows) == 0) 0.0
          else taskRows.max / Stats.median(taskRows), "ratio")
        m("rowops.stringify_s", strS, "s")
        m("sink.append_s", appendS, "s")
        m("sink.commit_s", commitS, "s")
        m("sink.readback_s", readS, "s")
        Some(planS + scanS + strS + appendS + readS)
      case _: EtlParquet =>
        val planS = med { case (_, _, _, jobs) => jobTime(jobs, "Chunking") }
        val appendS = med { case (_, _, _, jobs) => jobTime(jobs, "AppendSink") }
        val readS = med { case (_, _, _, jobs) => jobTime(jobs, "GraftCli") }
        m("chunking.plan_s", planS, "s")
        m("chunking.rows_read", med { case (_, _, _, jobs) =>
          jobs.collect { case (_, j) if j.layer == "Chunking" => j.taskRecords.sum }.sum.toDouble
        }, "rows")
        m("sink.append_s", appendS, "s")
        m("sink.readback_s", readS, "s")
        Some(planS + appendS + readS)
      case _ => None
    }
    if (sinkFiles.nonEmpty) {
      m("sink.files", sinkFiles.last._1.toDouble, "count")
      m("sink.bytes", sinkFiles.last._2.toDouble, "bytes")
    }

    // Spark runtime, summed per iteration
    m("spark.jobs", med(_._2.jobs.size.toDouble), "count")
    m("spark.tasks", med(_._2.tasks.toDouble), "count")
    m("spark.task_run_s", med(_._2.taskRunS), "s")
    m("spark.task_cpu_s", med(_._2.taskCpuS), "s")
    m("spark.gc_s", med(_._2.gcS), "s")
    m("spark.shuffle_write_bytes", med(_._2.shuffleWrite.toDouble), "bytes")
    m("spark.shuffle_read_bytes", med(_._2.shuffleRead.toDouble), "bytes")
    m("spark.fetch_wait_s", med(_._2.fetchWaitS), "s")
    m("spark.spill_bytes", med(_._2.spill.toDouble), "bytes")
    m("spark.peak_exec_mem_mb", med(_._2.peakExecMem / 1048576.0), "MB")
    // plan nodes and Catalyst
    m("node.scan_s", med(_._2.scanS), "s")
    m("node.sort_s", med(_._2.sortS), "s")
    m("node.agg_s", med(_._2.aggS), "s")
    m("node.shuffle_s", med(_._2.shuffleS), "s")
    m("catalyst.planning_s", med(_._2.planningS), "s")
    Probe.Rules.foreach(r => m(s"plans.rule_hits.$r", med(_._2.ruleHits(r).toDouble), "count"))
    m("plans.rule_s", med(_._2.ruleS), "s")
    wl match {
      case l: LanesMix => l.Lanes.foreach { lane =>
        m(s"lane.${lane}_s", med(_._1.filter(_.op == lane).map(_.seconds).sum), "s") }
      case _ =>
    }
    // every iteration must do the same work
    val taskCounts = traced.map(_._2.tasks).distinct
    val fileCounts = sinkFiles.map(_._1).distinct
    m("state.repeats", if (taskCounts.size == 1 && fileCounts.size <= 1) 1.0 else 0.0, "bool")
    if (taskCounts.size > 1 || fileCounts.size > 1)
      log(s"iterations differ: tasks ${traced.map(_._2.tasks).mkString(",")} " +
        s"files ${sinkFiles.map(_._1).mkString(",")}")
    m("host.cpu_wall_ratio", cpu / wall, "ratio")
    m("trace.overhead_s", tracedP50 - plainP50, "s")
    m("trace.residual_s", etl.map(tracedP50 - _).getOrElse(0.0), "s")
    log(f"${wl.name}: untraced p50 $plainP50%.3f s, traced p50 $tracedP50%.3f s " +
      s"over ${traced.size} pairs")

    tracer.write(o.out.stripSuffix(".json") + ".spans.jsonl")
    Result(cold, plain.toSeq ++ traced.map(_._1).toSeq, untimed, 2,
      Seq(coldOk, lastOk).count(!_))
  }
}
