package varbench

import java.lang.management.{ManagementFactory, MemoryType}

import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * Benchmark program for the `graft.risk` VaR chain. One process, one
 * `local[cores]` session, one client thread issuing ops in a closed loop.
 *
 *   varbench.Main --workload mc-batch|var-query|backtest --seed N
 *     --seconds S --trace 0|1 --shape tickers,indicators,days,runs
 *     --work DIR --result FILE
 *
 * Writes two JSON lines to `--result`: a context record, then the
 * benchmark record (`correct`, `attempted`, `failed`, `metrics`). With
 * `--trace 1` the metrics are per-layer and the spans go to
 * `DIR/trace.jsonl`.
 */
object Main {
  val Layers = Seq("Sources", "Returns", "Volatility", "Training.train", "AsOfJoin",
    "MonteCarlo.simulate", "Training.score", "MonteCarlo.collect", "Warehouse.write",
    "VarAggregation", "Compliance", "Calendar")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      shape: Shape, work: Path, result: Path)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val Array(t, i, d, r) = need("shape").split(",").map(_.trim.toInt)
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Shape(t, i, d, r), Paths.get(need("work")).toAbsolutePath, Paths.get(need("result")))
  }

  private def make(name: String, spark: SparkSession, tr: Tracer, shape: Shape,
      seed: Long): Workload = name match {
    case "mc-batch" => new McBatch(spark, tr, shape, seed)
    case "var-query" => new VarQuery(spark, tr, shape, seed)
    case "backtest" => new Backtest(spark, tr, shape, seed)
    case other => sys.error(s"unknown workload $other")
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("varbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Linear-interpolated percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toArray
    if (s.isEmpty) Double.NaN else graft.risk.VarMath.percentileOfSorted(s, p)
  }

  /** Largest heap occupancy left after a garbage collection (the live
   * data) since `reset`. The raw pool peaks track the young generation's
   * sizing, not the program's memory. */
  object HeapWatch {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peak = 0L
    def reset(): Unit = peak = 0L
    def peakMb: Double = peak / 1048576.0
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (used > peak) peak = used
          }, null, null)
      case _ => ()
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val runStart = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val runId = s"${a.workload}-${a.seed}-${if (a.trace) "traced" else "untraced"}"

    // ---- set-up: session start, the workload's untraced warm-up (JIT,
    // codegen; see Workload.warmUp) and its own preparation
    val t0 = System.nanoTime()
    val spark = session(cores, a.work)
    val t1 = System.nanoTime()
    val tr = new Tracer(spark.sparkContext, a.trace, runId)
    val wl = make(a.workload, spark, tr, a.shape, a.seed)
    wl.warmUp()
    val t2 = System.nanoTime()
    wl.prepare(traced = a.trace)
    val t3 = System.nanoTime()
    val setupS = (t3 - t0) / 1e9
    System.err.println(f"setup: session ${(t1 - t0) / 1e9}%.2f s, " +
      f"warm-up ${(t2 - t1) / 1e9}%.2f s, prepare ${(t3 - t2) / 1e9}%.2f s")

    // a full collection, outside both parts, so the heap peak does not
    // depend on how much of the set-up's garbage is still in the old
    // generation
    System.gc()

    // ---- timed part: closed loop, one op at a time, for `seconds`. An
    // untraced run makes at least the workload's `minOps`, so its median
    // is not one op's time, and ends on a whole round of its ops. A traced
    // run alternates untraced and traced ops, at least one of each, so both
    // totals come from one run. A failed op counts in `failed` and not in
    // the latencies.
    HeapWatch.reset()
    val untracedMs = ArrayBuffer.empty[Double]
    val tracedS = ArrayBuffer.empty[Double]
    val tried = Array(0, 0) // untraced, traced
    var failedOps = 0
    var i = 0
    val timedStart = System.nanoTime()
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    def enough =
      if (a.trace) tried.forall(_ >= 1) else tried(0) >= wl.minOps && tried(0) % wl.opsPerRound == 0
    while (elapsed < a.seconds || !enough) {
      val traced = a.trace && i % 2 == 1
      val s = System.nanoTime()
      val ok =
        try { wl.op(i, traced); true }
        catch {
          case e: Exception =>
            System.err.println(s"op $i failed: $e")
            false
        }
      val d = (System.nanoTime() - s) / 1e9
      tried(if (traced) 1 else 0) += 1
      if (!ok) failedOps += 1
      else if (traced) tracedS += d
      else untracedMs += d * 1000
      System.err.println(f"op $i ${if (traced) "traced" else "untraced"} $d%.3f s")
      i += 1
    }
    val peakHeapMb = HeapWatch.peakMb
    if (a.trace) wl.tail()

    // ---- correctness, outside the timed part
    val checks = new Checks
    val tc = System.nanoTime()
    try wl.checks(checks)
    catch { case e: Exception => checks.check("checks ran", ok = false, e.toString) }
    val storedBpr = wl.storedBytesPerReturn
    System.err.println(f"checks ${(System.nanoTime() - tc) / 1e9}%.2f s")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", percentile(untracedMs.toSeq, 50), "ms"),
        ("op_p90_ms", percentile(untracedMs.toSeq, 90), "ms"),
        ("stored_bytes_per_return", storedBpr, "B"))
      else layerMetrics(tr, wl, cores, percentile(untracedMs.toSeq, 50) / 1000,
        percentile(tracedS.toSeq, 50))

    val attempted = i + checks.attempted
    val failed = failedOps + checks.failed
    val alias = a.workload match {
      case "mc-batch" => "batch_s"
      case "var-query" => "query_s"
      case _ => "backtest_s"
    }
    val context = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"),
      "cores" -> cores.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark" -> Json.str(spark.version),
      "shape" -> Json.str(s"tickers=${a.shape.tickers} indicators=${a.shape.indicators} " +
        s"days=${a.shape.days} runs=${a.shape.runs}"),
      "ops" -> untracedMs.size.toString,
      "traced_ops" -> tracedS.size.toString,
      s"${alias}_p50" -> Json.num(percentile(untracedMs.toSeq, 50) / 1000),
      "failed_ops_frac" -> Json.num(failed.toDouble / attempted),
      "peak_heap_mb" -> Json.num(peakHeapMb),
      "failed_checks" -> checks.results.filterNot(_._2).map(r => Json.str(r._1)).mkString("[", ",", "]"),
      "run_s" -> Json.num((System.nanoTime() - runStart) / 1e9)))
    val record = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    if (a.trace) tr.write(a.work.resolve("trace.jsonl"), runStart)
    spark.stop()
    Files.write(a.result, Seq(context, record).asJava)
    ()
  }

  /** Per-layer rows of a traced run. Each layer's sums are divided by the
   * number of root spans (ops, builds, tails) that ran it, so a value is
   * per batch, per backtest, per query or per table build. */
  private def layerMetrics(tr: Tracer, wl: Workload, cores: Int, untracedS: Double,
      tracedS: Double): Seq[(String, Double, String)] = {
    val spans = tr.allSpans
    def of(layer: String) = spans.filter(_.name == layer)
    def sum(layer: String): Counters = {
      val c = new Counters
      of(layer).foreach(s => c.add(tr.listener.countersOf(s.id)))
      c
    }
    def rows(layer: String) = of(layer).flatMap(s => tr.rowsOf(s.id)).sum.toDouble
    val perLayer = Layers.flatMap { l =>
      val n = math.max(1, of(l).map(_.root).distinct.size).toDouble
      val c = sum(l)
      val wall = of(l).map(tr.selfNs).sum / 1e9 / n
      val cpu = c.cpuNs / 1e9 / n
      Seq(
        (s"$l.wall_s", wall, "s"),
        (s"$l.stages", c.stages / n, "count"),
        (s"$l.cpu_s", cpu, "s"),
        (s"$l.util", if (wall > 0) cpu / (wall * cores) else 0.0, "ratio"),
        (s"$l.wait_s", c.waitMs / 1e3 / n, "s"),
        (s"$l.shuffle_write_mb", c.shuffleWriteBytes / 1e6 / n, "MB"),
        (s"$l.spill_mb", c.spillBytes / 1e6 / n, "MB"),
        (s"$l.skew", c.skew, "ratio"),
        (s"$l.rows_out", rows(l) / n, "count"),
        (s"$l.retried_tasks", c.retried / n, "count"))
    }
    val queries = math.max(1, wl.filesRead.size)
    val ratios = Seq(
      ("Volatility.replication", sum("Volatility").shuffleReadRecords / math.max(1.0, rows("Volatility")), "ratio"),
      ("MonteCarlo.collect.shuffle_rows_per_value", sum("MonteCarlo.collect").shuffleWriteRecords /
        math.max(1.0, rows("MonteCarlo.collect") * wl.cfg.runs), "ratio"),
      ("Warehouse.read_mb_per_query", wl.filesRead.map(_._2).sum / 1e6 / queries, "MB"),
      ("Warehouse.files_read_frac",
        wl.filesRead.map(_._1).sum.toDouble / queries / wl.storedFiles, "ratio"),
      ("trace.untraced_s", untracedS, "s"),
      ("trace.traced_s", tracedS, "s"),
      ("trace.overhead_s", tracedS - untracedS, "s"))
    perLayer ++ ratios
  }
}

/** Just enough JSON for the two output lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  /** Every digit of the double; JSON has no NaN, so a missing value is null. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
