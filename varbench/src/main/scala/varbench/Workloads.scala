package varbench

import java.sql.Timestamp
import java.time.{DayOfWeek, LocalDate}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.risk._

/** Size of one chain run: the VaR chain's scale knobs. */
final case class Shape(tickers: Int, indicators: Int, days: Int, runs: Int)

/** Helpers shared by the workloads: configs, the traced chain, forcing. */
object Chain {
  val IndicatorNames = Seq("SP500", "NYSE", "OIL", "TREASURY", "DOWJONES")
  val TrialsTable = "monte_carlo_trials"
  /** The library's own small test shape (500 trials × 6 tickers × 120 days). */
  val Mini = Shape(tickers = 6, indicators = 3, days = 120, runs = 500)

  def config(s: Shape, seed: Long): VarPipeline.Config = VarPipeline.Config(
    tickers = (1 to s.tickers).map(i => f"TICK$i%03d"),
    indicators = IndicatorNames.take(s.indicators),
    days = s.days, runs = s.runs, seed = seed)

  /** Compute every column of `df` and discard the rows. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The notebook-03 hand-off: a clustered trials table, as
   * `VarPipeline.materializeHandoff` writes it. */
  def store(spark: SparkSession, trials: DataFrame): Unit =
    Warehouse.saveTable(spark, trials, TrialsTable, Seq("date", "ticker"), numFiles = 8)

  /** Drop every cached DataFrame and persisted RDD (the pipeline caches its
   * volatility table, the compliance report checkpoints locally), so one op
   * leaves nothing behind for the next. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** First run date: the chain runs weekly over the back half of the
   * history (as `VarPipeline.runDates` filters). */
  def cutoff(cfg: VarPipeline.Config): LocalDate = cfg.start.plusDays(cfg.days * 7 / 5 / 2)

  /** Run dates the chain should emit, worked out locally: Mondays from the
   * cutoff on, and from the third business day on (a volatility window
   * needs two returns). */
  def expectedRunDates(cfg: VarPipeline.Config): Seq[LocalDate] =
    Sources.businessDays(cfg.start, cfg.days).drop(2)
      .filter(d => d.getDayOfWeek == DayOfWeek.MONDAY && !d.isBefore(cutoff(cfg)))

  def ts(d: LocalDate): Timestamp = Timestamp.valueOf(d.atStartOfDay())

  /** Files and bytes a finished query's file scans selected (the scans'
   * `numFiles` and `filesSize` metrics). The tasks' input-bytes counter is
   * no use here: Parquet's vectored reads on the local file system bypass
   * it and it counts little more than the footers. */
  object Scans extends AdaptiveSparkPlanHelper {
    def filesRead(df: DataFrame): (Long, Long) = {
      val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics
      }
      def total(m: String) = scans.flatMap(_.get(m)).map(_.value).sum
      (total("numFiles"), total("filesSize"))
    }
  }
}

/**
 * One workload inside one Spark session. `op` is the timed unit (one
 * nightly batch, one analyst query, one backtest); `traced = true` runs
 * the same work layer by layer, each layer's output cached and counted
 * inside a span named after its `graft.risk` module.
 */
abstract class Workload(val spark: SparkSession, val tr: Tracer, val shape: Shape, val seed: Long) {
  import Chain._
  val cfg: VarPipeline.Config = config(shape, seed)
  lazy val pf: DataFrame = VarPipeline.portfolio(spark, cfg)
  /** (files, bytes) each traced query's scans selected, for the
   * `Warehouse.*_per_query` ratios. */
  val filesRead = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  /** Untraced work in set-up that brings the JIT and Spark's code
   * generator up to speed before the timed part. */
  def warmUp(): Unit
  /** Set-up beyond the warm-up (the var-query table build). */
  def prepare(traced: Boolean): Unit = ()
  /** An untraced run makes at least this many ops, and stops only after a
   * multiple of `opsPerRound`. */
  def minOps: Int = 2
  def opsPerRound: Int = 1
  def op(i: Int, traced: Boolean): Unit
  /** Layers the ops leave out, run once in a traced run so every layer
   * reports. */
  def tail(): Unit = ()
  /** Correctness checks that do not depend on the RNG's values. */
  def checks(c: Checks): Unit
  /** Bytes of the stored trials table per returned value (8-byte double). */
  def storedBytesPerReturn: Double = {
    val files = spark.table(TrialsTable).inputFiles
    val fs = new org.apache.hadoop.fs.Path(files.head).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = files.map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
    bytes.toDouble / (expectedRunDates(cfg).size.toLong * cfg.tickers.size * cfg.runs * 8L)
  }
  def storedFiles: Int = spark.table(TrialsTable).inputFiles.length

  private def layer(name: String)(df: => DataFrame): DataFrame = tr.span(name) {
    val c = df.persist()
    tr.rowsOut(c.count())
    c
  }

  /** `VarPipeline.monteCarloTrials`, one layer at a time, with the same
   * calls and arguments. Returns the trials and the market bars. */
  protected def tracedTrials(): (DataFrame, DataFrame) = {
    // marketVolatility
    val ind = layer("Sources")(Sources.syntheticIndicators(spark, cfg.indicators, cfg.start,
      cfg.days, cfg.seed + 1))
    val indRets = layer("Returns")(Returns.indicatorLogReturns(ind, "date", cfg.indicators))
    val vol = layer("Volatility")(Volatility.rollingStatsChunked(
      indRets.select(col("date"), col("features")),
      windowDays = cfg.volWindowDays, chunkDays = math.max(365, cfg.volWindowDays)))
    val runDates = vol.select(col("date"))
      .filter(dayofweek(col("date")) === 2 && col("date") >= lit(ts(cutoff(cfg))))
    val atRun = layer("AsOfJoin")(AsOfJoin
      .asofJoinBroadcast(runDates, vol.select(col("date"), col("vol_avg"), col("vol_cov")), "date")
      .filter(col("right_vol_cov").isNotNull)
      .select(col("date"), col("right_vol_avg").as("vol_avg"), col("right_vol_cov").as("vol_cov")))
    val mcMarket = layer("MonteCarlo.simulate")(MonteCarlo.simulateMarket(atRun, cfg.runs,
      numPartitions = spark.sparkContext.defaultParallelism))
    // trainedWeights
    val bars = layer("Sources")(Sources.syntheticMarketData(spark, cfg.tickers, cfg.start,
      cfg.days, globalSeed = cfg.seed))
    val ind2 = layer("Sources")(Sources.syntheticIndicators(spark, cfg.indicators, cfg.start,
      cfg.days, cfg.seed + 1))
    val indRets2 = layer("Returns")(Returns.indicatorLogReturns(ind2, "date", cfg.indicators))
    val stockRets = layer("Returns")(Returns.dailyLogReturns(bars)
      .select(col("ticker"), col("date"), col("return")))
    val joined = layer("AsOfJoin")(AsOfJoin
      .asofJoinBroadcast(stockRets, indRets2.select(col("date"), col("features")), "date")
      .filter(col("right_features").isNotNull))
    val weights = layer("Training.train")(
      Training.trainModels(joined, "ticker", "right_features", "return"))
    val fanned = mcMarket.crossJoin(broadcast(pf.select(col("ticker"))))
    val scored = layer("Training.score")(
      Training.score(fanned, weights, "ticker", "features", "return")
        .select(col("date"), col("ticker"), col("trial_id"), col("return")))
    (layer("MonteCarlo.collect")(MonteCarlo.collectTrialVectors(scored)), bars)
  }

  protected def tracedStore(trials: DataFrame): Unit = {
    val n = trials.count() // cached: no recompute, and kept out of the span
    tr.span("Warehouse.write") { store(spark, trials); tr.rowsOut(n) }
  }

  /** A VarEngine query over the stored table, collected inside a
   * `VarAggregation` span; returns the result as a local DataFrame. */
  protected def tracedQuery(q: DataFrame): DataFrame = tr.span("VarAggregation") {
    val rows = q.collect()
    filesRead += Scans.filesRead(q)
    tr.rowsOut(rows.length.toLong)
    spark.createDataFrame(rows.toList.asJava, q.schema)
  }

  /** `VarEngine.complianceReport`, one layer at a time. */
  protected def tracedReport(bars: DataFrame, varSeries: DataFrame): DataFrame = {
    val backtest = layer("Compliance")(Compliance.baselBacktest(
      Compliance.portfolioReturns(bars, pf), varSeries))
    layer("Calendar")(Calendar.reindexFfill(backtest, Nil, "date",
      Seq("return", "right_var_99", "breaches", "basel"))
      .withColumnRenamed("right_var_99", "var_99"))
  }

  protected def marketBars(): DataFrame =
    Sources.syntheticMarketData(spark, cfg.tickers, cfg.start, cfg.days, globalSeed = cfg.seed)

  protected def stored: DataFrame = Warehouse.table(spark, TrialsTable)

  protected def varSeries(trials: DataFrame): DataFrame =
    VarEngine.varTimeSeries(trials, pf).select(col("date"), col("var_99"))

  // ---- checks shared by the workloads

  /** Row count, vector length and NaN checks on the stored trials table. */
  protected def checkStoredTable(c: Checks): Unit = {
    val dates = expectedRunDates(cfg).size.toLong
    val t = stored
    c.check("trials rows = run dates x tickers", t.count() == dates * cfg.tickers.size,
      s"${t.count()} vs ${dates * cfg.tickers.size}")
    val bad = t.select(org.apache.spark.ml.functions.vector_to_array(col("returns")).as("v"))
      .filter(size(col("v")) =!= cfg.runs || exists(col("v"), x => isnan(x))).count()
    c.check("every vector has runs entries and no NaN", bad == 0, s"$bad bad vectors")
  }

  /** VaR and ES of sampled dates, recomputed in this process from the stored
   * vectors with VarMath, against VarEngine.varTimeSeries. */
  protected def checkVarLocally(c: Checks, series: DataFrame, sampled: Seq[LocalDate]): Unit = {
    val weights = pf.collect().map(r => r.getAs[String]("ticker") -> r.getAs[Double]("weight")).toMap
    val byDate = series.collect().map(r => r.getAs[Timestamp]("date").toLocalDateTime.toLocalDate -> r).toMap
    sampled.foreach { d =>
      val vecs = stored.filter(col("date") === lit(ts(d))).collect()
      val sum = new Array[Double](cfg.runs)
      vecs.foreach { r =>
        val w = weights(r.getAs[String]("ticker"))
        val v = r.getAs[org.apache.spark.ml.linalg.Vector]("returns").toArray
        var i = 0
        while (i < sum.length) { sum(i) += v(i) * w; i += 1 }
      }
      val row = byDate.get(d)
      val ok = row.exists { r =>
        math.abs(r.getAs[Double]("var_99") - VarMath.valueAtRisk(sum, 99)) <= 1e-9 &&
          math.abs(r.getAs[Double]("es_99") - VarMath.expectedShortfall(sum, 99)) <= 1e-9
      }
      c.check(s"VaR/ES at $d match VarMath recomputed locally", ok && vecs.length == cfg.tickers.size,
        s"row=$row vecs=${vecs.length}")
    }
  }

  protected def report(): DataFrame =
    VarEngine.complianceReport(marketBars(), pf, varSeries(stored))

  /** The notebook-05 report over the stored table: gap-free calendar,
   * zones from VarMath, and breach counts recomputed locally. */
  protected def checkReport(c: Checks): Unit = {
    val rep = report().orderBy("date").collect()
    val days = rep.map(_.getAs[java.sql.Date]("date").toLocalDate)
    val gapFree = days.nonEmpty && days.zip(days.tail).forall { case (a, b) => b == a.plusDays(1) }
    c.check("calendar is gap-free", gapFree, s"${days.length} days")
    val badZones = rep.count(r => r.getAs[Int]("basel") != VarMath.baselZone(r.getAs[Int]("breaches")))
    c.check("every zone = VarMath.baselZone(breaches)", badZones == 0, s"$badZones bad zones")

    // breach counts recomputed locally from the market bars and the
    // VaR series: returns in the trailing 250 calendar days, from the first
    // VaR date on, at or below the VaR in force on the day
    val weights = pf.collect().map(r => r.getAs[String]("ticker") -> r.getAs[Double]("weight")).toMap
    val portRet = scala.collection.mutable.TreeMap.empty[LocalDate, Double]
    marketBars().select("ticker", "date", "close").collect()
      .groupBy(_.getString(0)).foreach { case (t, rows) =>
        val sorted = rows.sortBy(_.getTimestamp(1).getTime)
        sorted.indices.foreach { i =>
          val prev = sorted(math.max(0, i - 1)).getDouble(2)
          val d = sorted(i).getTimestamp(1).toLocalDateTime.toLocalDate
          portRet(d) = portRet.getOrElse(d, 0.0) + math.log(sorted(i).getDouble(2) / prev) * weights(t)
        }
      }
    val vars = scala.collection.immutable.TreeMap(varSeries(stored).collect()
      .map(r => r.getTimestamp(0).toLocalDateTime.toLocalDate -> r.getDouble(1)).toSeq: _*)
    val firstVar = vars.firstKey
    val byDay = rep.map(r => r.getAs[java.sql.Date]("date").toLocalDate -> r).toMap
    val tradingDays = portRet.keys.filter(!_.isBefore(firstVar)).toSeq
    sampleDates(tradingDays, 20).foreach { d =>
      val v = vars.maxBefore(d.plusDays(1)).get._2
      val expected = portRet.range(Seq(d.minusDays(250), firstVar).max, d.plusDays(1))
        .values.count(_ <= v)
      val got = byDay.get(d).map(_.getAs[Int]("breaches"))
      c.check(s"breaches at $d match a local recount", got.contains(expected), s"$got vs $expected")
    }
  }

  protected def sampleDates(all: Seq[LocalDate], n: Int): Seq[LocalDate] =
    new scala.util.Random(seed).shuffle(all).take(n).sorted
}

/** Nightly batch: Config → trials table → Warehouse.saveTable. */
final class McBatch(spark: SparkSession, tr: Tracer, shape: Shape, seed: Long)
    extends Workload(spark, tr, shape, seed) {
  import Chain._

  /** A batch at the library's small test shape (class loading, code
   * generation), then two at the workload's own shape. A batch keeps
   * getting faster over its first four or five runs in a JVM, as C2
   * compiles the row code, and the small shape moves too few rows to get
   * there. */
  def warmUp(): Unit = {
    new McBatch(spark, tr, Mini, seed).op(0, traced = false)
    for (_ <- 1 to 2) op(0, traced = false)
  }

  /** Three batches, so one slow batch does not move the median. */
  override def minOps: Int = 3

  def op(i: Int, traced: Boolean): Unit = {
    if (traced) tr.span("op") {
      tracedStore(tracedTrials()._1)
      release(spark)
    }
    else {
      store(spark, VarPipeline.monteCarloTrials(spark, cfg))
      release(spark)
    }
  }

  override def tail(): Unit = tr.span("tail") {
    val series = tracedQuery(VarEngine.varTimeSeries(stored, pf))
    tracedReport(marketBars(), series.select(col("date"), col("var_99")))
    release(spark)
  }

  def checks(c: Checks): Unit = {
    checkStoredTable(c)
    checkVarLocally(c, VarEngine.varTimeSeries(stored, pf),
      sampleDates(expectedRunDates(cfg), 2))
  }
}

/** Analyst session: a seeded query mix over a stored trials table. */
final class VarQuery(spark: SparkSession, tr: Tracer, shape: Shape, seed: Long)
    extends Workload(spark, tr, shape, seed) {
  import Chain._
  private lazy val runDates: IndexedSeq[LocalDate] = expectedRunDates(cfg).toIndexedSeq
  private lazy val industries: Seq[String] =
    pf.select("industry").distinct().collect().map(_.getString(0)).toSeq.sorted
  /** Kind and run-date draw of each query, made up front from the seed.
   * Each block of six queries holds every kind once, in a seeded order, and
   * a run measures whole blocks: the latencies cluster by kind, so a
   * partial block would move the percentiles with the seed. */
  private val plan = {
    val rng = new scala.util.Random(seed)
    IndexedSeq.fill(20000)(rng.shuffle((0 until VarQuery.Kinds).toIndexedSeq)).flatten
      .map(k => (k, rng.nextInt(Int.MaxValue)))
  }

  /** The table build in `prepare` warms the chain and the queries. */
  def warmUp(): Unit = ()

  /** Build and store the table, then run every query kind three times so
   * the timed queries start with their code compiled: a block of six
   * queries keeps getting faster over its first five or so rounds in a
   * JVM. This warm-up replaces the small-shape one: the build itself warms
   * the chain. */
  override def prepare(traced: Boolean): Unit = {
    if (traced) tr.span("build") {
      val (trials, _) = tracedTrials()
      tracedStore(trials)
    }
    else store(spark, VarPipeline.monteCarloTrials(spark, cfg))
    release(spark)
    for (r <- 0 until 3; k <- 0 until VarQuery.Kinds) force(query(k, r))
  }

  /** A query of kind `kind` over the stored table; `r` picks its run date. */
  def query(kind: Int, r: Int): DataFrame = {
    val d = runDates(r % runDates.size)
    val t = stored
    kind match {
      case 0 => VarEngine.varTimeSeries(t, pf)
      case 1 => VarEngine.riskExposure(t, pf, "country")
      case 2 => VarEngine.riskExposure(t, pf, "industry")
      case 3 => VarEngine.riskContribution(t, pf, "industry", industries)
      case 4 => VarEngine.pointInTimeVar(t, pf, Some(ts(d)))
      case _ => VarEngine.riskExposure(
        t.filter(col("date") >= lit(ts(d)) && col("date") < lit(ts(d.plusDays(28)))),
        pf, "country")
    }
  }

  /** Four blocks. A run that counted only the blocks that fit in its time
   * would make fewer on a slower machine, and those are the less warm
   * ones, so the median would move by more than the machine's speed. */
  override def minOps: Int = 4 * VarQuery.Kinds
  override def opsPerRound: Int = VarQuery.Kinds

  def op(i: Int, traced: Boolean): Unit = {
    val (kind, r) = plan(i)
    if (traced) tr.span("op")(tracedQuery(query(kind, r)))
    else force(query(kind, r))
  }

  override def tail(): Unit = tr.span("tail") {
    tracedReport(marketBars(), varSeries(stored))
    release(spark)
  }

  def checks(c: Checks): Unit = {
    val t = stored
    val n = runDates.size
    val countries = pf.select("country").distinct().count()
    val series = VarEngine.varTimeSeries(t, pf).collect()
    c.check("varTimeSeries rows = dates", series.length == n, s"${series.length} vs $n")
    val byCountry = VarEngine.riskExposure(t, pf, "country").count()
    c.check("riskExposure(country) rows = dates x countries", byCountry == n * countries,
      s"$byCountry vs ${n * countries}")
    val byIndustry = VarEngine.riskExposure(t, pf, "industry").count()
    c.check("riskExposure(industry) rows = dates x industries",
      byIndustry == n.toLong * industries.size, s"$byIndustry vs ${n * industries.size}")
    val contrib = VarEngine.riskContribution(t, pf, "industry", industries).collect()
    val badSums = contrib.count(r => math.abs(industries.map(r.getAs[Double](_)).sum - 1.0) > 1e-9)
    c.check("riskContribution rows = dates, each sums to 1",
      contrib.length == n && badSums == 0, s"${contrib.length} rows, $badSums bad sums")
    val varAt = series.map(r => r.getAs[Timestamp]("date") -> r.getAs[Double]("var_99")).toMap
    sampleDates(runDates, 2).foreach { d =>
      val p = VarEngine.pointInTimeVar(t, pf, Some(ts(d))).collect()
      c.check(s"pointInTimeVar at $d = varTimeSeries row",
        p.length == 1 && varAt.get(ts(d)).exists(v => math.abs(v - p(0).getAs[Double]("var_99")) <= 1e-9),
        s"${p.toSeq}")
    }
    val from = sampleDates(runDates, 1).head
    val inWindow = runDates.count(d => !d.isBefore(from) && d.isBefore(from.plusDays(28)))
    val filtered = VarEngine.riskExposure(
      t.filter(col("date") >= lit(ts(from)) && col("date") < lit(ts(from.plusDays(28)))),
      pf, "country").count()
    c.check("4-week riskExposure rows = dates in window x countries",
      filtered == inWindow * countries, s"$filtered vs ${inWindow * countries}")
  }
}

object VarQuery { val Kinds = 6 }

/** Long-history Basel backtest: Config → trials table → stored table →
 * VaR series → daily forward-filled compliance report. */
final class Backtest(spark: SparkSession, tr: Tracer, shape: Shape, seed: Long)
    extends Workload(spark, tr, shape, seed) {
  import Chain._

  /** One backtest at the library's small test shape. */
  def warmUp(): Unit = new Backtest(spark, tr, Mini, seed).op(0, traced = false)

  def op(i: Int, traced: Boolean): Unit = {
    if (traced) tr.span("op") {
      val (trials, bars) = tracedTrials()
      tracedStore(trials)
      val series = tracedQuery(VarEngine.varTimeSeries(stored, pf))
      tracedReport(bars, series.select(col("date"), col("var_99")))
    }
    else {
      store(spark, VarPipeline.monteCarloTrials(spark, cfg))
      force(report())
    }
    release(spark)
  }

  def checks(c: Checks): Unit = checkReport(c)
}

/** Pass/fail record of the correctness checks. */
final class Checks {
  val results = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    results += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"CHECK FAILED: $name: $detail")
  }
  def attempted: Int = results.size
  def failed: Int = results.count(!_._2)
}
