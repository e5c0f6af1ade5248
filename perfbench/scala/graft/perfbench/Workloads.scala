package graft.perfbench

import java.util.SplittableRandom

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{SparkEntry, Sweep}
import graft.eval.{BarrierSim, Folds, WalkForward}
import graft.operators.{BarFrame, Barriers, Laguerre}
import graft.queries.EventBars
import graft.sources.ResultSink

/** An output that does not match what the program must produce. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What an operation completed: a label (the query name, or the workload),
  * its units of work (configs, barriers, queries), and the check of its
  * output, which the loop runs after the operation's clock stops. */
final case class Done(label: String, work: Double, verify: () => Unit)

/** One workload: a set-up the benchmark repeats, and an operation the
  * closed loop runs back to back. With `decomposed`, the operation calls
  * each layer separately and materializes its output, so the tracer sees
  * one span per layer. */
abstract class Workload(val spark: SparkSession, val tmp: String, val seed: Long,
    val cores: Int, tracer: Option[Tracer]) {
  def name: String
  def setupReps: Int
  def setup(rep: Int): Unit
  def op(i: Int, decomposed: Boolean): Done
  /** The untimed operation that fills JIT and codegen caches first. */
  def warmUp(): Unit = op(0, decomposed = false).verify()
  /** Operations per pass: the loop stops only between whole passes (the
    * query mix's pass runs every query once, so every run weighs every
    * query alike). */
  def passSize: Int = 1
  /** Operations the loop runs at least, however short `--seconds` is:
    * three, so a run's sample count (and with it what its median means)
    * does not depend on how many operations happen to fit. */
  def minOps: Int = 3
  /** Checks run once after the loop; each returns (name, passed, detail). */
  def finalChecks(): Seq[(String, Boolean, String)] = Seq.empty

  def span[A](name: String)(f: => A): A = tracer.fold(f)(_.span(name)(f))
  def count(name: String, v: Double): Unit = tracer.foreach(_.count(name, v))
  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  /** Persist and count a frame, so the work that produces it happens here
    * (inside the caller's span). */
  def boundary(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  protected def sizePartitions(dataDir: String): Unit =
    spark.conf.set("spark.sql.shuffle.partitions",
      SparkEntry.scaledShufflePartitions(dataDir, cores).toString)
}

object Workloads {
  /** Every direction pattern the bar frame can express: 8 three-bar,
    * 4 two-bar and 2 one-bar formations. */
  val formations: Seq[(String, String)] = {
    val threeBar = for (a <- 0 to 1; b <- 0 to 1; c <- 0 to 1)
      yield s"p3_$a$b$c" -> s"(dir_2 = $a AND dir_1 = $b AND dir_0 = $c)"
    val twoBar = for (b <- 0 to 1; c <- 0 to 1)
      yield s"p2_$b$c" -> s"(dir_1 = $b AND dir_0 = $c)"
    val oneBar = for (c <- 0 to 1) yield s"p1_$c" -> s"(dir_0 = $c)"
    threeBar ++ twoBar ++ oneBar
  }

  val gates: Seq[(String, String)] = Seq(
    "any_regime" -> "true", "bearish" -> "(regime = 0)", "not_bearish" -> "(regime >= 1)")

  /** `n` distinct barriers drawn from the seeded stream: take-profit and
    * stop-loss from 0.2% to 2.5%, horizons from 5 to 35 bars. */
  def barrierGrid(r: SplittableRandom, n: Int): Seq[Sweep.BarrierCfg] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[(Int, Int, Int), Sweep.BarrierCfg]
    while (seen.size < n) {
      val k = (r.nextInt(24), r.nextInt(24), 5 + r.nextInt(31))
      if (!seen.contains(k))
        seen(k) = Sweep.BarrierCfg(s"b${k._1}_${k._2}_${k._3}",
          0.002 + 0.001 * k._1, 0.002 + 0.001 * k._2, k._3)
    }
    seen.values.toSeq
  }

  def apply(name: String, spark: SparkSession, tmp: String, seed: Long, cores: Int,
      tracer: Option[Tracer], digests: Map[String, String]): Workload = name match {
    case "sweep" => new SweepWorkload(spark, tmp, seed, cores, tracer)
    case "walkforward" => new WalkForwardWorkload(spark, tmp, seed, cores, tracer)
    case "query_mix" => new QueryMixWorkload(spark, tmp, seed, cores, tracer, digests)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Repeated `Sweep.run` calls: 14 formations x 3 regime gates x a seeded
  * barrier grid per call, written through ResultSink. */
final class SweepWorkload(spark: SparkSession, tmp: String, seed: Long, cores: Int,
    tracer: Option[Tracer]) extends Workload(spark, tmp, seed, cores, tracer) {
  import Workloads._
  import spark.implicits._

  val name = "sweep"
  val setupReps = 3
  val barriersPerSweep = 8
  val eventRows = 10000
  private var dataDir = ""
  private val outDir = s"$tmp/sweep_out"
  private val rng = new SplittableRandom(seed)
  /** The last operation's grid and output directory. */
  private var last: (Seq[Sweep.BarrierCfg], String) = (Seq.empty, outDir)

  def setup(rep: Int): Unit = {
    dataDir = s"$tmp/sweep_data_$rep"
    span("datagen")(DataGen.events(spark, dataDir, seed, eventRows))
    sizePartitions(dataDir)
  }

  /** Two untimed sweeps: after one, the first timed sweep still ran ~20%
    * slower than the next ones while the JIT caught up. */
  override def warmUp(): Unit = (0 until 2).foreach(i => op(i, decomposed = false).verify())

  def op(i: Int, decomposed: Boolean): Done = {
    val grid = barrierGrid(rng, barriersPerSweep)
    val spec = Sweep.SweepSpec("bench", formations, grid, regimeGates = gates)
    val configs = formations.size * gates.size * grid.size
    span("sweep.op") {
      if (decomposed) layered(spec) else Sweep.run(spark, dataDir, spec, outDir)
    }
    val out = if (decomposed) s"$outDir/layered" else outDir
    Done("sweep", configs.toDouble, () => {
      val rows = ResultSink.read(spark, s"$out/results").filter($"generation" === "bench").count()
      check(rows == configs, s"sweep wrote $rows result rows for $configs configs")
      last = (grid, out)
    })
  }

  /** Sweep.run's steps, one layer call at a time, each materialized inside
    * its own span: bars, Laguerre regimes, the signal frame, the barrier
    * scan, the metrics aggregate and the result sink. */
  private def layered(spec: Sweep.SweepSpec): Unit = {
    val w = BarFrame.series(Seq(col("event_type")), col("ts_us"), col("event_id"))
    val (bars, _) = span("eventbars.bars")(boundary(EventBars.bars(spark, dataDir)))
    val (regimes, _) = span("laguerre.regimes")(
      boundary(Laguerre.attachRegimes(bars, spec.laguerre).drop("rsi")))
    val flagged = regimes
      .withColumn("dir_0", BarFrame.direction(col("open"), col("close")))
      .withColumn("dir_1", lag(col("dir_0"), 1).over(w))
      .withColumn("dir_2", lag(col("dir_0"), 2).over(w))
    val anySignal = col("rn") > spec.warmupBars &&
      spec.formations.map { case (_, p) => expr(p) }.reduce(_ || _)
    val (sig, nSig) = span("eventbars.signal_frame")(boundary(EventBars.entryFiltered(
      EventBars.signalForwardArrays(flagged, anySignal, spec.forwardBars))))
    count("eventbars.signals", nSig.toDouble)
    val gridDf = spec.grid.map(g => (g.profile, g.tpPct, g.slPct, g.maxBars))
      .toDF("barrier_profile", "tp_pct", "sl_pct", "max_bars")
    val (scanned, _) = span("barriers.triple_barrier")(boundary(
      Barriers.tripleBarrier(sig.crossJoin(broadcast(gridDf))).select(
        col("dir_0"), col("dir_1"), col("dir_2"), col("regime"), col("barrier_profile"),
        col("tp_pct"), col("sl_pct"), col("max_bars"), col("entry_price"),
        col("exit_type"), col("exit_bar"), col("exit_price"))))
    count("barriers.scans", nSig.toDouble * spec.grid.size)
    def stack(items: Seq[(String, String)], as: String): Column = expr(items.map {
      case (n, p) => s"'$n', CASE WHEN $p THEN 1 ELSE 0 END"
    }.mkString(s"stack(${items.size}, ", ", ", s") as $as"))
    val trades = scanned
      .select(col("*"), stack(spec.formations, "(formation, flag)")).filter(col("flag") === 1)
      .select(col("*"), stack(spec.regimeGates, "(regime_gate, gate_flag)"))
      .filter(col("gate_flag") === 1)
    val (metrics, _) = span("barriers.metrics_agg")(boundary(Barriers.metricsAgg(trades,
      col("formation"), col("regime_gate"), col("barrier_profile"),
      col("tp_pct"), col("sl_pct"), col("max_bars"))
      .withColumn("generation", lit(spec.generation)).withColumn("lag_cfg", lit("single"))))
    val out = s"$outDir/layered"
    span("resultsink.overwrite") {
      ResultSink.overwritePartitions(metrics, s"$out/results", Seq("generation", "formation"))
      ResultSink.appendJsonl(Seq((spec.generation, spec.grid.size)).toDF("generation", "n_barriers"),
        s"$out/telemetry")
    }
    val files = Tree.files(s"$out/results/generation=${spec.generation}")
    count("resultsink.files_written", files.count(!_.getFileName.toString.startsWith(".")).toDouble)
    count("resultsink.bytes_written", files.map(java.nio.file.Files.size).sum.toDouble)
    Seq(bars, regimes, sig, scanned, metrics).foreach(_.unpersist())
  }

  /** The last operation's any-regime result rows against the imperative
    * BarrierSim twin for a seeded sample (one formation, two barriers):
    * every signal's trade is simulated on the driver and aggregated. */
  override def finalChecks(): Seq[(String, Boolean, String)] = {
    val r = new SplittableRandom(seed ^ 0x7417L)
    val (grid, out) = last
    val (fname, pred) = formations(r.nextInt(formations.size))
    val w = BarFrame.series(Seq(col("event_type")), col("ts_us"), col("event_id"))
    val flagged = EventBars.bars(spark, dataDir)
      .withColumn("dir_0", BarFrame.direction(col("open"), col("close")))
      .withColumn("dir_1", lag(col("dir_0"), 1).over(w))
      .withColumn("dir_2", lag(col("dir_0"), 2).over(w))
    val sig = EventBars.entryFiltered(
        EventBars.signalForwardArrays(flagged, col("rn") > 100 && expr(pred), 35))
      .select($"entry_price", $"fwd_highs", $"fwd_lows", $"fwd_opens", $"fwd_closes")
      .as[(Double, Array[Double], Array[Double], Array[Double], Array[Double])].collect()
    val results = ResultSink.read(spark, s"$out/results").filter($"generation" === "bench" &&
      $"regime_gate" === "any_regime" && $"formation" === fname)
    Seq.fill(2)(grid(r.nextInt(grid.size))).distinct.map { b =>
      val outcomes = sig.toSeq.map { case (e, h, l, o, c) =>
        BarrierSim.tripleBarrier(e, h, l, o, c, b.tpPct, b.slPct, b.maxBars)
      }.filter(_.exitType != "INCOMPLETE")
      val expect = (outcomes.size.toLong, outcomes.count(_.exitType == "TP").toLong,
        outcomes.count(_.exitType == "SL").toLong, outcomes.count(_.exitType == "TIME").toLong)
      val got = results.filter($"barrier_profile" === b.profile)
        .select($"total_signals", $"tp_count", $"sl_count", $"time_count")
        .as[(Long, Long, Long, Long)].collect().toSeq
      (s"barrier_sim_twin:$fname:${b.profile}", got == Seq(expect),
        s"sweep $got vs BarrierSim $expect")
    }
  }
}

/** Barrier scans over a cached signal frame followed by the walk-forward
  * stage 1-4 evaluation of the resulting trades. */
final class WalkForwardWorkload(spark: SparkSession, tmp: String, seed: Long, cores: Int,
    tracer: Option[Tracer]) extends Workload(spark, tmp, seed, cores, tracer) {
  import spark.implicits._

  val name = "walkforward"
  val setupReps = 2
  val barriersPerOp = 32
  val eventRows = 25000
  private var sig: DataFrame = _
  private var nSignals = 0
  private val rng = new SplittableRandom(seed)

  def setup(rep: Int): Unit = {
    if (sig != null) sig.unpersist(blocking = true)
    val dataDir = s"$tmp/wf_data_$rep"
    span("datagen")(DataGen.events(spark, dataDir, seed, eventRows))
    sizePartitions(dataDir)
    // every 5th bar is a signal; signal_idx is its dense arrival index
    val order = Window.orderBy(col("event_type"), col("ts_us"), col("event_id"))
    val bars = span("eventbars.bars")(boundary(EventBars.bars(spark, dataDir)))._1
    val frame = span("eventbars.signal_frame") {
      boundary(EventBars.signalForwardArrays(bars, col("rn") % 5 === 0, 35)
        .withColumn("entry_price", try_element_at(col("fwd_opens"), lit(1)))
        .filter(col("entry_price").isNotNull && col("entry_price") > 0)
        .withColumn("signal_idx", row_number().over(order) - 1)
        .repartition(spark.sparkContext.defaultParallelism))
    }
    bars.unpersist()
    sig = frame._1
    nSignals = frame._2.toInt
    count("eventbars.signals", nSignals.toDouble)
  }

  def op(i: Int, decomposed: Boolean): Done = {
    val grid = Workloads.barrierGrid(rng, barriersPerOp)
      .map(b => (b.profile, b.tpPct, b.slPct, b.maxBars))
      .toDF("barrier_id", "tp_pct", "sl_pct", "max_bars")
    val report = span("walkforward.op") {
      val trades = Barriers.tripleBarrier(sig.crossJoin(broadcast(grid)))
        .select(col("barrier_id"), col("signal_idx"), col("return_pct").cast("double"))
      val input =
        if (!decomposed) trades
        else {
          val (t, _) = span("barriers.triple_barrier")(boundary(trades))
          count("barriers.scans", nSignals.toDouble * barriersPerOp)
          t
        }
      val rep = span("walkforward.run")(WalkForward.run(input, nSignals, screenTopK = 25))
      if (decomposed) input.unpersist()
      rep
    }
    count("walkforward.fold_rows", report.foldRows.length.toDouble)
    count("walkforward.survivors", report.finalBarrierIds.length.toDouble)
    Done("walkforward", barriersPerOp.toDouble, () => {
      val nFolds = Folds.buildWfoFolds(nSignals).length
      check(report.foldRows.length == barriersPerOp * nFolds,
        s"${report.foldRows.length} fold rows for $barriersPerOp barriers x $nFolds folds")
      check(report.pboSkipReason.isEmpty, s"PBO skipped: ${report.pboSkipReason}")
      check(report.vorobSkipReason.isEmpty, s"Vorob'ev skipped: ${report.vorobSkipReason}")
    })
  }
}

/** Registry queries in a seeded order, each result checked against the
  * digest recorded for the fixed query-mix data set. */
final class QueryMixWorkload(spark: SparkSession, tmp: String, seed: Long, cores: Int,
    tracer: Option[Tracer], digests: Map[String, String])
    extends Workload(spark, tmp, seed, cores, tracer) {

  val name = "query_mix"
  val setupReps = 1
  private var dataDir = ""
  private val rng = new SplittableRandom(seed)
  private var order: IndexedSeq[String] = IndexedSeq.empty

  /** The queries of the mix, in registry order. */
  val queries: IndexedSeq[String] = QueryMix.names

  def setup(rep: Int): Unit = {
    dataDir = s"$tmp/qm_data_$rep"
    span("datagen")(DataGen.lake(spark, dataDir, QueryMix.dataSeed, QueryMix.scale))
    sizePartitions(dataDir)
    // the staged frames the mix reads: q61's dedup chain and q135's MCDM
    // chain. As graft.Bench does for a filtered query set, chains no query
    // of the mix consumes (EvalStaging, GateStaging) are not built.
    val chains: Seq[(String, SparkSession => Unit)] = Seq(
      "staging.dedup" -> { s => graft.queries.DedupQueries.Staging.scoredAndCounts(s, dataDir); () },
      "staging.mcdm" -> (s => graft.queries.McdmStaging.build(s, dataDir)))
    // the chains are independent; as in graft.Bench they run together,
    // each on its own session clone sized to its share of the cores
    val chainParts = math.max(2, cores / chains.size)
    val parent = tracer.map(_.current).getOrElse(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(chains.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try chains.map { case (name, build) =>
      Future {
        val s = SparkEntry.ensureConfs(spark.newSession())
        s.conf.set("spark.sql.shuffle.partitions", chainParts.toString)
        tracer.fold(build(s))(_.span(name, parent)(build(s)))
      }
    }.foreach(Await.result(_, Duration.Inf))
    finally pool.shutdown()
  }

  override def passSize: Int = queries.size
  /** Two passes: each query is timed twice, so the median does not rest
    * on one execution of one query. */
  override def minOps: Int = 2 * queries.size

  /** The next query of the current pass; each pass is a fresh seeded
    * permutation of the mix. */
  private def next(i: Int): String = {
    val k = i % queries.size
    if (k == 0) {
      val a = queries.toArray
      var j = a.length - 1
      while (j > 0) { val s = rng.nextInt(j + 1); val t = a(j); a(j) = a(s); a(s) = t; j -= 1 }
      order = a.toIndexedSeq
    }
    order(k)
  }

  /** One untimed pass over the mix, `cores` queries at a time: it only
    * fills the JIT and codegen caches, so it need not be sequential. */
  override def warmUp(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try queries.map(q => Future(verify(q, runOnce(q)))).foreach(Await.result(_, Duration.Inf))
    finally pool.shutdown()
  }

  private def verify(q: String, digest: String): Unit = {
    val want = digests.getOrElse(q, "<none recorded>")
    check(digest == want, s"$q digest $digest, recorded $want")
  }

  def op(i: Int, decomposed: Boolean): Done = {
    val q = next(i)
    val fn = SparkEntry.queries(q)
    val digest = span("sparkentry.query") {
      val df = span("sparkentry.construct")(fn(spark, dataDir))
      if (decomposed) span("sparkentry.plan")(df.queryExecution.executedPlan)
      span("sparkentry.exec")(Digest.of(df))
    }
    Done(q, 1.0, () => verify(q, digest))
  }

  def runOnce(q: String): String = Digest.of(SparkEntry.queries(q)(spark, dataDir))
}
