package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The query mix: which registry queries it runs and the fixed data set
  * their recorded digests belong to. */
object QueryMix {
  val dataSeed = 42L
  val scale = 0.01

  /** Registry query name -> the pack object that defines it. */
  lazy val packOf: Map[String, String] = Seq(
    "CoreQueries" -> graft.queries.CoreQueries.all.keySet,
    "QuantQueries" -> graft.queries.QuantQueries.all.keySet,
    "BarrierQueries" -> graft.queries.BarrierQueries.all.keySet,
    "TextQueries" -> graft.queries.TextQueries.all.keySet,
    "DedupQueries" -> graft.queries.DedupQueries.all.keySet,
    "SimilarityQueries" -> graft.queries.SimilarityQueries.all.keySet,
    "EvalQueries" -> graft.queries.EvalQueries.all.keySet,
    "MultimodalQueries" -> graft.queries.MultimodalQueries.all.keySet,
    "ChampionQueries" -> graft.queries.ChampionQueries.all.keySet,
    "SweepQueries" -> graft.queries.SweepQueries.all.keySet,
    "AdaptiveQueries" -> graft.queries.AdaptiveQueries.all.keySet,
    "CurationQueries" -> graft.queries.CurationQueries.all.keySet,
    "RankingQueries" -> graft.queries.RankingQueries.all.keySet,
    "EvalStatsQueries" -> graft.queries.EvalStatsQueries.all.keySet,
    "CorpusOpsQueries" -> graft.queries.CorpusOpsQueries.all.keySet,
    "AsofQueries" -> graft.queries.AsofQueries.all.keySet,
    "McdmQueries" -> graft.queries.McdmQueries.all.keySet,
    "ReconstructQueries" -> graft.queries.ReconstructQueries.all.keySet,
  ).flatMap { case (p, ks) => ks.map(_ -> p) }.toMap

  /** One query from each of the twelve largest packs (ties by name): the
    * pack's median by warm latency on this data set at 4 cores. A warm
    * pass over the whole registry takes ~85 s at this scale, far longer
    * than a run. */
  val names: IndexedSeq[String] = IndexedSeq(
    "q103_ann_pq", "q82_funnel", "q62_repetition_rules", "q135_bootstrap_rank",
    "q42_rolling_range_window", "q61_dup_components", "q93_bm25", "q100_asof_backward",
    "q65_mixture_waterfill", "q68_topsis", "q31_two_segment_sl", "q121_minbtl")
}

object Tree {
  def files(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Seq.empty
    else {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
      finally walk.close()
    }
  }
}

/** Runs one workload and writes its raw record (set-up times, one entry
  * per operation, checks, spans, job timeline and Spark counters) as JSON.
  * perfbench/run.py turns the record into the reported metrics.
  *
  * Args: --workload w --seed n --seconds s --trace 0|1 --cores c
  *       --tmp dir --out file [--digests file] [--record-digests file]
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val cores = opt("cores").toInt
    val tmp = opt("tmp")
    val digests = opt.get("digests").map(readDigests).getOrElse(Map.empty)

    val spark = SparkEntry.ensureConfs(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/spark-warehouse")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
      val wl = Workloads(workload, spark, tmp, seed, cores, tracer, digests)
      opt.get("record-digests") match {
        case Some(path) => record(wl.asInstanceOf[QueryMixWorkload], path)
        case None => run(wl, tracer, seconds, opt("out"))
      }
    } finally spark.stop()
  }

  private def readDigests(path: String): Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(Paths.get(path)), UTF_8)
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Digest every query of the mix on the fixed data set (after set-up). */
  private def record(wl: QueryMixWorkload, path: String): Unit = {
    wl.setup(0)
    val rows = wl.queries.sorted.map { q =>
      val t0 = System.nanoTime()
      val d = wl.runOnce(q)
      val warm = System.nanoTime()
      val again = wl.runOnce(q)
      val t1 = System.nanoTime()
      require(again == d, s"$q: digest $d, then $again on a second run")
      println(f"[perfbench] $q%-40s cold ${(warm - t0) / 1e9}%.3f s warm ${(t1 - warm) / 1e9}%.3f s $d")
      q -> d
    }
    java.nio.file.Files.write(Paths.get(path),
      rows.map { case (q, d) => s"  ${Json.str(q)}: ${Json.str(d)}" }
        .mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def run(wl: Workload, tracer: Option[Tracer], seconds: Double, out: String): Unit = {
    tracer.foreach(_.attach())
    val setupS = (0 until wl.setupReps).map { rep =>
      val t0 = now()
      wl.span("setup")(wl.setup(rep))
      now() - t0
    }
    val warm0 = now()
    wl.span("warmup")(wl.warmUp())
    val warmS = now() - warm0

    // the closed loop: one client, the next operation starts when the last
    // one returned. A traced run cycles its operations (whole passes, for
    // the query mix) through three kinds: decomposed into one span per
    // layer, then untraced (listener detached) and traced as a whole, whose
    // difference is the tracing overhead. The first operation after warm-up
    // runs slowest, so it is a decomposed one; the other two swap places
    // every cycle, so later operations running faster biases neither.
    val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val unit = wl.passSize
    val end = now() + seconds
    var i = 0
    val cycles = Seq(Seq("decomposed", "untraced", "traced"), Seq("decomposed", "traced", "untraced"))
    while (i < wl.minOps || now() < end || i % unit != 0 || (tracer.nonEmpty && i < 6 * unit)) {
      val kind = if (tracer.isEmpty) "plain" else cycles((i / unit / 3) % 2)((i / unit) % 3)
      if (kind == "untraced") tracer.foreach(_.detach())
      val t0 = now()
      val result = Try(wl.span("op")(wl.op(i, decomposed = kind == "decomposed")))
      val wall = now() - t0
      val opSpan = tracer.map(_.spans.last.id)
      if (kind == "untraced") tracer.foreach(_.attach())
      val err = result.flatMap(d => Try(d.verify())).failed.toOption.map(_.toString)
      err.foreach(e => System.err.println(s"[perfbench] operation $i failed: $e"))
      ops += Map("i" -> i, "kind" -> kind, "label" -> result.map(_.label).getOrElse("?"),
        "ok" -> err.isEmpty, "wall_s" -> wall, "work" -> result.map(_.work).getOrElse(0.0),
        "error" -> err, "span" -> opSpan)
      i += 1
    }

    val checks = try wl.finalChecks() catch {
      case NonFatal(e) => Seq(("final_checks", false, e.toString))
    }
    tracer.foreach(_ => org.apache.spark.perfbench.BusDrain(wl.spark.sparkContext))
    val record = Seq(
      "workload" -> wl.name,
      "cores" -> wl.cores,
      "setup_s" -> setupS,
      "warmup_s" -> warmS,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> ops.map(m => Json.Raw(Json.obj(m.toSeq))),
      "checks" -> checks.map { case (n, ok, d) =>
        Json.Raw(Json.obj(Seq("name" -> n, "ok" -> ok, "detail" -> d))) },
      "packs" -> (wl match {
        case q: QueryMixWorkload => q.queries.map(n => n -> QueryMix.packOf.getOrElse(n, "?")).toMap
        case _ => Map.empty[String, String]
      })) ++ tracer.toSeq.flatMap { t =>
      Seq(
        "spans" -> t.spans.map(s => Seq(s.id, s.parent, s.name, s.startMs, s.endMs)),
        "counts" -> t.counts.map { case (s, n, v) => Seq(s, n, v) },
        "jobs" -> t.listener.jobs.values.map(j => Seq(j.jobId, j.group, j.startMs, j.endMs)),
        "groups" -> Json.Raw(Json.obj(t.listener.byGroup.toSeq.map {
          case (g, c) => g -> Json.Raw(c.toJson) })))
    }
    java.nio.file.Files.write(Paths.get(out), Json.obj(record).getBytes(UTF_8))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(status)) Runtime.getRuntime.totalMemory() / 1048576.0
    else java.nio.file.Files.readAllLines(status).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
  }
}
