package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{CheckIndex, Deletes, IndexBuilder, IndexConfig, IndexView, InvertedIndex}
import graft.model.{Corpus, Page}
import graft.search._

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, data: Path, cpus: Int, commit: String, source: String)

/** One timed op. `phase` 0 is the untraced measurement, 1 the traced
  * one, 2 the traced layer probe of the build workload. */
final case class OpRec(id: String, phase: Int, kind: String, layer: String, label: String,
                       q: QueryOp, startNs: Long, endNs: Long, cpuNs: Long, rows: Array[Row],
                       error: String, count: Long) {
  def sec: Double = (endNs - startNs) / 1e9
  def cpuSec: Double = cpuNs / 1e9
}

/** The serving handles of one open index. */
final case class Serving(idx: InvertedIndex, searcher: Searcher, rel: RelationalPath)

object Main {
  val Workloads: Seq[String] = Seq("build", "serve_warm")

  /** End-to-end metrics of every workload (BENCHMARK.json `end_to_end`). */
  val EndToEnd: Seq[String] = Seq("setup_s", "op_p50_s", "ops_per_s", "heap_used_mb")

  private def usage(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg")
    System.err.println("usage: graftbench.Main --workload <" + Workloads.mkString("|") +
      "> --seed <n> --seconds <n> --trace <0|1> --work <dir> --data <dir> " +
      "[--commit <id>] [--source <digest>]")
    sys.exit(2)
  }

  def parse(args: Array[String]): Opts = {
    if (args.length % 2 != 0) usage("arguments come in --name value pairs")
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload '$workload'")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case other => usage(s"--trace must be 0 or 1, not '$other'")
    }
    Opts(workload, need("seed").toLong, need("seconds").toInt, trace,
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("data")).toAbsolutePath,
      Runtime.getRuntime.availableProcessors(),
      m.getOrElse("commit", "unknown"), m.getOrElse("source", "unknown"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val bench = new Bench(o)
    val code =
      try { bench.run(); 0 }
      catch {
        case NonFatal(e) =>
          System.err.println("graftbench: run aborted")
          e.printStackTrace()
          1
      } finally bench.close()
    sys.exit(code)
  }
}

final class Bench(o: Opts) {
  import Bench._

  private val runDir = o.work.resolve("run")
  private val resultsDir = o.work.resolve("results")
  private val report = new Report
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val failures = mutable.LinkedHashMap.empty[String, String]
  /** Ids of timed queries that repeat an earlier query (see `repeats`). */
  private val repeated = mutable.HashSet.empty[String]
  private val extraSpans = mutable.ArrayBuffer.empty[Span]
  private var nextOp = 0
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  rmrf(runDir)
  Files.createDirectories(runDir)
  Files.createDirectories(resultsDir)

  private val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.speculation", "false")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.io.compression.zstd.level", "1")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  import spark.implicits._
  private val sc = spark.sparkContext
  private var tracer: SparkTrace = null

  def close(): Unit = {
    try spark.stop() catch { case NonFatal(_) => () }
    rmrf(runDir)
  }

  // ---- timing -----------------------------------------------------------

  private def timeOp(phase: Int, kind: String, layer: String, label: String,
                     q: QueryOp = null)
                    (f: => (Array[Row], Long)): OpRec = {
    val id = f"op$nextOp%05d"
    nextOp += 1
    val traced = tracing
    if (traced) sc.setJobGroup(id, label, interruptOnCancel = false)
    val c0 = processCpuNs()
    val t0 = System.nanoTime()
    val (rows, n, err) =
      try { val (r, c) = f; (r, c, null) }
      catch { case NonFatal(e) => (Array.empty[Row], 0L, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    val c1 = processCpuNs()
    if (traced) sc.clearJobGroup()
    val rec = OpRec(id, phase, kind, layer, label, q, t0, t1, c1 - c0, rows, err, n)
    ops += rec
    if (err != null) fail(rec, s"threw $err")
    rec
  }

  private def fail(op: OpRec, msg: String): Unit = {
    println(s"graftbench FAILED ${op.id} [${op.label}]: $msg")
    if (!failures.contains(op.id)) failures(op.id) = s"${op.label}: $msg"
  }

  /** Whole rounds until `seconds` have passed. Untraced, every round is
    * phase 0. Traced, rounds alternate between phase 0 (no listener) and
    * phase 1 (listener attached), each phase running the same round
    * sequence for `seconds` in total, so both see the same warm-up and
    * their difference is the tracing overhead. `round(phase, r)` runs
    * round r; returns per phase (wall s of its rounds, rounds). */
  private def measure(round: (Int, Int) => Unit): Map[Int, (Double, Int)] = {
    val phases = if (o.trace) 2 else 1
    val wall = Array.fill(phases)(0.0)
    val rounds = Array.fill(phases)(0)
    val budget = phases * o.seconds * 1000000000L
    val t0 = System.nanoTime()
    var i = 0
    while (i < phases || System.nanoTime() - t0 < budget) {
      val phase = i % phases
      if (phase == 1) attachTracer()
      val s = System.nanoTime()
      round(phase, i / phases)
      wall(phase) += (System.nanoTime() - s) / 1e9
      rounds(phase) += 1
      if (phase == 1) detachTracer()
      i += 1
    }
    (0 until phases).map(p => p -> ((wall(p), rounds(p)))).toMap
  }

  /** `rounds` timed set-ups from a clean cache; reports their median. */
  private def setupRounds(rounds: Int)(f: Int => Unit): Unit = {
    val times = (0 until rounds).map { i =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      f(i)
      (System.nanoTime() - t0) / 1e9
    }
    println(s"graftbench setup rounds: ${times.map(t => f"$t%.3f").mkString(" ")} s")
    report.add("e2e", "setup_s", Stats.median(times), "s", times.length)
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM: the driver, Spark's task
    * threads, GC and JIT. */
  private def processCpuNs(): Long = osBean.getProcessCpuTime

  /** Heap in use after full collections. The pause between them lets
    * Spark's ContextCleaner drop the shuffle and broadcast blocks whose
    * owners the first collection freed. */
  private def heapUsedMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private var tracing = false

  private def attachTracer(): Unit = {
    if (tracer == null) tracer = new SparkTrace
    sc.addSparkListener(tracer)
    tracing = true
  }

  private def detachTracer(): Unit = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    sc.removeSparkListener(tracer)
    tracing = false
  }

  private def withTracing(body: => Unit): Unit = {
    attachTracer()
    try body finally detachTracer()
  }

  // ---- the run ------------------------------------------------------------

  def run(): Unit = {
    println(s"graftbench workload=${o.workload} seed=${o.seed} seconds=${o.seconds} " +
      s"trace=${if (o.trace) 1 else 0} cpus=${o.cpus} commit=${o.commit} source=${o.source}")
    o.workload match {
      case "build" => runBuild()
      case "serve_warm" => runServe()
    }
    val attempted = ops.length.toLong
    val failed = failures.size.toLong
    report.add("info", "ops_failed_frac", failed.toDouble / math.max(1L, attempted), "ratio", attempted)
    val names = if (o.trace) PerLayer.map(_._1) else Main.EndToEnd
    val line = report.resultLine(names, failed == 0, attempted, failed)
    writeResult(attempted, failed)
    println(line)
  }

  private def writeResult(attempted: Long, failed: Long): Unit = {
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    val fails = failures.map { case (id, m) => Report.str(s"$id $m") }.mkString("[", ",", "]")
    val json =
      s"""{"workload":"${o.workload}","seed":${o.seed},"seconds":${o.seconds},""" +
        s""""trace":${o.trace},"cpus":${o.cpus},"commit":${Report.str(o.commit)},""" +
        s""""source":${Report.str(o.source)},"correct":${failed == 0},""" +
        s""""attempted":$attempted,"failed":$failed,"failures":$fails,""" +
        s""""metrics":${report.metricsJson}}"""
    Files.write(resultsDir.resolve(s"$tag.json"), (json + "\n").getBytes("UTF-8"))
    println(s"graftbench result file ${resultsDir.resolve(s"$tag.json")}")
    val opLines = ops.map { op =>
      val shape = Option(op.q).map(_.shape).getOrElse(op.kind)
      s"""{"id":"${op.id}","phase":${op.phase},"kind":"${op.kind}","shape":"$shape",""" +
        s""""sec":${Report.num(op.sec)},"cpu_sec":${Report.num(op.cpuSec)},"rows":${op.rows.length},""" +
        s""""repeat":${repeated(op.id)},"failed":${failures.contains(op.id)}}"""
    }
    Files.write(resultsDir.resolve(s"$tag.ops.jsonl"), opLines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  // ---- build workload -----------------------------------------------------

  private def buildConfig(ordered: Boolean): IndexConfig =
    IndexConfig(numPartitions = BuildParts, partsPerSegment = if (ordered) 4 else 2,
      hotTermDf = 2000, numSalts = 4, spimiSpillBytes = 64L << 20, inputOrdered = ordered)

  private def stage(repeat: Int, dir: Path): Unit =
    Corpus.pagesRepeated(spark, o.data.toString, repeat, files = StagedFiles)
      .write.mode("overwrite").parquet(dir.toString)

  private def runBuild(): Unit = {
    val corpus = runDir.resolve("corpus")
    // the first round also pays the JVM's and Spark's first-job costs,
    // so five rounds leave four for the median to sit among
    setupRounds(5)(_ => stage(BuildRepeat, corpus))
    // checker set-up, outside setup_s
    val stagedRows = spark.read.parquet(corpus.toString).count()
    val textBytes = spark.read.parquet(corpus.toString)
      .agg(sum(octet_length(col("text")))).head().getLong(0)

    val dirs = mutable.HashMap.empty[String, Path]
    def pair(phase: Int, r: Int): Unit = Seq(false, true).foreach { ordered =>
      val mode = if (ordered) "ordered" else "sorted"
      val dir = runDir.resolve(s"idx-p$phase-r$r-$mode")
      val op = timeOp(phase, s"build_$mode", "index", s"IndexBuilder.build x$BuildRepeat $mode") {
        val pages = spark.read.parquet(corpus.toString).as[Page]
        val idx = IndexBuilder.build(spark, pages, dir.toString, buildConfig(ordered))
        (Array.empty[Row], idx.stats.docCount)
      }
      dirs(op.id) = dir
    }
    // untimed warm-up pairs: a fresh JVM's first builds pay one-time
    // code generation, class loading and JIT compilation that a long
    // build amortizes; pair times settle from the fourth pair on
    val tFirst = System.nanoTime()
    pair(-1, 0)
    report.add("info", "first_pair_s", (System.nanoTime() - tFirst) / 1e9, "s", 1)
    (1 until WarmupPairs).foreach(pair(-1, _))
    // after the warm-up builds, so that what a build leaves on the
    // driver counts, and before any listener exists
    report.add("e2e", "heap_used_mb", heapUsedMb(), "MB", 1)
    val phases = measure(pair)
    val (wall0, pairs0) = phases(0)

    // ---- checks (untimed)
    val builds = ops.filter(_.kind.startsWith("build_")).toSeq
    def dirOf(op: OpRec): Path = dirs(op.id)
    builds.filter(_.error == null).foreach { op =>
      if (op.count != stagedRows)
        fail(op, s"docCount ${op.count} != staged rows $stagedRows")
    }
    builds.grouped(2).foreach {
      case Seq(s, od) if s.error == null && od.error == null =>
        val a = termStatsOf(dirOf(s))
        val b = termStatsOf(dirOf(od))
        val diff = (a.keySet ++ b.keySet).filter(t => a.get(t) != b.get(t))
        if (diff.nonEmpty)
          fail(od, s"termStats df/ttf differ from the sorted build for ${diff.size} terms " +
            s"(e.g. ${diff.head}: ${a.get(diff.head)} vs ${b.get(diff.head)})")
      case _ => ()
    }
    builds.filter(_.error == null).takeRight(2).foreach { op =>
      val problems = CheckIndex.audit(InvertedIndex.open(spark, dirOf(op).toString))
      if (problems.nonEmpty) fail(op, s"CheckIndex: ${problems.mkString("; ")}")
    }

    // ---- end-to-end
    def pairTimes(phase: Int): Seq[Double] =
      builds.filter(_.phase == phase).grouped(2).collect { case Seq(a, b) => a.sec + b.sec }.toSeq
    val p0 = pairTimes(0)
    report.add("e2e", "op_p50_s", Stats.median(p0), "s", p0.length)
    val c0 = builds.filter(_.phase == 0).grouped(2).collect { case Seq(a, b) => a.cpuSec + b.cpuSec }.toSeq
    report.add("info", "op_cpu_p50_s", Stats.median(c0), "s", c0.length)
    report.add("e2e", "ops_per_s", pairs0 / wall0, "1/s", pairs0)
    def docsPerS(kind: String, phase: Int): Seq[Double] =
      builds.filter(b => b.phase == phase && b.kind == kind && b.error == null)
        .map(b => b.count / b.sec)
    val sortedRate = docsPerS("build_sorted", 0)
    val orderedRate = docsPerS("build_ordered", 0)
    report.add("info", "build_docs_per_s", Stats.median(sortedRate), "docs/s", sortedRate.length)
    report.add("info", "build_ordered_docs_per_s", Stats.median(orderedRate), "docs/s",
      orderedRate.length)
    val lastSorted = builds.filter(b => b.kind == "build_sorted" && b.error == null).last
    report.add("info", "index_bytes_per_text_byte",
      dirBytes(dirOf(lastSorted)).toDouble / textBytes, "ratio", 1)

    if (o.trace) {
      val (wall1, pairs1) = phases(1)
      val p1 = pairTimes(1)
      overhead("op_p50_s", Stats.median(p1) / Stats.median(p0) - 1, p1.length)
      overhead("ops_per_s", (pairs1 / wall1) / (pairs0 / wall0) - 1, pairs1)
      val sortedDirs = builds.filter(b => b.kind == "build_sorted" && b.error == null).map(dirOf)
      indexBuildLayer(sortedDirs)
      // the build workload runs no queries: probe every family once on
      // the last sorted index, traced, to fill the serving-layer metrics
      val t0 = System.nanoTime()
      val idx = InvertedIndex.open(spark, dirOf(lastSorted).toString)
      val t1 = System.nanoTime()
      idx.warm()
      val t2 = System.nanoTime()
      servingLayer(idx, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
      val sv = Serving(idx, new Searcher(idx), new RelationalPath(idx))
      val pools = Queries.pools(o.seed)
      var probe = Seq.empty[OpRec]
      withTracing {
        probe = Queries.warmup(pools).map(q => timeOp(2, q.family, q.layer, s"${q.shape} $q", q)(exec(q, sv)))
      }
      probe.foreach(op => structural(op).foreach(fail(op, _)))
      queryLayers(sv, pools, probe)
      microLayers(idx)
      sparkLayer(ops.filter(_.phase == 1).toSeq, ops.filter(op => op.phase == 1 || op.phase == 2).toSeq)
      deletes(sv, probe)
    }
  }

  private def termStatsOf(dir: Path): Map[String, (Long, Long)] =
    spark.read.parquet(dir.resolve("termstats").toString).select("term", "df", "ttf")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  // ---- serve workloads ----------------------------------------------------

  private def exec(q: QueryOp, s: Serving): (Array[Row], Long) = {
    val rows = q match {
      case ScorerQ(_, _, query) => s.searcher.topK(query, Queries.K).collect()
      case SortedQ(_, k, true) => SortedRead.earlyTopK(s.idx, k).collect()
      case SortedQ(_, k, false) => SortedRead.fullScanTopK(s.idx, k).collect()
      case EdismaxQ(_, terms, mm) =>
        val view: IndexView = s.idx
        EDisMax.topK(Seq(view -> 1.0), EDisMax.parse(terms.mkString(" "), mm), Queries.K,
          pf2 = Seq(view -> 0.4)).collect()
      case FrangeQ(_, m, lo, hi) =>
        s.rel.frangeTopK(graft.functions.ValueSources.fn("mod", col("dl"), lit(m)),
          lo, hi, Queries.K).collect()
      case GeoQ(_, lat, lon, d) =>
        s.rel.geoTopK(Queries.LatSql, Queries.LonSql, lat, lon, d, Queries.K).collect()
      case IntervalsQ(_, big, g, small) => s.rel.intervalContainingDocs(big, g, small).collect()
    }
    (rows, rows.length.toLong)
  }

  private def runServe(): Unit = {
    val pools = Queries.pools(o.seed)
    var serving: Serving = null
    var corpus: Path = null
    var openS, warmS = 0.0
    // one round: the run budget (README.md, Workloads) holds no second
    setupRounds(1) { i =>
      val dir = runDir.resolve(s"serve-$i")
      corpus = dir.resolve("corpus")
      val tS = System.nanoTime()
      stage(ServeRepeat, corpus)
      val pages = spark.read.parquet(corpus.toString).as[Page]
      val tB = System.nanoTime()
      IndexBuilder.build(spark, pages, dir.resolve("index").toString, buildConfig(ordered = false))
      val t0 = System.nanoTime()
      val idx = InvertedIndex.open(spark, dir.resolve("index").toString)
      val t1 = System.nanoTime()
      idx.warm()
      val t2 = System.nanoTime()
      openS = (t1 - t0) / 1e9
      warmS = (t2 - t1) / 1e9
      serving = Serving(idx, new Searcher(idx), new RelationalPath(idx))
      println(f"graftbench setup round $i: stage ${(tB - tS) / 1e9}%.3f build ${(t0 - tB) / 1e9}%.3f " +
        f"open $openS%.3f warm $warmS%.3f s")
    }
    report.add("e2e", "heap_used_mb", heapUsedMb(), "MB", 1)
    val idx = serving.idx
    // untimed warm-up: the first query of every shape, which fills the
    // lazy per-searcher state (broadcasts, filter bitmaps, generated code)
    val tFirst = System.nanoTime()
    val warmupOps = Queries.warmup(pools).map(q => timeOp(-1, q.family, q.layer, s"${q.shape} $q", q)(exec(q, serving)))
    report.add("info", "first_queries_s", (System.nanoTime() - tFirst) / 1e9, "s", warmupOps.length)

    def serveRound(phase: Int, r: Int): Unit =
      Queries.round(o.seed, pools, r).foreach { q =>
        timeOp(phase, q.family, q.layer, s"${q.shape} $q", q)(exec(q, serving))
      }
    // and one untimed round of the stream, outside the timed sequence:
    // the first round after the single queries still runs ~15 % slower
    serveRound(-1, -1)
    val phases = measure(serveRound)
    val (wall0, _) = phases(0)

    // ---- checks (untimed)
    val queries = ops.filter(_.q != null).toSeq
    queries.foreach(op => structural(op).foreach(fail(op, _)))
    val corpusRows = spark.read.parquet(corpus.toString).select("url", "text", "lang")
      .as[(String, String, String)].collect().toSeq
    val oracle = new SpecOracle(corpusRows)
    val expected = mutable.HashMap.empty[Query, Seq[(Int, Long, String, Float)]]
    queries.foreach { op =>
      op.q match {
        case ScorerQ(_, fam, q) if Queries.OracleFamilies(fam) && op.error == null =>
          val want = expected.getOrElseUpdate(q, oracle.topK(q, Queries.K))
          val got = op.rows.map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getFloat(3))).toSeq
          if (got != want) {
            val i = got.zipAll(want, null, null).indexWhere { case (a, b) => a != b }
            fail(op, s"differs from SpecOracle at rank ${i + 1}: " +
              s"${got.lift(i).getOrElse("none")} vs ${want.lift(i).getOrElse("none")}")
          }
        case _ => ()
      }
    }
    val fullScan = mutable.HashMap.empty[Int, Seq[(Int, Long)]]
    queries.foreach { op =>
      op.q match {
        case SortedQ(_, k, true) if op.error == null =>
          val want = fullScan.getOrElseUpdate(k,
            SortedRead.fullScanTopK(idx, k).collect().map(r => (r.getInt(0), r.getLong(1))).toSeq)
          if (op.rows.map(r => (r.getInt(0), r.getLong(1))).toSeq != want)
            fail(op, s"early-terminated top-$k differs from the full scan")
        case _ => ()
      }
    }

    // ---- end-to-end
    val q0 = queries.filter(_.phase == 0).map(_.sec)
    report.add("e2e", "op_p50_s", Stats.median(q0), "s", q0.length)
    val c0 = queries.filter(_.phase == 0).map(_.cpuSec)
    report.add("info", "op_cpu_p50_s", Stats.median(c0), "s", c0.length)
    report.add("info", "cpu_s_per_op", c0.sum / c0.length, "s", c0.length)
    report.add("e2e", "ops_per_s", q0.length / wall0, "1/s", q0.length)
    report.add("info", "query_p50_s", Stats.median(q0), "s", q0.length)
    if (q0.length >= 100) report.add("info", "query_p90_s", Stats.quantile(q0, 0.9), "s", q0.length)
    else println(s"graftbench metric query_p90_s not reported: ${q0.length} < 100 queries")
    report.add("info", "queries_per_s", q0.length / wall0, "1/s", q0.length)
    repeats(queries)

    if (o.trace) {
      val (wall1, _) = phases(1)
      val q1 = queries.filter(_.phase == 1).map(_.sec)
      overhead("op_p50_s", Stats.median(q1) / Stats.median(q0) - 1, q1.length)
      overhead("ops_per_s", (q1.length / wall1) / (q0.length / wall0) - 1, q1.length)
      indexBuildLayer(Seq(Paths.get(idx.dir)))
      servingLayer(idx, openS, warmS)
      queryLayers(serving, pools, queries.filter(_.phase == 1))
      microLayers(idx)
      sparkLayer(ops.filter(_.phase == 1).toSeq, ops.filter(_.phase == 1).toSeq)
      deletes(serving, warmupOps)
    }
  }

  /** How much the stream repeats itself, over the untimed warm-up and the
    * timed queries in the order they ran. A timed query is a repeat when
    * the same query ran before in this JVM; a filter query repeats its
    * filter when an earlier filter query used the same `lang`. The p50s
    * of first and repeated queries separate what a cache can serve. */
  private def repeats(queries: Seq[OpRec]): Unit = {
    val seen = mutable.HashSet.empty[QueryOp]
    val seenLang = mutable.HashSet.empty[String]
    val timed = mutable.ArrayBuffer.empty[(OpRec, Boolean)]
    val filterRepeats = mutable.ArrayBuffer.empty[Boolean]
    queries.filter(_.phase <= 0).foreach { op =>
      val repeat = !seen.add(op.q)
      if (op.phase == 0) timed += op -> repeat
      op.q match {
        case ScorerQ(_, _, b: BoolQ) =>
          b.filter.collectFirst { case AttrQ(_, v) => v }.foreach { lang =>
            val again = !seenLang.add(lang)
            if (op.phase == 0) filterRepeats += again
          }
        case _ => ()
      }
    }
    val (rep, first) = timed.partition(_._2)
    repeated ++= rep.map(_._1.id)
    report.add("info", "repeat_share", rep.length.toDouble / timed.length, "ratio", timed.length)
    if (filterRepeats.nonEmpty)
      report.add("info", "filter_repeat_share", filterRepeats.count(identity).toDouble /
        filterRepeats.length, "ratio", filterRepeats.length)
    if (first.nonEmpty)
      report.add("info", "first_query_p50_s", Stats.median(first.map(_._1.sec).toSeq), "s", first.length)
    if (rep.nonEmpty)
      report.add("info", "repeat_query_p50_s", Stats.median(rep.map(_._1.sec).toSeq), "s", rep.length)
  }

  /** The delete path, after everything else of a traced run:
    * `DeleteBatches` deleteByUrl batches of seeded urls (half of them top
    * hits of `warmupOps`), then one query of every shape, then the warm
    * reader's tables are released, one Deletes.compact runs, and the
    * scorer-path queries run again on the reader it returns. Checks that no result carries a tombstoned doc, before or
    * after the compaction, and that the compacted index is sound. Its
    * ops are phase 3. */
  private def deletes(sv: Serving, warmupOps: Seq[OpRec]): Unit = {
    val idx = sv.idx
    val allUrls = idx.docs.select("url").as[String].collect().sorted.toIndexedSeq
    val deleted = mutable.LinkedHashSet.empty[String]
    val hits = warmupOps.filter(_.q.isInstanceOf[ScorerQ]).flatMap(_.rows.map(_.getString(2)))
    val delOps = (0 until DeleteBatches).map { b =>
      val rnd = new Random(o.seed * 104729L + b)
      val fromHits = rnd.shuffle(hits.distinct.filterNot(deleted)).take(DeleteFromHits)
      val randomUrls = Iterator.continually(allUrls(rnd.nextInt(allUrls.length)))
        .filterNot(u => deleted(u) || fromHits.contains(u)).distinct.take(DeleteRandom).toSeq
      val batch = fromHits ++ randomUrls
      val op = timeOp(3, "delete", "index", s"deleteByUrl ${batch.size} urls") {
        Deletes.deleteByUrl(idx, batch)
        (Array.empty[Row], batch.size.toLong)
      }
      deleted ++= batch
      op
    }
    val round = warmupOps.map(w => timeOp(3, w.kind, w.layer, w.label, w.q)(exec(w.q, sv)))
    round.foreach(op => structural(op).foreach(fail(op, _)))
    round.filter(_.error == null).foreach(op => leaked(op, deleted).foreach(fail(op, _)))
    val tomb = idx.tombstones.count()
    val delS = delOps.map(_.sec)
    layer("index.delete_s", Stats.median(delS), "s", delS.length)
    layer("index.tombstones", tomb.toDouble, "count", 1)
    report.add("info", "delete_p50_s", Stats.median(delS), "s", delS.length)
    val underTomb = ops.filter(op => op.phase == 3 && op.q != null).map(_.sec).toSeq
    report.add("info", "deletes_query_p50_s", Stats.median(underTomb), "s", underTomb.length)

    // compact rewrites the index in place, and the reader it returns
    // plans the same parquet paths the warm reader pinned, so Spark's
    // cache manager would serve it the pre-compaction tables (README.md,
    // "Known defect"). Retire the warm reader's tables first, as a server
    // retires its old searcher before an in-place merge.
    Seq(idx.postings, idx.docs, idx.termStats).foreach(_.unpersist(blocking = true))
    var after: InvertedIndex = null
    val c = timeOp(3, "compact", "index", "Deletes.compact") {
      after = Deletes.compact(idx)
      (Array.empty[Row], 0L)
    }
    report.add("info", "compact_s", c.sec, "s", 1)
    if (c.error == null) {
      // compaction keeps docIds stable, so the only finding CheckIndex
      // may report afterwards is the now sparse docId space
      val problems = CheckIndex.audit(after).filterNot(_.contains("docId space"))
      if (problems.nonEmpty) fail(c, s"CheckIndex after compact: ${problems.mkString("; ")}")
      val docs = after.docs.count()
      if (docs != idx.stats.docCount - tomb)
        fail(c, s"compacted index holds $docs docs, expected ${idx.stats.docCount - tomb}")
      val s2 = Serving(after, new Searcher(after), new RelationalPath(after))
      warmupOps.filter(_.q.isInstanceOf[ScorerQ]).foreach { w =>
        val op = timeOp(3, w.kind, w.layer, s"${w.label} after compact", w.q)(exec(w.q, s2))
        structural(op).foreach(fail(op, _))
        if (op.error == null) leaked(op, deleted).foreach(fail(op, _))
      }
    }
  }

  /** A tombstoned doc in the op's result, by url or by corpus doc_id. */
  private def leaked(op: OpRec, deleted: collection.Set[String]): Option[String] = {
    lazy val ids = deleted.map(docIdOfUrl)
    val bad = op.q match {
      case _: ScorerQ => op.rows.map(_.getString(2)).filter(deleted).toSeq
      case _: IntervalsQ => op.rows.map(_.getLong(0)).filter(ids).map(_.toString).toSeq
      case _ => op.rows.map(_.getLong(1)).filter(ids).map(_.toString).toSeq
    }
    if (bad.isEmpty) None else Some(s"returned tombstoned docs: ${bad.take(3).mkString(", ")}")
  }

  private def docIdOfUrl(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong

  /** Checks every family shares: ≤ k rows, ranks 1..n, and for scored
    * results score descending with docId ascending on ties. */
  private def structural(op: OpRec): Option[String] = {
    if (op.error != null) return None
    val rows = op.rows
    def ranks: Option[String] =
      rows.indices.find(i => rows(i).getInt(0) != i + 1).map(i => s"rank ${rows(i).getInt(0)} at row ${i + 1}")
    op.q match {
      case _: IntervalsQ =>
        val ids = rows.map(_.getLong(0))
        ids.indices.drop(1).find(i => ids(i) <= ids(i - 1))
          .map(i => s"doc_ids not strictly ascending at row ${i + 1}")
      case SortedQ(_, k, _) =>
        if (rows.length > k) Some(s"${rows.length} rows > k=$k") else ranks
      case _: ScorerQ =>
        if (rows.length > Queries.K) Some(s"${rows.length} rows > k=${Queries.K}")
        else ranks.orElse(rows.indices.drop(1).find { i =>
          val (s0, s1) = (rows(i - 1).getFloat(3), rows(i).getFloat(3))
          s1 > s0 || (s1 == s0 && rows(i).getLong(1) <= rows(i - 1).getLong(1))
        }.map(i => s"order broken at rank ${i + 1} (score desc, docId asc)"))
      case _ =>
        if (rows.length > Queries.K) Some(s"${rows.length} rows > k=${Queries.K}") else ranks
    }
  }

  // ---- per-layer metrics (traced run) -----------------------------------

  private def layer(name: String, v: Double, unit: String, n: Long): Unit =
    report.add("layer", name, v, unit, n)

  private def overhead(metric: String, frac: Double, n: Long): Unit =
    layer(s"trace.overhead.$metric", frac, "ratio", n)

  /** `index` build layer: stage seconds from the manifests' `metrics`
    * (median over `dirs`), sizes and counts from the last committed dir. */
  private def indexBuildLayer(dirs: Seq[Path]): Unit = {
    val manifests = dirs.map { d =>
      graft.util.Json.obj(graft.util.Json.parse(
        new String(Files.readAllBytes(d.resolve("manifest.json")), "UTF-8")))
    }
    val metrics = manifests.map(m => graft.util.Json.obj(m("metrics"))
      .map { case (k, v) => k -> graft.util.Json.double(v) })
    def stageMedian(key: String): Double = Stats.median(metrics.map(_.getOrElse(key, 0.0)))
    val stages = Seq("counts", "bounds", "docs", "stats", "hotsample", "postings",
      "termstats", "lineage", "segments")
    stages.foreach { s =>
      val name = if (s == "hotsample") "index.hotsample_wait_s" else s"index.${s}_s"
      layer(name, stageMedian(s), "s", metrics.length)
    }
    val commit = metrics.map(m => m.getOrElse("totalSec", 0.0) - stages.map(m.getOrElse(_, 0.0)).sum)
    layer("index.commit_s", Stats.median(commit), "s", metrics.length)
    val last = dirs.last
    Seq("postings", "docs", "termstats").foreach { t =>
      layer(s"index.${t}_bytes", dirBytes(last.resolve(t)).toDouble, "bytes", 1)
    }
    val r = spark.read.parquet(last.resolve("postings").toString)
      .agg(count(lit(1)), sum(size(col("blocks"))).cast("long")).head()
    layer("index.postings_rows", r.getLong(0).toDouble, "count", 1)
    layer("index.blocks", r.getLong(1).toDouble, "count", 1)
    layer("index.hot_terms_salted",
      graft.util.Json.long(manifests.last("hotTermsSalted")).toDouble, "count", 1)
    layer("index.segments",
      graft.util.Json.arr(manifests.last("segments")).length.toDouble, "count", 1)
  }

  /** `index` serving layer: open/warm seconds and what warm() cached. */
  private def servingLayer(idx: InvertedIndex, openS: Double, warmS: Double): Unit = {
    layer("index.open_s", openS, "s", 1)
    layer("index.warm_s", warmS, "s", 1)
    val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    layer("index.cached_bytes", cached.toDouble, "bytes", 1)
    layer("index.doc_caches_loaded", if (idx.urlMapIfLoaded.isDefined) 1.0 else 0.0, "count", 1)
  }

  /** `search` layer: per-family latency, jobs and shuffle bytes of the
    * traced queries; rewrite and scoredHits on the scorer-path shapes. */
  private def queryLayers(sv: Serving, pools: Map[String, IndexedSeq[QueryOp]],
                          traced: Seq[OpRec]): Unit = {
    Queries.Families.foreach { f =>
      val fo = traced.filter(_.kind == f)
      val counts = fo.map(op => tracer.countsOf(op.id))
      layer(s"search.$f.p50_s", Stats.median(fo.map(_.sec)), "s", fo.length)
      layer(s"search.$f.jobs", Stats.mean(counts.map(_.jobs.toDouble)), "count", fo.length)
      layer(s"search.$f.shuffle_bytes",
        Stats.mean(counts.map(c => (c.shuffleWrite + c.shuffleRead).toDouble)), "bytes", fo.length)
    }
    val scorerQs = Queries.warmup(pools).collect { case q: ScorerQ => q }
    val dict = new IndexTermDict(sv.idx)
    val rewrite = scorerQs.map { q =>
      val t0 = System.nanoTime(); Rewriter.rewrite(q.q, dict); (System.nanoTime() - t0) / 1e9
    }
    layer("search.rewrite_s", Stats.median(rewrite), "s", rewrite.length)
    val hits = scorerQs.map { q =>
      val t0 = System.nanoTime()
      val cand = sv.searcher.scoredHits(q.q, Queries.K).collect().length
      val t = (System.nanoTime() - t0) / 1e9
      (t, cand, sv.searcher.topK(q.q, Queries.K).collect().length)
    }
    layer("search.scored_hits_s", Stats.median(hits.map(_._1)), "s", hits.length)
    layer("search.candidates_per_hit",
      hits.map(_._2).sum.toDouble / math.max(1, hits.map(_._3).sum), "ratio", hits.length)
  }

  /** `analysis` and `util` micro-measurements on the workload's own
    * inputs: single-thread Analysis.analyze over the base texts, and
    * PFor/VarInt decode and encode over every block of a seeded term
    * sample of the index. */
  private def microLayers(idx: InvertedIndex): Unit = {
    val texts = spark.read.parquet(o.data.resolve("documents.parquet").toString)
      .select("text").as[String].collect()
    val (tokS, tokN) = timeLoop("analysis", "Analysis.analyze") {
      var n = 0L
      texts.foreach(t => n += graft.analysis.Analysis.analyze(t).length)
      n
    }
    layer("analysis.tokens_per_s", tokN / tokS, "1/s", texts.length)

    val terms = new Random(o.seed).shuffle(Queries.Terms).take(4)
    val blocks = idx.postings.filter(col("term").isin(terms: _*)).collect().flatMap(_.blocks)
    val decoded = blocks.map { b =>
      val tfs = graft.util.PFor.decodeInts(b.tfs, b.count)
      (graft.util.PFor.decodeDeltas(b.docs, b.count, b.firstDocId), tfs,
        graft.util.VarInt.decodePositions(b.positions, tfs))
    }
    val (decS, decN) = timeLoop("util", "PFor/VarInt decode") {
      var n = 0L
      blocks.foreach { b =>
        val tfs = graft.util.PFor.decodeInts(b.tfs, b.count)
        graft.util.PFor.decodeDeltas(b.docs, b.count, b.firstDocId)
        graft.util.VarInt.decodePositions(b.positions, tfs)
        n += b.count
      }
      n
    }
    layer("util.decode_postings_per_s", decN / decS, "1/s", blocks.length)
    val (encS, encN) = timeLoop("util", "PFor/VarInt encode") {
      var n = 0L
      decoded.foreach { case (docs, tfs, pos) =>
        graft.util.PFor.encodeDeltas(docs, docs(0))
        graft.util.PFor.encodeInts(tfs)
        graft.util.VarInt.encodePositions(pos)
        n += docs.length
      }
      n
    }
    layer("util.encode_postings_per_s", encN / encS, "1/s", blocks.length)
  }

  /** Repeats `pass` for at least MicroSeconds (and at least twice, the
    * first pass untimed); returns (seconds, units). One span per loop. */
  private def timeLoop(layerName: String, name: String)(pass: => Long): (Double, Long) = {
    pass
    val t0 = System.nanoTime()
    var units = 0L
    var passes = 0
    while (passes == 0 || System.nanoTime() - t0 < (MicroSeconds * 1e9).toLong) {
      units += pass; passes += 1
    }
    val t1 = System.nanoTime()
    extraSpans += Span(s"micro-$layerName-${extraSpans.length}", "", s"micro-$layerName",
      name, layerName, epochMs(t0), epochMs(t1))
    ((t1 - t0) / 1e9, units)
  }

  /** `spark` layer per op of `traced`, layer self times per op, and the
    * spans file (every op of `spanned`, its jobs and their stages). */
  private def sparkLayer(traced: Seq[OpRec], spanned: Seq[OpRec]): Unit = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    val n = traced.length
    val cs = traced.map(op => tracer.countsOf(op.id))
    def per(f: SparkCounts => Double): Double = Stats.mean(cs.map(f))
    layer("spark.jobs", per(_.jobs.toDouble), "count", n)
    layer("spark.stages", per(_.stages.toDouble), "count", n)
    layer("spark.tasks", per(_.tasks.toDouble), "count", n)
    layer("spark.task_wait_s", per(_.taskWaitMs / 1e3), "s", n)
    layer("spark.executor_run_s", per(_.runMs / 1e3), "s", n)
    layer("spark.executor_cpu_s", per(_.cpuNs / 1e9), "s", n)
    layer("spark.gc_s", per(_.gcMs / 1e3), "s", n)
    layer("spark.shuffle_write_bytes", per(_.shuffleWrite.toDouble), "bytes", n)
    layer("spark.shuffle_read_bytes", per(_.shuffleRead.toDouble), "bytes", n)
    layer("spark.spill_bytes", per(_.spill.toDouble), "bytes", n)
    layer("spark.input_bytes", per(_.input.toDouble), "bytes", n)
    layer("spark.output_bytes", per(_.output.toDouble), "bytes", n)
    layer("spark.tasks_failed", per(_.tasksFailed.toDouble), "count", n)

    // spans: one per op, its jobs and their stages
    def spansOf(ops: Seq[OpRec]): (Seq[Span], Seq[Span]) =
      (ops.map(op => Span(op.id, "", op.id, op.label, op.layer, epochMs(op.startNs), epochMs(op.endNs))),
        ops.flatMap(op => tracer.spansOf(op.id)))
    val (opSpans, sparkSpans) = spansOf(traced)
    val driverOnly = opSpans.map { s =>
      val jobs = sparkSpans.filter(j => j.parent == s.id).map(j => (j.startMs, j.endMs))
      (s.durMs - Trace.covered(jobs, s.startMs, s.endMs)) / 1e3
    }
    layer("spark.driver_only_s", Stats.mean(driverOnly), "s", n)
    val all = { val (a, b) = spansOf(spanned); a ++ b ++ extraSpans }
    val self = Trace.selfTimes(opSpans ++ sparkSpans)
    Seq("index", "search", "functions", "spark").foreach { l =>
      layer(s"trace.self_s.$l", self.filter(_._1.layer == l).map(_._2).sum / 1e3 / math.max(1, n),
        "s", n)
    }
    Seq("analysis", "util").foreach { l =>
      layer(s"trace.self_s.$l", extraSpans.filter(_.layer == l).map(_.durMs).sum / 1e3, "s",
        extraSpans.count(_.layer == l))
    }
    layer("trace.spans", all.length.toDouble, "count", all.length)
    val file = resultsDir.resolve(s"${o.workload}-seed${o.seed}-trace1.spans.jsonl")
    Files.write(file, all.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
    println(s"graftbench spans file $file (${all.length} spans)")
  }
}

object Bench {
  /** Corpus repeat factors: sf0.1 documents.parquet holds 5,000 docs. */
  val BuildRepeat = 16
  val ServeRepeat = 8
  val StagedFiles = 16
  val BuildParts = 16
  val WarmupPairs = 3
  val DeleteBatches = 2
  val DeleteFromHits = 10
  val DeleteRandom = 10
  val MicroSeconds = 0.3

  /** Per-layer metrics of every workload (BENCHMARK.json `per_layer`). */
  val PerLayer: Seq[(String, String)] =
    Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_wait_s" -> "s",
      "executor_run_s" -> "s", "executor_cpu_s" -> "s", "gc_s" -> "s",
      "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
      "spill_bytes" -> "bytes", "input_bytes" -> "bytes", "output_bytes" -> "bytes",
      "tasks_failed" -> "count", "driver_only_s" -> "s").map { case (k, u) => s"spark.$k" -> u } ++
    Seq("analysis.tokens_per_s" -> "1/s", "util.decode_postings_per_s" -> "1/s",
      "util.encode_postings_per_s" -> "1/s") ++
    Seq("counts_s", "bounds_s", "docs_s", "stats_s", "hotsample_wait_s", "postings_s",
      "termstats_s", "lineage_s", "segments_s", "commit_s").map(k => s"index.$k" -> "s") ++
    Seq("postings_bytes", "docs_bytes", "termstats_bytes").map(k => s"index.$k" -> "bytes") ++
    Seq("postings_rows", "blocks", "hot_terms_salted", "segments").map(k => s"index.$k" -> "count") ++
    Seq("index.open_s" -> "s", "index.warm_s" -> "s", "index.cached_bytes" -> "bytes",
      "index.doc_caches_loaded" -> "count", "index.delete_s" -> "s",
      "index.tombstones" -> "count") ++
    Seq("search.rewrite_s" -> "s", "search.scored_hits_s" -> "s",
      "search.candidates_per_hit" -> "ratio") ++
    Queries.Families.flatMap(f => Seq(s"search.$f.p50_s" -> "s", s"search.$f.jobs" -> "count",
      s"search.$f.shuffle_bytes" -> "bytes")) ++
    Seq("index", "search", "functions", "spark", "analysis", "util")
      .map(l => s"trace.self_s.$l" -> "s") ++
    Seq("op_p50_s", "ops_per_s").map(m => s"trace.overhead.$m" -> "ratio") ++
    Seq("trace.spans" -> "count")

  def rmrf(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      var total = 0L
      Files.walk(p).filter(f => Files.isRegularFile(f)).forEach(f => total += Files.size(f))
      total
    }
}
