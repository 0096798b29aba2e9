package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload for one seed and prints the result as the last line
  * of standard output:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <scratch dir> --results <dir> --cpus <n>
  * }}}
  *
  * `--trace 0` times the closed loop untraced and prints the end-to-end
  * metrics; `--trace 1` prints the per-layer metrics of a traced run. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, results: String, cpus: Int)

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("work"), req("results"), req("cpus").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val line = try {
      val o = parse(argv)
      val w = Workload(o.workload, o.seed, o.work)
      if (o.trace) new TracedRun(o, w).run() else new UntracedRun(o, w).run()
    } catch { case NonFatal(e) =>
      e.printStackTrace()
      sys.exit(1)
    }
    println(line)
    sys.exit(0)
  }

  def session(o: Opts, cpus: Int): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cpus]", Some(cpus))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/state/warehouse")
      .config("spark.local.dir", s"${o.work}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (steal, total) CPU jiffies of the machine so far: the share the
    * hypervisor gave to other guests. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }

  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Resident high-water mark of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p99/p95/p90/p75 with at least ten samples beyond it,
    * by nearest rank: (percentile, value). With fewer than forty samples
    * no tail percentile is supported, and the maximum is reported as p100
    * (the median is no tail, so p50 is never reported here). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    Seq(99, 95, 90, 75).find(p => s.size * (100 - p) / 100.0 >= 10) match {
      case Some(p) => p -> s(math.ceil(p / 100.0 * s.size).toInt - 1)
      case None => 100 -> s.last
    }
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The result line: `metrics` as (name, value, unit). */
  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** One cycle; `error` when it threw (`threw`) or its output was wrong;
  * `steal` is the share of the machine's CPU time the hypervisor gave to
  * other guests while it ran. */
final case class CycleRec(i: Int, wallS: Double, cpuS: Double, rows: Long,
    startMs: Double, endMs: Double, error: Option[String], threw: Boolean,
    steal: Double) {
  /** On a shared host, other guests' load arrives in episodes of minutes
    * that slow every cycle of a run by 30-60 %; cycles that ran while
    * more than 5 % of the CPU time was stolen are checked but not timed. */
  def timed: Boolean = steal <= 0.05
}

/** Shared loop machinery: runs cycles, checks each, counts failures. */
abstract class Run(o: Main.Opts, w: Workload) {
  import Main._
  protected var spark: SparkSession = _
  protected val failures = mutable.ArrayBuffer.empty[String]
  protected var storedBytes = -1L

  /** Session start plus the workload's set-up work, in seconds; the
    * inputs are generated once, untimed, right after the first start. */
  protected def setUp(cpus: Int, first: Boolean, spans: Spans): Double = {
    if (spark != null) spark.stop()
    val t0 = System.nanoTime()
    spark = session(o, cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    if (first) {
      val g0 = System.nanoTime()
      w.generate(spark)
      log(f"inputs generated in ${(System.nanoTime() - g0) / 1e9}%.3f s")
    }
    w.reset(spark)
    val t1 = System.nanoTime()
    w.warmUp(spark, spans, 1)
    val t2 = System.nanoTime()
    w.prepare(spark, spans)
    val t3 = System.nanoTime()
    log(f"set-up on local[$cpus]: session $sessionS%.3f s, warm-up ${(t2 - t1) / 1e9}%.3f s, " +
      f"prepare ${(t3 - t2) / 1e9}%.3f s")
    sessionS + (t3 - t1) / 1e9
  }

  /** Runs cycle `i` (untimed preparation, timed call, untimed check). */
  protected def runCycle(i: Int, spans: Spans): CycleRec = {
    w.beforeCycle(spark, i)
    val (steal0, total0) = cpuJiffies()
    val c0 = cpuNanos()
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis().toDouble
    val out = try Right(spans(s"cycle $i", "")(w.cycle(spark, i, spans)))
      catch { case NonFatal(e) => Left(s"cycle $i threw ${e.getClass.getName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNanos() - c0) / 1e9
    val (steal1, total1) = cpuJiffies()
    val rec = CycleRec(i, wall, cpu, out.getOrElse(0L),
      startMs, startMs + wall * 1e3,
      out.left.toOption.orElse(try w.check(spark, i) catch {
        case NonFatal(e) => Some(s"check of cycle $i threw ${e.getMessage}")
      }), out.isLeft, (steal1 - steal0).toDouble / math.max(1L, total1 - total0))
    rec.error.foreach { e => failures += e; log(e) }
    log(f"cycle $i: ${rec.wallS}%.3f s, ${rec.rows} rows, CPU steal ${rec.steal}%.3f")
    if (i + 1 == w.storeAfter) storedBytes = Workload.bytesUnder(w.stateDir)
    rec
  }

  protected def finish(cycles: Int): Unit = {
    if (failures.isEmpty)
      (try w.finalCheck(spark, cycles) catch { case NonFatal(e) => Some(e.getMessage) })
        .foreach { e => failures += e; log(e) }
    spark.stop()
  }

  /** Cycles until `seconds` of timed cycle time, and at least
    * `storeAfter` cycles; at most twice `seconds` in all. */
  protected def loop(seconds: Double, spans: Spans): Seq[CycleRec] = {
    val recs = mutable.ArrayBuffer.empty[CycleRec]
    def busy(rs: Iterable[CycleRec]) = rs.map(_.wallS).sum
    var i = 0
    // a cycle that threw leaves the state undefined: stop there
    while (i < w.maxCycles && (busy(recs.filter(_.timed)) < seconds || i < w.storeAfter) &&
        busy(recs) < 2 * seconds && !recs.lastOption.exists(_.threw)) {
      recs += runCycle(i, spans)
      i += 1
    }
    recs.toSeq
  }
}

/** `--trace 0`: the end-to-end metrics, tracing off. */
final class UntracedRun(o: Main.Opts, w: Workload) extends Run(o, w) {
  import Main._
  private val setUps = 3

  def run(): String = {
    val off = new Spans(false)
    val setupS = (0 until setUps).map(k => setUp(o.cpus, k == 0, off))
    if (w.preheatCycles > 0) w.warmUp(spark, off, w.preheatCycles)
    val recs = loop(o.seconds, off)
    // when steal never let up, time every cycle rather than none
    val timed = if (recs.count(_.timed) >= 2) recs.filter(_.timed) else recs
    val rows = timed.map(_.rows).sum
    val walls = timed.map(_.wallS)
    val (p, tailS) = tail(walls)
    val failed = recs.count(_.error.isDefined)
    finish(recs.size)
    val correct = failures.isEmpty
    log(f"${w.name} seed ${o.seed}: ${recs.size} cycles, ${timed.size} timed, " +
      f"failed_frac ${failed.toDouble / recs.size}%.4f, batch_tail_s is p$p of ${timed.size} cycles, " +
      s"set-ups ${setupS.map(s => f"$s%.3f").mkString(" ")} s")
    result(correct, recs.size, failed, Seq(
      ("setup_s", median(setupS), "s"),
      ("rows_per_s", rows / walls.sum, "rows/s"),
      ("batch_p50_s", median(walls), "s"),
      ("batch_tail_s", tailS, "s"),
      ("cpu_s_per_krow", timed.map(_.cpuS).sum / (rows / 1000.0), "s"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("stored_bytes", storedBytes.toDouble, "bytes")))
  }
}

/** `--trace 1`: per-layer metrics. Cycles alternate traced and untraced
  * in pairs (which goes first alternates too); the traced ones give the
  * layer table, the pairs give `trace_overhead_frac`. Isolation passes
  * time the lazy layers, and the cycles are repeated on `local[1]` for
  * `parallel_speedup`. */
final class TracedRun(o: Main.Opts, w: Workload) extends Run(o, w) {
  import Main._
  private val lazyLayers = Set("kernels", "smt", "decode")

  def run(): String = {
    val off = new Spans(false)
    val spans = new Spans(true)
    setUp(o.cpus, first = true, off)
    if (w.preheatCycles > 0) w.warmUp(spark, off, w.preheatCycles)
    val tl = new TraceListener
    val table = new LayerTable
    val traced = mutable.ArrayBuffer.empty[CycleRec]
    val untraced = mutable.ArrayBuffer.empty[CycleRec]
    var barrierPeak = 0L
    for (i <- 0 until w.tracedCycles) {
      val on = (i % 2 == 0) == ((i / 2) % 2 == 0)
      if (on) {
        spark.sparkContext.addSparkListener(tl)
        tl.resetBarrierPeak()
        val r = runCycle(i, spans)
        tl.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tl)
        table.addWindow(tl, r.startMs, r.endMs)
        barrierPeak = math.max(barrierPeak, tl.barrierPeak)
        traced += r
      } else untraced += runCycle(i, off)
    }
    val (deltaBytes, mainBytes) = Workload.historyBytes(w.warehouse)
    // lazy layers, each in isolation on the workload's own input
    val iso = new LayerTable
    val isoRates = mutable.Map.empty[String, Double]
    spark.sparkContext.addSparkListener(tl)
    w.isolations(spark).foreach { p =>
      p.run() // plan and code generation, untimed
      val t0 = System.currentTimeMillis().toDouble
      spans(s"isolation ${p.layer}", p.layer)(p.run())
      val t1 = System.currentTimeMillis().toDouble
      tl.drain(spark.sparkContext)
      iso.addWindow(tl, t0, t1, forceLayer = Some(p.layer))
      isoRates(p.layer) = p.units / ((t1 - t0) / 1e3)
    }
    spark.sparkContext.removeSparkListener(tl)
    finish(w.tracedCycles)
    // the same cycles on one core
    setUp(1, first = false, off)
    val single = (0 until w.singleCoreCycles).map(i => runCycle(i, off))
    finish(single.size)

    val n = traced.size.toDouble
    val perCycle = table.scaled(1 / n)
    val isoCells = iso.scaled(1.0)
    def cell(k: String): Double = {
      val layer = k.takeWhile(_ != '.')
      if (lazyLayers(layer)) isoCells.getOrElse(k, 0.0) else perCycle.getOrElse(k, 0.0)
    }
    val outRows = traced.map(r => w.outRows(r.i)).sum.toDouble
    val inRows = traced.map(_.rows).sum.toDouble
    def rate(rs: Seq[CycleRec]) = rs.map(_.rows).sum / rs.map(_.wallS).sum
    val cycleWall = traced.map(_.wallS).sum / n
    val attributed = Layers.all.filterNot(lazyLayers).map(l => cell(s"$l.wall_s")).sum
    log(f"${w.name}: cycle wall $cycleWall%.4f s = layers + unattributed $attributed%.4f s " +
      f"(lazy-layer job time inside cycles: ${lazyLayers.toSeq.map(l => perCycle.getOrElse(s"$l.wall_s", 0.0)).sum}%.4f s)")

    val base = Seq("wall_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
      "cpu_s" -> "s", "run_s" -> "s", "sched_delay_s" -> "s",
      "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
      "spill_bytes" -> "bytes", "failed_tasks" -> "count")
    val layerMetrics = for (l <- Layers.all; (m, u) <- base) yield (s"$l.$m", cell(s"$l.$m"), u)
    val sinkWall = cell("sink.wall_s")
    val specific = Seq(
      ("sources.scan_rows_per_delivered_row",
        if (outRows > 0) cell("sources.records_read") * n / outRows else 0.0, "ratio"),
      ("sink.rows_per_s", if (sinkWall > 0) outRows / n / sinkWall else 0.0, "rows/s"),
      ("kernels.rows_per_s", isoRates.getOrElse("kernels", 0.0), "rows/s"),
      ("decode.bytes_per_s", isoRates.getOrElse("decode", 0.0), "bytes/s"),
      ("dedup.survivor_frac", if (cell("dedup.jobs") > 0) outRows / inRows else 0.0, "ratio"),
      ("history.folds", traced.map(r => w.folds(r.i)).sum / n, "count"),
      ("history.delta_bytes", deltaBytes.toDouble, "bytes"),
      ("history.main_bytes", mainBytes.toDouble, "bytes"),
      ("intake.jobs_per_batch", Layers.all.map(l => perCycle.getOrElse(s"$l.jobs", 0.0)).sum, "count"),
      ("intake.barrier_bytes_peak", barrierPeak.toDouble, "bytes"),
      ("cycle.wall_s", cycleWall, "s"),
      ("parallel_speedup", rate(untraced.toSeq ++ traced.toSeq) / rate(single), "ratio"),
      ("trace_overhead_frac", median(traced.map(_.wallS).toSeq) / median(untraced.map(_.wallS).toSeq) - 1,
        "ratio"))
    val metrics = layerMetrics ++ specific
    writeTrace(tl, spans, metrics)
    val all = traced ++ untraced ++ single
    result(failures.isEmpty, all.size, all.count(_.error.isDefined), metrics)
  }

  /** Spans, jobs and the layer table, kept in memory until now. */
  private def writeTrace(tl: TraceListener, spans: Spans,
      metrics: Seq[(String, Double, String)]): Unit = {
    new File(o.results).mkdirs()
    val f = new File(o.results, s"trace-${w.name}-seed${o.seed}.json")
    val pw = new PrintWriter(f)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    try {
      pw.println("{\"spans\": [")
      pw.println(spans.done.sortBy(_.id).map(s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${q(s.name)}, "layer": ${q(s.layer)}, """ +
          s""""start_ms": ${num(s.startMs)}, "end_ms": ${num(s.endMs)}}""").mkString(",\n"))
      pw.println("], \"jobs\": [")
      pw.println(tl.jobs.values.map(j =>
        s"""{"id": ${j.id}, "layer": ${q(j.layer)}, "site": ${q(j.site)}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, """ +
          s""""stages": [${j.stageIds.mkString(", ")}]}""").mkString(",\n"))
      pw.println("], \"layers\": {")
      pw.println(metrics.map { case (k, v, u) => s"""${q(k)}: {"value": ${num(v)}, "unit": ${q(u)}}""" }
        .mkString(",\n"))
      pw.println("}}")
    } finally pw.close()
    log(s"trace written to ${f.getPath}")
  }
}
