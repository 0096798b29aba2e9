package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.RDDBlockId

/** The layers of the engine a trace charges work to, named after its
  * modules. `unattributed` takes driver time outside every job, and the
  * jobs whose call site holds no engine frame. */
object Layers {
  val all: Seq[String] = Seq("sources", "smt", "sink", "kernels", "decode",
    "dedup", "history", "intake", "unattributed")

  private val Frame = """^\s*(graft\.[\w.$]+?)\$?\.([\w$]+)\(""".r.unanchored
  private val historyVerb = """^(append|compact|ensure|drop).*""".r

  /** Layer of a call site's long form (the stack Spark records for every
    * job and SQL execution, innermost frame first): the innermost frame
    * of an engine class decides. */
  def ofCallSite(details: String): Option[String] =
    Option(details).iterator.flatMap(_.linesIterator).collectFirst {
      case Frame(cls, method) => ofFrame(cls.replace("$", ""), baseMethod(method))
    }

  /** `$anonfun$name$3` and `name$1` both belong to `name`. */
  private def baseMethod(m: String): String = {
    val i = m.indexOf("$anonfun$")
    val s = if (i >= 0) m.substring(i + "$anonfun$".length) else m
    s.takeWhile(_ != '$')
  }

  private def ofFrame(cls: String, method: String): String =
    cls.stripPrefix("graft.") match {
      case "sources.ConnectorRunner" | "sources.ConnectorConfig" |
           "sources.IncrementalSource" | "sources.ErrorTolerance" |
           "sources.Tables" | "sources.AtomicPointer" => "sources"
      case "operators.SmtChain" | "operators.Smt" => "smt"
      case "sources.JdbcBridge" | "streaming.FileSink" => "sink"
      case c if c.startsWith("functions.") => "kernels"
      case "operators.Multimodal" => "decode"
      case "operators.Layout" => "history"
      case "operators.Dedup" | "operators.Similarity" | "operators.UrlOps" =>
        method match {
          case historyVerb(_) => "history"
          case _ => "dedup"
        }
      case "streaming.StreamOps" => "intake"
      case _ => "unattributed"
    }
}

/** One Spark job as the listener saw it. Times are driver wall clock in
  * epoch milliseconds. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long,
    layer: String, site: String, stageIds: Seq[Int])

/** Summed task metrics of one completed stage attempt. */
final case class StageRec(id: Int, tasks: Int, failedTasks: Int,
    cpuS: Double, runS: Double, schedDelayS: Double,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, recordsRead: Long)

/** A harness-side span around one public call into the engine. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startMs: Double, endMs: Double)

/** Harness-owned listener: records every job, the summed task metrics of
  * every stage, and the bytes of RDD blocks (the checkpoint and persist
  * barriers) the block manager holds. Events arrive on Spark's listener
  * bus; call [[drain]] before reading. Everything stays in memory until
  * the run writes it out. */
final class TraceListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val execDetails = mutable.HashMap.empty[Long, String]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val taskWaitMs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  private val taskFailed = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var rddBytes = 0L
  @volatile var barrierPeak = 0L

  def resetBarrierPeak(): Unit = synchronized { barrierPeak = rddBytes }

  /** (layer, the call site it came from): the job's own stack, or its SQL
    * execution's when the job runs on a thread of Spark's (broadcasts). */
  private def layerOf(props: Properties, details: Seq[String]): (String, String) = {
    val exec = Option(props).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execDetails.get(id.toLong))
    (details ++ exec).iterator.flatMap(d => Layers.ofCallSite(d).map(_ -> d)).nextOption()
      .map { case (l, d) => l -> d.linesIterator.find(_.contains("graft.")).getOrElse("").trim }
      .getOrElse("unattributed" -> details.headOption.flatMap(_.linesIterator.nextOption()).getOrElse(""))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execDetails(s.executionId) = s.details
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (layer, site) = layerOf(e.properties, e.stageInfos.sortBy(-_.stageId).map(_.details))
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.time, layer, site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    // wait for a core after the stage was submitted, plus the task
    // overhead the executor did not spend running it (Spark's UI
    // definition of scheduler delay)
    val queued = stageSubmitMs.get(e.stageId).map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)
    val overhead = if (m == null) 0L else math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime -
      (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
    taskWaitMs(e.stageId) += queued + overhead
    if (info.failed || info.killed) taskFailed(e.stageId) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stages(si.stageId) = StageRec(si.stageId, si.numTasks,
      taskFailed(si.stageId),
      m.executorCpuTime / 1e9, m.executorRunTime / 1e3,
      taskWaitMs(si.stageId) / 1e3,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case _: RDDBlockId =>
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        rddBytes += size - rddBlocks.getOrElse(key, 0L)
        if (size == 0L) rddBlocks.remove(key) else rddBlocks(key) = size
        if (rddBytes > barrierPeak) barrierPeak = rddBytes
      case _ => ()
    }
  }

  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbenchshim.Bus.waitUntilEmpty(sc)

  /** Jobs submitted inside `[fromMs, toMs]`. */
  def jobsIn(fromMs: Double, toMs: Double): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= math.floor(fromMs) && j.startMs <= math.ceil(toMs)).toSeq
  }

  /** Stages first run by `js` (a stage shared by two jobs counts once). */
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }
}

/** Per-layer totals over a set of windows. */
final class LayerTable {
  private val cells = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = cells(k) = cells.getOrElse(k, 0.0) + v
  def scaled(by: Double): Map[String, Double] = cells.map { case (k, v) => k -> v * by }.toMap

  /** Charge `js` (jobs of one window) to their layers, and the window's
    * wall time to the layer of the job that started last among those
    * running at each instant, or to `unattributed` when none runs. The
    * wall shares of one window add up to its length exactly. */
  def addWindow(tl: TraceListener, fromMs: Double, toMs: Double,
      forceLayer: Option[String] = None): Unit = {
    val js = tl.jobsIn(fromMs, toMs)
    def layer(j: JobRec) = forceLayer.getOrElse(j.layer)
    js.groupBy(layer).foreach { case (l, lj) =>
      add(s"$l.jobs", lj.size.toDouble)
      tl.stagesOf(lj).foreach { s =>
        add(s"$l.stages", 1); add(s"$l.tasks", s.tasks)
        add(s"$l.cpu_s", s.cpuS); add(s"$l.run_s", s.runS)
        add(s"$l.sched_delay_s", s.schedDelayS)
        add(s"$l.shuffle_read_bytes", s.shuffleRead.toDouble)
        add(s"$l.shuffle_write_bytes", s.shuffleWrite.toDouble)
        add(s"$l.spill_bytes", s.spill.toDouble)
        add(s"$l.failed_tasks", s.failedTasks)
        add(s"$l.records_read", s.recordsRead.toDouble)
      }
    }
    // sweep: elementary intervals between job boundaries
    val cuts = (Seq(fromMs, toMs) ++ js.flatMap(j => Seq(j.startMs.toDouble, j.endMs.toDouble))
      .filter(t => t > fromMs && t < toMs)).distinct.sorted
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val running = js.filter(j => j.startMs <= mid && j.endMs >= mid)
      val l = if (running.isEmpty) "unattributed"
        else layer(running.maxBy(j => (j.startMs, j.id)))
      add(s"$l.wall_s", (b - a) / 1e3)
    }
  }
}
