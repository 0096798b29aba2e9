package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Records a [[Span]] around each public call the harness makes into the
  * engine, when tracing is on. Spans nest: a call made inside another
  * call's body gets it as parent. */
final class Spans(val enabled: Boolean) {
  val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var next = 0

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next; next += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.currentTimeMillis().toDouble
      try body
      finally {
        open = open.tail
        done += Span(id, parent, name, layer, t0, System.currentTimeMillis().toDouble)
      }
    }
}

/** A lazy layer's isolation pass: the layer's public function applied
  * to the workload's own input and finished with a `noop` write, so its
  * cost shows apart from the jobs of the layers it normally runs inside.
  * `units` is what the pass processed (rows, or payload bytes). */
final case class Isolation(layer: String, units: Long, run: () => Unit)

/** One benchmark workload: seeded inputs, the closed loop's cycle, and
  * the closed-form expected output of every cycle. */
trait Workload {
  def name: String
  /** Cycles of the traced run's main pass, and of its `local[1]` pass. */
  def tracedCycles: Int
  def singleCoreCycles: Int
  /** `stored_bytes` is read after this many cycles, so that it does not
    * depend on how many cycles a run fits into its time. */
  def storeAfter: Int
  /** Cycles the generated input can feed; the loop ends there at the latest. */
  def maxCycles: Int

  /** Writes every input under the run's input directory. Runs once,
    * before anything is timed. */
  def generate(spark: SparkSession): Unit
  /** Removes all persisted state (histories, outputs, offsets, sink). */
  def reset(spark: SparkSession): Unit
  /** `cycles` cycles on throwaway state, then that state removed. */
  def warmUp(spark: SparkSession, spans: Spans, cycles: Int): Unit
  /** Throwaway cycles run, untimed, after set-up and before the timed
    * loop, for the JIT to reach steady code on the cycle's path. */
  def preheatCycles: Int = 0
  /** Set-up work that production pays before its first cycle. */
  def prepare(spark: SparkSession, spans: Spans): Unit = ()
  /** Untimed work before cycle `i` (starting a new drain, say). */
  def beforeCycle(spark: SparkSession, i: Int): Unit = ()
  /** Cycle `i`: returns the input rows it consumed. */
  def cycle(spark: SparkSession, i: Int, spans: Spans): Long
  /** History folds cycle `i` ran. */
  def folds(i: Int): Int = 0
  /** Checks cycle `i`'s output against the expected output. */
  def check(spark: SparkSession, i: Int): Option[String]
  /** Checks the whole persisted output after `cycles` cycles. */
  def finalCheck(spark: SparkSession, cycles: Int): Option[String]
  /** Output rows of cycle `i` (delivered rows, or survivors). */
  def outRows(i: Int): Long
  def isolations(spark: SparkSession): Seq[Isolation]
  /** Directory holding every persisted byte of the workload's state. */
  def stateDir: String
  /** Warehouse holding the history tables, when the workload has any. */
  def warehouse: String
}

object Workload {
  def names: Seq[String] = Seq("connector_drain", "text_intake")

  def apply(name: String, seed: Long, work: String): Workload = name match {
    case "connector_drain" => new ConnectorDrain(seed, work)
    case "text_intake" => new TextIntake(seed, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (${names.mkString(", ")})")
  }

  /** Bytes of the regular files under `dir`. */
  def bytesUnder(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.isFile) f.length else 0L
    walk(new File(dir))
  }

  /** (delta, main) bytes of the history tables in a warehouse: a table's
    * delta directory is its location with a `__delta` suffix. */
  def historyBytes(warehouse: String): (Long, Long) = {
    val dirs = Option(new File(warehouse).listFiles).map(_.toSeq).getOrElse(Nil)
      .filter(_.isDirectory)
    val (delta, main) = dirs.partition(_.getName.endsWith("__delta"))
    (delta.map(d => bytesUnder(d.getPath)).sum, main.map(d => bytesUnder(d.getPath)).sum)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
