package perfbench

import scala.collection.mutable

import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, Multimodal}
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, length, sum}
import org.apache.spark.sql.types._

/** `text_intake`: `StreamOps.intakeBatch` micro-batches from an empty
  * history, each followed by `Dedup.compactIntakeIfNeeded` (the
  * byte-ratio fold), as a `foreachBatch` body runs them. The history
  * grows for the whole run, so delta appends and folds compete with the
  * band and hash probes. Inputs: [[TextBatch]]es.
  *
  * The traced run also times the `decode` layer, which no cycle of either
  * workload runs, in isolation: `Multimodal.multimodalIdentities` over
  * seeded images, audio clips and video clips synthesized with the
  * engine's multimodal fixture generators. */
final class TextIntake(seed: Long, work: String) extends Workload {
  val name = "text_intake"
  private val batchRows = 800
  private val warmRows = 200
  private val payloadsPerModality = 40
  val maxCycles = 32
  val tracedCycles = 6
  val singleCoreCycles = 2
  val storeAfter = 2

  private val inDir = s"$work/input/text"
  private val payloadDir = s"$work/input/payloads"
  val stateDir = s"$work/state"
  val warehouse = s"$work/state/warehouse"
  private val outDir = s"$stateDir/out"
  private val table = "pb_text"
  private val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("html", StringType)))

  private val g = new TextGen(seed)
  private val batches: IndexedSeq[TextBatch] = {
    val hist = mutable.ArrayBuffer.empty[(Long, String)]
    (0 until maxCycles).map { b =>
      val tb = TextBatch(g, (b + 1) * 100000L, batchRows, hist.toIndexedSeq)
      hist ++= tb.originals
      tb
    }
  }
  // the warm-up's batch, on a history of its own; input partition maxCycles
  private val warm = TextBatch(g, (maxCycles + 1) * 100000L, warmRows, IndexedSeq.empty)

  def generate(spark: SparkSession): Unit = {
    val data = (batches :+ warm).zipWithIndex.flatMap { case (tb, b) =>
      tb.rows.map { case (id, html) => Row(id, html, b) }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4),
        schema.add("b", IntegerType))
      .write.mode("overwrite").partitionBy("b").parquet(inDir)
    // distinct synthesizer seeds; the seed modulo 3 picks the modality
    val seeds = new scala.util.Random(g.nextInt(Int.MaxValue))
      .shuffle((0L until 5000L).toVector).take(3 * payloadsPerModality)
    val ids = spark.createDataFrame(spark.sparkContext.parallelize(
        seeds.map(s => Row(s, s)), 4),
      StructType(Seq(StructField("doc_id", LongType), StructField("__seed", LongType))))
    def modality(m: Int) = ids.where(col("__seed") % 3 === m)
    Multimodal.syntheticPpmMixed(modality(0), "__seed", 16, 16)
      .unionByName(Multimodal.syntheticWavPcm16(modality(1), "__seed"))
      .unionByName(Multimodal.syntheticY4mBlocks(modality(2), "__seed", 64, 32, 4))
      .select(col("doc_id"), col("payload"))
      .write.mode("overwrite").parquet(payloadDir)
  }

  private def input(spark: SparkSession, b: Int): DataFrame =
    spark.read.schema(schema).parquet(s"$inDir/b=$b")

  def reset(spark: SparkSession): Unit = {
    Dedup.dropIntakeHistory(spark, table)
    Workload.deleteRecursively(new java.io.File(stateDir))
  }

  def warmUp(spark: SparkSession, spans: Spans, cycles: Int): Unit = {
    val t = s"${table}_warm"
    (0 until cycles).foreach { k =>
      spans("StreamOps.intakeBatch", "")(StreamOps.intakeBatch(input(spark, maxCycles), k.toLong, t,
        8, "html", "doc_id", s"$stateDir/warm_out"))
      spans("Dedup.compactIntakeIfNeeded", "history")(Dedup.compactIntakeIfNeeded(spark, t))
    }
    Dedup.dropIntakeHistory(spark, t)
    Workload.deleteRecursively(new java.io.File(s"$stateDir/warm_out"))
  }

  private val folded = mutable.HashMap.empty[Int, Int]

  def cycle(spark: SparkSession, i: Int, spans: Spans): Long = {
    val batch = input(spark, i)
    spans("StreamOps.intakeBatch", "")(
      StreamOps.intakeBatch(batch, i.toLong, table, 8, "html", "doc_id", outDir))
    val f = spans("Dedup.compactIntakeIfNeeded", "history")(Dedup.compactIntakeIfNeeded(spark, table))
    folded(i) = if (f) 1 else 0
    batches(i).rows.size.toLong
  }
  override def folds(i: Int): Int = folded.getOrElse(i, 0)

  private def survivorIds(spark: SparkSession, i: Int): Set[Long] =
    spark.read.parquet(s"$outDir/batch-$i").select(col("doc_id")).collect().map(_.getLong(0)).toSet

  def outRows(i: Int): Long = batches(i).survivors.size.toLong

  def check(spark: SparkSession, i: Int): Option[String] = {
    val got = survivorIds(spark, i)
    val want = batches(i).survivors
    if (got == want) None
    else Some(s"batch $i: ${got.size} survivors, expected ${want.size} " +
      s"(${(got -- want).size} unexpected, ${(want -- got).size} missing)")
  }

  def finalCheck(spark: SparkSession, cycles: Int): Option[String] = {
    val got = spark.read.parquet(s"$outDir/batch-*").select(col("doc_id")).collect().map(_.getLong(0))
    val want = (0 until cycles).map(batches(_).survivors.size).sum
    if (got.length == want && got.distinct.length == want) None
    else Some(s"the output holds ${got.length} survivors, expected $want")
  }

  def isolations(spark: SparkSession): Seq[Isolation] = {
    val b = input(spark, 0).localCheckpoint(eager = true)
    val p = spark.read.parquet(payloadDir).localCheckpoint(eager = true)
    val payloadBytes = p.select(sum(length(col("payload")))).head().getLong(0)
    Seq(
      Isolation("kernels", batches(0).rows.size.toLong, () =>
        TF.withQualityOnly(b.select(col("doc_id"),
            TF.normalizeText(TF.stripHtml(col("html"))).as("text")), "text")
          .write.format("noop").mode("overwrite").save()),
      Isolation("decode", payloadBytes, () =>
        Multimodal.multimodalIdentities(p, "payload", "doc_id")
          .write.format("noop").mode("overwrite").save()))
  }
}
