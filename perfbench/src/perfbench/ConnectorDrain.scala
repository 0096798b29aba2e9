package perfbench

import java.sql.{DriverManager, SQLException, Timestamp}

import graft.sources.{ConnectorConfig, ConnectorRunner, IncrementalSource}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** `connector_drain`: the reference's whole pipeline, driven the way a
  * Connect worker drives a source task. `ConnectorRunner.runOnce` polls
  * a bounded batch of an `events`-shaped table (`mode=incrementing`,
  * `batch.max.rows`), parses its JSON payload (`value.converter=json`,
  * corrupt records to a parquet DLQ under `errors.tolerance=all`), runs
  * five SMTs and upserts into in-memory Derby; the loop reads the
  * committed offset through `IncrementalSource.readOffset` and starts a
  * new drain over fresh state once the backlog is empty.
  *
  * Keys: row `e` carries key `(e - 1) % keys`. Polls are the aligned id
  * windows `[(j-1)·poll + 1, j·poll]` and `keys >= poll`, so a poll holds
  * each key at most once — the precondition of `JdbcBridge.upsert` —
  * while later polls revisit earlier keys, so both the UPDATE and the
  * INSERT path of the sink run. */
final class ConnectorDrain(seed: Long, work: String) extends Workload {
  val name = "connector_drain"
  private val rows = 12000
  private val poll = 1000
  private val keys = 2500
  private val corruptShare = 0.04
  private val polls = rows / poll
  val tracedCycles = polls
  val singleCoreCycles = 4
  val storeAfter = 6
  val maxCycles = Int.MaxValue

  private val sfDir = s"$work/input/source"
  val stateDir = s"$work/state"
  val warehouse = s"$work/state/warehouse"

  // ---- the seeded backlog, known to the harness in closed form ----
  private final case class Event(id: Long, userId: Long, kind: String,
      value: Double, acct: Long, amount: String, memo: String, atS: Long,
      corrupt: Boolean, props: String)

  private val events: IndexedSeq[Event] = {
    val r = new java.util.Random(seed)
    val kinds = Array("view", "click", "cart", "buy")
    def letters(n: Int) = new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    // the same number of corrupt records in every poll, at seeded places
    val corruptIds = (0 until polls).flatMap { j =>
      scala.util.Random.javaRandomToRandom(r).shuffle((1 to poll).toVector)
        .take((poll * corruptShare).toInt).map(k => (j * poll + k).toLong)
    }.toSet
    (1 to rows).map { i =>
      val e = i.toLong
      val acct = (e - 1) % keys
      val amount = f"${r.nextInt(100000) / 100.0}%.2f"
      val memo = letters(6 + r.nextInt(10))
      val card = s"4${(1 to 15).map(_ => r.nextInt(10)).mkString}"
      val atS = 1700000000L + e * 7
      val json = s"""{"acct": $acct, "amount": "$amount", "memo": "$memo", "card": "$card", "at_s": $atS}"""
      val corrupt = corruptIds(e)
      // a record cut short after its first field: never valid JSON, never blank
      val props = if (corrupt) json.substring(0, json.indexOf(',') + 1) else json
      Event(e, r.nextInt(1000).toLong, kinds(r.nextInt(kinds.length)),
        r.nextDouble() * 100, acct, amount, memo, atS, corrupt, props)
    }
  }

  private var drain = 0
  private def url(d: Int) = s"jdbc:derby:memory:perfbench_$d"
  private def offsets(d: Int) = s"$stateDir/offsets-$d"
  private def dlq(d: Int) = s"$stateDir/dlq-$d"

  private def config(d: Int) = ConnectorConfig.Config(s"perfbench-$d", Map(
    "table" -> "events", "mode" -> "incrementing",
    "incrementing.column.name" -> "event_id",
    "batch.max.rows" -> poll.toString,
    "value.converter" -> "json",
    "value.converter.column" -> "props",
    "value.converter.schema" ->
      "acct BIGINT, amount STRING, memo STRING, card STRING, at_s BIGINT",
    "errors.tolerance" -> "all",
    "errors.deadletter.path" -> dlq(d),
    "transforms" -> "trim,mask,cast,tag,when",
    "transforms.trim.type" -> "org.apache.kafka.connect.transforms.ReplaceField$Value",
    "transforms.trim.exclude" -> "ts,user_id,value",
    "transforms.trim.renames" -> "event_type:kind",
    "transforms.mask.type" -> "org.apache.kafka.connect.transforms.MaskField$Value",
    "transforms.mask.fields" -> "card",
    "transforms.cast.type" -> "org.apache.kafka.connect.transforms.Cast$Value",
    "transforms.cast.spec" -> "amount:float64",
    "transforms.tag.type" -> "org.apache.kafka.connect.transforms.InsertField$Value",
    "transforms.tag.static.field" -> "pipeline",
    "transforms.tag.static.value" -> "perfbench",
    "transforms.when.type" -> "org.apache.kafka.connect.transforms.TimestampConverter$Value",
    "transforms.when.field" -> "at_s",
    "transforms.when.target.type" -> "Timestamp",
    "connection.url" -> s"${url(d)};create=true",
    "table.name.format" -> "acct_state",
    "insert.mode" -> "upsert", "pk.fields" -> "acct", "auto.create" -> "true"))

  def generate(spark: SparkSession): Unit = {
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    val data = events.map(e => Row(e.id, new Timestamp(e.atS * 1000), e.userId,
      e.kind, e.value, e.props))
    // one file: the scan's split of several files depends on their sizes,
    // which would move the DLQ's file count (stored_bytes) with the seed
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
      .write.mode("overwrite").parquet(s"$sfDir/events.parquet")
  }

  private def dropDb(d: Int): Unit =
    try DriverManager.getConnection(s"${url(d)};drop=true").close()
    catch { case _: SQLException => () } // Derby reports a dropped database as an exception

  def reset(spark: SparkSession): Unit = {
    (0 to drain).foreach(dropDb)
    Workload.deleteRecursively(new java.io.File(stateDir))
    drain = 0
  }

  // one throwaway drain: polls run about 30 % faster once the JIT has
  // compiled their path
  override val preheatCycles = polls

  def warmUp(spark: SparkSession, spans: Spans, cycles: Int): Unit = {
    val warm = 1000000
    (0 until cycles).foreach(_ => spans("ConnectorRunner.runOnce", "")(
      ConnectorRunner.runOnce(spark, sfDir, config(warm), offsets(warm))))
    dropDb(warm)
    Workload.deleteRecursively(new java.io.File(offsets(warm)))
    Workload.deleteRecursively(new java.io.File(dlq(warm)))
  }

  override def beforeCycle(spark: SparkSession, i: Int): Unit =
    if (i / polls != drain) { dropDb(drain); drain = i / polls }

  private val delivered = scala.collection.mutable.HashMap.empty[Int, Long]
  private var lastOffset = -1L

  def cycle(spark: SparkSession, i: Int, spans: Spans): Long = {
    val n = spans("ConnectorRunner.runOnce", "")(
      ConnectorRunner.runOnce(spark, sfDir, config(drain), offsets(drain)))
    val off = spans("IncrementalSource.readOffset", "sources")(
      IncrementalSource.readOffset(spark, offsets(drain)))
    delivered(i) = n
    lastOffset = off.map(_._2).getOrElse(-1L)
    window(i).size.toLong
  }

  private def window(i: Int): IndexedSeq[Event] = {
    val j = i % polls
    events.slice(j * poll, (j + 1) * poll)
  }

  def outRows(i: Int): Long = delivered.getOrElse(i, 0L)

  private def query[T](d: Int, sql: String)(f: java.sql.ResultSet => T): T = {
    val c = DriverManager.getConnection(url(d))
    try {
      val rs = c.createStatement().executeQuery(sql)
      try f(rs) finally rs.close()
    } finally c.close()
  }

  /** Expected sink table after the first `k` polls of a drain. */
  private def expectedTable(k: Int): Map[Long, Event] =
    events.take(k * poll).filterNot(_.corrupt).groupBy(_.acct).map { case (a, es) => a -> es.last }

  def check(spark: SparkSession, i: Int): Option[String] = {
    val j = i % polls
    val w = window(i)
    val want = w.count(!_.corrupt).toLong
    val wantOffset = w.last.id
    val tableRows = query(drain, "SELECT COUNT(*) FROM acct_state")(rs => { rs.next(); rs.getLong(1) })
    if (delivered(i) != want) Some(s"cycle $i delivered ${delivered(i)} rows, expected $want")
    else if (lastOffset != wantOffset) Some(s"cycle $i committed offset $lastOffset, expected $wantOffset")
    else if (tableRows != expectedTable(j + 1).size)
      Some(s"cycle $i: sink holds $tableRows keys, expected ${expectedTable(j + 1).size}")
    else None
  }

  def finalCheck(spark: SparkSession, cycles: Int): Option[String] = {
    val k = (cycles - 1) % polls + 1
    val want = expectedTable(k)
    val got = query(drain, "SELECT \"event_id\", \"kind\", \"acct\", \"amount\", \"memo\", " +
        "\"card\", \"at_s\", \"pipeline\" FROM acct_state") { rs =>
      val b = Map.newBuilder[Long, (Long, String, Double, String, String, Long, String)]
      while (rs.next()) b += rs.getLong(3) -> (rs.getLong(1), rs.getString(2),
        rs.getDouble(4), rs.getString(5), rs.getString(6), rs.getTimestamp(7).getTime, rs.getString(8))
      b.result()
    }
    val bad = want.collect { case (a, e)
      if !got.get(a).contains((e.id, e.kind, e.amount.toDouble, e.memo, null, e.atS * 1000, "perfbench")) => a }
    val dlqWant = events.take(k * poll).filter(_.corrupt).map(e => e.id -> e.props).toMap
    val dlqGot = spark.read.parquet(dlq(drain)).select(col("event_id"), col("raw")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    if (got.size != want.size || bad.nonEmpty)
      Some(s"sink table differs from the expected upsert result on ${bad.size} keys " +
        s"(${got.size} rows, expected ${want.size})")
    else if (dlqGot.length != dlqWant.size || dlqGot.toMap != dlqWant)
      Some(s"DLQ holds ${dlqGot.length} records, expected ${dlqWant.size}")
    else None
  }

  def isolations(spark: SparkSession): Seq[Isolation] = {
    // the SMT chain alone over one parsed poll, written nowhere
    val parsed = spark.read.parquet(s"$sfDir/events.parquet").where(col("event_id") <= poll)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"),
        org.apache.spark.sql.functions.from_json(col("props"),
          StructType.fromDDL("acct BIGINT, amount STRING, memo STRING, card STRING, at_s BIGINT"))
          .as("p"))
      .select(col("*"), col("p.*")).drop("p")
      .where(col("acct").isNotNull)
      .localCheckpoint(eager = true)
    val chain = graft.operators.SmtChain.fromConfig(config(0))
    Seq(Isolation("smt", parsed.count(), () =>
      chain(parsed).write.format("noop").mode("overwrite").save()))
  }
}
