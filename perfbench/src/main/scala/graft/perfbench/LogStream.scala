package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.core.{Catalog, GraftTable, TableDescriptor}
import graft.streaming.GraftStream

/** Append and streaming-source path, open loop. Measured inside
  * [[PkServing]]'s traced run rather than as a workload of its own: the
  * benchmark's run-time budget holds two workloads at a window long
  * enough to be steady.
  *
  * A generator appends [[BatchRows]]-row `events` batches to a log table
  * once per [[PeriodMs]] ms (each due time jittered by up to half a
  * period) on a fixed schedule, well below the rate at which the writer
  * saturates; each row carries its creation time. One
  * `GraftStream.readLog` query (ProcessingTime trigger, `foreachBatch`)
  * records when each row arrives. A stall delays every later batch, so
  * append latency is timed from the batch's due time, and the generator
  * reports how late it ran. Every appended event must arrive exactly
  * once, checked by event id.
  */
final class LogStream(spark: SparkSession, seed: Long) {
  import LogStream._

  private val rnd = new scala.util.Random(seed)
  private var table: GraftTable = _
  private var query: StreamingQuery = _
  private var nextId = 0L
  private val appended = new AtomicLong()
  private val delivered = new AtomicLong()
  private val seen = new ConcurrentHashMap[Long, Integer]()
  @volatile private var probe: Probe = _

  private def batch(createdMs: Long): DataFrame = {
    val rows = (0 until BatchRows).map { _ =>
      val id = nextId; nextId += 1
      Row(id, rnd.nextInt(Users).toLong, EventTypes(rnd.nextInt(EventTypes.length)),
        Inputs.comment(rnd, 6), createdMs)
    }
    spark.createDataFrame(rows.asJava, Schema)
  }

  /** Creates the log table, starts the query, and waits until a first
    * batch has arrived.
    */
  def setup(warehouse: String): Unit = {
    table = new Catalog(warehouse, spark).createTable("bench", "events",
      TableDescriptor(Schema, numBuckets = Buckets))
    query = GraftStream.readLog(spark, table).writeStream
      .option("checkpointLocation", s"$warehouse/_checkpoint")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (df: DataFrame, _: Long) => receive(df) }
      .start()
    table.append(batch(System.currentTimeMillis()))
    appended.addAndGet(BatchRows)
    awaitDelivered(60000)
  }

  private def receive(df: DataFrame): Unit = {
    val p = probe
    val rows = if (p == null) df.select("event_id", "created_ms").collect()
      else p.span("streaming.batch")(df.select("event_id", "created_ms").collect())
    val now = System.currentTimeMillis()
    rows.foreach { r =>
      val id = r.getLong(0)
      seen.merge(id, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
      if (p != null) p.sample("freshness_ms", (now - r.getLong(1)).toDouble)
    }
    delivered.addAndGet(rows.length)
  }

  private def awaitDelivered(timeoutMs: Long): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (delivered.get < appended.get && System.currentTimeMillis() < end) Thread.sleep(5)
    delivered.get >= appended.get
  }

  /** Open-loop generator on this thread until the deadline, then drain. */
  def measure(p: Probe, deadlineNanos: Long): Unit = {
    val listener = if (p.traced) Some(new ProgressRecorder(p)) else None
    listener.foreach(spark.streams.addListener)
    awaitDelivered(30000)
    probe = p
    val t0 = System.currentTimeMillis()
    val jitter = new scala.util.Random(seed)
    var i = 0
    while (System.nanoTime() < deadlineNanos) {
      // seeded jitter of up to half a period: the batches meet the
      // trigger clock at every phase, not at one phase fixed per run
      val due = t0 + i.toLong * PeriodMs + jitter.nextInt((PeriodMs / 2).toInt)
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val start = System.currentTimeMillis()
      p.sample("streaming.gen_late_ms", (start - due).toDouble)
      p.sample("streaming.backlog_rows", (appended.get - delivered.get).toDouble)
      val df = batch(start)
      val before = if (p.traced) table.logFileCount else 0L
      p.op("append_op_ms", "core.append")(table.append(df)).foreach { _ =>
        appended.addAndGet(BatchRows)
        p.sample("append_commit_ms", (System.currentTimeMillis() - due).toDouble)
        if (p.traced) p.sample("core.append.files_written", (table.logFileCount - before).toDouble)
      }
      i += 1
    }
    p.check("stream drained", awaitDelivered(60000),
      s"${delivered.get} of ${appended.get} events delivered")
    probe = null
    listener.foreach(spark.streams.removeListener)
  }

  def verify(p: Probe): Unit = {
    val dup = seen.asScala.count(_._2 != 1)
    val unknown = seen.keySet.asScala.count(id => id < 0 || id >= nextId)
    p.check("every event delivered exactly once",
      dup == 0 && unknown == 0 && seen.size == appended.get && appended.get == nextId,
      s"${seen.size} distinct of $nextId appended, $dup duplicated, $unknown unknown")
  }

  def close(): Unit = if (query != null) query.stop()
}

object LogStream {
  val BatchRows = 200
  val PeriodMs = 600L
  val TriggerMs = 50L
  val Buckets = 4
  val Users = 5000
  val EventTypes = Array("view", "click", "cart", "purchase", "share")

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("payload", StringType),
    StructField("created_ms", LongType)))

  /** Per-micro-batch durations from `StreamingQueryProgress`. */
  final class ProgressRecorder(p: Probe) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val pr = e.progress
      pr.durationMs.asScala.foreach { case (k, v) =>
        p.sample(s"streaming.batch.$k", v.doubleValue) }
      p.sample("streaming.batch.rows", pr.numInputRows.toDouble)
    }
  }
}
