package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Everything a run records: latency samples and scalar values per
  * metric, the outcome of every output check, and — in a traced run —
  * spans around the benchmark's calls into each engine layer plus the
  * Spark jobs that ran inside them. Nothing is aggregated here: the
  * report (`run.py`) computes medians, tails and self times from the raw
  * records, so the arithmetic lives (and is tested) in one place.
  */
final class Probe(val traced: Boolean, sc: SparkContext) {
  import Probe._

  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val values = mutable.LinkedHashMap[String, Double]()
  private val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  private var attempted = 0L
  /** Duration of the last successful [[op]] on this probe, in ms. */
  @volatile var lastMs: Double = 0.0
  private var failed = 0L

  def sample(metric: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer()) += v
  }
  def value(metric: String, v: Double): Unit = synchronized { values(metric) = v }

  /** An output check; a failed one fails the whole run. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    synchronized { checks += ((name, ok, if (ok) "" else detail)) }
  def allChecksPass: Boolean = synchronized { checks.forall(_._2) }
  def failedOps: Long = synchronized { failed }

  /** Times one user-visible operation into `metric` (milliseconds). A
    * failed operation counts as an infinite latency and as a failure;
    * the run goes on so the report shows how many failed.
    */
  def op[T](metric: String, spanName: String)(body: => T): Option[T] = {
    synchronized { attempted += 1 }
    val t0 = System.nanoTime()
    try {
      val r = span(spanName)(body)
      lastMs = (System.nanoTime() - t0) / 1e6
      sample(metric, lastMs)
      Some(r)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] $spanName failed: $e")
      synchronized { failed += 1 }
      sample(metric, Double.PositiveInfinity)
      None
    }
  }

  // ---- spans (traced runs only) ----
  private val spanBuf = mutable.ArrayBuffer[SpanRec]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private var nextId = 1L
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  /** Wall-clock milliseconds on the same axis as Spark's job events. */
  private def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val parentStack = stack.get
      val parent = parentStack.headOption.getOrElse(0L)
      val req = if (parentStack.isEmpty) id else parentStack.last
      stack.set(id :: parentStack)
      val prevProp = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, id.toString)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        sc.setLocalProperty(SpanProperty, prevProp)
        stack.set(parentStack)
        synchronized { spanBuf += SpanRec(id, name, start, end, parent, req) }
      }
    }

  private val listener = if (traced) Some(new JobListener) else None
  listener.foreach(sc.addSparkListener)

  /** Stops job recording and waits (bounded) for queued job events. */
  def finish(): Unit = listener.foreach { l =>
    val deadline = System.currentTimeMillis() + 5000
    while (!l.drained && System.currentTimeMillis() < deadline) Thread.sleep(20)
    sc.removeSparkListener(l)
  }

  def toJson(extra: Seq[(String, Any)]): String = synchronized {
    val jobs = listener.map(_.jobs.values.toSeq.sortBy(_.id)).getOrElse(Nil)
    Json.render(Json.obj(extra ++ Seq(
      "attempted" -> attempted,
      "failed" -> failed,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq },
      "values" -> values,
      "checks" -> checks.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> n, "ok" -> ok, "detail" -> d)) }.toSeq,
      "spans" -> spanBuf.map(s => Json.obj(Seq("id" -> s.id, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent,
        "req" -> s.req))).toSeq,
      "jobs" -> jobs.map(j => Json.obj(Seq("id" -> j.id, "span" -> j.span,
        "start" -> j.start.toDouble, "end" -> j.end.toDouble,
        "stages" -> j.stages, "tasks" -> j.tasks,
        "shuffle_bytes" -> j.shuffleBytes, "output_bytes" -> j.outputBytes,
        "input_bytes" -> j.inputBytes))).toSeq)))
  }
}

object Probe {
  val SpanProperty = "perfbench.span"

  final case class SpanRec(id: Long, name: String, start: Double, end: Double,
      parent: Long, req: Long)

  final class JobRec(val id: Int, val span: Long, val start: Long) {
    var end: Long = -1L
    var stages = 0
    var tasks = 0
    var shuffleBytes = 0L
    var outputBytes = 0L
    var inputBytes = 0L
  }

  /** Job, stage and task counts plus task I/O bytes, keyed to the span
    * that was current on the thread that submitted the job.
    */
  final class JobListener extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    private val stageJob = mutable.HashMap[Int, Int]()

    def drained: Boolean = synchronized(jobs.values.forall(_.end >= 0))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProperty))).map(_.toLong).getOrElse(0L)
      val j = new JobRec(e.jobId, span, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.outputBytes += m.outputMetrics.bytesWritten
          j.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
  }
}

/** Host noise over a measured window: CPU steal share from /proc/stat,
  * collector time and peak heap from the JVM's management beans.
  */
final class HostNoise {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  private def cpu(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal; guest time is
      // already inside user, so the total stops at steal
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  } catch { case scala.util.control.NonFatal(_) => None }
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  private var cpu0 = cpu()
  private var gc0 = gcMs()

  def start(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    cpu0 = cpu(); gc0 = gcMs()
  }

  /** (steal %, GC ms, peak heap MiB) since [[start]]. */
  def stop(): (Double, Double, Double) = {
    val steal = (cpu0, cpu()) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 =>
        100.0 * (s1 - s0) / (t1 - t0)
      case _ => 0.0
    }
    val peak = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    (steal, (gcMs() - gc0).toDouble, peak)
  }
}

/** Minimal JSON writer for the run record (no extra dependency). */
object Json {
  final case class Raw(json: String)
  def obj(fields: Seq[(String, Any)]): Raw =
    Raw(fields.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}"))
  def render(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isPosInfinity) "\"inf\"" else if (d.isNaN) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }).json
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
