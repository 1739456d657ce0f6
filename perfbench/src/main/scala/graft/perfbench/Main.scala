package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  * {{{
  *   Main --workload pk_serving --seed 1 --seconds 12 --trace 0
  *        --out run.json --work <scratch dir inside the checkout>
  * }}}
  *
  * Sequence: session → set-up repeated [[SetupRounds]] times (each into a
  * fresh warehouse, the median is `setup_s`) → warm-up → measured window
  * of `--seconds` → output checks. With `--trace 1` the window runs twice,
  * untraced then traced, so the report can give tracing's overhead; only
  * the traced half records spans and Spark jobs. The raw record goes to
  * `--out`; `run.py` turns it into metrics.
  */
object Main {
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val out = opts("out")
    val work = opts("work")
    Files.createDirectories(Paths.get(work))

    val tStart = System.nanoTime()
    val spark = session(work)
    var tPhase = tStart
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - tPhase) / 1e9
      tPhase = now
    }
    phase("session")
    val wl: Workload = workload match {
      case "pk_serving" => new PkServing(spark, seed)
      case "corpus_dedup" => new CorpusDedup(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val host = new HostNoise
    val plain = new Probe(traced = false, spark.sparkContext)
    var record = ""
    try {
      for (round <- 1 to SetupRounds) {
        val t0 = System.nanoTime()
        wl.setup(s"$work/wh$round")
        plain.sample("setup_s", (System.nanoTime() - t0) / 1e9)
      }
      phase("setup")
      val wp = new Probe(traced = false, spark.sparkContext)
      wl.warm(wp)
      plain.check("warm-up outputs", wp.allChecksPass && wp.failedOps == 0,
        s"${wp.failedOps} warm-up operations failed or a warm-up check failed")
      phase("warm")
      System.gc()
      host.start()
      wl.measure(plain, deadline(seconds))
      val (steal, gc, heap) = host.stop()
      val hostVals = Seq("host.steal_pct" -> steal, "host.gc_ms" -> gc,
        "host.heap_peak_mb" -> heap)
      phase("window")
      val tracedRecord =
        if (!traced) None
        else {
          val tp = new Probe(traced = true, spark.sparkContext)
          System.gc()
          host.start()
          wl.measure(tp, deadline(seconds))
          val (s2, g2, h2) = host.stop()
          wl.layers(tp)
          tp.finish()
          Seq("host.steal_pct" -> s2, "host.gc_ms" -> g2, "host.heap_peak_mb" -> h2)
            .foreach { case (k, v) => tp.value(k, v) }
          phase("traced")
          Some(tp)
        }
      wl.verify(plain)
      phase("verify")
      phases.foreach { case (k, v) => plain.value(s"phase.${k}_s", v) }
      hostVals.foreach { case (k, v) => plain.value(k, v) }
      record = Json.render(Json.obj(Seq(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "cores" -> spark.sparkContext.defaultParallelism,
        "untraced" -> Json.Raw(plain.toJson(wl.describe))) ++
        tracedRecord.map(tp => "traced" -> Json.Raw(tp.toJson(Nil))).toSeq))
    } finally {
      try wl.close() finally spark.stop()
    }
    Files.write(Paths.get(out), record.getBytes("UTF-8"))
  }

  private def deadline(seconds: Double): Long =
    System.nanoTime() + (seconds * 1e9).toLong

  /** The session of `graft.Bench`, conf for conf (perfbench/detail.json
    * keeps a copy so drift shows), at `local[cores]`, with every scratch
    * path inside `work`.
    */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "3000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.retainedDeadExecutors", "1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.streaming.GraftStream.applyScaleStateStore(spark)
    spark
  }
}

/** A benchmark workload. `setup` runs several times, each into a fresh
  * warehouse; the last one's tables are the ones measured.
  */
trait Workload {
  def setup(warehouse: String): Unit
  /** Untimed passes so JIT and codegen caches are warm before the window. */
  def warm(p: Probe): Unit
  /** The measured window: run operations until `deadlineNanos`. */
  def measure(p: Probe, deadlineNanos: Long): Unit
  /** Layer-only measurements for a traced run (after its window). */
  def layers(p: Probe): Unit
  /** Final output checks. */
  def verify(p: Probe): Unit
  /** Data sizes and parameters for the record. */
  def describe: Seq[(String, Any)]
  def close(): Unit = ()
}
