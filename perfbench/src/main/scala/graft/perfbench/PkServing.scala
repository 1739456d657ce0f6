package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{AggFunction, Catalog, GraftTable, MergeEngine, TableDescriptor, WarehouseIO}

/** Fluss's serving path: small primary-key commits beside point reads on
  * the same tables, one closed-loop client, then one state-analytics step.
  *
  * Tables: a lineitem-shaped last-writer-wins table (PK
  * `(l_orderkey, l_linenumber)`, descriptor defaults, so 32 buckets) and
  * an AGGREGATION-engine table keyed by `l_orderkey` (sum / max /
  * last_value, [[AggBuckets]] buckets). One loop cycle ([[Cycle]]) is: an
  * LWW upsert, a 64-key `lookupAll` on the aggregation table, an
  * aggregation upsert, another `lookupAll`, then point lookups. Keys are
  * Zipf-skewed and half the point reads target keys written in the last
  * [[RecentCommits]] commits, so they read the uncompacted tail. Every
  * read is checked against the benchmark's own model of both tables, and
  * so is the final state of both, around a `compact()` whose scans before
  * and after must be equal. A traced run adds the state-analytics step
  * (full `scan()`s of the LWW table to a `noop` sink and a Q1-style
  * pricing aggregate in SQL through a registered `GraftCatalog`) and the
  * streaming path ([[LogStream]]).
  */
final class PkServing(spark: SparkSession, seed: Long) extends Workload {
  import PkServing._

  private val base = Inputs.lineitem(seed, Orders)
  private val baseKeys: IndexedSeq[(Long, Int)] =
    new scala.util.Random(seed + 1).shuffle(base.map(r => (r.getLong(0), r.getInt(1))))
  private val baseOrders: IndexedSeq[Long] =
    new scala.util.Random(seed + 2).shuffle(base.map(_.getLong(0)).distinct)
  private val keyZipf = new Inputs.Zipf(baseKeys.size, ZipfS)
  private val orderZipf = new Inputs.Zipf(baseOrders.size, ZipfS)

  private var rnd = new scala.util.Random(seed + 3)
  private val lwwModel = mutable.HashMap[(Long, Int), Row]()
  private val aggModel = mutable.HashMap[Long, Row]()
  private val recentLww = mutable.Queue[IndexedSeq[(Long, Int)]]()
  private val recentAgg = mutable.Queue[IndexedSeq[Long]]()
  private var nextOrder = Orders + 1L
  private var sqlName: String = _
  private var lww: GraftTable = _
  private var agg: GraftTable = _

  def setup(warehouse: String): Unit = {
    rnd = new scala.util.Random(seed + 3)
    lwwModel.clear(); aggModel.clear(); recentLww.clear(); recentAgg.clear()
    nextOrder = Orders + 1L
    val catName = "perf_" + new java.io.File(warehouse).getName
    spark.conf.set(s"spark.sql.catalog.$catName", "graft.connector.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", warehouse)
    sqlName = s"$catName.bench.lineitem"
    val cat = new Catalog(warehouse, spark)
    lww = cat.createTable("bench", "lineitem", TableDescriptor(Inputs.LineitemSchema,
      primaryKey = Seq("l_orderkey", "l_linenumber")))
    agg = cat.createTable("bench", "order_agg", TableDescriptor(AggSchema,
      primaryKey = Seq("l_orderkey"),
      mergeEngine = MergeEngine.Aggregation(Map(
        "sum_qty" -> AggFunction.Sum, "max_price" -> AggFunction.Max,
        "last_comment" -> AggFunction.LastValue)), numBuckets = AggBuckets))
    lww.upsert(frame(base, Inputs.LineitemSchema))
    base.foreach(r => lwwModel((r.getLong(0), r.getInt(1))) = r)
    // one row per order: the initial aggregate, committed like any batch
    val perOrder = base.groupBy(_.getLong(0)).toIndexedSeq.sortBy(_._1).map {
      case (o, rows) => Row(o, rows.map(_.getLong(4)).sum,
        rows.map(_.getDouble(5)).max, rows.maxBy(_.getInt(1)).getString(11))
    }
    agg.upsert(frame(perOrder, AggSchema))
    perOrder.foreach(r => aggModel(r.getLong(0)) = r)
  }

  /** Every operation at least once, point lookups [[WarmLookups]] times,
    * so the window starts with warm code paths: set-up's upserts went
    * into empty tables, which skips the change computation against
    * existing state that every later upsert runs.
    */
  def warm(p: Probe): Unit = {
    upsertLww(p)
    upsertAgg(p)
    (1 to WarmLookups).foreach(_ => lookup(p))
    lookupBatch(p)
  }

  /** Runs [[Cycle]] in order from its start, checking the deadline
    * before every operation, so every window (the traced one too) runs
    * the same mix.
    */
  def measure(p: Probe, deadlineNanos: Long): Unit = {
    var step = 0
    while (System.nanoTime() < deadlineNanos) {
      Cycle(step % Cycle.length) match {
        case "upsert" => upsertLww(p)
        case "agg_upsert" => upsertAgg(p)
        case "lookup" => lookup(p)
        case "lookup_batch" => lookupBatch(p)
      }
      step += 1
    }
  }

  private def scan(p: Probe): Unit =
    p.op("state_scan_ms", "core.scan")(
      lww.scan().write.format("noop").mode("overwrite").save()
    ).foreach(_ => p.sample("state_scan_rows_per_s", lwwModel.size / (p.lastMs / 1000.0)))

  private def query(p: Probe): Unit = {
    val cutoff = java.sql.Date.valueOf(Cutoff)
    val qualifying = lwwModel.values.count(r => !r.getDate(10).after(cutoff)).toLong
    p.op("state_query_ms", "connector.query") {
      val df = spark.sql(Q1.replace("$T", sqlName))
      if (p.traced) {
        val t0 = System.nanoTime()
        p.span("plans.query")(df.queryExecution.executedPlan)
        p.sample("plans.query.plan_ms", (System.nanoTime() - t0) / 1e6)
      }
      df.collect()
    }.foreach { rows =>
      val total = rows.map(r => r.getLong(r.length - 1)).sum
      p.check("Q1 counts every qualifying row", total == qualifying,
        s"count(*) total $total, model $qualifying")
    }
  }

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def upsertLww(p: Probe): Unit = {
    val keys = mutable.LinkedHashSet[(Long, Int)]()
    while (keys.size < BatchRows - NewOrdersPerBatch * 4)
      keys += baseKeys(keyZipf.sample(rnd))
    val fresh = (0 until NewOrdersPerBatch).flatMap { _ =>
      val o = nextOrder; nextOrder += 1
      (1 to 4).map(l => (o, l))
    }
    val rows = (keys.toIndexedSeq ++ fresh).map { case (o, l) => Inputs.lineitemRow(rnd, o, l) }
    val df = frame(rows, Inputs.LineitemSchema)
    val before = if (p.traced) lww.logFileCount else 0L
    p.op("upsert_commit_ms", "core.upsert")(lww.upsert(df)).foreach { _ =>
      rows.foreach(r => lwwModel((r.getLong(0), r.getInt(1))) = r)
      remember(recentLww, rows.map(r => (r.getLong(0), r.getInt(1))))
      if (p.traced) p.sample("core.upsert.files_written", (lww.logFileCount - before).toDouble)
    }
  }

  private def upsertAgg(p: Probe): Unit = {
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < BatchRows) keys += baseOrders(orderZipf.sample(rnd))
    val rows = keys.toIndexedSeq.map(o =>
      Row(o, 1L + rnd.nextInt(50), 1000.0 + rnd.nextInt(100000) / 100.0,
        Inputs.comment(rnd)))
    val df = frame(rows, AggSchema)
    p.op("agg_upsert_commit_ms", "core.agg_upsert")(agg.upsert(df)).foreach { _ =>
      rows.foreach { r =>
        val o = r.getLong(0)
        aggModel(o) = aggModel.get(o) match {
          case None => r
          case Some(old) => Row(o, old.getLong(1) + r.getLong(1),
            math.max(old.getDouble(2), r.getDouble(2)), r.getString(3))
        }
      }
      remember(recentAgg, keys.toIndexedSeq)
    }
  }

  private def remember[K](q: mutable.Queue[IndexedSeq[K]], keys: IndexedSeq[K]): Unit = {
    q.enqueue(keys)
    while (q.size > RecentCommits) q.dequeue()
  }

  /** Half recent (read-your-writes over the uncompacted tail), half Zipf. */
  private def pick[K](recent: mutable.Queue[IndexedSeq[K]], zipf: => K): K =
    if (recent.nonEmpty && rnd.nextBoolean()) {
      val c = recent(rnd.nextInt(recent.size))
      c(rnd.nextInt(c.size))
    } else zipf

  private def lookup(p: Probe): Unit = {
    val k = pick(recentLww, baseKeys(keyZipf.sample(rnd)))
    val key = Map[String, Any]("l_orderkey" -> k._1, "l_linenumber" -> k._2)
    p.op("lookup_ms", "core.lookup") {
      val df = lww.lookup(key)
      if (p.traced) {
        val t0 = System.nanoTime()
        p.span("plans.lookup")(df.queryExecution.executedPlan)
        p.sample("plans.lookup.plan_ms", (System.nanoTime() - t0) / 1e6)
      }
      val rows = df.collect()
      if (p.traced) scanSample(p, "core.lookup", df, rows.length)
      rows
    }.foreach { rows =>
      p.check("lookup matches model",
        rows.map(norm).toSeq == lwwModel.get(k).map(norm).toSeq,
        s"key $k: got ${rows.map(norm).toSeq}, model ${lwwModel.get(k).map(norm)}")
    }
  }

  private def lookupBatch(p: Probe): Unit = {
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < BatchKeys) keys += pick(recentAgg, baseOrders(orderZipf.sample(rnd)))
    p.op("lookup_batch_ms", "core.lookup_batch") {
      val df = agg.lookupAll(keys.toSeq.map(o => Map[String, Any]("l_orderkey" -> o)))
      val rows = df.collect()
      if (p.traced) scanSample(p, "core.lookup_batch", df, rows.length)
      rows
    }.foreach { rows =>
      val want = keys.toSeq.flatMap(aggModel.get).map(norm).toSet
      p.check("lookupAll matches model", rows.map(norm).toSet == want,
        s"${rows.length} rows, model ${want.size}")
    }
  }

  private def scanSample(p: Probe, prefix: String, df: DataFrame, returned: Int): Unit = {
    val s = ScanStats.of(df)
    p.sample(s"$prefix.files_read", s.files.toDouble)
    p.sample(s"$prefix.rows_scanned_per_row_returned", s.rows.toDouble / math.max(1, returned))
    if (prefix == "core.lookup") p.sample("plans.lookup.buckets_read", s.buckets.toDouble)
  }

  def layers(p: Probe): Unit = {
    (1 to 3).foreach { _ =>
      val t0 = System.nanoTime()
      p.span("connector.get_table")(
        new Catalog(WarehouseIO.warehouseOf(lww.path), spark).getTable("bench", "lineitem"))
      p.sample("connector.get_table_ms", (System.nanoTime() - t0) / 1e6)
    }
    ScanStats.tableLayer(p, lww)
    // the non-grouped read-time collapse over the whole log
    val logRows = lww.logDF.count()
    val t0 = System.nanoTime()
    p.span("merge.collapse") {
      graft.merge.Materialize.currentState(lww.logDF, lww.desc)
        .write.format("noop").mode("overwrite").save()
    }
    p.value("merge.collapse_rows_per_s", logRows / ((System.nanoTime() - t0) / 1e9))
    p.value("merge.log_rows_per_live_row", logRows.toDouble / lwwModel.size)
    // the state-analytics step (full scan, SQL through the catalog,
    // compaction); then the state read right after the compaction:
    // snapshot, no tail
    (1 to 3).foreach { _ => scan(p); query(p) }
    checkAndCompact(p)
    (1 to 3).foreach { _ =>
      val t1 = System.nanoTime()
      p.span("core.scan_compacted")(lww.scan().write.format("noop").mode("overwrite").save())
      p.sample("merge.scan_compacted_rows_per_s", lwwModel.size / ((System.nanoTime() - t1) / 1e9))
    }
    // the append and streaming-source path: a log table read by one
    // micro-batch query while an open-loop generator appends to it
    val stream = new LogStream(spark, seed)
    try {
      stream.setup(s"${WarehouseIO.warehouseOf(lww.path)}/stream")
      stream.measure(p, System.nanoTime() + StreamSeconds * 1000000000L)
      stream.verify(p)
    } finally stream.close()
    // write-time changelog generation: changelog rows per upserted row
    for ((t, name, write) <- Seq(
        (lww, "merge.changes_per_upsert_row", () => upsertLww(p)),
        (agg, "merge.changes_per_agg_upsert_row", () => upsertAgg(p)))) {
      write()
      val v = t.latestVersion.get
      p.value(name, t.changesBetween(v - 1, v).count().toDouble / BatchRows)
    }
  }

  /** After the window: the final output checks, around a compaction of
    * the LWW table whose scans before and after must both equal the
    * model.
    */
  def verify(p: Probe): Unit = {
    val bytes = WarehouseIO.walkFiles(lww.path).map(_.len).sum
    p.value("stored_bytes_per_live_row", bytes.toDouble / lwwModel.size)
    checkAndCompact(p)
  }

  /** Both tables against the model, and the LWW table's scans before and
    * after a `compact()`.
    */
  private def checkAndCompact(p: Probe): Unit = {
    val aggGot = agg.scan().collect().map(norm).toSet
    p.check("aggregation state matches model", aggGot == aggModel.values.map(norm).toSet,
      s"${aggGot.size} rows vs model ${aggModel.size}")
    val want = lwwModel.values.map(norm).toSet
    val before = lww.scan().collect().map(norm).toSet
    p.check("LWW state matches model before compact()", before == want,
      s"${before.size} rows vs model ${want.size}")
    p.op("compact_ms", "core.compact")(lww.compact())
    val after = lww.scan().collect().map(norm).toSet
    p.check("LWW scan after compact() returns the same rows", after == before,
      s"${after.size} rows vs ${before.size} before")
  }

  def describe: Seq[(String, Any)] = Seq(
    "lineitem_rows" -> base.size, "orders" -> Orders,
    "buckets" -> lww.desc.numBuckets, "agg_buckets" -> AggBuckets, "batch_rows" -> BatchRows,
    "lookup_batch_keys" -> BatchKeys, "lookups_per_cycle" -> LookupsPerCycle,
    "live_rows_end" -> lwwModel.size)
}

object PkServing {
  val Orders = 5000
  val BatchRows = 200
  /** The aggregation table is one row per order, a quarter of the LWW
    * table, so it gets fewer buckets than the descriptor default.
    */
  val AggBuckets = 4
  val NewOrdersPerBatch = 5
  val BatchKeys = 64
  val LookupsPerCycle = 80
  /** Point lookups before the window: their latency still falls by about
    * a quarter over the first few dozen calls as the JIT compiles the
    * read path, and the window should not measure that drift.
    */
  val WarmLookups = 20
  /** Length of the traced run's streaming measurement. */
  val StreamSeconds = 8L
  /** The closed loop's operation order: the commits and batched reads,
    * then a long stretch of point lookups. A cycle is longer than the
    * benchmark's window, so every window runs the same mix and ends
    * among point lookups, the cheapest operation.
    */
  val Cycle: IndexedSeq[String] =
    (Seq("upsert", "lookup_batch", "agg_upsert", "lookup_batch") ++
      Seq.fill(LookupsPerCycle)("lookup")).toIndexedSeq
  val Cutoff = "1998-09-02"
  val Q1: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  sum(l_quantity) AS sum_qty, sum(l_extendedprice) AS sum_base_price,
       |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       |  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       |  avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price,
       |  avg(l_discount) AS avg_disc, count(*) AS count_order
       |FROM $$T
       |WHERE l_shipdate <= date '$Cutoff'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin
  val RecentCommits = 3
  val ZipfS = 1.1

  val AggSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("sum_qty", LongType),
    StructField("max_price", DoubleType),
    StructField("last_comment", StringType)))

  /** Row values with dates as text, for model comparison. */
  def norm(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.sql.Date => d.toString
    case x => x
  }
}
