package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.HasPartitionKey
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** What a read cost at the storage boundary, from the DSv2 scan nodes of
  * its executed plan: input partitions planned (the engine plans one per
  * file), distinct buckets among them, and rows the scans produced.
  */
final case class ScanStats(files: Long, rows: Long, buckets: Long)

object ScanStats {
  /** Stats of `df`'s last execution (call after an action on `df`). */
  def of(df: DataFrame): ScanStats = {
    val scans = leaves(df.queryExecution.executedPlan)
    val parts = scans.collect { case b: BatchScanExec => b.inputPartitions }.flatten
    val buckets = parts.collect { case k: HasPartitionKey => k.partitionKey().getInt(0) }
    val rows = scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    ScanStats(parts.size.toLong, rows, buckets.distinct.size.toLong)
  }

  /** The table's metadata and storage figures: manifest read and file
    * listing times (median of five), manifest bytes, log files, bytes.
    */
  def tableLayer(p: Probe, t: graft.core.GraftTable): Unit = {
    (1 to 5).foreach { _ =>
      val t0 = System.nanoTime()
      p.span("core.manifest_read")(t.latestOffsets)
      p.sample("core.manifest_read_ms", (System.nanoTime() - t0) / 1e6)
    }
    val files = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      val fs = p.span("core.walk_files")(graft.core.WarehouseIO.walkFiles(t.path))
      p.sample("core.walk_files_ms", (System.nanoTime() - t0) / 1e6)
      fs
    }.last
    p.value("core.manifest_bytes", files.filterNot(f =>
      f.name.endsWith(".parquet") || f.name.endsWith(".crc")).map(_.len).sum.toDouble)
    p.value("core.log_files", t.logFileCount.toDouble)
    p.value("core.table_bytes", files.map(_.len).sum.toDouble)
  }

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case r: ReusedExchangeExec => leaves(r.child)
    case other if other.children.isEmpty => Seq(other)
    case other => other.children.flatMap(leaves)
  }
}
