package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Every input the engine sees comes from here,
  * built in the benchmark's JVM from `--seed` alone, so its model of
  * each table is exact and the same seed gives the same inputs.
  */
object Inputs {
  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_quantity", LongType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType),
    StructField("l_comment", StringType)))

  private val Words = Array("carefully", "final", "deposits", "ironic",
    "packages", "quickly", "regular", "accounts", "furiously", "express",
    "pending", "requests", "slyly", "bold", "blithely", "even", "special",
    "theodolites", "instructions", "foxes", "silent", "asymptotes", "dogged")
  private val Day0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay

  def comment(r: scala.util.Random, words: Int = 4): String =
    Seq.fill(words)(Words(r.nextInt(Words.length))).mkString(" ")

  /** One lineitem-shaped row for `(orderkey, line)`. */
  def lineitemRow(r: scala.util.Random, orderkey: Long, line: Int): Row = {
    val qty = 1L + r.nextInt(50)
    val price = math.round(qty * (900 + r.nextInt(100000) / 100.0) * 100) / 100.0
    val day = Day0 + r.nextInt(2500)
    Row(orderkey, line, 1L + r.nextInt(20000), 1L + r.nextInt(1000), qty, price,
      r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day)), comment(r))
  }

  /** Orders 1..`orders`, each with 1..7 lines (about 4 on average). */
  def lineitem(seed: Long, orders: Int): IndexedSeq[Row] = {
    val r = new scala.util.Random(seed)
    (1 to orders).flatMap { o =>
      (1 to 1 + r.nextInt(7)).map(l => lineitemRow(r, o.toLong, l))
    }
  }

  /** Zipf(s) sampler over `n` ranks, returned as 0-based rank. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
