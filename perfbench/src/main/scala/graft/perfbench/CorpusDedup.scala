package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.{MinHashSig, VectorExprs}
import graft.pipeline.Dedup

/** The near-duplicate pipeline over a generated corpus, closed loop:
  * `hashedShingleDocs` → `minhashSignaturesFromDocs(60)` →
  * `minhashLshVerifiedPairsFromSigs(0.8)` → `clusters` →
  * `canonicalDocsFromClusters`, repeated until the window closes. The
  * only workload that runs the native kernels and the `pipeline` layer;
  * it bypasses the table layers, so a `core`/`merge` change should not
  * move it. Set-up loads the corpus into the cache and computes the exact
  * all-pairs answer (`ngramJaccardPairsFromDocs`); each pass's verified
  * pairs must equal it, and the pass's keepers must equal its clusters.
  */
final class CorpusDedup(spark: SparkSession, seed: Long) extends Workload {
  import CorpusDedup._

  private val docRows = documents(seed)
  private var docs: DataFrame = _
  private var exactPairs: Set[(Long, Long)] = Set.empty
  private var keepers: Set[Long] = Set.empty

  /** Loads the corpus into the session's cache and computes the exact
    * answer the passes are checked against.
    */
  def setup(warehouse: String): Unit = {
    if (docs != null) docs.unpersist(blocking = true)
    docs = spark.createDataFrame(docRows.asJava, Schema).persist(StorageLevel.MEMORY_AND_DISK)
    docs.count()
    val sd = Dedup.hashedShingleDocs(docs, "doc_id", "text", Shingle)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try exactPairs = Dedup.ngramJaccardPairsFromDocs(sd, Threshold)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    finally sd.unpersist()
    keepers = expectedKeepers(exactPairs)
  }

  /** Keepers of the exact answer: per connected component, the highest
    * score, ties to the smallest id.
    */
  private def expectedKeepers(pairs: Set[(Long, Long)]): Set[Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    docRows.groupBy(r => find(r.getLong(0))).values.map { rs =>
      rs.minBy(r => (-r.getDouble(2), r.getLong(0))).getLong(0)
    }.toSet
  }

  private def pass(p: Probe): Unit = {
    val res = p.op("dedup_pass_ms", "pipeline.pass") {
      val sd = p.span("pipeline.shingle") {
        val d = Dedup.hashedShingleDocs(docs, "doc_id", "text", Shingle)
          .persist(StorageLevel.MEMORY_AND_DISK)
        if (p.traced) d.count()
        d
      }
      try {
        val sigs = p.span("pipeline.sign")(
          Dedup.minhashSignaturesFromDocs(sd, NumHashes).localCheckpoint())
        val pairs = p.span("pipeline.pairs")(
          Dedup.minhashLshVerifiedPairsFromSigs(sd, sigs, Threshold).select("a_id", "b_id")
            .persist(StorageLevel.MEMORY_AND_DISK))
        try {
          val got = p.span("pipeline.pairs")(pairs.collect())
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val cl = p.span("pipeline.components") {
            val c = Dedup.clusters(docs, "doc_id", pairs)
            if (p.traced) c.persist(StorageLevel.MEMORY_AND_DISK).count()
            c
          }
          val kept = p.span("pipeline.canonical")(
            Dedup.canonicalDocsFromClusters(docs, "doc_id", cl, "score").select("doc_id")
              .collect()).map(_.getLong(0)).toSet
          cl.unpersist()
          (got, kept)
        } finally pairs.unpersist()
      } finally sd.unpersist()
    }
    res.foreach { case (got, kept) =>
      p.check("verified pairs equal the exact all-pairs answer", got == exactPairs,
        s"${got.size} pairs vs exact ${exactPairs.size}; " +
          s"missing ${(exactPairs -- got).take(5)}, extra ${(got -- exactPairs).take(5)}")
      p.check("keepers equal the exact answer's clusters", kept == keepers,
        s"${kept.size} keepers vs ${keepers.size}")
      p.sample("dedup_docs_per_s", docRows.size / (p.lastMs / 1000.0))
    }
  }

  def warm(p: Probe): Unit = (1 to WarmPasses).foreach(_ => pass(p))

  def measure(p: Probe, deadlineNanos: Long): Unit =
    while (System.nanoTime() < deadlineNanos) pass(p)

  def layers(p: Probe): Unit = {
    val sd = Dedup.hashedShingleDocs(docs, "doc_id", "text", Shingle)
      .persist(StorageLevel.MEMORY_AND_DISK)
    sd.count()
    val cand = p.span("pipeline.candidates")(Dedup.minhashLshPairsFromDocs(sd,
      numHashes = NumHashes, bands = Bands, threshold = 0.0).count())
    p.value("pipeline.candidate_pairs", cand.toDouble)
    p.value("pipeline.verified_pairs", exactPairs.size.toDouble)
    p.value("pipeline.verify_yield", exactPairs.size.toDouble / math.max(1L, cand))
    // each kernel alone over the workload's own inputs, to noop
    val (a, b) = MinHashSig.params(NumHashes, 42L)
    val sigs = sd.select(col("id"), VectorExprs.minhashSig(col("gs"), a, b, MinHashSig.P).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    val pairTable = spark.createDataFrame(
        exactPairs.toSeq.map { case (x, y) => Row(x, y) }.asJava,
        StructType(Seq(StructField("a_id", LongType), StructField("b_id", LongType))))
      .join(sigs.select(col("id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigs.select(col("id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .join(sd.select(col("id").as("a_id"), col("gs").as("a_gs")), "a_id")
      .join(sd.select(col("id").as("b_id"), col("gs").as("b_gs")), "b_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = pairTable.count()
    def rate(name: String, rows: Long, df: => DataFrame): Unit = {
      val ts = (1 to KernelRepeats).map { _ =>
        val t0 = System.nanoTime()
        p.span(s"functions.$name")(df.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e9
      }
      p.value(s"functions.$name", rows / ts.sorted.apply(ts.size / 2))
    }
    rate("shingle_hashes_rows_per_s", docRows.size,
      docs.select(VectorExprs.shingleHashes(col("text"), Shingle)))
    rate("minhash_sig_rows_per_s", docRows.size,
      sd.select(VectorExprs.minhashSig(col("gs"), a, b, MinHashSig.P)))
    rate("sig_agree_pairs_per_s", nPairs,
      pairTable.select(VectorExprs.sigAgreeCount(col("a_sig"), col("b_sig"))))
    rate("jaccard_ge_pairs_per_s", nPairs,
      pairTable.select(VectorExprs.jaccardGe(col("a_gs"), col("b_gs"), Threshold)))
    pairTable.unpersist(); sigs.unpersist(); sd.unpersist()
  }

  def verify(p: Probe): Unit =
    p.check("exact answer is non-trivial", exactPairs.nonEmpty && keepers.size < docRows.size)

  def describe: Seq[(String, Any)] = Seq("documents" -> docRows.size,
    "document_bytes" -> docRows.map(_.getString(1).length.toLong).sum,
    "exact_pairs" -> exactPairs.size, "keepers" -> keepers.size,
    "shingle" -> Shingle, "num_hashes" -> NumHashes, "threshold" -> Threshold)
}

object CorpusDedup {
  val Docs = 2000
  val Shingle = 5
  val NumHashes = 60
  val Bands = 20
  val Threshold = 0.8
  val KernelRepeats = 3
  /** Passes before the window: pass time still falls by a third over the
    * first five or so passes as the JIT compiles the pipeline's code, and
    * the window should not measure that drift.
    */
  val WarmPasses = 5
  /** Share of documents that are edited copies of an earlier one. */
  val DupShare = 0.3

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("score", DoubleType)))

  /** Seeded corpus of random-word documents. Past the first ten, the
    * documents at positions 0-2 of every ten ([[DupShare]]) are copies of
    * an earlier document with 1..8 word edits, so the corpus has pairs on
    * both sides of the threshold. Which document copies which, and how many words it
    * edits, depend on the position only: every seed gives the same
    * duplicate-cluster shape (and so the same connected-components
    * work), and the seed varies the words.
    */
  def documents(seed: Long): IndexedSeq[Row] = {
    val r = new scala.util.Random(seed)
    val vocab = IndexedSeq.fill(4000)(
      Iterator.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
    val texts = mutable.ArrayBuffer[Array[String]]()
    (0 until Docs).map { i =>
      val words =
        if (i >= 10 && i % 10 < DupShare * 10) {
          val w = texts(i - 1 - i % 7).clone()
          (1 to 1 + i % 8).foreach(_ => w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.size)))
          w
        } else Array.fill(60 + r.nextInt(60))(vocab(r.nextInt(vocab.size)))
      texts += words
      Row(i.toLong, words.mkString(" "), r.nextInt(1000) / 10.0)
    }
  }
}
