package perfbench

import graft.FsUtil
import graft.operators.Knn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** A closed loop with one client: the corpus is celled once at set-up
  * (`Knn.writeCelledCorpus`), then the client sends `Knn.knnCelled` query
  * batches one after another in one long-lived session, with no
  * `clearCache` between batches. Bound by per-round jobs and driver round
  * trips rather than CPU; leaks show as rising tail latency and heap. */
final class KnnServe(seed: Long, work: String, nPoints: Long, batch: Int) extends Workload {
  val name = "knn-serve"
  val rowsPerPass: Long = batch.toLong
  val k = 5
  val level = 8
  private val dir = s"$work/knn"
  private val ptBase = Harness.keyBase(seed, 4, 1000000000L)
  private val qBase = Harness.keyBase(seed, 5, 1000000000L)
  private var corpus: DataFrame = _
  // every 5th batch keeps its answer for the brute-force check
  private val kept = mutable.ArrayBuffer[(Long, Set[(Long, Long, Int)])]()

  def generate(spark: SparkSession, tr: Tracer): Unit = {
    FsUtil.rmTree(dir)
    tr.span("sources.synth") {
      Inputs.points(spark, ptBase, nPoints).write.parquet(s"$dir/points")
    }
    tr.span("operators.knn_cell_corpus") {
      Knn.writeCelledCorpus(spark.read.parquet(s"$dir/points"), s"$dir/corpus", level)
    }
  }

  def open(spark: SparkSession): Unit = corpus = spark.read.parquet(s"$dir/corpus")

  private def queries(spark: SparkSession, i: Int): DataFrame =
    Inputs.queries(spark, qBase + i.toLong * batch, batch)

  def pass(spark: SparkSession, i: Int, tr: Tracer): Boolean = {
    val res = Knn.knnCelled(queries(spark, i), corpus, k, level).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    if (i % 5 == 0) kept += i.toLong -> res
    res.size == batch * k
  }

  def afterPass(spark: SparkSession): Unit = ()

  /** Eight seeded queries of every kept batch against `Knn.knnBrute`. */
  def check(spark: SparkSession): (Int, Int) = {
    var bad = 0
    val n = kept.size
    kept.foreach { case (i, res) =>
      val qs = queries(spark, i.toInt).orderBy(xxhash64(lit(seed), col("query_id"))).limit(8)
      val ids = qs.select("query_id").collect().map(_.getLong(0)).toSet
      val brute = Knn.knnBrute(qs, corpus, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      if (brute.isEmpty || brute != res.filter(t => ids.contains(t._1))) {
        System.err.println(s"knn batch $i differs from knnBrute")
        bad += 1
      }
    }
    kept.clear()
    (n, bad)
  }

  def layers(spark: SparkSession, tr: Tracer, out: Metrics): Boolean = {
    val b = tr.timed.toSeq
    out.put("operators.knn_batch_s", Harness.median(b.map(_.seconds)), "s")
    out.put("operators.knn_jobs_per_batch", Harness.median(b.map(tr.work(_).jobs.toDouble)), "count")
    out.put("operators.knn_cell_corpus_s",
      Harness.median(tr.named("operators.knn_cell_corpus").map(_.seconds)), "s")
    // knnCelled's start radius for this corpus (see Knn.knnCelled)
    val cellH = 180.0 / (1L << level)
    val density = nPoints.toDouble / (360.0 * 180.0)
    val r0 = math.max(1, math.ceil((math.sqrt(4.0 * k / density) / cellH - 1.0) / 2.0).toInt)
    val qs = queries(spark, 1 << 20).collect().map(r => (r.getDouble(1), r.getDouble(2)))
    Kernels.knn(qs.toSeq, level, r0, out)
    true
  }
}
