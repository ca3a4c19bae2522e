package perfbench

import graft.FsUtil
import graft.functions.GraftFunctions._
import graft.operators.Dedup
import graft.sources.Snapshots
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Caption near-duplicate curation: `Dedup.minhashPairs` -> `dedupGroups`
  * -> `Snapshots.writeSnapshot` of the representative captions. Shuffle
  * heavy and iterative, with a large snapshot write, and no spatial layer:
  * the bypass workload for every spatial change. */
final class Curation(seed: Long, work: String, nDocs: Long) extends Workload {
  val name = "curation"
  val rowsPerPass: Long = nDocs
  private val vocab = 50000
  private val dir = s"$work/curation"
  private var docs: DataFrame = _
  private var refPairs = -1L
  private var refReps = -1L

  def generate(spark: SparkSession, tr: Tracer): Unit = tr.span("sources.synth") {
    FsUtil.rmTree(dir)
    Inputs.captions(spark, seed, nDocs, vocab).write.parquet(s"$dir/captions")
  }

  def open(spark: SparkSession): Unit = docs = spark.read.parquet(s"$dir/captions")

  /** One curation job; returns (pairs, pair count, groups,
    * representatives written).
    * The pairs are materialized before grouping so the minhash and
    * grouping calls can be timed apart. */
  private def job(spark: SparkSession, tr: Tracer): (DataFrame, Long, DataFrame, Long) = {
    val (pairs, nPairs) = tr.span("operators.minhash") {
      val p = Dedup.minhashPairs(docs, "doc_id", "text").persist()
      (p, p.count())
    }
    val groups = tr.span("operators.dedup_groups") {
      Dedup.dedupGroups(docs.select("doc_id"), pairs, "doc_id")
    }
    val reps = docs.join(groups.where(col("doc_id") === col("rep_id")).select("doc_id"), "doc_id")
    val written = tr.span("sources.snapshot_write") {
      Snapshots.writeSnapshot(spark, reps, s"$dir/reps", 1L, nParts = 8, keyCol = "doc_id",
        operation = "dedup").map(_.rowCount).sum
    }
    (pairs, nPairs, groups, written)
  }

  def pass(spark: SparkSession, i: Int, tr: Tracer): Boolean = {
    val (_, n, _, written) = job(spark, tr)
    if (refPairs < 0) { refPairs = n; refReps = written }
    n == refPairs && written == refReps && n > 0
  }

  def afterPass(spark: SparkSession): Unit = {
    FsUtil.rmTree(s"$dir/reps")
    Harness.release(spark)
  }

  /** dedupGroups labels against a driver-side union-find over the same
    * pairs: every doc's label must be its component's minimum id. */
  def check(spark: SparkSession): (Int, Int) = {
    val (pairs, _, groups, _) = job(spark, new Tracer(false))
    val edges = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    afterPass(spark)
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // root = component min
    }
    val ok = labels.size == nDocs && edges.nonEmpty &&
      labels.forall { case (id, rep) => find(id) == rep }
    if (!ok) System.err.println(s"curation union-find check failed: ${labels.size} labels, ${edges.length} pairs")
    (1, if (ok) 0 else 1)
  }

  def layers(spark: SparkSession, tr: Tracer, out: Metrics): Boolean = {
    val sig = tr.timedNamed("operators.minhash").map(_.seconds)
    val grp = tr.timedNamed("operators.dedup_groups")
    out.put("operators.minhash_s", Harness.median(sig), "s")
    out.put("operators.minhash_pairs", refPairs.toDouble, "count")
    out.put("operators.dedup_groups_s", Harness.median(grp.map(_.seconds)), "s")
    out.put("operators.dedup_jobs", Harness.median(grp.map(tr.work(_).jobs.toDouble)), "count")
    out.put("sources.snapshot_write_s",
      Harness.median(tr.timedNamed("sources.snapshot_write").map(_.seconds)), "s")
    out.put("sources.snapshot_rows", refReps.toDouble, "count")
    out.put("functions.minhash_sig_s", Harness.median((0 until 3).map(_ => Harness.time(
      tr.span("functions.minhash_sig")(docs.select(minhash(col("text"), 64, 3))
        .write.format("noop").mode("overwrite").save()))._2)), "s")
    val texts = docs.where(pmod(xxhash64(lit(seed + 1), col("doc_id")), lit(16)) === 0)
      .select("text").limit(1024).collect().map(_.getString(0))
    Kernels.curation(texts.toSeq, out)
    true
  }
}
