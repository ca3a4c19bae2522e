package graft.operators

import graft.functions.GraftFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Exact kNN via expanding k-ring search over the cell grid (north_rule:
  * "kNN via expanding H3 k-ring search").
  *
  * Each round r joins the still-pending queries' disk(r) cells against the
  * celled point table, takes per-query top-k by exact euclidean distance,
  * and retires a query once its kth distance is STRICTLY below r*cellHeight
  * — no point outside the disk can beat it (a cell at Chebyshev distance
  * > r is at least r full cells away), and boundary ties force one more
  * expansion round so tie-breaks match the brute-force ordering. Radius
  * doubles per round, so rounds = O(log gridSize) even for isolated
  * queries.
  *
  * Distance is squared euclidean in lon/lat degrees with a fixed expression
  * shape so the DuckDB oracle reproduces the exact doubles; ties break on
  * point_id — fully deterministic output.
  *
  * Scale shape: the celled corpus is persisted ONCE before the loop — or,
  * at 100 TB, written once as a cell-co-located table
  * ([[writeCelledCorpus]]) that [[knnCelled]] reads per query batch with
  * no re-celling or re-persisting — every round joins the
  * broadcast exploded query-disk against the same materialized blocks, no
  * per-round rescan of the raw table.
  *
  * One materialization per round: candidates and one sentinel row per
  * pending query (null point_id/dist, carrying qlon/qlat) go through ONE
  * window over query_id that both ranks and decides retirement, and the
  * round is truncated by a single checkpoint whose job also reports the
  * pending count as an observed metric. Finished rows and the next pending
  * set are narrow filters over that checkpoint, so lineage stays O(1) and
  * no cache is taken.
  *
  * Fault tolerance: by default each round is truncated with
  * `localCheckpoint(eager = true)`, which stores blocks on executors
  * WITHOUT lineage — correct and fast in local mode (this harness), but on
  * a real cluster an executor loss makes the truncated lineage
  * unrecoverable and fails the job. Pass `reliableCheckpoint = true` (with
  * `sc.setCheckpointDir`) at cluster scale: a round holds at most k + 1
  * rows per pending query, i.e. tiny relative to the corpus, so the
  * durable write is cheap per round.
  */
object Knn {

  val distExpr = "(qlon - lon) * (qlon - lon) + (qlat - lat) * (qlat - lat)"

  /** queries(query_id, qlon, qlat) x points(point_id, lon, lat) -> top-k
    * (query_id, point_id, rnk).
    *
    * `reliableCheckpoint = true` truncates each round with a durable
    * `checkpoint()` (requires `sc.setCheckpointDir`) instead of
    * executor-local `localCheckpoint()` — survives executor loss on a real
    * cluster; a round is queries-sized, so the durable write is cheap.
    * Local mode keeps the default (no durability need, no checkpoint-dir
    * I/O). */
  def knn(queries: DataFrame, points: DataFrame, k: Int, level: Int = 8,
          reliableCheckpoint: Boolean = false): DataFrame = {
    // celled corpus: materialized once (memory/disk cache), reused by every
    // round; released on exit — the returned result is checkpoint-truncated
    // and self-contained
    val pts = points.withColumn("cell", st_cellid(col("lon"), col("lat"), level))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try knnCelled(queries, pts, k, level, reliableCheckpoint)
    finally pts.unpersist(false)
  }

  /** Write the celled corpus ONCE as a cell-co-located parquet table — the
    * 100 TB shape for repeated query batches: [[knnCelled]] over this table
    * reads the materialized cells instead of re-celling and re-persisting
    * the raw corpus per call. Rows are repartitioned by cell and sorted
    * within files, so row-group min/max stats prune corpus scans. On a
    * cluster with a catalog, use `bucketBy(nBuckets, "cell").sortBy("cell")
    * .saveAsTable` for the same layout plus shuffle-free cell equijoins. */
  def writeCelledCorpus(points: DataFrame, path: String, level: Int): Unit =
    points.withColumn("cell", st_cellid(col("lon"), col("lat"), level))
      .repartition(col("cell"))
      .sortWithinPartitions("cell")
      .write.mode("overwrite").parquet(path)

  /** kNN over an ALREADY-celled corpus: `celledPts` must carry a `cell`
    * column computed at the SAME `level` (e.g. the table written by
    * [[writeCelledCorpus]], read back with `spark.read.parquet`). No cache
    * is taken here — the caller owns the corpus materialization (a
    * parquet-backed corpus IS the materialization).
    *
    * Jobs: one corpus count (sizes the start radius), then one checkpoint
    * per round. The returned frame is the union of filters over the round
    * checkpoints (plus the checkpointed brute-force part for queries with
    * fewer than k corpus points), so it never reads `celledPts` again. It
    * owns those checkpoint blocks; the ContextCleaner releases them once
    * the frame is dropped. Round 1 reads `queries` twice (disk and
    * sentinel), so `queries` must be deterministic. */
  def knnCelled(queries: DataFrame, celledPts: DataFrame, k: Int, level: Int = 8,
                reliableCheckpoint: Boolean = false): DataFrame = {
    if (reliableCheckpoint)
      require(queries.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "knn(reliableCheckpoint = true) needs sc.setCheckpointDir(...)")
    def truncate(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint(true) else df.localCheckpoint(true)
    val cellH = 180.0 / (1L << level).toDouble
    val maxR = (1L << level).toInt
    val pts = celledPts
    val r0 = startRadius(pts.count(), k, level)

    val win = Window.partitionBy("query_id").orderBy(col("dist").asc_nulls_last, col("point_id"))
    val perQuery = Window.partitionBy("query_id")
    val noPoint = lit(null).cast(pts.schema("point_id").dataType).as("point_id")
    val finishedParts = scala.collection.mutable.Buffer[DataFrame]()
    var pending = queries.select("query_id", "qlon", "qlat")
    var nPending = Long.MaxValue // unknown until round 1 runs
    var r = r0

    while (r <= 2 * maxR && nPending > 0) {
      // disk of radius r = rings 0..r, exploded per pending query
      val disk = pending.withColumn("rr", explode(sequence(lit(0), lit(math.min(r, maxR)))))
        .withColumn("cell", explode(st_ring_cells(col("qlon"), col("qlat"), level, col("rr"))))
      val cands = broadcast(disk).join(pts, "cell")
        .select(col("query_id"), col("qlon"), col("qlat"), col("point_id"), expr(distExpr).as("dist"))
      // the sentinel keeps a query with no candidate in the round and
      // carries its coordinates into the next pending set
      val sentinels = pending.select(col("query_id"), col("qlon"), col("qlat"), noPoint,
        lit(null).cast("double").as("dist"))
      val bound = r * cellH
      val obs = org.apache.spark.sql.Observation(s"knn-pending-${java.util.UUID.randomUUID}")
      // strict bound: boundary ties force one more round, matching the
      // brute-force tie-break ordering exactly; the second window reuses
      // the first one's partitioning (no extra exchange)
      val round = truncate(cands.unionByName(sentinels)
        .withColumn("rnk", row_number().over(win))
        .where(col("rnk") <= k || col("point_id").isNull)
        .withColumn("done", count(col("point_id")).over(perQuery) === k &&
          max(col("dist")).over(perQuery) < lit(bound * bound))
        .observe(obs, count(when(col("point_id").isNull && !col("done"), 1)).as("n")))
      nPending = obs.get.get("n") match {
        case Some(v: java.lang.Number) => v.longValue
        case _ => 0L
      }
      finishedParts += round.where(col("done") && col("point_id").isNotNull)
        .select("query_id", "point_id", "rnk")
      pending = round.where(col("point_id").isNull && !col("done"))
        .select("query_id", "qlon", "qlat")
      r *= 2
    }

    // any stragglers (fewer than k points in the whole grid): brute force,
    // truncated so the result never reads the corpus again
    if (nPending > 0) finishedParts += truncate(knnBrute(pending, pts, k))
    finishedParts.reduce(_ unionByName _)
  }

  /** Start radius: size disk(r0) so it expects ~4k points under a
    * uniform-density estimate — most queries then retire in round one and
    * the driver-side round loop stays 1-2 iterations. Sparse regions still
    * converge by doubling; the exact retirement bound is untouched, so the
    * OUTPUT is radius-independent. */
  private[graft] def startRadius(nPts: Long, k: Int, level: Int): Int = {
    val cellH = 180.0 / (1L << level).toDouble
    val density = math.max(nPts.toDouble, 1.0) / (360.0 * 180.0)
    math.max(1, math.min((1L << level).toInt,
      math.ceil((math.sqrt(4.0 * k / density) / cellH - 1.0) / 2.0).toInt))
  }

  /** Brute-force oracle-shaped variant (used by tests and as the fallback). */
  def knnBrute(queries: DataFrame, points: DataFrame, k: Int): DataFrame = {
    val win = Window.partitionBy("query_id").orderBy(col("dist"), col("point_id"))
    broadcast(queries).crossJoin(points)
      .withColumn("dist", expr(distExpr))
      .withColumn("rnk", row_number().over(win))
      .where(col("rnk") <= k)
      .select("query_id", "point_id", "rnk")
  }
}
