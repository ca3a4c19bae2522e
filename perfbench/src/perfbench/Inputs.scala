package perfbench

import graft.sources.SynthData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. The point and polygon layers reuse SynthData's integer
  * arithmetic (and with it its built-in hot region: 20% of points and 10%
  * of polygons near the origin) over a seed-chosen key range; `base = 0`
  * reproduces `SynthData.pointsN`. */
object Inputs {

  def points(spark: SparkSession, base: Long, n: Long): DataFrame =
    spark.range(base, base + n).select(col("id").as("point_id"),
      expr(SynthData.pointLonSql.replace("o_orderkey", "id")).as("lon"),
      expr(SynthData.pointLatSql.replace("o_orderkey", "id")).as("lat"))

  /** A `supplier.parquet` holding only the key column SynthData.polygons
    * reads, so the polygon layer comes from the engine's own source. */
  def writeSuppliers(spark: SparkSession, sfDir: String, base: Long, n: Long): Unit =
    spark.range(base, base + n).select(col("id").as("s_suppkey"))
      .coalesce(1).write.mode("overwrite").parquet(s"$sfDir/supplier.parquet")

  /** kNN query points: SynthData's uniform query arithmetic over a key range. */
  def queries(spark: SparkSession, base: Long, n: Long): DataFrame =
    spark.range(base, base + n).select(col("id").as("query_id"),
      expr(SynthData.queryLonSql.replace("n_nationkey", "id")).as("qlon"),
      expr(SynthData.queryLatSql.replace("n_nationkey", "id")).as("qlat"))

  /** Captions over a `vocab`-word vocabulary, 24 to 40 words each. Docs are
    * laid out in blocks of ten: docs 1 and 2 of a block copy doc 0 with one
    * word replaced, so 20% of the corpus is a planted near-duplicate (word
    * 3-shingle Jaccard to the block leader of about 0.8) and the rest are
    * unrelated draws. */
  def captions(spark: SparkSession, seed: Long, n: Long, vocab: Int): DataFrame = {
    val src = "(id - CASE WHEN pmod(id, 10) IN (1, 2) THEN pmod(id, 10) ELSE 0 END)"
    val len = s"(24 + CAST(pmod(xxhash64($seed, $src, -1), 17) AS INT))"
    val swap = s"CAST(pmod(xxhash64($seed, id, -2), $len) AS INT)"
    spark.range(n).select(col("id").as("doc_id"), expr(
      s"concat_ws(' ', transform(sequence(0, $len - 1), p -> " +
        s"IF(pmod(id, 10) IN (1, 2) AND p = $swap, " +
        s"concat('x', CAST(pmod(xxhash64($seed, id, -3), $vocab) AS STRING)), " +
        s"concat('w', CAST(pmod(xxhash64($seed, $src, p), $vocab) AS STRING)))))").as("text"))
  }
}
