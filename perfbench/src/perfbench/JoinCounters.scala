package perfbench

import graft.functions.GraftFunctions._
import graft.operators.SpatialJoin
import graft.sources.SynthData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact counts of the spatial join's work, taken from outside the
  * operator with the same pieces it is built from (`SpatialJoin.coverSide`
  * and `st_cell_ancestors`): every probe row a point emits, the candidates
  * its ancestor chain meets in the cover (full cells skip the ray-cast,
  * partial cells pay it), and the candidates that match. */
object JoinCounters {

  final case class Counts(probeRows: Long, full: Long, partial: Long, matches: Long) {
    def candidates: Long = full + partial
    def matchRatio: Double = if (candidates == 0) 0.0 else matches.toDouble / candidates
  }

  /** points(lon, lat) against polys(geom) at cover level `level`. */
  def count(points: DataFrame, polys: DataFrame, level: Int): Counts = {
    val probe = points.select(col("lon"), col("lat"),
      explode(st_cell_ancestors(col("lon"), col("lat"), level)).as("cell"))
    val cover = SpatialJoin.coverSide(polys, level)
    val nProbe = probe.count()
    val r = probe.join(broadcast(cover), "cell").agg(
      sum(when(col("full"), 1L).otherwise(0L)),
      sum(when(col("full"), 0L).otherwise(1L)),
      sum(when(col("full") || st_contains_rings(col("rings"), col("lon"), col("lat")), 1L)
        .otherwise(0L))).head()
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    Counts(nProbe, l(0), l(1), l(2))
  }

  /** The q15 shape at sf0.1 (150,000 points, 1,000 polygons, level 10),
    * rebuilt without the sf0.1 tables: sf0.1 `orders` keys are 0..149999 and
    * `supplier` keys 0..999, which is exactly what SynthData's arithmetic
    * reads from them. */
  val Q15Expected = Counts(probeRows = 150000L * 11, full = 1825761L, partial = 418928L,
    matches = 1969019L)

  def q15(spark: SparkSession, dir: String): Counts = {
    Inputs.writeSuppliers(spark, s"$dir/q15", 0L, 1000L)
    val polys = SynthData.polygons(spark, s"$dir/q15")
      .withColumn("geom", st_geomfromtext(col("wkt"))).select("poly_id", "geom")
    count(SynthData.pointsN(spark, 150000L), polys, level = 10)
  }
}
