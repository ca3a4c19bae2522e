package perfbench

import graft.{FsUtil, Pipeline}
import graft.functions.GraftFunctions._
import graft.operators.SpatialJoin
import graft.sources.{Snapshots, SynthData}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** The north-star job, `Pipeline.run`: WKT frontend, cell-equijoin spatial
  * join with ray-cast refinement, image decode and tile-block assignment,
  * tile aggregation and a snapshot write, over a seeded image+caption table
  * (real encoded bytes) and the SynthData polygon layer. */
final class Flagship(seed: Long, work: String, nImages: Long) extends Workload {
  val name = "flagship"
  val rowsPerPass: Long = nImages
  private val nPolys = 500L
  private val level = 10
  private val zoom = 8
  private val dir = s"$work/flagship"
  // image ids print as img-%09d, so keys stay below 10^9
  private val imgBase = Harness.keyBase(seed, 1, 900000000L)
  private val polyBase = Harness.keyBase(seed, 2, 1000000L)
  private var refTiles = -1L
  private var images: DataFrame = _
  private var polys: DataFrame = _

  def generate(spark: SparkSession, tr: Tracer): Unit = tr.span("sources.synth") {
    FsUtil.rmTree(dir)
    // SynthData.imagesN's pixel sizes (16..48) over the seeded key range
    SynthData.imagesFrom(Inputs.points(spark, imgBase, nImages))
      .withColumn("w", (col("point_id") % 3 * 16 + 16).cast("int"))
      .withColumn("h", (col("point_id") % 2 * 16 + 16).cast("int"))
      .withColumn("bytes", image_synth(struct(col("image_id"), col("w"), col("h"), col("fmt"))))
      .withColumn("footprint_wkt", st_point_wkt(col("lon"), col("lat"), 16))
      .select("image_id", "point_id", "bytes", "w", "h", "fmt", "caption", "phash",
        "footprint_wkt")
      .write.parquet(s"$dir/images")
    Files.writeString(Paths.get(s"$dir/images_count.txt"), nImages.toString)
    Inputs.writeSuppliers(spark, s"$dir/sf", polyBase, nPolys)
    SynthData.polygons(spark, s"$dir/sf").select("poly_id", "wkt")
      .write.parquet(s"$dir/polygons")
  }

  def open(spark: SparkSession): Unit = {
    images = spark.read.parquet(s"$dir/images")
    polys = spark.read.parquet(s"$dir/polygons")
      .withColumn("geom", st_geomfromtext(col("wkt"))).select("poly_id", "geom")
  }

  def pass(spark: SparkSession, i: Int, tr: Tracer): Boolean = {
    val (tiles, n) = Pipeline.run(spark, dir, zoom = zoom, level = level)
    if (refTiles < 0) refTiles = tiles // the first (warm-up) pass sets the reference
    tiles == refTiles && tiles > 0 && n == nImages
  }

  def afterPass(spark: SparkSession): Unit = {
    FsUtil.rmTree(s"$dir/tile_stats")
    Harness.release(spark)
  }

  /** The pipeline's point frontend: footprint WKT parsed once, centroid. */
  private def frontend(df: DataFrame): DataFrame = df
    .withColumn("c", st_centroid(st_geomfromtext(col("footprint_wkt"))))
    .select(col("image_id"), col("c.lon").as("lon"), col("c.lat").as("lat"))

  /** Join rows on a seeded 5% slice of the images against a brute-force
    * cross join refined by `st_contains_rings`. */
  def check(spark: SparkSession): (Int, Int) = {
    val slice = frontend(images.where(pmod(xxhash64(lit(seed), col("image_id")), lit(20)) === 0))
      .persist()
    def pairs(df: DataFrame): Set[(String, String)] =
      df.select(col("image_id"), col("poly_id").cast("string")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val engine = pairs(SpatialJoin.pointsInPolygons(slice, polys, level = level,
      broadcastCover = Some(true)))
    val brute = pairs(slice.crossJoin(broadcast(polys.withColumn("rings", st_rings(col("geom")))))
      .where(st_contains_rings(col("rings"), col("lon"), col("lat"))))
    slice.unpersist()
    val ok = engine == brute && engine.nonEmpty
    if (!ok) System.err.println(s"flagship join check: engine ${engine.size} rows, brute ${brute.size}")
    (1, if (ok) 0 else 1)
  }

  def layers(spark: SparkSession, tr: Tracer, out: Metrics): Boolean = {
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    val pts = frontend(images)
    out.put("functions.geom_frontend_s",
      probe(tr, "functions.geom_frontend")(noop(pts)), "s")
    out.put("operators.join_s", probe(tr, "operators.join")(noop(
      SpatialJoin.pointsInPolygons(pts, polys, level = level, broadcastCover = Some(true)))), "s")
    // Pipeline.run's decode + tile-block stage, standalone
    val tiles = images
      .withColumn("c", st_centroid(st_geomfromtext(col("footprint_wkt"))))
      .withColumn("px", image_decode_dims(col("bytes")))
      .withColumn("tb", explode(image_tile_blocks(struct(
        (col("c.lon") - col("w") / 2000.0).as("lon_min"),
        (col("c.lat") - col("h") / 2000.0).as("lat_min"),
        (col("c.lon") + col("w") / 2000.0).as("lon_max"),
        (col("c.lat") + col("h") / 2000.0).as("lat_max"),
        col("px.w"), col("px.h"), lit(zoom).as("z"), lit(8).as("block")))))
      .select(col("image_id"), lit(zoom).as("z"), col("tb.tx").as("x"), col("tb.ty").as("y"),
        col("tb.px_count").as("px_count"))
    out.put("operators.tiles_s", probe(tr, "operators.tiles")(noop(tiles)), "s")
    val agg = tiles.groupBy("z", "x", "y").agg(sum("px_count").as("pixels"),
      count(lit(1)).as("images")).persist()
    agg.count()
    var rows = 0L
    out.put("sources.snapshot_write_s", probe(tr, "sources.snapshot_write") {
      FsUtil.rmTree(s"$dir/probe_tiles")
      rows = Snapshots.writeSnapshot(spark, agg, s"$dir/probe_tiles", 1L, nParts = 8,
        keyCol = "x", operation = "tile-assign").map(_.rowCount).sum
    }, "s")
    out.put("sources.snapshot_rows", rows.toDouble, "count")
    agg.unpersist()

    val c = JoinCounters.count(pts, polys, level)
    out.put("operators.join_probe_rows", c.probeRows.toDouble, "count")
    out.put("operators.join_candidates_full", c.full.toDouble, "count")
    out.put("operators.join_candidates_partial", c.partial.toDouble, "count")
    out.put("operators.join_matches", c.matches.toDouble, "count")
    out.put("operators.join_match_ratio", c.matchRatio, "ratio")

    val sample = images.where(pmod(xxhash64(lit(seed + 1), col("image_id")), lit(32)) === 0)
      .select("bytes", "fmt", "w", "h", "footprint_wkt").limit(1024).collect()
      .map(r => Kernels.ImageSample(r.getAs[Array[Byte]](0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getString(4)))
    val polyWkt = spark.read.parquet(s"$dir/polygons").select("wkt").collect().map(_.getString(0))
    Kernels.flagship(sample.toSeq, polyWkt.toSeq, level, zoom, out)

    // the counters must reproduce the q15 figures exactly
    val q = JoinCounters.q15(spark, dir)
    out.put("operators.q15_probe_rows", q.probeRows.toDouble, "count")
    out.put("operators.q15_candidates_full", q.full.toDouble, "count")
    out.put("operators.q15_candidates_partial", q.partial.toDouble, "count")
    out.put("operators.q15_matches", q.matches.toDouble, "count")
    if (q != JoinCounters.Q15Expected)
      System.err.println(s"q15 cross-check: got $q, expected ${JoinCounters.Q15Expected}")
    q == JoinCounters.Q15Expected
  }

  /** Median wall of three traced calls (the first warms the plan). */
  private def probe(tr: Tracer, name: String)(body: => Unit): Double =
    Harness.median((0 until 3).map(_ => Harness.time(tr.span(name)(body))._2))
}
