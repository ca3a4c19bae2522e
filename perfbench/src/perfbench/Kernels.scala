package perfbench

import graft.core._
import graft.functions.textexprs
import graft.operators.Images
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Spark-free warm loops over the pure-Scala kernels. No session, no job:
  * each figure is the median over five slices of ns (or µs) per call on
  * inputs sampled from the workload's own generated tables. The two
  * expression kernels (tile blocks, minhash) are evaluated directly on an
  * `InternalRow`, which runs exactly the kernel code a task runs. */
object Kernels {

  @volatile private var sink = 0L

  /** Median ns per call of `op(i)` cycling over `n` inputs: 0.1 s of
    * warm-up, then five 0.06 s slices. */
  def nsPerCall(n: Int)(op: Int => Long): Double = {
    require(n > 0, "kernel bench needs inputs")
    var acc = 0L
    var i = 0L
    val warmEnd = System.nanoTime() + 100000000L
    while (System.nanoTime() < warmEnd) { acc += op((i % n).toInt); i += 1 }
    val slices = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      val end = t0 + 60000000L
      var c = 0L
      var now = t0
      while (now < end) {
        var j = 0
        while (j < 16) { acc += op(((i + c) % n).toInt); c += 1; j += 1 }
        now = System.nanoTime()
      }
      i += c
      (now - t0).toDouble / c
    }
    sink += acc
    Harness.median(slices)
  }

  final case class ImageSample(bytes: Array[Byte], fmt: String, w: Int, h: Int,
                               footprintWkt: String)

  /** Flagship kernels: footprint WKT frontend, cell ancestors, polygon
    * cover and ray-cast refinement, image header/pixel decode, tile blocks. */
  def flagship(images: Seq[ImageSample], polygonWkt: Seq[String], level: Int, zoom: Int,
               out: Metrics): Unit = {
    val wkts = images.map(_.footprintWkt).toIndexedSeq
    val geoms = wkts.map(WktParser.parse)
    val pts = geoms.map(g => (g.allPositions.next()(0), g.allPositions.next()(1)))
    val polys = polygonWkt.map(WktParser.parse).toIndexedSeq
    out.put("core.wkt_parse_ns", nsPerCall(wkts.length)(i => WktParser.parse(wkts(i)).coords.length), "ns")
    out.put("core.wkt_write_ns", nsPerCall(geoms.length)(i => WktWriter.write(geoms(i), 16).length), "ns")
    out.put("core.geojson_ns", nsPerCall(geoms.length)(i => GeoJson.toJson(geoms(i)).length), "ns")
    out.put("core.wkb_ns", nsPerCall(geoms.length)(i => Wkb.fromWkb(Wkb.toWkb(geoms(i))).typeTag.hashCode), "ns")
    out.put("core.ancestors_ns",
      nsPerCall(pts.length)(i => CellIndex.ancestors(pts(i)._1, pts(i)._2, level)(0)), "ns")
    val covers = polys.map(CellIndex.cover(_, level))
    out.put("core.cover_us", nsPerCall(polys.length)(i => CellIndex.cover(polys(i), level).length) / 1e3, "us")
    out.put("core.cover_cells_per_poly", covers.map(_.length).sum.toDouble / covers.length, "count")
    // ray-cast inputs are the join's partial candidates: a point paired with
    // each polygon whose partial cover cell is one of its ancestors
    val partialOwners = covers.zipWithIndex.flatMap { case (cs, p) =>
      cs.filterNot(_.full).map(c => c.cell -> p) }.groupMap(_._1)(_._2)
    val rings = polys.map(_.polygonRings)
    val pairs = pts.flatMap { case (x, y) =>
      CellIndex.ancestors(x, y, level).toSeq.flatMap(c => partialOwners.getOrElse(c, Nil))
        .map(p => (p, x, y)) }.take(8192).toIndexedSeq
    out.put("core.raycast_ns", nsPerCall(pairs.length)(i =>
      if (RayCast.containsRings(rings(pairs(i)._1), pairs(i)._2, pairs(i)._3)) 1L else 0L), "ns")
    val bytes = images.map(_.bytes).toIndexedSeq
    out.put("core.dims_ns", nsPerCall(bytes.length)(i => FastImage.dims(bytes(i))(0)), "ns")
    val lossless = images.filter(s => s.fmt == "png" || s.fmt == "bmp").map(_.bytes).toIndexedSeq
    out.put("core.decode_ns", nsPerCall(lossless.length)(i => FastImage.decode(lossless(i)).pixels.length), "ns")
    // the pipeline's tile-block argument: footprint bbox (centroid +- half a
    // pixel-degree extent) with the decoded dims
    val tb = Images.ImageTileBlocks(BoundReference(0, StructType(Seq(
      "lon_min", "lat_min", "lon_max", "lat_max").map(StructField(_, DoubleType)) ++
      Seq("w", "h", "z", "block").map(StructField(_, IntegerType))), nullable = false))
    val tbArgs = images.indices.map { i =>
      val (x, y) = pts(i); val s = images(i)
      val hw = s.w / 2.0 / 1000.0; val hh = s.h / 2.0 / 1000.0
      InternalRow(InternalRow(x - hw, y - hh, x + hw, y + hh, s.w, s.h, zoom, 8))
    }
    out.put("core.tile_blocks_ns", nsPerCall(tbArgs.length)(i =>
      tb.eval(tbArgs(i)).hashCode.toLong), "ns")
  }

  /** Curation kernel: word shingles plus the 64-hash signature per caption. */
  def curation(texts: Seq[String], out: Metrics): Unit = {
    val mh = textexprs.MinHash(BoundReference(0, StringType, nullable = false),
      Literal(64), Literal(3))
    val rows = texts.map(t => InternalRow(UTF8String.fromString(t))).toIndexedSeq
    out.put("core.minhash_ns", nsPerCall(rows.length)(i => mh.eval(rows(i)).hashCode.toLong), "ns")
  }

  /** kNN kernel: the query disk at the radius knnCelled starts from. */
  def knn(queries: Seq[(Double, Double)], level: Int, radius: Int, out: Metrics): Unit = {
    val q = queries.toIndexedSeq
    out.put("core.disk_ns", nsPerCall(q.length)(i => CellIndex.disk(q(i)._1, q(i)._2, level, radius).length), "ns")
  }
}
