package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Ordered metric map: name -> (value, unit). */
final class Metrics {
  val values = mutable.LinkedHashMap[String, (Double, String)]()
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
}

/** One benchmark workload. The harness calls `generate` and `open` (set-up,
  * repeated), then `pass` in timed loops at nproc cores and at one core,
  * with `afterPass` outside the timed region, then `check` and, in a traced
  * run, `layers`. */
trait Workload {
  def name: String

  /** Input rows one pass finishes (images, captions or queries). */
  def rowsPerPass: Long

  /** Write the seeded input tables (and any index) under the work dir. */
  def generate(spark: SparkSession, tr: Tracer): Unit

  /** Bind the generated tables to `spark` (called once per session). */
  def open(spark: SparkSession): Unit

  /** One timed pass; false when its output fails the per-pass check. */
  def pass(spark: SparkSession, i: Int, tr: Tracer): Boolean

  /** Between passes, outside the timed region. */
  def afterPass(spark: SparkSession): Unit

  /** Brute-force correctness checks outside the timed region:
    * (checks run, checks failed). */
  def check(spark: SparkSession): (Int, Int)

  /** Traced run only: per-layer probes, exact counters, kernel figures.
    * False when a fixed cross-check fails. */
  def layers(spark: SparkSession, tr: Tracer, out: Metrics): Boolean
}
