package perfbench

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession

/** Session factory, statistics and probes shared by the workloads. */
object Harness {

  /** The engine's session shape (Pipeline.main / ScaleBench): AQE with skew
    * join, one shuffle partition per core; spill and temporary files stay inside
    * the work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest sample, and the percentile it stands at. With fewer
    * than eleven samples no percentile qualifies and the maximum is
    * reported at 100. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n < 11) (s.last, 100)
    else (s(n - 11), math.floor(100.0 * (n - 10) / n).toInt)
  }

  /** Blocks and cache entries a long-lived session still holds. */
  final case class Leak(persistentRdds: Int, cacheEntries: Int, cachedBytes: Long)

  def leakProbe(spark: SparkSession): Leak = {
    val sc = spark.sparkContext
    Leak(sc.getPersistentRDDs.size,
      org.apache.spark.sql.perfbench.SparkInternals.cacheEntries(spark),
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }

  /** Drop every cache entry and (local)checkpoint block: clearCache alone
    * leaves checkpoint blocks pinned (see ScaleBench). */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Live driver heap after forced full collections, in MiB. Collections
    * repeat until the figure settles: Spark's ContextCleaner frees
    * broadcast and shuffle state only after a collection has queued the
    * dead references, so the first figure can still include them. */
  def heapLiveMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var prev = collect()
    var cur = collect()
    var i = 0
    while (i < 6 && math.abs(cur - prev) > 0.01 * cur) { prev = cur; cur = collect(); i += 1 }
    cur
  }

  /** Seed-derived offset for generated key ranges, so each seed draws a
    * different slice of the synthetic layers. */
  def keyBase(seed: Long, salt: Long, span: Long): Long = {
    val h = graft.functions.textexprs.mix64(seed * 31 + salt)
    java.lang.Math.floorMod(h, span)
  }

  /** JSON object from ordered (name -> value, unit) entries. */
  def metricsJson(ms: Iterable[(String, (Double, String))]): String =
    ms.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else java.lang.Double.toString(v)
  }
}
