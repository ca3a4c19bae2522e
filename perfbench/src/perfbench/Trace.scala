package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkInternals

import scala.collection.mutable

/** One call into a layer, recorded from the benchmark's side of the call. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span and its descendants. */
final case class SparkWork(jobs: Int, stages: Int, taskCpuS: Double, gcS: Double,
                           shuffleBytes: Long, spillBytes: Long, stageUnionS: Double)

/** Spans around each call into a layer, kept in memory and written out at
  * the end, plus a `SparkListener` that attributes jobs, stages and task
  * metrics to the innermost open span through Spark job groups.
  *
  * With `enabled = false` a span only runs its body: no clock reads, no job
  * group, no listener. */
final class Tracer(val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val listener = new WorkListener
  private var spark: SparkSession = _

  /** Attach to a (new) session. Job and stage ids restart with each
    * SparkContext, so the listener keys its records by context. */
  def attach(s: SparkSession): Unit = if (enabled) {
    if (spark != null) listener.seal()
    spark = s
    s.sparkContext.addSparkListener(listener)
    if (stack.nonEmpty) setGroup(stack.top.id.toString) // properties are per context
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = if (stack.isEmpty) -1 else stack.top.id
    val sp = Span(spans.length, name, parent, System.nanoTime() - t0)
    spans += sp
    stack.push(sp)
    setGroup(sp.id.toString)
    try body
    finally {
      sp.endNs = System.nanoTime() - t0
      stack.pop()
      setGroup(if (stack.isEmpty) null else stack.top.id.toString)
    }
  }

  /** The span id travels as the job group and, because operators may set
    * their own job group on helper threads (broadcast builds), also as a
    * local property of ours, which child threads inherit. */
  private def setGroup(g: String): Unit = if (spark != null) {
    val sc = spark.sparkContext
    if (g == null) sc.clearJobGroup() else sc.setJobGroup(g, g)
    sc.setLocalProperty(Tracer.SpanKey, g)
  }

  /** Wait for the listener bus; call outside any timed region. */
  def drain(): Unit =
    if (enabled && spark != null) SparkInternals.drainListenerBus(spark.sparkContext)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Spans of the timed passes, recorded by the harness. */
  val timed = mutable.ArrayBuffer[Span]()

  /** Spans recorded so far; `at(size)` taken before a call is its span. */
  def size: Int = spans.length
  def at(i: Int): Span = spans(i)

  /** Spans called `name` inside the timed passes. */
  def timedNamed(name: String): Seq[Span] = {
    val ids = timed.flatMap(subtree).toSet
    spans.filter(s => s.name == name && ids.contains(s.id)).toSeq
  }

  private def subtree(root: Span): Set[Int] = {
    val ids = mutable.Set(root.id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id) // parents precede children
    ids.toSet
  }

  /** Spark work of `sp` and every span below it. */
  def work(sp: Span): SparkWork = {
    drain()
    listener.work(subtree(sp))
  }

  def toJson: String = {
    val sb = new StringBuilder("[")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f}""")
    }
    sb.append("]").toString
  }

  /** Job and stage records keyed by (context generation, id). */
  private final class WorkListener extends SparkListener {
    private final case class Job(group: Int, stageIds: Seq[Int])
    private final case class Stage(startMs: Long, endMs: Long, cpuNs: Long, gcMs: Long,
                                   shuffleBytes: Long, spillBytes: Long)
    // generation-qualified keys: job and stage ids restart with each context
    private var gen = 0
    private val jobs = mutable.Map[(Int, Int), Job]()
    private val stages = mutable.Map[(Int, Int), Stage]()

    def seal(): Unit = synchronized { gen += 1 }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val g = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
        .orElse(props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
        .flatMap(_.toIntOption).getOrElse(-1)
      synchronized { jobs((gen, e.jobId)) = Job(g, e.stageIds) }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val st = Stage(si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
      synchronized { stages((gen, si.stageId)) = st }
    }

    def work(groups: Set[Int]): SparkWork = synchronized {
      val js = jobs.filter { case (_, j) => groups.contains(j.group) }
      // a stage listed by several jobs (reused exchange) counts once
      val stageKeys = js.toSeq.flatMap { case ((g, _), j) => j.stageIds.map(s => (g, s)) }.distinct
      val done = stageKeys.flatMap(stages.get)
      SparkWork(js.size, done.size,
        done.map(_.cpuNs).sum / 1e9, done.map(_.gcMs).sum / 1e3,
        done.map(_.shuffleBytes).sum, done.map(_.spillBytes).sum,
        unionSeconds(done.map(s => (s.startMs, s.endMs))))
    }

    private def unionSeconds(iv: Seq[(Long, Long)]): Double = {
      var total = 0L
      var curS = Long.MinValue; var curE = Long.MinValue
      iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total / 1e3
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
