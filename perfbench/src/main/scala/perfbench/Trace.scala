package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One timed public call. Times are epoch milliseconds (fractional), so
  * they line up with Spark's stage submission/completion stamps. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    start: Double, var end: Double) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1000.0
}

/** Times every public call the benchmark makes. With `enabled` it also
  * keeps each call as a [[Span]] in memory (name, start, end, parent,
  * run id); the spans are written out once, when the run ends. The
  * benchmark is single-threaded, so the open spans form one stack. */
final class Tracer(val enabled: Boolean, val run: String) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  /** Runs `f`, returning its result and wall seconds. */
  def timed[T](name: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val span =
      if (!enabled) null
      else {
        val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
          run, nowMs, Double.NaN)
        spans += s
        open = s :: open
        s
      }
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally if (span != null) {
      span.end = nowMs
      open = open.tail
    }
  }

  def time(name: String)(f: => Unit): Double = timed(name)(f)._2

  /** Span duration minus the part its child spans cover, seconds. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end))
    (s.end - s.start - Intervals.length(Intervals.merge(kids.toSeq))) / 1000.0
  }

  def json: String = spans.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
      f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Intervals {
  def merge(xs: Seq[(Double, Double)]): Seq[(Double, Double)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def length(xs: Seq[(Double, Double)]): Double = xs.map(x => x._2 - x._1).sum

  /** Length of `[a, b)` covered by the merged, sorted intervals `xs`. */
  def covered(a: Double, b: Double, xs: Seq[(Double, Double)]): Double =
    xs.iterator.map { case (c, d) => math.max(0.0, math.min(b, d) - math.max(a, c)) }.sum
}

/** Spark stage counters, collected per stage by a listener and
  * attributed afterwards to the innermost span open when the stage was
  * submitted. */
final class StageLedger extends SparkListener {
  final class Stage {
    @volatile var submitted = Double.NaN
    @volatile var completed = Double.NaN
    val taskMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val spillBytes = new java.util.concurrent.atomic.AtomicLong
  }
  val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  private def stage(id: Int, attempt: Int) =
    stages.computeIfAbsent((id, attempt), _ => new Stage)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.submitted = e.stageInfo.submissionTime.map(_.toDouble)
      .getOrElse(System.currentTimeMillis().toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.completed = e.stageInfo.completionTime.map(_.toDouble)
      .getOrElse(System.currentTimeMillis().toDouble)
    if (s.submitted.isNaN) s.submitted = s.completed
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    s.taskMs.add(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs.addAndGet(m.executorCpuTime)
      s.gcMs.addAndGet(m.jvmGCTime)
      s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s.spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Per-layer Spark counters over the given spans: each finished stage
    * goes to the innermost span whose interval holds its submission;
    * `driver_only_s` is the spans' self time during which no stage
    * ran — the serial driver floor. */
  def byLayer(tracer: Tracer, layer: String): Map[String, Double] = {
    val done = stages.values.asScala.filter(s => !s.completed.isNaN).toSeq
    val spans = tracer.spans.toSeq
    def owner(t: Double): Option[Span] =
      spans.filter(s => s.start <= t && t <= s.end).maxByOption(_.start)
    val mine = done.filter(s => owner(s.submitted).exists(_.layer == layer))
    val taskMs = mine.map(_.taskMs.asScala.map(_.toLong).toVector)
    val maxSum = taskMs.filter(_.nonEmpty).map(_.max).sum.toDouble
    val medSum = taskMs.filter(_.nonEmpty).map(t => Stats.median(t.map(_.toDouble))).sum
    val running = Intervals.merge(done.map(s => (s.submitted, s.completed)))
    val driverOnlyMs = spans.filter(_.layer == layer).map { s =>
      val kids = Intervals.merge(spans.filter(_.parent == s.id).map(k => (k.start, k.end)))
      val selfMs = (s.end - s.start) - Intervals.length(kids)
      val busyMs = Intervals.covered(s.start, s.end, running) -
        kids.map { case (a, b) => Intervals.covered(a, b, running) }.sum
      selfMs - busyMs
    }.sum
    Map(
      "stages" -> mine.size.toDouble,
      "tasks" -> taskMs.map(_.size).sum.toDouble,
      "exec_cpu_s" -> mine.map(_.cpuNs.get).sum / 1e9,
      "gc_s" -> mine.map(_.gcMs.get).sum / 1e3,
      "shuffle_mb" -> mine.map(_.shuffleBytes.get).sum / 1e6,
      "spill_mb" -> mine.map(_.spillBytes.get).sum / 1e6,
      "task_skew" -> (if (medSum > 0) maxSum / medSum else 0.0),
      "driver_only_s" -> driverOnlyMs / 1e3)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
