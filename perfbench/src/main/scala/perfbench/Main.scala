package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Run settings, parsed from the command line `run.py` passes. Spark
  * runs on half the machine's processors (`cores`): with a task thread
  * on every processor, the JIT compiler, GC and driver threads and any
  * other load on the host delay one task of each stage, and the stage
  * waits for it. On a 4-vCPU VM, `local[2]` ran the analytics cold pass
  * in about 5.5 s against about 6 s at `local[4]`, and a busy loop on
  * one vCPU slowed `local[4]` reruns by up to 60 % and `local[2]` not
  * measurably. */
final case class Settings(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, data: Path, tiny: Boolean, fault: Boolean,
    cores: Int)

/** What one workload run measured and checked. An operation is one
  * timed public call (or one crawl pass); it fails if it throws or if
  * its output disagrees with the oracle. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Counts one operation; `problems` are its failed checks. */
  def op(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      notes += s"$what: ${problems.mkString("; ")}"
    }
  }

  def threw(what: String, e: Throwable): Unit = {
    attempted += 1
    failed += 1
    notes += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
  }
}

/** Everything a workload needs: settings, session, timing and report. */
final class Ctx(val s: Settings, val spark: SparkSession, val tracer: Tracer,
    val report: Report) {
  private var dirs = 0

  /** A fresh directory under the run's work dir. */
  def freshDir(label: String): String = {
    dirs += 1
    Files.createDirectories(s.work.resolve(f"$label-$dirs%03d")).toString
  }

  /** How many times to repeat the measured step: it follows from
    * `--seconds` alone, so equal settings give equal work. */
  def repeats(secondsEach: Double): Int = math.max(2, (s.seconds / secondsEach).round.toInt)
}

/** Entry point of the benchmark JVM. Prints one line
  * `PERFBENCH_RESULT <json>` that `run.py` turns into the final record. */
object Main {
  private val usage =
    "usage: perfbench.Main --workload <name> --seed <n> --seconds <s> " +
      "--trace <0|1> --work <dir> --data <dir> [--tiny] [--fault]"

  def parse(args: Array[String]): Settings = {
    val flags = Set("--tiny", "--fault")
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      if (flags(args(i))) { kv(args(i)) = "1"; i += 1 }
      else {
        require(i + 1 < args.length, usage)
        kv(args(i)) = args(i + 1); i += 2
      }
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(usage))
    Settings(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")), Paths.get(need("--data")),
      kv.contains("--tiny"), kv.contains("--fault"),
      math.max(1, Runtime.getRuntime.availableProcessors / 2))
  }

  def session(s: Settings, adaptive: Boolean): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${s.cores}]")
      .appName(s"perfbench-${s.workload}")
      .config("spark.sql.shuffle.partitions", s.cores.toString)
      .config("spark.sql.adaptive.enabled", adaptive.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", s.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", s.work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap the process still holds after the workload, MB: used heap
    * after a full collection. Caches and state kept by the program show
    * here; the peak would mostly show when the collector last ran. */
  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def main(args: Array[String]): Unit = {
    val s = parse(args)
    Files.createDirectories(s.work)
    // the crawl loop runs with adaptive execution off and the query
    // suite with it on, as graft's own crawl and analytics mains do
    val spark = session(s, adaptive = s.workload == "analytics")
    val tracer = new Tracer(s.trace, s"${s.workload}-${s.seed}")
    val ledger = if (s.trace) Some(new StageLedger) else None
    ledger.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(s, spark, tracer, new Report)
    s.workload match {
      case "crawl" => Crawl.run(ctx)
      case "analytics" => Analytics.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val r = ctx.report
    r.put("jvm.heap_retained_mb", retainedHeapMb(), "MB")
    ledger.foreach { l =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      for (layer <- Seq("engine", "api", "operators"); (k, v) <- l.byLayer(tracer, layer))
        r.put(s"$layer.$k", v, unitOf(k))
      Files.writeString(s.work.resolve("spans.json"), tracer.json)
      tracer.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
        println(f"[spans] $name%-28s n=${ss.size}%4d wall=${ss.map(_.seconds).sum}%9.3fs " +
          f"self=${ss.map(tracer.selfSeconds).sum}%9.3fs")
      }
    }
    spark.stop()
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("attempted", r.attempted)
    out.put("failed", r.failed)
    out.put("notes", r.notes.asJava)
    val m = new java.util.LinkedHashMap[String, Any]()
    r.metrics.foreach { case (k, (v, u)) =>
      m.put(k, java.util.Map.of("value", v, "unit", u))
    }
    out.put("metrics", m)
    println("PERFBENCH_RESULT " +
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(out))
  }

  /** JVM start to now: the process's own set-up before timed work. */
  def processSeconds(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private def unitOf(counter: String): String =
    if (counter.endsWith("_s")) "s"
    else if (counter.endsWith("_mb")) "MB"
    else if (counter == "task_skew") "ratio"
    else "count"
}
