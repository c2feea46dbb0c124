package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The repo benchmark: one workload per JVM, one thread issuing operations.
  *
  * {{{
  * Main --workload <ycsb_aria|query_mix> --seed <n> --seconds <s>
  *      --trace <0|1> --bench <perfbench dir> --work <scratch dir>
  * Main --expected query_mix --bench <dir> --work <dir>
  * }}}
  *
  * The last stdout line is the result JSON: with `--trace 0` the end-to-end
  * metrics, with `--trace 1` the per-layer metrics of a traced loop over
  * the same operations as an untraced one (the listener and spans are
  * attached only there).
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1,
      seconds: Double = 10, trace: Boolean = false, bench: String = "perfbench",
      work: String = "", expected: Seq[String] = Nil)

  final case class Metric(name: String, value: Double, unit: String)

  /** What a workload hands back: the operations it attempted, the names of
    * those that failed (with why), whether every result it could check was
    * right, and its metrics. */
  final case class Outcome(attempted: Int, failures: Seq[String],
      correct: Boolean, metrics: Seq[Metric], notes: Seq[String] = Nil)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Args(
      workload = kv.getOrElse("--workload", ""),
      seed = kv.get("--seed").map(_.toLong).getOrElse(1L),
      seconds = kv.get("--seconds").map(_.toDouble).getOrElse(10.0),
      trace = kv.get("--trace").contains("1"),
      bench = kv.getOrElse("--bench", "perfbench"),
      work = kv.getOrElse("--work", sys.error("--work is required")),
      expected = kv.get("--expected").toSeq.flatMap(_.split(",")))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // no System.gc inside a timed operation: the loops call [[settle]]
      .config("spark.cleaner.periodicGC.interval", "1h")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir",
        new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(args.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try {
        if (args.expected.nonEmpty) { Queries.writeExpected(spark, args); 0 }
        else {
          val out = args.workload match {
            case "ycsb_aria" => Ycsb.run(spark, args, sessionS)
            case w if Queries.workloads.contains(w) =>
              Queries.run(spark, args, sessionS)
            case w => sys.error(s"unknown workload '$w'")
          }
          report(args, out)
          0
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] aborted: $e")
          e.printStackTrace()
          2
      }
    try spark.stop() catch { case scala.util.control.NonFatal(_) => () }
    System.exit(code)
  }

  def report(args: Args, out: Outcome): Unit = {
    val w = args.workload
    println(s"[perfbench] workload $w seed ${args.seed} trace " +
      s"${if (args.trace) 1 else 0}: ${out.attempted} operations, " +
      s"${out.failures.size} failed, fail_ratio " +
      f"${out.failures.size.toDouble / out.attempted.max(1)}%.4f")
    out.failures.foreach(f => println(s"[perfbench] failed: $f"))
    out.notes.foreach(n => println(s"[perfbench] $n"))
    out.metrics.foreach(m => println(s"[perfbench] $w ${m.name} = ${m.value} ${m.unit}"))
    println(Json.obj(
      "correct" -> out.correct,
      "attempted" -> out.attempted,
      "failed" -> out.failures.size,
      "metrics" -> Json.Raw(out.metrics.map(m =>
        Json.str(m.name) + ":" + Json.obj("value" -> m.value, "unit" -> m.unit))
        .mkString("{", ",", "}"))))
  }

  // ---- shared measurement helpers ----

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.length)

  /** Heap used after the most recent GC, summed over the heap pools. */
  def heapAfterGcMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Run after every batch and every pass over the query list, outside any
    * timed interval: a full GC lets Spark's ContextCleaner release the
    * shuffles, broadcasts and pinned blocks left behind, and the pause gives
    * the cleaner time to do so. Without it that work piles up and lands on
    * whichever operation runs when a GC finally finds it. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(settleMs)
  }

  val settleMs = 250L

  /** Tracks the peak of [[heapAfterGcMb]] over the samples taken. */
  final class HeapPeak {
    private var peak = 0.0
    def sample(): Unit = peak = peak.max(heapAfterGcMb())
    def mb: Double = peak
  }

  /** The end-to-end metrics, as BENCHMARK.json lists them. */
  def endToEnd(setupS: Double, opS: Seq[Double], throughput: Double)
      : Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("throughput", throughput, "1/s"),
    Metric("op_geomean_s", geomean(opS), "s"),
    Metric("op_p50_s", median(opS), "s"))

  /** The per-layer metrics, as BENCHMARK.json lists them: the workload's
    * own `values` (a layer the workload does not run reads 0) and the
    * listener's totals over the traced loop. */
  def perLayer(values: Map[String, Double], t: LayerListener.Totals,
      tracedS: Double, untracedS: Double): Seq[Metric] = {
    val all = values ++ Map(
      "scheduler.jobs" -> t.jobs.toDouble,
      "scheduler.stages" -> t.stages.toDouble,
      "scheduler.tasks" -> t.tasks.toDouble,
      "scheduler.idle_s" -> t.idleS,
      "pin.jobs" -> t.pinJobs.toDouble,
      "executor.task_s" -> t.taskS,
      "executor.cpu_s" -> t.cpuS,
      "executor.gc_s" -> t.gcS,
      "executor.util" -> t.taskS / (tracedS * cores),
      "shuffle.write_bytes" -> t.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> t.shuffleRead.toDouble,
      "shuffle.spill_bytes" -> t.spill.toDouble,
      "trace.overhead_ratio" -> tracedS / untracedS)
    val unknown = values.keySet -- layerUnits.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    layerUnits.map { case (n, u) => Metric(n, all.getOrElse(n, 0.0), u) }
  }

  val layerUnits: Seq[(String, String)] = Seq(
    "aria.run_s" -> "s", "aria.epochs" -> "count", "aria.sec_per_epoch" -> "s",
    "aria.abort_ratio" -> "ratio", "sources.commit_s" -> "s",
    "sources.bytes_written" -> "bytes", "sources.write_amp" -> "ratio",
    "operators.build_s" -> "s", "plans.plan_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.idle_s" -> "s",
    "pin.jobs" -> "count", "executor.task_s" -> "s", "executor.cpu_s" -> "s",
    "executor.gc_s" -> "s", "executor.util" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.spill_bytes" -> "bytes", "jvm.peak_heap_mb" -> "MB",
    "probe.known_failures" -> "count",
    "trace.overhead_ratio" -> "ratio")

  /** Report lines of a traced loop: its wall against the untraced one, and
    * each span name's self time. */
  def traceNotes(spans: Spans, tracedS: Double, untracedS: Double): Seq[String] =
    (f"traced loop $tracedS%.3f s vs untraced $untracedS%.3f s (overhead " +
      f"${tracedS - untracedS}%.3f s)") +:
      spans.selfS.toSeq.sortBy(_._1).map { case (k, v) => f"self time $k: $v%.3f s" }

  /** Whether a loop that has run `done` units in `elapsedS` starts another:
    * always a first one, then only while one more unit of the mean length
    * still ends within `seconds`. */
  def another(done: Int, elapsedS: Double, seconds: Double): Boolean =
    done == 0 || elapsedS + elapsedS / done <= seconds

  /** Wall seconds of `body`. */
  def timeS(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** Median wall of `reps` runs of `body`. */
  def medianOf(reps: Int)(body: => Unit): Double =
    median((1 to reps).map(_ => timeS(body)))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length

  def writeLines(f: File, lines: Iterable[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
