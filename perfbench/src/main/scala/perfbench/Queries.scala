package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import perfbench.Main.{Args, Metric, Outcome}

/** The query workload: a fixed list of `SparkEntry` queries over the sf0.1
  * corpus, each query forced through every row and column of its plan as
  * built, its order-independent hash taken from that execution.
  */
object Queries {
  /** Workload -> the query-name prefixes of the families it samples. */
  val workloads: Map[String, Seq[String]] = Map(
    "query_mix" -> Seq("q", "stat_", "kv_", "dedup_", "graph_"))

  /** A traced run's fixed pass count (run once untraced, once traced), so
    * its counts repeat for a seed. */
  val tracedPasses = 1

  /** Fewest passes a timed loop runs, so each query's median has three
    * samples however slow the machine is. */
  val minPasses = 3

  /** Per-query deadline, about 3x the slowest on-time query of the lists. */
  val deadlineS = 30.0


  def family(w: String): Seq[String] =
    SparkEntry.queries.keys.filter(n => workloads(w).exists(n.startsWith))
      .toSeq.sorted

  private def lines(f: File): Seq[String] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    finally src.close()
  }

  /** The workload's query list, one name per line. */
  def list(bench: String, w: String): Seq[String] =
    lines(new File(bench, s"queries/$w.txt"))

  /** name -> expected hash, from `expected/hashes.tsv`. */
  def expected(bench: String): Map[String, String] =
    lines(new File(bench, "expected/hashes.tsv")).map(_.split("\t"))
      .map(a => a(0) -> a(1)).toMap

  def dataDir(bench: String): String =
    new File(bench, "data/sf0.1").getAbsolutePath

  final case class Timing(buildS: Double, planS: Double, execS: Double)

  /** One query: build, plan, then force + hash, each in its own span. */
  def force(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      dir: String, spans: Spans, op: String): (String, Timing) = {
    val t0 = System.nanoTime()
    val df = spans.span("operators.build", op)(fn(spark, dir))
    val t1 = System.nanoTime()
    val qe = df.queryExecution
    spans.span("plans.plan", op)(qe.executedPlan)
    val t2 = System.nanoTime()
    val hash = spans.span("execute", op)(ResultHash.ofRdd(qe.toRdd, df.schema))
    val t3 = System.nanoTime()
    (hash, Timing((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9))
  }

  final case class Op(name: String, pass: Int, status: String, wallS: Double,
      timing: Option[Timing])

  def run(spark: SparkSession, args: Args, sessionS: Double): Outcome = {
    val w = args.workload
    val names = list(args.bench, w)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries in $w: ${unknown.mkString(", ")}")
    val want = expected(args.bench)
    val missing = names.filterNot(want.contains)
    require(missing.isEmpty, s"no expected hash for ${missing.mkString(", ")}")
    val dir = dataDir(args.bench)
    val dl = new Deadline(spark)
    val off = new Spans(false)

    def once(name: String, pass: Int, spans: Spans): Op = {
      val op = s"$name#$pass"
      val t0 = System.nanoTime()
      val r = spans.span("query", op) {
        dl.run(deadlineS)(force(spark, SparkEntry.queries(name), dir, spans, op))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      r match {
        case Deadline.Done((h, t)) =>
          Op(name, pass, if (h == want(name)) "ok" else s"wrong hash $h", wall, Some(t))
        case Deadline.Threw(e) =>
          Op(name, pass, "threw " + e.toString.take(160), wall, None)
        case Deadline.Missed => Op(name, pass, "missed deadline", deadlineS, None)
      }
    }

    // set-up: one untimed pass in the list's fixed order warms the JIT and
    // the codegen cache, which a cold pass pays unevenly whatever the seed
    val setupS = sessionS + Main.timeS(names.foreach(n => once(n, -1, off)))
    Main.settle()

    // the operation sequence: passes over the list, each in a seeded order
    val sequence: Iterator[(String, Int)] = Iterator.from(0).flatMap { pass =>
      new scala.util.Random(args.seed * 1000003L + pass).shuffle(names).map(_ -> pass)
    }

    // whole passes until the loop has run `seconds`, or exactly `plan`, so
    // every query of the list is timed equally often
    def loop(plan: Option[Seq[(String, Int)]], spans: Spans, heap: Main.HeapPeak)
        : (Seq[Op], Double) = {
      val ops = ArrayBuffer.empty[Op]
      val it = plan.map(_.iterator).getOrElse(sequence)
      val t0 = System.nanoTime()
      def more = plan match {
        case Some(p) => ops.size < p.size
        case None => ops.size % names.size != 0 ||
          ops.size < minPasses * names.size || Main.another(
            ops.size / names.size, (System.nanoTime() - t0) / 1e9, args.seconds)
      }
      while (more) {
        val (n, pass) = it.next()
        ops += once(n, pass, spans)
        // between passes, outside every query's timed interval
        if (ops.size % names.size == 0) { Main.settle(); heap.sample() }
      }
      (ops.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    val heap = new Main.HeapPeak
    val (ops, loopS) = loop(
      if (args.trace) Some(sequence.take(tracedPasses * names.size).toSeq) else None,
      off, heap)
    val passes = ops.map(_.pass).max + 1
    val failures = ops.filter(_.status != "ok").map(o => s"${o.name} (pass ${o.pass}): ${o.status}")
    def wrong(os: Seq[Op]) = os.exists(_.status.startsWith("wrong"))
    val correct = !wrong(ops)
    // each query's median on-time latency over the passes
    val perQueryS = names.flatMap { n =>
      val ts = ops.filter(o => o.name == n && o.status == "ok").map(_.wallS)
      if (ts.isEmpty) None else Some(n -> Main.median(ts))
    }
    val notes = Seq(f"${ops.size} queries (${passes} pass(es) over ${names.size}) " +
      f"in $loopS%.3f s") ++ perQueryS.map { case (n, t) =>
        f"median $n: $t%.3f s of " + ops.filter(_.name == n)
          .map(o => f"${o.wallS}%.2f").mkString(",") }

    if (!args.trace)
      Outcome(ops.size, failures, correct, Main.endToEnd(setupS,
        perQueryS.map(_._2), perQueryS.size / perQueryS.map(_._2).sum), notes)
    else {
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
      val spans = new Spans(true)
      LayerListener.drain(spark)
      listener.open()
      val fromMs = System.currentTimeMillis()
      val (tops, tLoopS) = loop(Some(ops.map(o => o.name -> o.pass)), spans, heap)
      val totals = listener.close(spark, fromMs, System.currentTimeMillis())
      val tFailures = tops.filter(_.status != "ok")
        .map(o => s"${o.name} (traced pass ${o.pass}): ${o.status}")
      writeTrace(args, spans, tops)
      val perQuery = spans.byOp.toSeq.sortBy(-_._2.getOrElse("query", 0.0))
        .take(5).map { case (op, m) =>
          s"top query $op: " + m.toSeq.sortBy(_._1)
            .map { case (k, v) => f"$k=$v%.3f" }.mkString(" ") }
      // the seed's known failures of this family, probed after the loop
      val probed = list(args.bench, "known_failures")
        .filter(n => workloads(w).exists(n.startsWith))
        .map(n => once(n, -1, off))
      Outcome(ops.size + tops.size, failures ++ tFailures,
        correct && !wrong(tops),
        Main.perLayer(Map(
          "operators.build_s" -> spans.totalS("operators.build"),
          "plans.plan_s" -> (spans.totalS("plans.plan") + totals.listenerPlanS),
          "probe.known_failures" -> probed.count(_.status != "ok").toDouble,
          "jvm.peak_heap_mb" -> heap.mb),
          totals, tLoopS, loopS),
        notes ++ Main.traceNotes(spans, tLoopS, loopS) ++ perQuery ++
          probed.map(o => f"known failure ${o.name}: ${o.status} (${o.wallS}%.3f s)"))
    }
  }

  private def writeTrace(args: Args, spans: Spans, ops: Seq[Op]): Unit = {
    val dir = new File(args.work, "trace")
    dir.mkdirs()
    spans.writeJsonLines(new File(dir, s"${args.workload}-spans.jsonl"))
    Main.writeLines(new File(dir, s"${args.workload}-queries.jsonl"), ops.map { o =>
      Json.obj("query" -> o.name, "pass" -> o.pass, "status" -> o.status,
        "wall_s" -> o.wallS,
        "build_s" -> o.timing.map(_.buildS).getOrElse(Double.NaN),
        "plan_s" -> o.timing.map(_.planS).getOrElse(Double.NaN),
        "exec_s" -> o.timing.map(_.execS).getOrElse(Double.NaN))
    })
  }

  /** Runs every query of the named workloads' families once and writes
    * name, status, wall and hash to `<work>/spark_hashes.tsv`, plus the
    * oracle SQL to `<work>/oracle_sql.json`: the inputs of
    * `make_expected.py`. */
  def writeExpected(spark: SparkSession, args: Args): Unit = {
    val dir = dataDir(args.bench)
    val dl = new Deadline(spark)
    val off = new Spans(false)
    val rows = args.expected.flatMap(family).map { n =>
      val t0 = System.nanoTime()
      val r = dl.run(60)(force(spark, SparkEntry.queries(n), dir, off, n))
      val wall = (System.nanoTime() - t0) / 1e9
      val (status, hash) = r match {
        case Deadline.Done((h, _)) => ("ok", h)
        case Deadline.Threw(e) => ("threw " + e.toString.take(160).replace('\t', ' ')
          .replace('\n', ' '), "")
        case Deadline.Missed => ("missed deadline", "")
      }
      System.err.println(f"[expected] $n $status $wall%.3f")
      Seq(n, status, f"$wall%.3f", hash).mkString("\t")
    }
    Main.writeLines(new File(args.work, "spark_hashes.tsv"), rows)
    Main.writeLines(new File(args.work, "oracle_sql.json"),
      Seq(Json.value(SparkEntry.oracleSql)))
  }
}
