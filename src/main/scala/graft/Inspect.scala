package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftaccess.BusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.ExplainMode

/** Query inspector on the [[GraftSession]] that Bench and Verify use:
  * `runMain graft.Inspect <command> [--sf DIR] [--out DIR] [--suffix S] [query ...]`.
  * Queries are separate or comma-separated arguments; none means every
  * SparkEntry query. The data dir is `--sf`, else `$SPARK_GRAFT_SF_DIR`
  * (default sf0.1, the bench scale) for `jobs` and `snap`, and sf0.001
  * (PlanGuardSpec's scale) for `sweep` and `invariance`.
  *
  *  - `jobs`: runs each query's `count()` under a job group named after
  *    the query and prints its job and stage counts as a JSON line, the
  *    weather-independent cost of round-latency-bound loops.
  *  - `snap --out DIR [--suffix S]`: writes each query's
  *    `explain("formatted")`, for the final frame and every pinned
  *    segment's pre-checkpoint plan, to `DIR/<query><S>.txt`, made
  *    [[stablePlan]] so snaps from different sessions diff cleanly.
  *  - `sweep`: prints `SWEEP,query,wFinal,cFinal,wTotal,cTotal,pins` from
  *    [[audit]], the numbers PlanGuardSpec gates; named queries also get
  *    their nested-loop/cartesian plan lines.
  *  - `invariance`: prints whether each query's rows survive the
  *    [[invariance]] setups; exits 1 on any mismatch.
  */
object Inspect {

  /** Unpartitioned windows in the optimized plan (each runs on a single
    * task) and nested-loop or cartesian joins in the executed plan.
    */
  final case class PlanCounts(windows: Int, crosses: Int) {
    def +(o: PlanCounts): PlanCounts =
      PlanCounts(windows + o.windows, crosses + o.crosses)
  }

  private val crossJoin = "BroadcastNestedLoopJoin|CartesianProduct".r

  def planCounts(df: DataFrame): PlanCounts = PlanCounts(
    df.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty => w }.length,
    crossJoin.findAllMatchIn(df.queryExecution.executedPlan.toString).length)

  /** Counts of the final frame, and totals over it plus every segment a
    * pin truncates away; `crossLines` are the final frame's nested-loop
    * and cartesian plan lines.
    */
  final case class Audit(last: PlanCounts, total: PlanCounts, pins: Int,
      crossLines: Seq[String])

  /** Builds a query under [[Pin.audited]]: the pins still checkpoint, so
    * each segment is counted exactly where it was built.
    */
  def audit(build: => DataFrame): Audit = {
    var segments = PlanCounts(0, 0)
    var pins = 0
    val df = Pin.audited { seg =>
      pins += 1; segments += planCounts(seg) }(build)
    val last = planCounts(df)
    Audit(last, last + segments, pins,
      df.queryExecution.executedPlan.toString.split("\n")
        .filter(crossJoin.findFirstIn(_).nonEmpty).toSeq)
  }

  /** The session settings a result must not depend on. */
  private val setups = Seq(
    "p1_aqe_off" -> Seq("spark.sql.shuffle.partitions" -> "1",
      "spark.sql.adaptive.enabled" -> "false"),
    "p7_aqe_on" -> Seq("spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "true"))

  /** The setups (`unpinned`, `p1_aqe_off`, `p7_aqe_on`) under which the
    * query's sorted collected rows differ from the normal build's. Each
    * setup is set on `spark` and restored afterwards.
    */
  def invariance(spark: SparkSession, dir: String, name: String)
      : Seq[String] = {
    def rows(): Seq[String] = SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    def withConf(confs: Seq[(String, String)]): Seq[String] = {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try rows()
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val base = rows()
    (("unpinned" -> (() => Pin.withoutPins(rows()))) +:
      setups.map { case (tag, confs) => tag -> (() => withConf(confs)) })
      .filter(_._2() != base).map(_._1)
  }

  private val usage = "usage: graft.Inspect jobs|snap|sweep|invariance " +
    "[--sf DIR] [--out DIR] [--suffix S] [query ...]"

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    require(Set("jobs", "snap", "sweep", "invariance")(cmd), usage)
    def parse(as: List[String]): List[(String, String)] = as match {
      case k :: v :: rest if k.startsWith("--") => (k.drop(2) -> v) :: parse(rest)
      case a :: rest => a.split(",").map(_.trim).filter(_.nonEmpty)
        .map("" -> _).toList ++ parse(rest)
      case Nil => Nil
    }
    val (named, opts) = parse(args.toList.tail).partition(_._1.isEmpty)
    val opt = opts.toMap
    require(opt.keySet.subsetOf(Set("sf", "out", "suffix")), usage)
    val queries = SparkEntry.queries
    val unknown = named.map(_._2).filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names = if (named.nonEmpty) named.map(_._2)
      else queries.keys.toSeq.sorted
    val dir = opt.getOrElse("sf",
      if (cmd == "jobs" || cmd == "snap")
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      else "/root/testdata/sf0.001")
    val spark = GraftSession()
    def error(e: Throwable): String = s"ERR,${e.getClass.getSimpleName}: " +
      String.valueOf(e.getMessage).take(160).replace("\n", " ")
    val ok = try cmd match {
      case "jobs" => jobs(spark, dir, names); true
      case "snap" => snap(spark, dir, names,
        opt.getOrElse("out", sys.error(usage)), opt.getOrElse("suffix", ""))
        true
      case "sweep" =>
        for (name <- names) println(s"SWEEP,$name," + (try {
          val a = audit(queries(name)(spark, dir))
          (Seq(a.last.windows, a.last.crosses, a.total.windows,
            a.total.crosses, a.pins).mkString(",") +:
            (if (named.isEmpty) Nil else a.crossLines)).mkString("\n")
        } catch { case e: Throwable => error(e) }))
        true
      case "invariance" =>
        names.map { name =>
          val bad = try invariance(spark, dir, name)
            catch { case e: Throwable => Seq(error(e)) }
          println(s"INVARIANCE,$name," +
            (if (bad.isEmpty) "MATCH" else "MISMATCH," + bad.mkString(";")))
          bad.isEmpty
        }.forall(identity)
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Runs `body` under the job group `group` and returns its result
    * with the number of jobs and stages that group started. The
    * listener bus is drained before the window opens and after it
    * closes, so the counts are the body's own, not its neighbours'.
    */
  def jobCount[T](spark: SparkSession, group: String)(body: => T)
      : (T, Int, Int) = {
    val sc = spark.sparkContext
    val (jobs, stages) = (new AtomicInteger, new AtomicInteger)
    def count(props: java.util.Properties, n: AtomicInteger): Unit =
      if (props != null && props.getProperty("spark.jobGroup.id") == group)
        n.incrementAndGet()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        count(e.properties, jobs)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        count(e.properties, stages)
    }
    BusAccess.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      BusAccess.waitUntilEmpty(sc)
      (out, jobs.get, stages.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Prints the [[jobCount]] of each query's `count()`. */
  private def jobs(spark: SparkSession, dir: String, names: Seq[String])
      : Unit =
    for (q <- names) {
      val ((n, secs), jobs, stages) = jobCount(spark, q) {
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, dir).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      println(f"""{"query":"$q","rows":$n,"jobs":$jobs,"stages":$stages,"sec":$secs%.3f}""")
    }

  /** `text` with what differs between sessions that build the same plan
    * made stable: expression ids (`#n`), exchange ids (`plan_id=n`), RDD
    * ids (`RDD[n]`) and lambda variable ids (`lambda x_n`) renumbered in
    * order of first appearance, and the line number dropped from
    * `Pin.scala:n` and the JVM's name and address from a Scala lambda
    * (`$Lambda$n/0x..@..`).
    */
  private def stablePlan(text: String): String =
    Seq("#", "plan_id=", "RDD\\[", "lambda \\w{1,20}_").foldLeft(text) {
      (t, key) =>
        val ids = scala.collection.mutable.Map.empty[String, Int]
        s"(?<=$key)\\d+".r.replaceAllIn(t,
          m => ids.getOrElseUpdate(m.matched, ids.size).toString)
    }.replaceAll("(?<=Pin\\.scala):\\d+|(?<=\\$Lambda)\\$[^,\\s]*", "")

  private[graft] def snap(spark: SparkSession, dir: String,
      names: Seq[String], out: String, suffix: String): Unit = {
    Files.createDirectories(Paths.get(out))
    val mode = ExplainMode.fromString("formatted")
    for (q <- names) {
      val sb = new StringBuilder
      var seg = 0
      val df = Pin.audited { pre =>
        seg += 1
        sb ++= s"\n=== pinned segment $seg (pre-checkpoint plan) ===\n"
        sb ++= pre.queryExecution.explainString(mode)
      } { SparkEntry.queries(q)(spark, dir) }
      val text = s"=== $q: final frame ===\n" +
        df.queryExecution.explainString(mode) + sb.toString
      Files.write(Paths.get(out, s"$q$suffix.txt"),
        stablePlan(text).getBytes("UTF-8"))
      println(s"[inspect] wrote $out/$q$suffix.txt ($seg pinned segments)")
    }
  }
}
