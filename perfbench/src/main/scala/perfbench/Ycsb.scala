package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.aria.{AriaEngine, TxnGen}
import graft.sources.VersionedTable
import perfbench.Main.{Args, Metric, Outcome}

/** The paper's workload: Aria YCSB batches against a durable versioned
  * table. Closed loop, one client; each batch is generated, run to empty
  * with reordering, and committed as the table's next version.
  */
object Ycsb {
  val tableRows = 20001L // keys 1..20,000 (the ops' key range), as TxnGen.bulkLoad counts
  val txnsPerBatch = 300L
  val warmupBatches = 2
  /** A traced run's fixed batch count (run once untraced, once traced), so
    * its counts repeat exactly for a seed. */
  val tracedBatches = 4
  val keepVersions = 2
  val setupReps = 3

  /** Reference defaults: write rate 0.4, up to 30 ops, keys 1..20,000. */
  def config(opsSeed: Long): TxnGen.Config = TxnGen.Config(seed = opsSeed)

  def opsSeed(seed: Long, batch: Int): Long =
    seed * 1000003L + batch.toLong * 7919L

  /** Written payload: field i of key k written by (batch, tid, epoch). */
  def written(batch: Int, tid: Long, epoch: Int): Seq[String] =
    (0 until 10).map(i => s"b$batch.$tid.$epoch.$i")

  def newValue(batch: Int): (Column, Column) => Column = (tid, ep) =>
    array((0 until 10).map(i => concat(lit(s"b$batch."), tid.cast("string"),
      lit("."), ep.cast("string"), lit(s".$i"))): _*)

  final case class Batch(index: Int, opsSeed: Long, latencyS: Double,
      history: Seq[(Int, Long, Long)], bytesWritten: Long,
      changedKeys: Int)

  def run(spark: SparkSession, args: Args, sessionS: Double): Outcome = {
    val root = new File(args.work, "ycsb")
    Main.deleteTree(root)
    var path = ""
    val setupS = sessionS + Main.medianOf(setupReps) {
      if (path.nonEmpty) Main.deleteTree(new File(path))
      path = new File(root, s"table-${System.nanoTime()}").getAbsolutePath
      VersionedTable.init(TxnGen.bulkLoad(spark, tableRows, args.seed), path)
    }
    // last writer per key across every batch run so far: (batch, tid, epoch)
    val lastWriter = scala.collection.mutable.Map.empty[Long, (Int, Long, Int)]
    val off = new Spans(false)
    val failures = ArrayBuffer.empty[(Int, String)]

    def batch(index: Int, seedOfOps: Long, spans: Spans): Batch = {
      val op = s"batch$index"
      val t0 = System.nanoTime()
      val (history, version) = spans.span("batch", op) {
        val (ops, table) = spans.span("operators.build", op) {
          (TxnGen.ops(spark, txnsPerBatch, config(seedOfOps)),
            VersionedTable.read(spark, path))
        }
        val (fin, hist) = spans.span("aria.run", op) {
          AriaEngine.run(spark, table, ops, reorder = true, Seq("fields"),
            newValue(index))
        }
        val v = spans.span("sources.commit", op) {
          val v = VersionedTable.replace(spark, path, fin)
          VersionedTable.retain(spark, path, keepVersions)
          v
        }
        (hist, v)
      }
      val latency = (System.nanoTime() - t0) / 1e9
      Main.settle()
      // check, outside the timed interval: the simulator's history and
      // last writers from the same seeded ops
      val (simHist, simWritten) = AriaSim.run(
        AriaSim.ops(txnsPerBatch, config(seedOfOps)),
        k => k >= 1 && k < tableRows, reorder = true)
      simWritten.foreach { case (k, (tid, e)) => lastWriter(k) = (index, tid, e) }
      if (simHist != history) failures += index -> (s"$op: history ${history.mkString(",")} " +
        s"!= simulator ${simHist.mkString(",")}")
      Batch(index, seedOfOps, latency, history,
        Main.dirBytes(new File(path, s"v=$version")), simWritten.size)
    }

    // warm-up batches (indices -warmupBatches..-1) bring the JIT to a
    // steady batch latency before the timed loop
    val warmup = (-warmupBatches to -1).map(i => batch(i, opsSeed(args.seed, i), off))
    val setupTotalS = setupS + warmup.map(_.latencyS).sum

    // batches until the loop has run `seconds` (or the given (index, ops
    // seed) plan); a batch's latency excludes its check
    def loop(plan: Option[Seq[(Int, Long)]], spans: Spans,
        heap: Main.HeapPeak): Seq[Batch] = {
      val out = ArrayBuffer.empty[Batch]
      val t0 = System.nanoTime()
      var i = 0
      def more = plan match {
        case Some(p) => i < p.size
        case None => Main.another(i, (System.nanoTime() - t0) / 1e9, args.seconds)
      }
      while (more) {
        val (index, s) = plan.map(_(i)).getOrElse((1 + i, opsSeed(args.seed, 1 + i)))
        out += batch(index, s, spans)
        heap.sample()
        i += 1
      }
      out.toSeq
    }

    val heap = new Main.HeapPeak
    val batches = loop(
      if (args.trace) Some((1 to tracedBatches).map(i => (i, opsSeed(args.seed, i))))
      else None, off, heap)
    val loopS = batches.map(_.latencyS).sum
    val committed = batches.map(_.history.map(_._2).sum).sum

    val (traced, traceExtra) =
      if (!args.trace) (Seq.empty[Batch], None)
      else {
        val listener = new LayerListener
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
        val spans = new Spans(true)
        LayerListener.drain(spark)
        listener.open()
        val fromMs = System.currentTimeMillis()
        // the same ops as the untraced loop, so the walls compare
        val plan = batches.zipWithIndex.map { case (b, j) =>
          (batches.size + 1 + j, b.opsSeed) }
        val tb = loop(Some(plan), spans, heap)
        val totals = listener.close(spark, fromMs, System.currentTimeMillis())
        (tb, Some((spans, totals)))
      }

    val all = warmup ++ batches ++ traced
    val finalOk = checkFinal(spark, path, args.seed, lastWriter.toMap)
    if (!finalOk) failures += all.last.index ->
      s"batch${all.last.index}: final table contents differ from the simulator"
    val timed = batches ++ traced
    val timedIdx = timed.map(_.index).toSet
    val epochs = batches.map(_.history.size)
    val notes = Seq(f"${batches.size} timed batches in $loopS%.3f s; epochs per " +
      s"batch ${epochs.mkString(",")}; abort ratio " +
      f"${abortRatio(batches)}%.4f; latencies " +
      batches.map(b => f"${b.latencyS}%.2f").mkString(","))

    val metrics =
      if (!args.trace)
        Main.endToEnd(setupTotalS, batches.map(_.latencyS), committed / loopS)
      else {
        val (spans, totals) = traceExtra.get
        val tLoopS = traced.map(_.latencyS).sum
        val runS = spans.totalS("aria.run")
        val nEpochs = traced.map(_.history.size).sum
        val bytes = traced.map(_.bytesWritten).sum
        // bytes of the rows whose value changed, at the version's bytes/row
        val changedBytes = traced.map(b =>
          b.bytesWritten.toDouble * b.changedKeys / (tableRows - 1)).sum
        Main.perLayer(Map(
          "aria.run_s" -> runS,
          "aria.epochs" -> nEpochs.toDouble,
          "aria.sec_per_epoch" -> runS / nEpochs,
          "aria.abort_ratio" -> abortRatio(traced),
          "sources.commit_s" -> spans.totalS("sources.commit"),
          "sources.bytes_written" -> bytes.toDouble,
          "sources.write_amp" -> bytes / changedBytes,
          "operators.build_s" -> spans.totalS("operators.build"),
          "plans.plan_s" -> totals.listenerPlanS,
          "jvm.peak_heap_mb" -> heap.mb), totals, tLoopS, loopS)
      }
    val traceNotes = traceExtra.toSeq.flatMap { case (spans, _) =>
      Main.traceNotes(spans, traced.map(_.latencyS).sum, loopS)
    }
    Main.deleteTree(root)
    // a failed check on the untimed warm-up batch still makes the run wrong
    Outcome(timed.size, failures.filter(f => timedIdx(f._1)).map(_._2).toSeq,
      failures.isEmpty, metrics, notes ++ traceNotes ++
        failures.filterNot(f => timedIdx(f._1)).map("warm-up check failed: " + _._2))
  }

  /** Aborted txn-attempts over all txn-attempts. */
  def abortRatio(bs: Seq[Batch]): Double = {
    val aborted = bs.map(_.history.map(_._3).sum).sum
    val attempts = bs.map(_.history.map(h => h._2 + h._3).sum).sum
    aborted.toDouble / attempts
  }

  /** The latest version holds exactly the bulk-loaded payloads, overwritten
    * by each key's last writer. */
  def checkFinal(spark: SparkSession, path: String, seed: Long,
      lastWriter: Map[Long, (Int, Long, Int)]): Boolean = {
    import spark.implicits._
    val t = VersionedTable.read(spark, path).select($"k", $"fields")
      .as[(Long, Seq[String])]
    val keysMax = config(0).keysMax
    val hot = t.filter($"k" <= keysMax).collect()
    val hotOk = hot.length == keysMax && hot.forall { case (k, f) =>
      f == lastWriter.get(k).map { case (b, tid, e) => written(b, tid, e) }
        .getOrElse(TxnGen.payload(seed, k).toSeq)
    }
    val coldBad = t.filter($"k" > keysMax)
      .filter { kf => kf._2 != TxnGen.payload(seed, kf._1).toSeq }.count()
    val total = t.count()
    hotOk && coldBad == 0 && total == tableRows - 1
  }
}
