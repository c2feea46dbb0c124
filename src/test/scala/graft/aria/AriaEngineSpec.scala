package graft.aria

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Aria engine semantics (SURVEY.md §5): hand-built conflict cases, the
  * reorder-policy fork, missing-key skip (O14), and multi-epoch equivalence
  * against a plain-Scala reference simulator of the CUDA pipeline.
  */
class AriaEngineSpec extends SparkSpec {
  import TxnGen.Op

  private def opsDf(ops: Seq[Op]): DataFrame = {
    import spark.implicits._
    ops.toDF()
  }

  private def baseDf(keys: Seq[Long]): DataFrame = {
    import spark.implicits._
    keys.map(k => (k, s"orig$k")).toDF("k", "f0")
  }

  private val newValue: (org.apache.spark.sql.Column,
    org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
    (tid, ep) => concat(lit("v"), tid.cast("string"), lit("e"), ep.cast("string"))

  private def decide(ops: Seq[Op], keys: Seq[Long]): Map[Long, (Boolean, Boolean, Boolean, Boolean, Boolean)] = {
    val live = AriaEngine.liveOps(opsDf(ops), baseDf(keys))
    AriaEngine.decisions(live, AriaEngine.reservations(live))
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
  }

  test("two writers on one key: smaller Tid commits, larger aborts with WAW") {
    val d = decide(
      Seq(Op(1, 0, 10, isUpdate = true), Op(2, 0, 10, isUpdate = true)),
      Seq(10L))
    assert(d(1) == ((false, false, false, true, true)))
    // tid 2: raw (reads k written by 1), war, waw -> aborts in both modes
    assert(d(2) == ((true, true, true, false, false)))
  }

  test("reader after writer: RAW aborts in no-reorder, commits under reorder when no WAR") {
    // t1 writes k10; t2 only reads k10 (no writes at all -> no war/waw)
    val d = decide(
      Seq(Op(1, 0, 10, isUpdate = true), Op(2, 0, 10, isUpdate = false)),
      Seq(10L))
    assert(d(2) == ((true, false, false, false, true)))
  }

  test("writer after reader (WAR only) commits in both modes") {
    // t1 reads k10; t2 writes k20 and reads k10? -> keep pure: t2 writes k10.
    // t2: war (t1 read k10), waw? t1 is not a writer -> no waw; raw: wts=2 not <2.
    val d = decide(
      Seq(Op(1, 0, 10, isUpdate = false), Op(2, 0, 10, isUpdate = true)),
      Seq(10L))
    assert(d(1) == ((false, false, false, true, true)))
    assert(d(2) == ((false, true, false, true, true)))
  }

  test("raw AND war (disjoint keys) aborts even under reorder") {
    // t2 reads k10 (written by t1) -> raw; t2 writes k20 (read by t1) -> war
    val d = decide(
      Seq(Op(1, 0, 10, isUpdate = true), Op(1, 1, 20, isUpdate = false),
        Op(2, 0, 10, isUpdate = false), Op(2, 1, 20, isUpdate = true)),
      Seq(10L, 20L))
    assert(d(1) == ((false, false, false, true, true)))
    val (raw2, war2, waw2, cnr2, cr2) = d(2)
    assert(raw2 && war2 && !waw2 && !cnr2 && !cr2)
  }

  test("O14: ops on missing keys are skipped and cause no conflicts") {
    // key 99 absent from table: t1's write there must not WAW-abort t2
    val d = decide(
      Seq(Op(1, 0, 99, isUpdate = true), Op(2, 0, 99, isUpdate = true),
        Op(2, 1, 10, isUpdate = false)),
      Seq(10L))
    assert(d.get(1).isEmpty) // t1's only op vanished -> no decision row
    assert(d(2) == ((false, false, false, true, true)))
  }

  // ---- plain-Scala simulator of the reference pipeline ----

  private def simulate(allOps: Seq[Op], reorder: Boolean, keys: Set[Long])
    : (Map[Long, (Long, Int)], Seq[(Int, Long, Long)]) = {
    // keep txns whose ops ALL miss the table: they decide with no conflicts
    // (trivially committed), matching the engine's accounting
    var remaining = allOps.groupBy(_.tid)
    var epoch = 1
    var written = Map.empty[Long, (Long, Int)]
    val history = Seq.newBuilder[(Int, Long, Long)]
    while (remaining.nonEmpty && epoch < 100) {
      val live = remaining.values.flatten.filter(o => keys(o.k)).toSeq
      val rts = live.groupBy(_.k).map { case (k, os) => k -> os.map(_.tid).min }
      val wts = live.filter(_.isUpdate).groupBy(_.k)
        .map { case (k, os) => k -> os.map(_.tid).min }
      val decided = remaining.map { case (tid, allTxnOps) =>
        val os = allTxnOps.filter(o => keys(o.k))
        val raw = os.exists(o => wts.get(o.k).exists(_ < tid))
        val war = os.exists(o => o.isUpdate && rts.get(o.k).exists(_ < tid))
        val waw = os.exists(o => o.isUpdate && wts.get(o.k).exists(_ < tid))
        val commit =
          if (reorder) !waw && (!raw || !war) else !waw && !raw
        tid -> commit
      }
      val committedTids = decided.filter(_._2).keySet
      for {
        (k, os) <- live.filter(o => o.isUpdate && committedTids(o.tid))
          .groupBy(_.k)
      } written += k -> ((os.map(_.tid).min, epoch))
      history += ((epoch, committedTids.size.toLong,
        (remaining.size - committedTids.size).toLong))
      remaining = remaining.filter { case (tid, _) => !committedTids(tid) }
      epoch += 1
    }
    (written, history.result())
  }

  private def checkAgainstSimulator(ops: Seq[Op], keys: Seq[Long],
      reorder: Boolean): Unit = {
    val (written, simHistory) = simulate(ops, reorder, keys.toSet)
    val (finalTable, history) = AriaEngine.run(
      spark, baseDf(keys), opsDf(ops), reorder, Seq("f0"), newValue)
    assert(history == simHistory, "epoch history mismatch")
    val got = finalTable.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = keys.map { k =>
      k -> written.get(k).map { case (t, e) => s"v${t}e$e" }.getOrElse(s"orig$k")
    }.toMap
    assert(got == expected, "final table mismatch")
  }

  test("multi-epoch run matches reference simulator (both policies, randomized)") {
    val keys = (1L to 50L).toSeq
    for (seed <- Seq(7, 42, 1234); reorder <- Seq(true, false)) {
      val rng = new scala.util.Random(seed)
      val ops = (1L to 20L).flatMap { tid =>
        (0 until rng.nextInt(8)).map(i =>
          Op(tid, i, 1L + rng.nextInt(60), rng.nextDouble() < 0.4))
      }
      checkAgainstSimulator(ops, keys, reorder)
    }
  }

  test("reference scenario golden history matches the plain-Scala simulator") {
    // Exactly TxnGen.ops(150, Config()) — re-derived here so the golden
    // literals in KvAria.ariaReferenceScenarioSql are certified by code
    // that shares nothing with AriaEngine's DataFrame pipeline.
    val ops = (1L to 150L).flatMap { tid =>
      val rng = new scala.util.Random(0L + tid)
      val nOps = rng.nextInt(31)
      (0 until nOps).map(i =>
        Op(tid, i, 1L + rng.nextInt(20000).toLong, rng.nextDouble() < 0.4))
    }
    val keys = (1L until 200000L).toSet // bulkLoad(200000) = keys 1..199999
    val golden = Map(
      true -> Seq((1, 124L, 21L), (2, 20L, 1L), (3, 1L, 0L)),
      false -> Seq((1, 108L, 37L), (2, 29L, 8L), (3, 7L, 1L), (4, 1L, 0L)))
    for (reorder <- Seq(true, false)) {
      val (_, hist) = simulate(ops, reorder, keys)
      assert(hist == golden(reorder), s"reorder=$reorder")
    }
  }

  test("determinism: same input gives identical epoch history across partitionings") {
    val rng = new scala.util.Random(99)
    val keys = (1L to 40L).toSeq
    val ops = (1L to 15L).flatMap { tid =>
      (0 until rng.nextInt(6)).map(i =>
        Op(tid, i, 1L + rng.nextInt(50), rng.nextDouble() < 0.5))
    }
    val (_, h1) = AriaEngine.run(spark, baseDf(keys),
      opsDf(ops).repartition(1), reorder = true, Seq("f0"), newValue)
    val (_, h2) = AriaEngine.run(spark, baseDf(keys),
      opsDf(ops).repartition(7), reorder = true, Seq("f0"), newValue)
    assert(h1 == h2)
  }

  // ---- merged install == installing after every epoch ----

  /** `run`'s shape without the deferred install: `runEpoch` per epoch,
    * its next table installed before the next epoch, aborted txns
    * retried; at most `maxEpochs` epochs. Returns the final table.
    */
  private def installEveryEpoch(table0: DataFrame, ops0: DataFrame,
      reorder: Boolean, maxEpochs: Int, keyCols: Seq[String]): DataFrame = {
    var (table, ops, epoch) = (table0, ops0, 1)
    while (epoch <= maxEpochs && !ops.isEmpty) {
      val (next, _, aborted) = AriaEngine.runEpoch(table, ops, reorder,
        Seq("f0"), newValue, epoch, keyCols)
      table = next.localCheckpoint(true)
      val retry = aborted.collect().map(_.getLong(0)).toSeq
      ops = ops.filter(col("tid").isin(retry: _*)).localCheckpoint(true)
      epoch += 1
    }
    table
  }

  /** For maxEpochs 1, 2 and 100 under both policies: `run`'s merged
    * install equals [[installEveryEpoch]]. The batch needs more than two
    * epochs, so the cut-off runs leave txns that never commit.
    */
  private def checkMergedInstall(table: DataFrame, ops: DataFrame,
      keyCols: Seq[String]): Unit = {
    def rows(df: DataFrame): Seq[Row] =
      df.orderBy(keyCols.map(col): _*).collect().toSeq
    for (reorder <- Seq(true, false); maxEpochs <- Seq(1, 2, 100)) {
      val (fin, history) = AriaEngine.run(spark, table, ops, reorder,
        Seq("f0"), newValue, maxEpochs, keyCols)
      if (maxEpochs == 100) assert(history.size > 2, s"reorder=$reorder")
      else assert(history.size == maxEpochs && history.last._3 > 0,
        s"reorder=$reorder maxEpochs=$maxEpochs: not a cut-off run")
      assert(rows(fin) ==
        rows(installEveryEpoch(table, ops, reorder, maxEpochs, keyCols)),
        s"reorder=$reorder maxEpochs=$maxEpochs")
    }
  }

  test("merged install equals installing after every epoch, cut-off runs included") {
    val rng = new scala.util.Random(5)
    // 40 txns on 30 keys (35 drawn, so some ops miss): several epochs
    val ops = (1L to 40L).flatMap { tid =>
      (0 until 1 + rng.nextInt(5)).map(i =>
        Op(tid, i, 1L + rng.nextInt(35), rng.nextDouble() < 0.5))
    }
    checkMergedInstall(baseDf(1L to 30L), opsDf(ops), Seq("k"))
  }

  test("merged install equals installing after every epoch on registry keys") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // two tables sharing numeric keys 1..15; ops draw keys 1..18
    val ops = (1L to 40L).flatMap { tid =>
      (0 until 1 + rng.nextInt(5)).map(i => (tid, i, rng.nextInt(2).toLong,
        1L + rng.nextInt(18), rng.nextDouble() < 0.5))
    }.toDF("tid", "opIdx", "table_id", "k", "isUpdate")
    val reg = (for (t <- 0L to 1L; k <- 1L to 15L)
      yield (t, k, s"orig${t}_$k")).toDF("table_id", "k", "f0")
    checkMergedInstall(reg, ops, Seq("table_id", "k"))
  }
}
