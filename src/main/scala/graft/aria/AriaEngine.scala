package graft.aria

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pin.PinOps

/** Aria-style deterministic, epoch-based batch transaction engine — the
  * flagship semantics of the reference (SURVEY.md §2 O14–O21, §3 E3).
  *
  * Reference pipeline per epoch (`/root/reference/src/database/ycsb/db.h:111-125`):
  * Execute (snapshot read, `TrancM_func.cuh:21-63`) → Reserve (per-key
  * min-Tid atomicCAS loops, `metadatahelper.cuh:36-90`) → Commit (RAW/WAR/WAW
  * analysis, `TrancM_func.cuh:125-164`) → Install (write-back,
  * `TrancM_func.cuh:181-250`) → Collect (aborted txns retried next epoch,
  * `TransctionManager.cuh:165-185`).
  *
  * Spark re-expression: each phase is a pure data-parallel transformation
  * over the ops batch, so the whole epoch is ONE DataFrame DAG:
  *
  *  - the atomicCAS min-Tid reservation protocol exists only because a GPU
  *    has no shuffle; `groupBy(k).agg(min(tid))` is its exact declarative
  *    equivalent (same winner: smallest Tid per key);
  *  - conflict flags are boolean `max(...)` aggregations per txn;
  *  - install is a per-key merge of the winning committed writer into the
  *    next table snapshot (immutability ⇒ version production, which is
  *    faithful because the reference's install phase is the sole writer and
  *    runs after all reads);
  *  - the epoch loop is a driver `while`; each epoch checkpoints only its
  *    tiny abort-verdict frame (one action/epoch), and the retry batch is
  *    re-derived lazily through broadcast probes of those frames, with a
  *    periodic `localCheckpoint` keeping worst-case plans flat
  *    (SURVEY.md §7.4).
  *
  * Determinism: commit decisions depend only on the *relative order* of
  * Tids, so we keep original sparse Tids across retries instead of the
  * reference's re-numbering (`TransctionManager.cuh:176-184`) — same
  * decisions, no global row_number bottleneck at scale. Tids must be ≥ 1
  * (0 = "no reservation", `TrancM_func.cuh:138`).
  *
  * Scale: every phase shuffles on either `k` (reservations, install) or
  * `tid` (conflict agg) — all map-side-combinable aggs with tiny outputs.
  * No phase collects data to the driver except the per-epoch abort count
  * (one long). Skewed keys are handled by AQE; the ops batch is typically
  * broadcastable against a 100 TB base table.
  */
object AriaEngine {

  /** ops schema: tid:long (≥1), opIdx:int, k:long, isUpdate:boolean.
    * Reference semantics: every op reads its key; update ops additionally
    * write it (RMW — `TrancM_func.cuh:50-58`: update ⇒ read-set AND
    * write-set).
    *
    * MULTI-TABLE: the reference's database is a 2-D table registry
    * (`src/database/common/database.h:10-22` — `tables[table_id][slot]`,
    * all tables carrying the same YCSB row type). The Spark shape is ONE
    * registry frame with a `table_id` column and ops addressing the
    * composite key — every phase below takes `keyCols` (default
    * `Seq("k")`, the single-table engine; `Seq("table_id", "k")` for the
    * registry). Reservation/conflict semantics are unchanged: two ops
    * conflict iff they touch the same (table, key) cell, so the same
    * numeric key in DIFFERENT tables never conflicts. With the default,
    * every plan is identical to the pre-generalization engine.
    */

  /** Execute-phase key filter: O14 skips ops whose key is absent from the
    * snapshot (`TrancM_func.cuh:32-34` `continue`). Left-semi join = exactly
    * "keep ops that found their key".
    */
  def liveOps(ops: DataFrame, table: DataFrame,
      keyCols: Seq[String] = Seq("k")): DataFrame =
    ops.join(table.select(keyCols.map(col): _*), keyCols, "left_semi")

  /** O15 Reserve: per-key min-Tid read/write reservations.
    * rts = min Tid among readers (all ops read); wts = min Tid among writers.
    * Null wts/rts = "unreserved" (the reference's 0 sentinel).
    */
  def reservations(ops: DataFrame,
      keyCols: Seq[String] = Seq("k")): DataFrame =
    ops.groupBy(keyCols.map(col): _*).agg(
      min(col("tid")).as("rts"),
      min(when(col("isUpdate"), col("tid"))).as("wts"))

  /** O16 Commit: per-txn RAW/WAR/WAW dependency flags
    * (`TrancM_func.cuh:125-164`):
    *  - RAW: some read key has a same-epoch writer with smaller Tid;
    *  - WAR: some written key has a reader with smaller Tid;
    *  - WAW: some written key has a writer with smaller Tid.
    * (rts ≤ tid always holds for own keys since every op reads, so
    * `rts < tid` ⟺ a strictly smaller reader exists; ditto wts.)
    */
  def conflicts(ops: DataFrame, res: DataFrame,
      keyCols: Seq[String] = Seq("k")): DataFrame =
    ops.join(res, keyCols)
      .groupBy(col("tid"))
      .agg(
        max(coalesce(col("wts") < col("tid"), lit(false))).as("raw"),
        max(col("isUpdate") && coalesce(col("rts") < col("tid"), lit(false)))
          .as("war"),
        max(col("isUpdate") && coalesce(col("wts") < col("tid"), lit(false)))
          .as("waw"))

  /** O17/O18 commit predicate. reorder=false: commit iff ¬waw ∧ ¬raw
    * (`TrancM_func.cuh:207-227`). reorder=true (Aria's deterministic
    * reordering theorem): commit iff ¬waw ∧ (¬raw ∨ ¬war)
    * (`TrancM_func.cuh:181-205`).
    */
  def commitFlag(reorder: Boolean): Column =
    if (reorder) !col("waw") && (!col("raw") || !col("war"))
    else !col("waw") && !col("raw")

  /** Conflict table with both install policies' verdicts. */
  def decisions(ops: DataFrame, res: DataFrame,
      keyCols: Seq[String] = Seq("k")): DataFrame =
    conflicts(ops, res, keyCols)
      .withColumn("committed_noreorder", commitFlag(reorder = false))
      .withColumn("committed_reorder", commitFlag(reorder = true))

  /** [[decisions]] with the reservation minima FUSED into the same ops
    * pass as per-key window aggregates — callers that use the
    * reservation table ONLY to decide (the epoch loop, the verdict
    * queries) pay one key-partitioned exchange + the tid aggregation,
    * instead of scanning `ops` twice (groupBy for [[reservations]], then
    * the key-keyed join back — guide §2.4: two operations keyed the same
    * way share one exchange). Value-identical to
    * `decisions(ops, reservations(ops, keyCols), keyCols)`: a windowed
    * `min over (partition by k)` equals the groupBy-k min joined back on
    * k, and rts/wts are never null-vs-missing ambiguous (an inner join on
    * the group key loses no rows — every op's key is in its own group).
    */
  def decisionsFused(ops: DataFrame,
      keyCols: Seq[String] = Seq("k")): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    ops
      .withColumn("rts", min(col("tid")).over(w))
      .withColumn("wts", min(when(col("isUpdate"), col("tid"))).over(w))
      .groupBy(col("tid"))
      .agg(
        max(coalesce(col("wts") < col("tid"), lit(false))).as("raw"),
        max(col("isUpdate") && coalesce(col("rts") < col("tid"), lit(false)))
          .as("war"),
        max(col("isUpdate") && coalesce(col("wts") < col("tid"), lit(false)))
          .as("waw"))
      .withColumn("committed_noreorder", commitFlag(reorder = false))
      .withColumn("committed_reorder", commitFlag(reorder = true))
  }

  /** O19 write-back winners: per key, the committed writer (reservation
    * guarantees at most one committed writer per key — any writer above the
    * min has WAW and aborts — but we keep the min() for defensive
    * determinism). `newValue` builds the written payload from (tid, epoch) —
    * the reference regenerates random values at execute time
    * (`TrancM_func.cuh:52-57`); we use a documented deterministic scheme
    * instead (SURVEY.md §7.4 seed semantics).
    */
  def winners(ops: DataFrame, decided: DataFrame, reorder: Boolean,
      keyCols: Seq[String] = Seq("k")): DataFrame = {
    val flag = if (reorder) "committed_reorder" else "committed_noreorder"
    ops.filter(col("isUpdate"))
      .join(decided.filter(col(flag)).select("tid"), Seq("tid"))
      .groupBy(keyCols.map(col): _*)
      .agg(min(col("tid")).as("writer_tid"))
  }

  /** O17–O19 Install: produce the next table snapshot. `win` carries
    * (k, writer_tid, win_epoch); value columns listed in `valueCols` are
    * overwritten by `newValue(writer_tid, win_epoch)` on won keys; all
    * other columns/rows carry over. One shuffle (or zero, if the winner
    * set is broadcastable — it's bounded by the batch size, so it always
    * is).
    */
  def install(table: DataFrame, win: DataFrame, valueCols: Seq[String],
      newValue: (Column, Column) => Column,
      keyCols: Seq[String] = Seq("k")): DataFrame =
    installValues(table, win,
      valueCols.map(c => c -> newValue).toMap, keyCols)

  /** [[install]] with PER-COLUMN payload builders — the heterogeneous-
    * schema registry form. The reference's registry holds differently-
    * typed tables (`src/database/common/database.h:10-22`: per-table
    * `ITable` subclasses); a Spark caller models that as one typed frame
    * per table and installs each with its own column→value map (e.g. a
    * string name AND an integer balance written by the same winner),
    * while conflict analysis runs once over the composite-key union of
    * the tables' KEY SETS (payloads never feed conflict analysis).
    * `install` delegates here with a uniform map, so the single-schema
    * path is byte-identical.
    */
  def installValues(table: DataFrame, win: DataFrame,
      values: Map[String, (Column, Column) => Column],
      keyCols: Seq[String] = Seq("k")): DataFrame = {
    val merged = table.join(broadcast(win), keyCols, "left")
    val out = table.columns.map { c =>
      values.get(c) match {
        case Some(f) =>
          when(col("writer_tid").isNotNull,
            f(col("writer_tid"), col("win_epoch"))).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }
    merged.select(out.toIndexedSeq: _*)
  }

  /** O22 execute variant ("operation-parallel" path): instead of skipping
    * ops on missing keys, INSERT the missing key with a generated payload
    * before the epoch proceeds (`operation_parallel.cuh:72-83` inserts a
    * random value at execute time; our generator is the deterministic
    * `insertValue(k)` per SURVEY.md §7.4 seed policy). Returns the widened
    * snapshot; afterwards every op is live by construction.
    */
  def insertMissing(table: DataFrame, ops: DataFrame,
      valueCols: Seq[String], insertValue: Column => Column,
      keyCol: String = "k"): DataFrame = {
    val missing = ops.select(col("k").as(keyCol)).distinct()
      .join(table.select(col(keyCol)), Seq(keyCol), "left_anti")
    val schema = table.schema
    val newRows = missing.select(
      col(keyCol) +: table.columns.filterNot(_ == keyCol).map { c =>
        (if (valueCols.contains(c)) insertValue(col(keyCol))
         else lit(null).cast(schema(c).dataType)).as(c)
      }.toIndexedSeq: _*)
    table.unionByName(newRows)
  }

  /** One epoch: Execute→Reserve→Commit→Install→Collect as one DAG.
    * Returns (next table, per-txn decisions, aborted tids).
    */
  def runEpoch(table: DataFrame, ops: DataFrame, reorder: Boolean,
      valueCols: Seq[String], newValue: (Column, Column) => Column,
      epoch: Int,
      keyCols: Seq[String] = Seq("k")): (DataFrame, DataFrame, DataFrame) = {
    val live = liveOps(ops, table, keyCols)
    val decided = decisionsFused(live, keyCols)
    val win = winners(live, decided, reorder, keyCols)
      .withColumn("win_epoch", lit(epoch))
    val next = install(table, win, valueCols, newValue, keyCols)
    val flag = if (reorder) "committed_reorder" else "committed_noreorder"
    val aborted = decided.filter(!col(flag)).select("tid")
    (next, decided, aborted)
  }

  /** O20/O21 epoch loop: run to empty. Aborted txns retry next epoch with
    * their original Tids (order-preserving, see class doc). Progress is
    * guaranteed: the smallest remaining Tid always commits (no smaller
    * reader/writer can exist). Checkpointing truncates lineage so epoch N's
    * plan does not embed epochs 1..N-1.
    *
    * DEFERRED INSTALL: with the O14 skip-missing execute path and blind
    * deterministic writes, the table's KEY SET is invariant across epochs
    * and written values never feed back into conflict analysis — so the
    * install phase commutes past the whole loop, and a single merged
    * install at the end applies, per key, the winner of the LAST epoch
    * that wrote it.
    *
    * ONE driver action per epoch: the only data-dependent output an epoch
    * produces is its abort verdict, and `decisions` is already one row per
    * txn — so the loop checkpoints just the tiny aborted-tid frame and
    * counts it in that same job (`pinCounted`), and the next epoch's batch
    * is a broadcast semi-join against it (lazy — no batch-sized
    * materialization).
    *
    * ONE install branch: the epoch abort frames also give every txn's
    * commit epoch, 1 + the number of frames holding it (abort sets only
    * shrink), so the merged install reads `live` once, joins it to that
    * per-tid count and keeps per key the writer of the highest commit
    * epoch.
    *
    * DETERMINISM CONTRACT: `table0`/`ops0` are NOT checkpointed here and
    * are each read more than once (table: the live filter + the final
    * install; ops: the tid count + the live filter). A caller passing a
    * nondeterministic frame (rand(), an unseeded sample) would see
    * different rows in each read and get silently inconsistent commits —
    * pass only deterministic derivations (seeded generators, file reads)
    * or pre-materialize with localCheckpoint(true). The unconditional
    * defensive checkpoint this replaces was measured to cost two extra
    * batch-sized copies per policy run in the flagship scenario.
    */
  def run(spark: SparkSession, table0: DataFrame, ops0: DataFrame,
      reorder: Boolean, valueCols: Seq[String],
      newValue: (Column, Column) => Column,
      maxEpochs: Int = 100,
      keyCols: Seq[String] = Seq("k")): (DataFrame, Seq[(Int, Long, Long)]) =
    // key set is epoch-invariant: filter dead ops ONCE (one key-column
    // pass over the table), not once per epoch/winner branch. Accounting
    // still counts txns from the RAW batch: a txn whose ops all miss
    // commits trivially in epoch 1 (it can never conflict or abort).
    runLive(spark, table0,
      liveOps(ops0, table0, keyCols).pin,
      ops0.select("tid").distinct().count(), reorder, valueCols, newValue,
      maxEpochs, keyCols)

  /** [[run]] with the live-filtered op batch and raw-batch txn count
    * supplied by the caller. Lets a caller running the SAME (table, ops)
    * under BOTH install policies (the flagship reference scenario) compute
    * and materialize `liveOps` + the tid count ONCE and share them — the
    * two-policy scenario previously paid a second batch-sized live-filter
    * materialization and a second full-batch distinct-count for run #2.
    * `live` must be exactly `liveOps(rawOps, table)` (pre-materialized;
    * the epoch loop re-reads it every epoch) and `nTids` the distinct tid
    * count of the RAW batch — the same determinism contract as [[run]]
    * applies to `table`.
    */
  def runLive(spark: SparkSession, table: DataFrame, live: DataFrame,
      nTids: Long, reorder: Boolean, valueCols: Seq[String],
      newValue: (Column, Column) => Column,
      maxEpochs: Int = 100,
      keyCols: Seq[String] = Seq("k")): (DataFrame, Seq[(Int, Long, Long)]) = {
    var ops = live
    var epoch = 1
    val history = Seq.newBuilder[(Int, Long, Long)]
    // each epoch's aborted-tid frame, in epoch order
    val abortedByEpoch = Seq.newBuilder[DataFrame]
    var remaining = nTids
    val flag = if (reorder) "committed_reorder" else "committed_noreorder"
    while (remaining > 0 && epoch <= maxEpochs) {
      // fused reservations (decisionsFused): one key-partitioned window
      // pass instead of a second batch scan + key join per epoch
      val decided = decisionsFused(ops, keyCols)
      // the epoch's ONE action: materialize the per-txn abort verdicts
      // (decided is groupBy(tid), so this is one row per aborted txn),
      // counted in the same job
      val (aborted, nAborted) = decided.filter(!col(flag)).select("tid")
        .pinCounted()
      history += ((epoch, remaining - nAborted, nAborted))
      abortedByEpoch += aborted
      // CONSTANT-DEPTH retry derivation: abort sets only shrink
      // (aborted_e ⊆ tids(ops_e) = aborted_{e-1}-filtered live), so the
      // epoch-e batch is the ORIGINAL live frame semi-joined against just
      // the LAST abort verdict — identical rows to chaining a semi-join
      // per epoch, without the per-epoch plan growth the old shape paid
      // (one broadcast probe per elapsed epoch inside every later epoch's
      // job, flattened only every 8th epoch).
      ops = live.join(broadcast(aborted), Seq("tid"), "left_semi")
      remaining = nAborted
      epoch += 1
    }
    // merged install, one branch: since abort sets only shrink, a txn
    // aborted in n of the E epochs run commits in epoch n + 1, and did
    // commit iff n < E (the last frame holds the survivors of a cut-off
    // run). Per key, the committed writer of the highest epoch lands;
    // reservation leaves at most one committed writer per key and epoch,
    // the smallest tid is the defensive tie-break.
    val aborts = abortedByEpoch.result()
    val finalTable = aborts.reduceOption(_ unionByName _) match {
      case None => table
      case Some(all) =>
        val nAborts = all.groupBy(col("tid")).agg(count(lit(1)).as("n"))
        val lastWin = live.filter(col("isUpdate"))
          .join(broadcast(nAborts), Seq("tid"), "left")
          .withColumn("win_epoch",
            (coalesce(col("n"), lit(0L)) + 1).cast("int"))
          .filter(col("win_epoch") <= aborts.size)
          .groupBy(keyCols.map(col): _*)
          .agg(min(struct((-col("win_epoch")).as("e"), col("tid")))
            .as("lw"))
          .select(keyCols.map(col) ++ Seq(
            col("lw.tid").as("writer_tid"),
            (-col("lw.e")).as("win_epoch")): _*)
        install(table, lastWin, valueCols, newValue, keyCols)
    }
    (finalTable, history.result())
  }
}
