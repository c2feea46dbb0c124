package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.aria.AriaEngine
import graft.kv.KvOps
import graft.sources.Tables
import graft.Pin.PinOps

/** Oracle-checkable surface for the KV core (SURVEY.md §2 O1–O11) and the
  * Aria epoch engine (O14–O21), exercised over the driver's Parquet corpus.
  *
  * The Aria batch is DERIVED from corpus tables with pure integer arithmetic
  * (no seeded RNG) so the identical batch is constructible in DuckDB SQL and
  * the engine's phase outputs hash-compare exactly:
  *   txns  = orders with o_orderkey % 101 = 0          (tid = o_orderkey)
  *   ops   = their lineitems: k = l_partkey % 20000 + 1 (the reference keys_max, Transction.h:28), opIdx = l_linenumber,
  *           isUpdate = (l_linenumber % 5) < 2          (~40% writes)
  *   base  = part (k = p_partkey, payload f0 = p_name)
  */
object KvAria {

  // ---- derived Aria batch ----

  private def ariaOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_orderkey" % 101 === 0)
      .select(
        $"l_orderkey".as("tid"),
        $"l_linenumber".as("opidx"),
        ($"l_partkey" % 20000 + 1).as("k"),
        ($"l_linenumber" % 5 < 2).as("isUpdate"))
  }

  private def ariaBase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir).select($"p_partkey".as("k"), $"p_name".as("f0"))
  }

  private val opsCte =
    """WITH ops AS (
      |  SELECT l_orderkey AS tid, l_linenumber AS opidx,
      |         l_partkey % 20000 + 1 AS k,
      |         (l_linenumber % 5) < 2 AS isupdate
      |  FROM lineitem WHERE l_orderkey % 101 = 0),
      |live AS (SELECT * FROM ops WHERE k IN (SELECT p_partkey FROM part)),
      |res AS (SELECT k, min(tid) AS rts,
      |               min(CASE WHEN isupdate THEN tid END) AS wts
      |        FROM live GROUP BY k),
      |conf AS (
      |  SELECT tid,
      |    max(CASE WHEN wts < tid THEN 1 ELSE 0 END) AS raw,
      |    max(CASE WHEN isupdate AND rts < tid THEN 1 ELSE 0 END) AS war,
      |    max(CASE WHEN isupdate AND wts < tid THEN 1 ELSE 0 END) AS waw
      |  FROM live JOIN res USING (k) GROUP BY tid)
      |""".stripMargin

  // ---- Aria queries ----

  /** O15: reservation table (per-key min-Tid read/write stamps). */
  def ariaReservations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val live = AriaEngine.liveOps(ariaOps(s, dir), ariaBase(s, dir))
    AriaEngine.reservations(live)
      .select($"k", $"rts", coalesce($"wts", lit(0L)).as("wts"))
      .orderBy($"k")
  }

  val ariaReservationsSql: String = opsCte +
    """SELECT k, rts, coalesce(wts, 0) AS wts FROM res ORDER BY k""".stripMargin

  /** O16–O18: per-txn conflict flags + both install policies' verdicts. */
  def ariaConflicts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val live = AriaEngine.liveOps(ariaOps(s, dir), ariaBase(s, dir))
    AriaEngine.decisionsFused(live)
      .select($"tid",
        $"raw".cast("int").as("raw"),
        $"war".cast("int").as("war"),
        $"waw".cast("int").as("waw"),
        $"committed_noreorder".cast("int").as("committed_noreorder"),
        $"committed_reorder".cast("int").as("committed_reorder"))
      .orderBy($"tid")
  }

  val ariaConflictsSql: String = opsCte +
    """SELECT tid, raw, war, waw,
      |  CASE WHEN waw=0 AND raw=0 THEN 1 ELSE 0 END AS committed_noreorder,
      |  CASE WHEN waw=0 AND (raw=0 OR war=0) THEN 1 ELSE 0 END AS committed_reorder
      |FROM conf ORDER BY tid""".stripMargin

  /** O17–O19: table snapshot after one epoch (reorder policy), restricted to
    * the touched key range. Written payloads are the deterministic
    * 'v<tid>e<epoch>' scheme (SURVEY.md §7.4).
    */
  def ariaInstall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (next, _, _) = AriaEngine.runEpoch(
      ariaBase(s, dir), ariaOps(s, dir), reorder = true,
      valueCols = Seq("f0"),
      newValue = (tid, ep) =>
        concat(lit("v"), tid.cast("string"), lit("e"), ep.cast("string")),
      epoch = 1)
    next.filter($"k" <= 1000).orderBy($"k")
  }

  val ariaInstallSql: String = opsCte +
    """, win AS (
      |  SELECT k, min(tid) AS writer_tid
      |  FROM live JOIN conf USING (tid)
      |  WHERE isupdate AND waw = 0 AND (raw = 0 OR war = 0)
      |  GROUP BY k)
      |SELECT p_partkey AS k,
      |  CASE WHEN writer_tid IS NOT NULL
      |       THEN 'v' || writer_tid || 'e1' ELSE p_name END AS f0
      |FROM part LEFT JOIN win ON p_partkey = win.k
      |WHERE p_partkey <= 1000 ORDER BY k""".stripMargin

  /** O20/O21: multi-epoch run-to-empty summary (epoch, committed, aborted).
    * Oracle: the epoch fixpoint (reference `db.h:104-125`) re-expressed as a
    * DuckDB RECURSIVE CTE — each iteration carries the surviving Tid set,
    * recomputes reservations as per-key window minima, and aborts exactly
    * the reorder-policy losers. Serializability is additionally asserted by
    * ScalaTest property tests against a serial Tid-order oracle (SURVEY §5).
    */
  def ariaEpochs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, history) = AriaEngine.run(
      s, ariaBase(s, dir), ariaOps(s, dir), reorder = true,
      valueCols = Seq("f0"),
      newValue = (tid, ep) =>
        concat(lit("v"), tid.cast("string"), lit("e"), ep.cast("string")))
    history.toDF("epoch", "committed", "aborted").orderBy($"epoch")
  }

  /** Recursive-CTE re-implementation of the drain loop: `surv(epoch, tid)`
    * is the working set of still-live txns entering each epoch; epoch-1
    * accounting starts from the RAW batch's distinct Tids (txns whose ops
    * all miss commit trivially), exactly like [[AriaEngine.run]].
    */
  val ariaEpochsSql: String =
    """WITH RECURSIVE
      |ops AS (
      |  SELECT l_orderkey AS tid, l_linenumber AS opidx,
      |         l_partkey % 20000 + 1 AS k,
      |         (l_linenumber % 5) < 2 AS isupdate
      |  FROM lineitem WHERE l_orderkey % 101 = 0),
      |live AS (SELECT * FROM ops WHERE k IN (SELECT p_partkey FROM part)),
      |surv(epoch, tid) AS (
      |  SELECT 1, tid FROM (SELECT DISTINCT tid FROM live) t
      |  UNION ALL
      |  SELECT epoch + 1, tid FROM (
      |    SELECT epoch, tid,
      |      max(CASE WHEN wts < tid THEN 1 ELSE 0 END) AS raw,
      |      max(CASE WHEN isupdate AND rts < tid THEN 1 ELSE 0 END) AS war,
      |      max(CASE WHEN isupdate AND wts < tid THEN 1 ELSE 0 END) AS waw
      |    FROM (
      |      SELECT s.epoch, l.tid, l.k, l.isupdate,
      |        min(l.tid) OVER (PARTITION BY l.k) AS rts,
      |        min(CASE WHEN l.isupdate THEN l.tid END)
      |          OVER (PARTITION BY l.k) AS wts
      |      FROM live l JOIN surv s USING (tid)) z
      |    GROUP BY epoch, tid) c
      |  WHERE NOT (waw = 0 AND (raw = 0 OR war = 0))),
      |counts AS (SELECT epoch, count(*)::BIGINT AS n FROM surv GROUP BY epoch),
      |total AS (SELECT count(DISTINCT tid)::BIGINT AS n0 FROM ops)
      |SELECT c.epoch,
      |  (CASE WHEN c.epoch = 1 THEN (SELECT n0 FROM total) ELSE c.n END
      |   - coalesce(nx.n, 0))::BIGINT AS committed,
      |  coalesce(nx.n, 0)::BIGINT AS aborted
      |FROM counts c LEFT JOIN counts nx ON nx.epoch = c.epoch + 1
      |ORDER BY c.epoch""".stripMargin

  /** O22 "operation-parallel" execute variant: ops on missing keys insert
    * the key with a deterministic payload ('ins<k>') instead of being
    * skipped (`/root/reference/src/database/ycsb/operation_parallel.cuh:72-83`).
    * Base is part restricted to p_partkey ≤ 1500 and the op keyspace is
    * 1..3000, so keys 1501.. are genuinely missing at every scale factor.
    * Output: epoch-1 install result over the touched range.
    */
  def ariaInsertMissing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.part(s, dir).filter($"p_partkey" <= 1500)
      .select($"p_partkey".as("k"), $"p_name".as("f0"))
    val ops = Tables.lineitem(s, dir)
      .filter($"l_orderkey" % 101 === 0)
      .select(
        $"l_orderkey".as("tid"),
        $"l_linenumber".as("opidx"),
        ($"l_partkey" % 3000 + 1).as("k"),
        ($"l_linenumber" % 5 < 2).as("isUpdate"))
    val widened = AriaEngine.insertMissing(base, ops, Seq("f0"),
      k => concat(lit("ins"), k.cast("string")))
    val (next, _, _) = AriaEngine.runEpoch(
      widened, ops, reorder = true, valueCols = Seq("f0"),
      newValue = (tid, ep) =>
        concat(lit("v"), tid.cast("string"), lit("e"), ep.cast("string")),
      epoch = 1)
    next.orderBy($"k")
  }

  val ariaInsertMissingSql: String =
    """WITH base AS (
      |  SELECT p_partkey AS k, p_name AS f0 FROM part WHERE p_partkey <= 1500),
      |ops AS (
      |  SELECT l_orderkey AS tid, l_linenumber AS opidx,
      |         l_partkey % 3000 + 1 AS k,
      |         (l_linenumber % 5) < 2 AS isupdate
      |  FROM lineitem WHERE l_orderkey % 101 = 0),
      |widened AS (
      |  SELECT k, f0 FROM base
      |  UNION ALL
      |  SELECT DISTINCT k, 'ins' || k AS f0 FROM ops
      |  WHERE k NOT IN (SELECT k FROM base)),
      |res AS (SELECT k, min(tid) AS rts,
      |               min(CASE WHEN isupdate THEN tid END) AS wts
      |        FROM ops GROUP BY k),
      |conf AS (
      |  SELECT tid,
      |    max(CASE WHEN wts < tid THEN 1 ELSE 0 END) AS raw,
      |    max(CASE WHEN isupdate AND rts < tid THEN 1 ELSE 0 END) AS war,
      |    max(CASE WHEN isupdate AND wts < tid THEN 1 ELSE 0 END) AS waw
      |  FROM ops JOIN res USING (k) GROUP BY tid),
      |win AS (
      |  SELECT k, min(tid) AS writer_tid
      |  FROM ops JOIN conf USING (tid)
      |  WHERE isupdate AND waw = 0 AND (raw = 0 OR war = 0)
      |  GROUP BY k)
      |SELECT w.k,
      |  CASE WHEN writer_tid IS NOT NULL
      |       THEN 'v' || writer_tid || 'e1' ELSE w.f0 END AS f0
      |FROM widened w LEFT JOIN win ON w.k = win.k
      |ORDER BY w.k""".stripMargin

  /** O23 same-key op chain: per (tid, k), ops apply in opIdx order while
    * distinct keys run parallel (`key_op_chain.cuh:72-159`). With the
    * exploded representation this is a sorted fold per (tid, k); the
    * observable outcome is the LAST op's effect, surfaced here with the
    * full ordered chain length.
    */
  def ariaKeyOpChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ariaOps(s, dir)
      .groupBy($"tid", $"k")
      .agg(
        count(lit(1)).as("n_ops"),
        max($"opidx").as("last_opidx"),
        max_by($"isUpdate", $"opidx").cast("int").as("last_is_update"))
      .orderBy($"tid", $"k")
  }

  val ariaKeyOpChainSql: String = opsCte +
    """SELECT tid, k, count(*) AS n_ops, max(opidx) AS last_opidx,
      |  arg_max(isupdate, opidx)::INT AS last_is_update
      |FROM ops GROUP BY tid, k ORDER BY tid, k""".stripMargin

  /** The reference flagship scenario, exactly (BASELINE.md "Aria parity
    * scenario"): bulk-load 200,000 keys (`main.cu:35`), generate 150 txns
    * with the `Transction_Context` defaults (WR_rate=0.4, max_ops=30,
    * keys_max=20000, seed=0 — `Transction.h:24-33`), run to empty under
    * BOTH install policies. Output: (mode, epoch, committed, aborted) —
    * seed-stable, so the driver's rows-only hash doubles as a determinism
    * check across rounds. (Not SQL-expressible: seeded generator +
    * fixpoint loop.) ScalingBench scales keys, txns and `keys_max` ×k;
    * the query is k = 1.
    */
  def ariaReferenceScenario(s: SparkSession, dir: String,
      k: Int = 1): DataFrame = {
    import s.implicits._
    // materialize once: both install-policy runs re-checkpoint their
    // inputs, and without this each would regenerate all 200k seeded
    // payloads from scratch
    val table = graft.aria.TxnGen.bulkLoad(s, 200000L * k)
      .select($"k", $"fields"(0).as("f0"))
      .pin
    val ops = graft.aria.TxnGen.ops(s, 150L * k,
      graft.aria.TxnGen.Config(keysMax = 20000L * k)).pin
    val newValue = (tid: org.apache.spark.sql.Column,
        ep: org.apache.spark.sql.Column) =>
      concat(lit("v"), tid.cast("string"), lit("e"), ep.cast("string"))
    // liveOps and the raw tid count are policy-independent — compute and
    // materialize them ONCE and share across both runs (runLive) instead
    // of paying a second batch-sized live-filter materialization + full
    // distinct-count for the second policy.
    val live = AriaEngine.liveOps(ops, table).pin
    val nTids = ops.select($"tid").distinct().count()
    val runs = Seq(true, false).map { reorder =>
      val (_, history) = AriaEngine.runLive(
        s, table, live, nTids, reorder, Seq("f0"), newValue)
      val mode = if (reorder) "reorder" else "noreorder"
      history.map { case (e, c, a) => (mode, e, c, a) }
    }
    runs.flatten.toDF("mode", "epoch", "committed", "aborted")
      .orderBy($"mode", $"epoch")
  }

  /** Golden expected history for the reference scenario. The generator is a
    * JVM-seeded RNG (not SQL-expressible), but the scenario reads NO corpus
    * table, so its output is one fixed 7-row table at every scale factor.
    * These literals are machine-checked two independent ways: AriaEngineSpec
    * ("reference scenario golden history matches the plain-Scala simulator")
    * recomputes them with a collections-only (no Spark, no AriaEngine)
    * epoch-loop simulation, and the driver hashes them against the query.
    */
  val ariaReferenceScenarioSql: String =
    """SELECT * FROM (VALUES
      |  ('noreorder', 1, 108, 37),
      |  ('noreorder', 2, 29, 8),
      |  ('noreorder', 3, 7, 1),
      |  ('noreorder', 4, 1, 0),
      |  ('reorder', 1, 124, 21),
      |  ('reorder', 2, 20, 1),
      |  ('reorder', 3, 1, 0)
      |) t(mode, epoch, committed, aborted) ORDER BY mode, epoch""".stripMargin

  /** Multi-table Aria (reference `src/database/common/database.h:10-22` —
    * the 2-D `tables[table_id][slot]` registry; all tables carry the same
    * row type, so the Spark shape is ONE registry frame keyed
    * (table_id, k)). The batch interleaves ops on table 0 (= part) and
    * table 1 (= customer) within the same txns; conflicts key on the
    * COMPOSITE key, so the same numeric k in different tables never
    * conflicts, while a txn's flags aggregate across all tables it
    * touches. `n_tables` surfaces how many registry tables each txn
    * actually hit (≥2 rows prove genuinely cross-table txns).
    *
    * Scale: identical to the single-table engine — every phase shuffles
    * on (table_id, k) or tid; the composite key only widens the shuffle
    * key by one int.
    */
  private def twoTableOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_orderkey" % 101 === 0)
      .select(
        $"l_orderkey".as("tid"),
        $"l_linenumber".as("opidx"),
        ($"l_partkey" % 2).as("table_id"),
        // odd modulus: with an even one (1000) table_id and k are
        // parity-correlated — table 0 only ever sees odd k, table 1 only
        // even — so no numeric k occurs in BOTH tables and the gate data
        // cannot distinguish composite-key conflicts from k-only keying
        ($"l_partkey" % 999 + 1).as("k"),
        ($"l_linenumber" % 5 < 2).as("isUpdate"))
  }

  private def twoTableRegistry(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .select(lit(0L).as("table_id"), $"p_partkey".as("k"), $"p_name".as("f0"))
      .unionByName(Tables.customer(s, dir)
        .select(lit(1L).as("table_id"), $"c_custkey".as("k"),
          $"c_name".as("f0")))
  }

  private val twoTableKey = Seq("table_id", "k")

  private val twoTableCte =
    """WITH ops AS (
      |  SELECT l_orderkey AS tid, l_linenumber AS opidx,
      |         l_partkey % 2 AS table_id,
      |         l_partkey % 999 + 1 AS k,
      |         (l_linenumber % 5) < 2 AS isupdate
      |  FROM lineitem WHERE l_orderkey % 101 = 0),
      |reg AS (
      |  SELECT 0 AS table_id, p_partkey AS k, p_name AS f0 FROM part
      |  UNION ALL
      |  SELECT 1 AS table_id, c_custkey AS k, c_name AS f0 FROM customer),
      |live AS (
      |  SELECT o.* FROM ops o
      |  WHERE EXISTS (SELECT 1 FROM reg r
      |                WHERE r.table_id = o.table_id AND r.k = o.k)),
      |res AS (SELECT table_id, k, min(tid) AS rts,
      |               min(CASE WHEN isupdate THEN tid END) AS wts
      |        FROM live GROUP BY table_id, k),
      |conf AS (
      |  SELECT tid,
      |    max(CASE WHEN wts < tid THEN 1 ELSE 0 END) AS raw,
      |    max(CASE WHEN isupdate AND rts < tid THEN 1 ELSE 0 END) AS war,
      |    max(CASE WHEN isupdate AND wts < tid THEN 1 ELSE 0 END) AS waw
      |  FROM live JOIN res USING (table_id, k) GROUP BY tid)
      |""".stripMargin

  /** Per-txn verdicts over the two-table registry + tables-touched count. */
  def ariaTwoTables(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val live = AriaEngine.liveOps(
      twoTableOps(s, dir), twoTableRegistry(s, dir), twoTableKey)
    val dec = AriaEngine.decisionsFused(live, twoTableKey)
    val touched = live.groupBy($"tid")
      .agg(countDistinct($"table_id").as("n_tables"))
    dec.join(touched, Seq("tid"))
      .select($"tid", $"n_tables",
        $"raw".cast("int").as("raw"),
        $"war".cast("int").as("war"),
        $"waw".cast("int").as("waw"),
        $"committed_noreorder".cast("int").as("committed_noreorder"),
        $"committed_reorder".cast("int").as("committed_reorder"))
      .orderBy($"tid")
  }

  val ariaTwoTablesSql: String = twoTableCte +
    """, touched AS (
      |  SELECT tid, count(DISTINCT table_id)::BIGINT AS n_tables
      |  FROM live GROUP BY tid)
      |SELECT tid, n_tables, raw, war, waw,
      |  CASE WHEN waw=0 AND raw=0 THEN 1 ELSE 0 END AS committed_noreorder,
      |  CASE WHEN waw=0 AND (raw=0 OR war=0) THEN 1 ELSE 0 END AS committed_reorder
      |FROM conf JOIN touched USING (tid) ORDER BY tid""".stripMargin

  /** Epoch-1 install over the registry (reorder policy), touched range of
    * BOTH tables — the write-back path exercised through the composite
    * key: each table's cells get exactly its own winners.
    */
  def ariaTwoTablesInstall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (next, _, _) = AriaEngine.runEpoch(
      twoTableRegistry(s, dir), twoTableOps(s, dir), reorder = true,
      valueCols = Seq("f0"),
      newValue = (tid, ep) =>
        concat(lit("v"), tid.cast("string"), lit("e"), ep.cast("string")),
      epoch = 1, keyCols = twoTableKey)
    next.filter($"k" <= 300).orderBy($"table_id", $"k")
  }

  val ariaTwoTablesInstallSql: String = twoTableCte +
    """, win AS (
      |  SELECT table_id, k, min(tid) AS writer_tid
      |  FROM live JOIN conf USING (tid)
      |  WHERE isupdate AND waw = 0 AND (raw = 0 OR war = 0)
      |  GROUP BY table_id, k)
      |SELECT r.table_id, r.k,
      |  CASE WHEN writer_tid IS NOT NULL
      |       THEN 'v' || writer_tid || 'e1' ELSE r.f0 END AS f0
      |FROM reg r LEFT JOIN win w ON r.table_id = w.table_id AND r.k = w.k
      |WHERE r.k <= 300 ORDER BY r.table_id, r.k""".stripMargin

  /** Multi-table epoch loop run to empty (reorder policy) — the O20/O21
    * fixpoint over the two-table registry, oracled by the same
    * recursive-CTE re-derivation as [[ariaEpochs]] with reservations
    * keyed on the COMPOSITE (table_id, k). Gates the generalized
    * [[AriaEngine.run]] loop itself, not just the single-epoch phases.
    */
  def ariaTwoTablesEpochs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, history) = AriaEngine.run(
      s, twoTableRegistry(s, dir), twoTableOps(s, dir), reorder = true,
      valueCols = Seq("f0"),
      newValue = (tid, ep) =>
        concat(lit("v"), tid.cast("string"), lit("e"), ep.cast("string")),
      keyCols = twoTableKey)
    history.toDF("epoch", "committed", "aborted").orderBy($"epoch")
  }

  val ariaTwoTablesEpochsSql: String =
    """WITH RECURSIVE
      |ops AS (
      |  SELECT l_orderkey AS tid, l_linenumber AS opidx,
      |         l_partkey % 2 AS table_id,
      |         l_partkey % 999 + 1 AS k,
      |         (l_linenumber % 5) < 2 AS isupdate
      |  FROM lineitem WHERE l_orderkey % 101 = 0),
      |reg AS (
      |  SELECT 0 AS table_id, p_partkey AS k FROM part
      |  UNION ALL
      |  SELECT 1 AS table_id, c_custkey AS k FROM customer),
      |live AS (
      |  SELECT o.* FROM ops o
      |  WHERE EXISTS (SELECT 1 FROM reg r
      |                WHERE r.table_id = o.table_id AND r.k = o.k)),
      |surv(epoch, tid) AS (
      |  SELECT 1, tid FROM (SELECT DISTINCT tid FROM live) t
      |  UNION ALL
      |  SELECT epoch + 1, tid FROM (
      |    SELECT epoch, tid,
      |      max(CASE WHEN wts < tid THEN 1 ELSE 0 END) AS raw,
      |      max(CASE WHEN isupdate AND rts < tid THEN 1 ELSE 0 END) AS war,
      |      max(CASE WHEN isupdate AND wts < tid THEN 1 ELSE 0 END) AS waw
      |    FROM (
      |      SELECT s.epoch, l.tid, l.table_id, l.k, l.isupdate,
      |        min(l.tid) OVER (PARTITION BY l.table_id, l.k) AS rts,
      |        min(CASE WHEN l.isupdate THEN l.tid END)
      |          OVER (PARTITION BY l.table_id, l.k) AS wts
      |      FROM live l JOIN surv s USING (tid)) z
      |    GROUP BY epoch, tid) c
      |  WHERE NOT (waw = 0 AND (raw = 0 OR war = 0))),
      |counts AS (SELECT epoch, count(*)::BIGINT AS n FROM surv GROUP BY epoch),
      |total AS (SELECT count(DISTINCT tid)::BIGINT AS n0 FROM ops)
      |SELECT c.epoch,
      |  (CASE WHEN c.epoch = 1 THEN (SELECT n0 FROM total) ELSE c.n END
      |   - coalesce(nx.n, 0))::BIGINT AS committed,
      |  coalesce(nx.n, 0)::BIGINT AS aborted
      |FROM counts c LEFT JOIN counts nx ON nx.epoch = c.epoch + 1
      |ORDER BY c.epoch""".stripMargin

  /** Multi-table Aria over HETEROGENEOUS value schemas — the reference
    * registry's tables are differently-typed `ITable` subclasses
    * (`src/database/common/database.h:10-22`), which the f0-coerced
    * two-table queries above flatten away. Here each table keeps its own
    * typed frame — table 0 = part (name: string, size: long), table 1 =
    * customer (name: string, balance: long cents, segment: string) —
    * conflict analysis runs ONCE on the composite-key union of the KEY
    * sets (payloads never feed conflict analysis), and each table
    * installs its winners with its OWN column→value map
    * ([[AriaEngine.installValues]]): table 0 rewrites the name; table 1
    * rewrites the name AND the integer balance (a typed, non-string
    * write the coerced form cannot express). The readout renders each
    * table's full typed row to one string so both schemas hash in one
    * gate frame.
    *
    * Scale: the conflict phases are the same (table_id, k)/tid keyed
    * shuffles as the homogeneous registry; each install is one
    * broadcast-winners merge over its own table — adding a table adds
    * one broadcast join, never a second corpus shuffle.
    */
  def ariaTwoTablesHetero(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val part = Tables.part(s, dir).select($"p_partkey".as("k"),
      $"p_name".as("f_name"), $"p_size".cast("long").as("f_size"))
    val cust = Tables.customer(s, dir).select($"c_custkey".as("k"),
      $"c_name".as("f_name"),
      round($"c_acctbal" * 100).cast("long").as("f_bal_cents"),
      $"c_mktsegment".as("f_seg"))
    val keys = part.select(lit(0L).as("table_id"), $"k")
      .unionByName(cust.select(lit(1L).as("table_id"), $"k"))
    val live = AriaEngine.liveOps(twoTableOps(s, dir), keys, twoTableKey)
    val dec = AriaEngine.decisionsFused(live, twoTableKey)
    val win = AriaEngine.winners(live, dec, reorder = true, twoTableKey)
      .withColumn("win_epoch", lit(1))
      .pin // bounded by the batch; probed by both installs
    val t0 = AriaEngine.installValues(part,
      win.filter($"table_id" === 0L).drop("table_id"),
      Map("f_name" -> ((tid, ep) => concat(lit("v"), tid.cast("string"),
        lit("e"), ep.cast("string")))))
    val t1 = AriaEngine.installValues(cust,
      win.filter($"table_id" === 1L).drop("table_id"),
      Map(
        "f_name" -> ((tid, ep) => concat(lit("w"), tid.cast("string"),
          lit("e"), ep.cast("string"))),
        "f_bal_cents" -> ((tid, ep) => tid * lit(100L) + ep)))
    t0.select(lit(0L).as("table_id"), $"k",
        concat($"f_name", lit("#"), $"f_size".cast("string")).as("payload"))
      .unionByName(t1.select(lit(1L).as("table_id"), $"k",
        concat($"f_name", lit("#"), $"f_bal_cents".cast("string"),
          lit("#"), $"f_seg").as("payload")))
      .filter($"k" <= 300)
      .orderBy($"table_id", $"k")
  }

  val ariaTwoTablesHeteroSql: String = twoTableCte +
    """, win AS (
      |  SELECT table_id, k, min(tid) AS writer_tid
      |  FROM live JOIN conf USING (tid)
      |  WHERE isupdate AND waw = 0 AND (raw = 0 OR war = 0)
      |  GROUP BY table_id, k)
      |SELECT * FROM (
      |  SELECT 0 AS table_id, p_partkey AS k,
      |    (CASE WHEN w.writer_tid IS NOT NULL
      |          THEN 'v' || w.writer_tid || 'e1' ELSE p_name END)
      |      || '#' || p_size AS payload
      |  FROM part LEFT JOIN (SELECT * FROM win WHERE table_id = 0) w
      |    ON p_partkey = w.k
      |  WHERE p_partkey <= 300
      |  UNION ALL
      |  SELECT 1 AS table_id, c_custkey AS k,
      |    (CASE WHEN w.writer_tid IS NOT NULL
      |          THEN 'w' || w.writer_tid || 'e1' ELSE c_name END)
      |      || '#' ||
      |    (CASE WHEN w.writer_tid IS NOT NULL THEN w.writer_tid * 100 + 1
      |          ELSE round(c_acctbal * 100)::BIGINT END)
      |      || '#' || c_mktsegment AS payload
      |  FROM customer LEFT JOIN (SELECT * FROM win WHERE table_id = 1) w
      |    ON c_custkey = w.k
      |  WHERE c_custkey <= 300) u
      |ORDER BY table_id, k""".stripMargin

  // ---- KV queries ----

  /** O1/O2: point lookup with pushed-down key predicate. */
  def kvPointLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    KvOps.pointLookup(Tables.customer(s, dir), "c_custkey", 42L)
      .select($"c_custkey", $"c_name", round($"c_acctbal", 2).as("bal"))
  }

  val kvPointLookupSql: String =
    """SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
      |FROM customer WHERE c_custkey = 42""".stripMargin

  /** O14 probe shape: batched lookup-join of a derived key set. */
  def kvBatchLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keys = Tables.orders(s, dir)
      .filter($"o_totalprice" > 250000.0)
      .select($"o_custkey".as("c_custkey")).distinct()
    KvOps.batchLookup(Tables.customer(s, dir), keys, "c_custkey")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val kvBatchLookupSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders
      |                    WHERE o_totalprice > 250000.0)
      |ORDER BY c_custkey""".stripMargin

  /** O4/O5 upsert: updates double the balance of every 10th customer and
    * insert a new row per 100th customer (key + 1,000,000); last-writer-wins
    * merge per key.
    */
  def kvUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.customer(s, dir)
      .select($"c_custkey".as("k"), round($"c_acctbal", 2).as("bal"))
    val updates = Tables.customer(s, dir)
      .filter($"c_custkey" % 10 === 0)
      .select($"c_custkey".as("k"), round($"c_acctbal" * 2, 2).as("bal"))
    // negative keys can never collide with real custkeys at ANY scale
    // factor (c_custkey + 1000000 collided once customer exceeded 1M rows)
    val inserts = Tables.customer(s, dir)
      .filter($"c_custkey" % 100 === 0)
      .select((-($"c_custkey" + 1)).as("k"), lit(0.0).as("bal"))
    KvOps.upsert(base, updates.unionByName(inserts), "k").orderBy($"k")
  }

  val kvUpsertSql: String =
    """SELECT c_custkey AS k,
      |  CASE WHEN c_custkey % 10 = 0 THEN round(c_acctbal * 2, 2)
      |       ELSE round(c_acctbal, 2) END AS bal
      |FROM customer
      |UNION ALL
      |SELECT -(c_custkey + 1) AS k, 0.0 AS bal
      |FROM customer WHERE c_custkey % 100 = 0
      |ORDER BY k""".stripMargin

  /** O9 delete (completes the reference's empty stub): anti-join removal of
    * every 7th key.
    */
  def kvDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dels = Tables.customer(s, dir)
      .filter($"c_custkey" % 7 === 0).select($"c_custkey")
    KvOps.delete(Tables.customer(s, dir), dels, "c_custkey")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  val kvDeleteSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey % 7 <> 0 ORDER BY c_custkey""".stripMargin

  /** O7/O8: scan + counts across the catalog (one row). */
  def kvScanCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).agg(count(lit(1)).as("lineitem_rows"))
    val ord = Tables.orders(s, dir).agg(
      count(lit(1)).as("orders_rows"),
      countDistinct($"o_custkey").as("orders_custkeys"))
    val cust = Tables.customer(s, dir).agg(count(lit(1)).as("customer_rows"))
    li.crossJoin(ord).crossJoin(cust)
  }

  val kvScanCountSql: String =
    """SELECT (SELECT count(*) FROM lineitem) AS lineitem_rows,
      |  (SELECT count(*) FROM orders) AS orders_rows,
      |  (SELECT count(DISTINCT o_custkey) FROM orders) AS orders_custkeys,
      |  (SELECT count(*) FROM customer) AS customer_rows""".stripMargin

  /** SHUFFLE bench canary — a fixed two-table join + aggregation whose
    * cost is dominated by a real exchange (the lineitem-sized hash
    * aggregate on `l_orderkey`), feeding a join with orders and a final
    * ≤5-row rollup. Exists because the pure-scan canary
    * ([[kvScanCount]]) is blind to shuffle-side co-tenancy: round 11's
    * graded window inflated shuffle-heavy queries 1.2–1.8× while the
    * scan canary sat at its clean floor. Like the scan canary, this
    * query's min only moves with machine conditions, never with query
    * code — a reading ≥2× its recorded floor voids the window's deltas
    * (`tools/bench_compare.py` refuses to compare).
    */
  def kvShuffleCanary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_quantity".cast("long").as("qty"))
      .groupBy($"l_orderkey").agg(sum($"qty").as("qty"))
    per.join(Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"qty").as("sum_qty"))
      .orderBy($"o_orderpriority")
  }

  val kvShuffleCanarySql: String =
    """WITH per AS (
      |  SELECT l_orderkey, sum(l_quantity::BIGINT)::BIGINT AS qty
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT o_orderpriority, count(*)::BIGINT AS n,
      |  sum(qty)::BIGINT AS sum_qty
      |FROM per JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** LONG bench canary — a pinned 5-round integer BSP (PageRank shape)
    * over a fixed synthetic graph derived from lineitem, each round an
    * eager localCheckpoint (one Spark job per round, exactly the
    * mst/pagerank/single-linkage execution profile: several multi-stage
    * jobs back to back instead of one short plan). Exists because BOTH
    * existing canaries are sub-second single-job queries, and round 14
    * measured a length-dependent weather mode: sustained cache-pressure
    * co-tenancy inflated long multi-stage queries ×1.3–1.9 while the
    * short canaries read ×1.1 — making cross-round grading of the long
    * class unfalsifiable (VERDICT r14 #1). This canary's min moves only
    * with machine conditions: the BSP loop and its oracle are INLINED
    * here (not shared with [[Graph.pageRankBsp]] or
    * [[Graph.pageRankCtes]]) so no operator refactor can change its cost.
    * Graph: nodes = lineitem key residues mod 65536, edges = distinct
    * (l_orderkey, l_partkey) residue pairs, both directions; rank in
    * fixed-point 10^6 / damping 85/100 integer arithmetic (floor-div ≡
    * DuckDB `//` on the non-negative domain, so the oracle is an exact
    * hash gate). Output: a 32-bucket rank rollup (tiny, so the bench's
    * big-emitter GC barrier never fires on the canary itself).
    */
  def kvLongCanary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Tables.lineitem(s, dir)
      .select(($"l_orderkey" % 65536L).as("a"), ($"l_partkey" % 65536L).as("b"))
      .filter($"a" =!= $"b").distinct()
    val edges = pairs.select($"a".as("src"), $"b".as("dst"))
      .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
      .pin // re-joined every round
    val nodes = edges.select($"src".as("v")).distinct().pin
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("d")).pin
    var r = nodes.select($"v", lit(1000000L).as("r"))
    for (_ <- 1 to 5) {
      val contrib = edges.join(deg, "src")
        .join(r.withColumnRenamed("v", "src"), "src")
        .select($"dst".as("v"), expr("r div d").as("c"))
        .groupBy($"v").agg(sum($"c").as("s"))
      // eager pin per round: each round is its own Spark JOB, so the
      // canary's wall is 5 sustained multi-stage jobs — the long-class
      // profile — not one fused lazy plan
      r = nodes.join(contrib, Seq("v"), "left")
        .select($"v",
          (lit(150000L) + expr("(85 * coalesce(s, 0)) div 100")).as("r"))
        .pin
    }
    r.groupBy(($"v" % 32L).as("bucket"))
      .agg(count(lit(1)).as("n"), sum($"r").as("sum_rank"))
      .orderBy($"bucket")
  }

  val kvLongCanarySql: String = {
    def iter(k: Int): String =
      s""",
         |r$k AS (
         |  SELECT n.v,
         |    (150000 + (85 * COALESCE(c.s, 0)) // 100)::BIGINT AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS v, sum(r.r // deg.d)::BIGINT AS s
         |    FROM edges e JOIN r${k - 1} r ON e.src = r.v
         |                 JOIN deg ON deg.src = e.src
         |    GROUP BY e.dst) c ON n.v = c.v)""".stripMargin
    """WITH pairs AS (
      |  SELECT DISTINCT l_orderkey % 65536 AS a, l_partkey % 65536 AS b
      |  FROM lineitem WHERE l_orderkey % 65536 <> l_partkey % 65536),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |          UNION ALL SELECT b, a FROM pairs),
      |nodes AS (SELECT DISTINCT src AS v FROM edges),
      |deg AS (SELECT src, count(*)::BIGINT AS d FROM edges GROUP BY src),
      |r0 AS (SELECT v, 1000000::BIGINT AS r FROM nodes)""".stripMargin +
      (1 to 5).map(iter).mkString +
      """
        |SELECT v % 32 AS bucket, count(*)::BIGINT AS n,
        |  sum(r)::BIGINT AS sum_rank
        |FROM r5 GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "aria_reservations" -> ariaReservations _,
    "aria_conflicts" -> ariaConflicts _,
    "aria_install" -> ariaInstall _,
    "aria_insert_missing" -> ariaInsertMissing _,
    "aria_key_op_chain" -> ariaKeyOpChain _,
    "aria_epochs" -> ariaEpochs _,
    "aria_reference_scenario" -> (ariaReferenceScenario(_: SparkSession, _: String)),
    "aria_two_tables" -> ariaTwoTables _,
    "aria_two_tables_install" -> ariaTwoTablesInstall _,
    "aria_two_tables_epochs" -> ariaTwoTablesEpochs _,
    "aria_two_tables_hetero" -> ariaTwoTablesHetero _,
    "kv_point_lookup" -> kvPointLookup _,
    "kv_batch_lookup" -> kvBatchLookup _,
    "kv_upsert" -> kvUpsert _,
    "kv_delete" -> kvDelete _,
    "kv_scan_count" -> kvScanCount _,
    "kv_shuffle_canary" -> kvShuffleCanary _,
    "kv_long_canary" -> kvLongCanary _,
  )

  val oracles: Map[String, String] = Map(
    "aria_reservations" -> ariaReservationsSql,
    "aria_conflicts" -> ariaConflictsSql,
    "aria_install" -> ariaInstallSql,
    "aria_insert_missing" -> ariaInsertMissingSql,
    "aria_key_op_chain" -> ariaKeyOpChainSql,
    "aria_epochs" -> ariaEpochsSql,
    "aria_reference_scenario" -> ariaReferenceScenarioSql,
    "aria_two_tables" -> ariaTwoTablesSql,
    "aria_two_tables_install" -> ariaTwoTablesInstallSql,
    "aria_two_tables_epochs" -> ariaTwoTablesEpochsSql,
    "aria_two_tables_hetero" -> ariaTwoTablesHeteroSql,
    "kv_point_lookup" -> kvPointLookupSql,
    "kv_batch_lookup" -> kvBatchLookupSql,
    "kv_upsert" -> kvUpsertSql,
    "kv_delete" -> kvDeleteSql,
    "kv_scan_count" -> kvScanCountSql,
    "kv_shuffle_canary" -> kvShuffleCanarySql,
    "kv_long_canary" -> kvLongCanarySql,
  )
}
