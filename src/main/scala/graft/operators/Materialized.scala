package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pin.PinOps
import graft.sources.Tables

/** Incremental materialized-view maintenance — the counting algorithm of
  * Gupta, Mumick & Subrahmanian (SIGMOD 1993; survey: Gupta & Mumick,
  * IEEE Data Eng. Bull. 1995), re-expressed as Spark aggregation algebra.
  *
  * The 100 TB problem this family answers: a corpus-wide rollup (orders
  * per customer, tokens per domain, bytes per source) is consulted by
  * every downstream job, but the fact table only ever changes by a
  * day-sized delta. Recomputing the rollup rescans the full corpus;
  * MAINTAINING it touches only the delta and the view:
  *
  *  - distributive aggregates (count, sum — and avg as sum/count) admit
  *    the pure delta rule ([[refreshCountSum]]): inserts contribute
  *    (+1, +x), deletes (−1, −x), and `refreshed = Σ(view ∪ Δagg)` with
  *    groups dropped at count 0. Group BIRTH (a key first seen in the
  *    delta) and DEATH (a key whose last row is deleted) fall out of the
  *    same union-aggregate — no special cases. Cost: O(|Δ| + |view|),
  *    base never rescanned.
  *  - max/min are NOT delta-maintainable under deletes (the deleted row
  *    may have BEEN the max, and the view holds no runner-up). The
  *    production form ([[refreshMax]]) recomputes ONLY the delete-dirty
  *    groups — the base semi-joined against the small dirty-key set; at
  *    scale a partition-pruned read, never a corpus scan — and
  *    delta-merges everything else: cost O(|Δ| + |view| + dirty-group
  *    rows). Both shapes are oracle-gated.
  *  - count(distinct) needs AUXILIARY STATE — [[refreshDistinct]]
  *    maintains the per-(key, value) multiplicity table and moves the
  *    view by value births − deaths, touching only delta-touched pairs.
  *
  * The gate scenario is deterministic over the `orders` table: rows
  * before SPLIT are the materialized base, rows at-or-after SPLIT are
  * the insert batch, and finished base orders with `o_orderkey % 7 = 0`
  * are the delete batch (a CDC day: inserts + deletes arriving
  * together). The oracle recomputes the view from scratch over the
  * effective table — the maintenance algebra must be bit-identical to
  * recompute, cents exact in int64. MaterializedSpec drives the same
  * refreshers through explicit group-birth/group-death cases the gate
  * data is too uniform to produce.
  */
object Materialized {

  private val split = "1999-07-01"

  // ---- generic refreshers (the library surface; spec-driven laws) ----

  /** Counting-rule refresh of a count/sum view.
    *
    * @param view    (key, n, s) — the stored aggregate
    * @param ins     (key, x)    — inserted rows
    * @param del     (key, x)    — deleted rows (must have been live)
    * @return (key, n, s), groups with n = 0 dropped (group death)
    */
  def refreshCountSum(view: DataFrame, ins: DataFrame, del: DataFrame,
      key: String): DataFrame =
    foldCountSum(view, ins, del, key).filter(col("n") > 0L)

  /** The unfiltered counting-rule fold — refreshCountSum WITHOUT the
    * group-death (n = 0) filter. The streaming sink
    * ([[graft.streaming.MvStream]]) folds out-of-order CDC batches where
    * a delete can precede its insert: the intermediate state must carry
    * the transient zero/negative count forward (filtering mid-fold would
    * discard the carry and break batch-split invariance), with the death
    * filter applied once at read time.
    */
  def foldCountSum(view: DataFrame, ins: DataFrame, del: DataFrame,
      key: String): DataFrame = {
    val delta = ins.select(col(key), lit(1L).as("n"), col("x").as("s"))
      .unionByName(
        del.select(col(key), lit(-1L).as("n"), (-col("x")).as("s")))
      .groupBy(col(key))
      .agg(sum("n").as("n"), sum("s").as("s"))
    view.unionByName(delta)
      .groupBy(col(key))
      .agg(sum("n").as("n"), sum("s").as("s"))
  }

  /** Dirty-group refresh of a max view (min is the mirror image).
    *
    * @param view (key, m)         — the stored max per group
    * @param base (key, rid, x)    — the base rows the view was built from
    * @param ins  (key, rid, x)    — inserted rows
    * @param del  (rid)            — row ids deleted from base
    * @return (key, m): delete-dirty groups recomputed from their
    *         effective rows only; clean groups = max(view, insert max)
    */
  def refreshMax(view: DataFrame, base: DataFrame, ins: DataFrame,
      del: DataFrame, key: String): DataFrame = {
    val dirty = base.join(del, Seq("rid"), "left_semi")
      .select(col(key)).distinct().pin
    val effectiveDirty = base.join(del, Seq("rid"), "left_anti")
      .unionByName(ins)
      .join(broadcast(dirty), Seq(key), "left_semi")
      .groupBy(col(key))
      .agg(max("x").as("m"))
    val insMax = ins.groupBy(col(key)).agg(max("x").as("m"))
    val clean = view.unionByName(insMax)
      .groupBy(col(key))
      .agg(max("m").as("m"))
      .join(broadcast(dirty), Seq(key), "left_anti")
    clean.unionByName(effectiveDirty)
  }

  /** Auxiliary-state refresh of a count-distinct view — the third IVM
    * class: count(distinct v) is neither distributive nor dirty-group
    * recomputable from the view alone, but is EXACTLY maintainable with
    * the standard auxiliary table `aux(key, v) → n` (per-value
    * multiplicity). A value is born in a key when its multiplicity
    * crosses 0→positive and dies on positive→0; the distinct count
    * moves by births − deaths. Only delta-TOUCHED (key, v) pairs are
    * consulted (a broadcast semi-join against the aux table — at scale
    * a key-partition-pruned point read), so the refresh never rescans
    * the base OR the full aux table: O(|Δ| + |view|).
    *
    * @param aux  (key, v, n) — per-(key, value) multiplicities
    * @param view (key, c)    — distinct-value count per key
    * @param ins  (key, v)    — inserted rows
    * @param del  (key, v)    — deleted rows (must have been live)
    * @return (key, c), keys dropped at c = 0
    */
  def refreshDistinct(view: DataFrame, aux: DataFrame, ins: DataFrame,
      del: DataFrame, key: String): DataFrame = {
    val touched = ins.select(col(key), col("v"))
      .unionByName(del.select(col(key), col("v"))).distinct().pin
    val old = aux.join(broadcast(touched), Seq(key, "v"), "left_semi")
    val newN = old.select(col(key), col("v"), col("n"))
      .unionByName(ins.select(col(key), col("v"), lit(1L).as("n")))
      .unionByName(del.select(col(key), col("v"), lit(-1L).as("n")))
      .groupBy(col(key), col("v"))
      .agg(sum("n").as("n"))
    val moves = newN
      .join(old.select(col(key), col("v"), col("n").as("old_n")),
        Seq(key, "v"), "left")
      .select(col(key),
        (when(coalesce(col("old_n"), lit(0L)) === 0L && col("n") > 0L, 1L)
          .when(coalesce(col("old_n"), lit(0L)) > 0L && col("n") === 0L, -1L)
          .otherwise(0L)).as("c"))
      .groupBy(col(key))
      .agg(sum("c").as("c"))
      .filter(col("c") =!= 0L)
    view.unionByName(moves)
      .groupBy(col(key))
      .agg(sum("c").as("c"))
      .filter(col("c") > 0L)
  }

  // ---- the gate scenario over `orders` ----

  /** The gate scenario's CDC day over `orders`: (base, inserts, deletes)
    * of (key, rid, x); ScalingBench splits its scaled orders with it. */
  private[graft] def cdcDay(orders: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val s = orders.sparkSession
    import s.implicits._
    val all = orders.select(
      $"o_custkey".as("key"), $"o_orderkey".as("rid"), $"o_orderstatus",
      $"o_orderdate", round($"o_totalprice" * 100).cast("long").as("x"))
    val base = all.filter($"o_orderdate" < lit(split).cast("timestamp"))
      .select($"key", $"rid", $"x")
    val inserts = all.filter($"o_orderdate" >= lit(split).cast("timestamp"))
      .select($"key", $"rid", $"x")
    val deletes = all.filter($"o_orderdate" < lit(split).cast("timestamp")
      && $"o_orderstatus" === "F" && $"rid" % 7 === 0)
      .select($"key", $"rid", $"x")
    (base, inserts, deletes)
  }

  /** Delta-maintained count/sum view per customer: the stored view (the
    * pinned base aggregate — standing in for the table a real deployment
    * would read back, e.g. via [[graft.sources.VersionedTable]]) merged
    * with the signed delta aggregate. One union + one keyed aggregation;
    * the base table appears nowhere downstream of the pin.
    */
  def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (base, inserts, deletes) = cdcDay(Tables.orders(s, dir))
    val viewBase = base.groupBy($"key")
      .agg(count(lit(1)).as("n"), sum($"x").as("s"))
      .pin
    refreshCountSum(viewBase, inserts, deletes, "key")
      .select($"key".as("o_custkey"), $"n".as("n_orders"),
        $"s".as("sum_cents"))
      .orderBy($"o_custkey")
  }

  val incrementalAggSql: String =
    s"""SELECT o_custkey, count(*)::BIGINT AS n_orders,
       |  sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
       |FROM orders
       |WHERE NOT (o_orderdate < TIMESTAMP '$split 00:00:00'
       |  AND o_orderstatus = 'F' AND o_orderkey % 7 = 0)
       |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Max view under the same CDC day — the non-delta-maintainable
    * aggregate handled the production way (see [[refreshMax]]).
    */
  def incrementalMax(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (base, inserts, deletes) = cdcDay(Tables.orders(s, dir))
    val viewBase = base.groupBy($"key")
      .agg(max($"x").as("m"))
      .pin
    refreshMax(viewBase, base, inserts, deletes.select($"rid"), "key")
      .select($"key".as("o_custkey"), $"m".as("max_cents"))
      .orderBy($"o_custkey")
  }

  val incrementalMaxSql: String =
    s"""SELECT o_custkey,
       |  max(round(o_totalprice * 100)::BIGINT)::BIGINT AS max_cents
       |FROM orders
       |WHERE NOT (o_orderdate < TIMESTAMP '$split 00:00:00'
       |  AND o_orderstatus = 'F' AND o_orderkey % 7 = 0)
       |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Distinct order priorities per customer under the CDC day — the
    * auxiliary-state IVM class gated end-to-end (see [[refreshDistinct]]).
    */
  def incrementalDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = Tables.orders(s, dir).select(
      $"o_custkey".as("key"), $"o_orderkey".as("rid"), $"o_orderstatus",
      $"o_orderdate", $"o_orderpriority".as("v"))
    val splitTs = lit(split).cast("timestamp")
    val base = all.filter($"o_orderdate" < splitTs).select($"key", $"v")
    val ins = all.filter($"o_orderdate" >= splitTs).select($"key", $"v")
    val del = all.filter($"o_orderdate" < splitTs
        && $"o_orderstatus" === "F" && $"rid" % 7 === 0)
      .select($"key", $"v")
    val aux = base.groupBy($"key", $"v")
      .agg(count(lit(1)).as("n")).pin
    val view = aux.groupBy($"key")
      .agg(count(lit(1)).as("c")).pin
    refreshDistinct(view, aux, ins, del, "key")
      .select($"key".as("o_custkey"), $"c".as("distinct_priorities"))
      .orderBy($"o_custkey")
  }

  val incrementalDistinctSql: String =
    s"""SELECT o_custkey,
       |  count(DISTINCT o_orderpriority)::BIGINT AS distinct_priorities
       |FROM orders
       |WHERE NOT (o_orderdate < TIMESTAMP '$split 00:00:00'
       |  AND o_orderstatus = 'F' AND o_orderkey % 7 = 0)
       |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mv_incremental_agg" -> incrementalAgg _,
    "mv_incremental_max" -> incrementalMax _,
    "mv_incremental_distinct" -> incrementalDistinct _,
  )

  val oracles: Map[String, String] = Map(
    "mv_incremental_agg" -> incrementalAggSql,
    "mv_incremental_max" -> incrementalMaxSql,
    "mv_incremental_distinct" -> incrementalDistinctSql,
  )
}
