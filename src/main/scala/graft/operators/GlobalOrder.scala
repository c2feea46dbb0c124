package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pin.PinOps

/** Scale-safe GLOBAL ORDERING primitives — the two-pass replacement for
  * `Window.orderBy(...)` with an empty partitionSpec (which Spark executes
  * on a SINGLE task: a global sort into one reducer, the classic
  * single-reducer scale-killer once the ordered dimension is unbounded).
  *
  * The standard distributed form, as used by every external-sort engine
  * since MapReduce TotalOrderPartitioner:
  *
  *   1. `repartitionByRange` on the order key — each partition holds a
  *      contiguous key range, partitions are ordered by range.
  *   2. Per-partition local pass — a `Window.partitionBy(partition-id)`
  *      running sum / row_number (parallel across partitions; each
  *      partition is one window group).
  *   3. Per-partition TOTALS (one row per partition — bounded by cluster
  *      configuration, not by data) are collected and prefix-summed on
  *      the driver into an OFFSET table, shipped back into the plan as a
  *      partition-id-keyed literal map, and added to the local values —
  *      a pure projection, no second shuffle.
  *
  * The result is bit-identical to the single-window form for any TOTAL
  * order (callers must include a unique tie-break column, as every query
  * in this repo already does for cross-engine determinism).
  *
  * Pinned-partitioning correctness note: `repartitionByRange` samples its
  * range boundaries with a seed derived from the physical RDD id, so two
  * separate materializations of the same logical frame may cut DIFFERENT
  * boundaries. The offset table and the final frame must therefore read
  * the SAME materialization — the ranged frame is eagerly
  * `localCheckpoint`ed before the totals pass, and the returned frame
  * re-reads those blocks. Checkpoint, not persist: a persisted frame
  * whose blocks are evicted/lost silently RECOMPUTES with a new RDD-id
  * seed (the already-collected offsets would no longer match the data's
  * partitioning), and a persist with no unpersist leaks a cached frame
  * per call for the session lifetime; a checkpointed frame is pinned —
  * block loss fails loudly — and its blocks are GC-reclaimed with the
  * frame. The collect is ≤ one row per partition.
  */
object GlobalOrder {

  private val PID = "__go_pid"
  private val VAL = "__go_val"
  private val LOC = "__go_loc"

  /** Global running total of `value` over the total order `order`,
    * appended as column `out` (frame: rows unbounded-preceding..current;
    * identical to RANGE for a total order). Returns the frame and the
    * grand total (already on the driver from the offset pass — callers
    * that need "N" or "sum" avoid a second corpus pass AND the 1-row
    * crossJoin a broadcast-aggregate form would plan).
    */
  def cumsum(df: DataFrame, order: Seq[Column], value: Column, out: String,
             parts: Int = 32): (DataFrame, Long) = {
    val ranged = df
      .repartitionByRange(parts, order: _*)
      .withColumn(PID, spark_partition_id())
      .withColumn(VAL, value.cast("long"))
      .pin
    val w = Window.partitionBy(col(PID)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged.withColumn(LOC, sum(col(VAL)).over(w))
    // one row per range partition — bounded by parallelism, not data
    val totals = ranged.groupBy(col(PID))
      .agg(sum(col(VAL)).as("t"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val offsets = totals.scanLeft((0, 0L)) {
      case ((_, acc), (pid, t)) => (pid, acc + t)
    }
    // scanLeft pairs each pid with the sum of STRICTLY EARLIER partitions
    val offRows = totals.map(_._1).zip(offsets.map(_._2))
    val grand = totals.map(_._2).sum
    // The offset table rides into the plan as a LITERAL map keyed by
    // partition id (one entry per partition) — a pure projection, not a
    // join: `spark_partition_id()` is marked nondeterministic, so an
    // equi-join on it cannot extract hash-join keys and would degrade to
    // a nested loop; the map lookup sidesteps that entirely and saves the
    // broadcast exchange too.
    val offExpr =
      if (offRows.isEmpty) lit(0L)
      else element_at(
        map(offRows.toSeq.flatMap { case (p, o) =>
          Seq(lit(p), lit(o)) }: _*), col(PID))
    val res = local
      .withColumn(out, col(LOC) + offExpr)
      .drop(PID, VAL, LOC)
    (res, grand)
  }

  /** Global 1-based rank (row_number) over the total order `order`,
    * appended as `out`; also returns the total row count N.
    */
  def rank(df: DataFrame, order: Seq[Column], out: String,
           parts: Int = 32): (DataFrame, Long) =
    cumsum(df, order, lit(1L), out, parts)

  /** The SQL `ntile(k)` bucket as a pure function of a global rank and the
    * total row count — first `n mod k` buckets get `n div k + 1` rows,
    * the rest `n div k` (the ANSI semantics Spark and DuckDB share). With
    * rank from [[rank]] this replaces an unpartitioned `ntile(k)` window
    * with arithmetic on already-computed columns.
    */
  def ntileFromRank(rnk: Column, n: Long, k: Int): Column = {
    val q = n / k
    val rem = n % k
    if (q == 0L) rnk // fewer rows than buckets: bucket = rank
    else {
      val bigSpan = rem * (q + 1)
      when(rnk <= bigSpan, floorDiv(rnk - 1, q + 1) + 1)
        .otherwise(lit(rem) + floorDiv(rnk - 1 - bigSpan, q) + 1)
    }
  }

  /** Exact integer floor-division of a non-negative long column by a
    * positive literal — `Column./` is DOUBLE division in Spark, so the
    * numerator is first made exactly divisible (subtract the remainder);
    * the division then has an exact double result for any value < 2^53
    * (the same float64-exactness domain the rest of the repo's integer
    * arithmetic documents).
    */
  private def floorDiv(c: Column, d: Long): Column =
    ((c - pmod(c, lit(d))) / d).cast("long")
}
