package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Data-quality audit + column profiler — the Deequ-style (Schelter et
  * al., VLDB 2018, "Automating Large-Scale Data Quality Verification")
  * front gate every 100 TB ingestion pipeline runs before a corpus
  * version is allowed to exist.
  *
  * Scale shape, by construction:
  *  - every same-table check family is folded into ONE wide aggregate
  *    per table (a single scan with partial map-side aggregation — no
  *    per-check rescans), then unpivoted to the long report form;
  *  - referential-integrity checks are keyed anti-joins (the child side
  *    shuffles on the FK once; parent key sets that fit broadcast);
  *  - the profiler's distinct/top-value pass is a melt (explode to
  *    (column, value) pairs) followed by two keyed aggregations — the
  *    one-scan alternative to per-column `count(distinct)` expands.
  *
  * Both the Spark plan and the DuckDB oracle SQL are GENERATED from the
  * same spec lists below, so engine parity is structural, not manual.
  */
object Quality {

  // ---------------------------------------------------------------- profile

  /** Column spec: Spark render + DuckDB render of a value's canonical
    * string form (injective on each column's type, so distinct counts
    * over renders equal distinct counts over values).
    */
  private case class Prof(tbl: String, col: String,
      s: Column => Column, d: String => String)

  private def ident(c: Column): Column = c.cast("string")
  private def tsRender(c: Column): Column =
    date_format(c, "yyyy-MM-dd HH:mm:ss")
  private def dIdent(e: String): String = s"CAST($e AS VARCHAR)"
  private def dTs(e: String): String = s"strftime($e, '%Y-%m-%d %H:%M:%S')"

  private val profCols: Seq[Prof] = Seq(
    Prof("customer", "c_custkey", ident, dIdent),
    Prof("customer", "c_mktsegment", ident, dIdent),
    Prof("customer", "c_nationkey", ident, dIdent),
    Prof("lineitem", "l_linenumber", ident, dIdent),
    Prof("lineitem", "l_linestatus", ident, dIdent),
    Prof("lineitem", "l_orderkey", ident, dIdent),
    Prof("lineitem", "l_returnflag", ident, dIdent),
    Prof("lineitem", "l_shipdate", tsRender, dTs),
    Prof("orders", "o_orderdate", tsRender, dTs),
    Prof("orders", "o_orderkey", ident, dIdent),
    Prof("orders", "o_orderpriority", ident, dIdent),
    Prof("orders", "o_orderstatus", ident, dIdent))

  /** One profile row per (table, column): row/null/distinct counts, typed
    * min/max in canonical render, and the modal value with its count
    * (ties broken by value ascending). Two scans per table total.
    */
  def profile(s: SparkSession, dir: String): DataFrame = {
    val frames = profCols.groupBy(_.tbl).toSeq.sortBy(_._1).map {
      case (tbl, specs) =>
        val df = Tables.table(s, dir, tbl)
        // scan 1: one wide agg -> n_rows + per-column null count and
        // typed min/max (rendered after the typed aggregate)
        val aggExprs = count(lit(1)).as("n_rows") +:
          specs.flatMap { p =>
            Seq(count(col(p.col)).as(s"nn_${p.col}"),
              p.s(min(col(p.col))).as(s"mn_${p.col}"),
              p.s(max(col(p.col))).as(s"mx_${p.col}"))
          }
        val wide = df.agg(aggExprs.head, aggExprs.tail: _*)
        val basic = wide.select(explode(array(specs.map { p =>
          struct(lit(p.col).as("col"), col("n_rows"),
            (col("n_rows") - col(s"nn_${p.col}")).as("n_null"),
            col(s"mn_${p.col}").as("min_s"),
            col(s"mx_${p.col}").as("max_s"))
        }: _*)).as("e")).select("e.*")
        // scan 2: melt -> (col, value) -> value histogram -> per-column
        // distinct count + modal value (min over (-count, value) = top
        // count, ties to the smallest value)
        val melted = df.select(explode(array(specs.map { p =>
          struct(lit(p.col).as("col"), p.s(col(p.col)).as("v"))
        }: _*)).as("e")).select("e.*").where(col("v").isNotNull)
        val dist = melted.groupBy("col", "v")
          .agg(count(lit(1)).as("c"))
          .groupBy("col")
          .agg(count(lit(1)).as("n_distinct"),
            min(struct((-col("c")).as("nc"), col("v"))).as("t"))
          .select(col("col"), col("n_distinct"),
            col("t.v").as("top_val"), (-col("t.nc")).as("top_n"))
        basic.join(dist, "col").select(lit(tbl).as("tbl"), col("col"),
          col("n_rows"), col("n_null"), col("n_distinct"),
          col("min_s"), col("max_s"), col("top_val"), col("top_n"))
    }
    frames.reduce(_.unionByName(_)).orderBy("tbl", "col")
  }

  val profileSql: String = profCols.map { p =>
    val r = p.d(p.col)
    s"""SELECT '${p.tbl}' AS tbl, '${p.col}' AS col,
      |  count(*)::BIGINT AS n_rows,
      |  (count(*) - count(${p.col}))::BIGINT AS n_null,
      |  count(DISTINCT $r)::BIGINT AS n_distinct,
      |  ${p.d(s"min(${p.col})")} AS min_s,
      |  ${p.d(s"max(${p.col})")} AS max_s,
      |  (SELECT v FROM (SELECT $r AS v, count(*) AS c FROM ${p.tbl}
      |     WHERE ${p.col} IS NOT NULL GROUP BY 1
      |     ORDER BY c DESC, v ASC LIMIT 1)) AS top_val,
      |  (SELECT c::BIGINT FROM (SELECT $r AS v, count(*) AS c
      |     FROM ${p.tbl} WHERE ${p.col} IS NOT NULL GROUP BY 1
      |     ORDER BY c DESC, v ASC LIMIT 1)) AS top_n
      |FROM ${p.tbl}""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col")

  // ------------------------------------------------------------ constraints

  /** In-scan check: violation predicate as a Spark Column and as DuckDB
    * SQL over the same table (count(*) - count(distinct ...) checks get
    * a dedicated distinct form).
    */
  private case class Chk(id: String, tbl: String,
      bad: DataFrame => Column, dBad: String)

  private val scanChecks: Seq[Chk] = Seq(
    Chk("complete_c_name", "customer",
      _ => count(lit(1)) - count(col("c_name")),
      "count(*) - count(c_name)"),
    Chk("complete_l_quantity", "lineitem",
      _ => count(lit(1)) - count(col("l_quantity")),
      "count(*) - count(l_quantity)"),
    Chk("domain_o_orderstatus", "orders",
      _ => sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
        .otherwise(0L)),
      "sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)"),
    Chk("implies_return_final", "lineitem",
      _ => sum(when(col("l_returnflag").isin("R", "A") &&
        col("l_linestatus") =!= "F", 1L).otherwise(0L)),
      "sum(CASE WHEN l_returnflag IN ('R','A') AND l_linestatus <> 'F' " +
        "THEN 1 ELSE 0 END)"),
    Chk("range_l_discount", "lineitem",
      _ => sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.1, 1L)
        .otherwise(0L)),
      "sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1 THEN 1 ELSE 0 END)"),
    Chk("range_l_quantity", "lineitem",
      _ => sum(when(col("l_quantity") < 1.0 || col("l_quantity") > 50.0, 1L)
        .otherwise(0L)),
      "sum(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0 THEN 1 ELSE 0 END)"),
    Chk("unique_c_custkey", "customer",
      _ => count(lit(1)) - countDistinct(col("c_custkey")),
      "count(*) - count(DISTINCT c_custkey)"),
    Chk("unique_l_pk", "lineitem",
      _ => count(lit(1)) -
        countDistinct(col("l_orderkey"), col("l_linenumber")),
      "count(*) - count(DISTINCT (l_orderkey, l_linenumber))"),
    Chk("unique_o_orderkey", "orders",
      _ => count(lit(1)) - countDistinct(col("o_orderkey")),
      "count(*) - count(DISTINCT o_orderkey)"))

  /** Referential-integrity spec: child FK column must be contained in the
    * parent key column. Violations = orphaned child rows (keyed
    * anti-join; at scale the parent key set broadcasts for dimensions
    * and shuffles on the FK for fact-fact containment).
    */
  private case class Ri(id: String, child: String, fk: String,
      parent: String, pk: String)

  private val riChecks: Seq[Ri] = Seq(
    Ri("ri_customer_nation", "customer", "c_nationkey",
      "nation", "n_nationkey"),
    Ri("ri_lineitem_orders", "lineitem", "l_orderkey",
      "orders", "o_orderkey"),
    Ri("ri_orders_customer", "orders", "o_custkey",
      "customer", "c_custkey"))

  /** Constraint audit: one row per check — rows examined, violation
    * count, pass/fail. Same-table checks share one scan per table;
    * cross-table checks are anti-joins plus one ordering join
    * (ship-before-order, a real temporal consistency rule).
    */
  def constraints(s: SparkSession, dir: String): DataFrame = {
    val scans = scanChecks.groupBy(_.tbl).toSeq.sortBy(_._1).map {
      case (tbl, checks) =>
        val df = Tables.table(s, dir, tbl)
        val aggExprs = count(lit(1)).as("n_rows") +:
          checks.map(c => c.bad(df).cast("long").as(s"bad_${c.id}"))
        df.agg(aggExprs.head, aggExprs.tail: _*)
          .select(explode(array(checks.map { c =>
            struct(lit(c.id).as("check_id"), lit(tbl).as("tbl"),
              col("n_rows"), col(s"bad_${c.id}").as("n_bad"))
          }: _*)).as("e")).select("e.*")
    }
    val ris = riChecks.map { r =>
      val child = Tables.table(s, dir, r.child).select(col(r.fk))
      val parent = Tables.table(s, dir, r.parent)
        .select(col(r.pk)).distinct()
      // ONE left join carries both counts: every child row survives, an
      // orphan is a null parent key (no second scan, no cross join)
      child.join(parent, child(r.fk) === parent(r.pk), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col(r.pk).isNull, 1L).otherwise(0L)).as("n_bad"))
        .select(lit(r.id).as("check_id"), lit(r.child).as("tbl"),
          col("n_rows"), col("n_bad"))
    }
    // temporal rule: a line cannot ship before its order was placed
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    val shipped = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("l_shipdate") < col("o_orderdate"), 1L)
          .otherwise(0L)).as("n_bad"))
      .select(lit("order_before_ship").as("check_id"),
        lit("lineitem").as("tbl"), col("n_rows"), col("n_bad"))
    (scans ++ ris :+ shipped).reduce(_.unionByName(_))
      .withColumn("status",
        when(col("n_bad") === 0L, "pass").otherwise("fail"))
      .orderBy("check_id")
  }

  val constraintsSql: String = {
    val scans = scanChecks.map { c =>
      s"""SELECT '${c.id}' AS check_id, '${c.tbl}' AS tbl,
        |  count(*)::BIGINT AS n_rows, (${c.dBad})::BIGINT AS n_bad
        |FROM ${c.tbl}""".stripMargin
    }
    val ris = riChecks.map { r =>
      s"""SELECT '${r.id}' AS check_id, '${r.child}' AS tbl,
        |  (SELECT count(*) FROM ${r.child})::BIGINT AS n_rows,
        |  (SELECT count(*) FROM ${r.child} c LEFT JOIN ${r.parent} p
        |     ON c.${r.fk} = p.${r.pk}
        |   WHERE p.${r.pk} IS NULL)::BIGINT AS n_bad""".stripMargin
    }
    val shipped =
      """SELECT 'order_before_ship' AS check_id, 'lineitem' AS tbl,
        |  count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0
        |      END)::BIGINT AS n_bad
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin
    (scans ++ ris :+ shipped).mkString("SELECT check_id, tbl, n_rows, " +
      "n_bad,\n  CASE WHEN n_bad = 0 THEN 'pass' ELSE 'fail' END AS " +
      "status\nFROM (\n", "\nUNION ALL\n", "\n)\nORDER BY check_id")
  }

  // ------------------------------------------------- functional dependencies

  /** Candidate functional dependency LHS → RHS within one table. The
    * battery deliberately mixes key-implied FDs (must hold) with
    * plausible-but-false ones (must be reported violated) so a
    * trivially-green audit cannot pass the spec.
    */
  private case class Fd(id: String, tbl: String, lhs: Seq[String],
      rhs: String)

  private val fdChecks: Seq[Fd] = Seq(
    Fd("fd_custkey_nation", "customer", Seq("c_custkey"), "c_nationkey"),
    Fd("fd_nation_segment", "customer", Seq("c_nationkey"), "c_mktsegment"),
    Fd("fd_orderkey_date", "orders", Seq("o_orderkey"), "o_orderdate"),
    Fd("fd_cust_priority", "orders", Seq("o_custkey"), "o_orderpriority"),
    Fd("fd_order_flag", "lineitem", Seq("l_orderkey"), "l_returnflag"),
    Fd("fd_partsupp_price", "lineitem", Seq("l_partkey", "l_suppkey"),
      "l_extendedprice"))

  /** Functional-dependency audit (the discovery side of Deequ /
    * Metanome's FD checking): per candidate FD, the number of LHS
    * groups, how many of them take >1 RHS value, and the total excess
    * RHS cardinality. Shape per FD: distinct (LHS, RHS) projection
    * (one keyed shuffle with map-side partials) → per-LHS value count
    * (second keyed shuffle) → one ≤1-row fold — no all-pairs, no
    * window, identical at any table size.
    */
  def fdCheck(s: SparkSession, dir: String): DataFrame = {
    val rows = fdChecks.map { f =>
      val cols = (f.lhs :+ f.rhs).map(col)
      val nd = Tables.table(s, dir, f.tbl)
        .select(cols: _*).distinct()
        .groupBy(f.lhs.map(col): _*)
        .agg(count(lit(1)).as("nd"))
      nd.agg(count(lit(1)).as("n_groups"),
          sum(when(col("nd") > 1L, 1L).otherwise(0L)).as("n_viol_groups"),
          sum(col("nd") - 1L).as("n_extra_values"))
        .select(lit(f.id).as("check_id"), lit(f.tbl).as("tbl"),
          lit(f.lhs.mkString(",")).as("lhs"), lit(f.rhs).as("rhs"),
          col("n_groups"), col("n_viol_groups"), col("n_extra_values"))
    }
    rows.reduce(_.unionByName(_))
      .withColumn("status",
        when(col("n_viol_groups") === 0L, "pass").otherwise("fail"))
      .orderBy("check_id")
  }

  val fdCheckSql: String = fdChecks.map { f =>
    val lhs = f.lhs.mkString(", ")
    s"""SELECT 'id_' AS check_id, '${f.tbl}' AS tbl,
      |  '${f.lhs.mkString(",")}' AS lhs, '${f.rhs}' AS rhs,
      |  count(*)::BIGINT AS n_groups,
      |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_viol_groups,
      |  sum(nd - 1)::BIGINT AS n_extra_values
      |FROM (SELECT $lhs, count(*) AS nd
      |      FROM (SELECT DISTINCT $lhs, ${f.rhs} FROM ${f.tbl})
      |      GROUP BY $lhs)""".stripMargin
      .replace("'id_'", s"'${f.id}'")
  }.mkString("SELECT check_id, tbl, lhs, rhs, n_groups, n_viol_groups, " +
    "n_extra_values,\n  CASE WHEN n_viol_groups = 0 THEN 'pass' ELSE " +
    "'fail' END AS status\nFROM (\n", "\nUNION ALL\n",
    "\n)\nORDER BY check_id")

  // ------------------------------------------------------- categorical drift

  /** Drift spec: a categorical column plus the key whose parity splits
    * the table into the two compared cohorts (the deterministic stand-in
    * for "yesterday's corpus version vs today's").
    */
  private case class Dr(tbl: String, col: String, key: String)

  private val driftCols: Seq[Dr] = Seq(
    Dr("customer", "c_mktsegment", "c_custkey"),
    Dr("documents", "lang", "doc_id"),
    Dr("documents", "source", "doc_id"),
    Dr("events", "event_type", "event_id"),
    Dr("orders", "o_orderpriority", "o_orderkey"))

  /** Categorical distribution drift between two corpus cohorts — the
    * PSI-style release gate, but EXACT: total-variation distance
    * ½·Σ|p₁−p₂| in integer permille via cross-multiplied counts
    * (|c₁·N₂ − c₂·N₁| — no logs, no floats; exact while c·N < 2⁶³,
    * i.e. either side under ~3·10⁹ rows — beyond that pre-bucket counts
    * to permille first). Shape per column: one conditional-sum value
    * histogram (value-keyed shuffle with map-side partials, result =
    * value cardinality), 1-row totals broadcast back over it, one fold.
    */
  def categoryDrift(s: SparkSession, dir: String): DataFrame = {
    val rows = driftCols.map { d =>
      val hist = Tables.table(s, dir, d.tbl)
        .where(col(d.col).isNotNull)
        .select(col(d.col).cast("string").as("v"),
          (col(d.key) % 2 === 0).as("a"))
        .groupBy(col("v"))
        .agg(sum(when(col("a"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("a"), 1L).otherwise(0L)).as("c2"))
      val totals = broadcast(
        hist.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2")))
      hist.crossJoin(totals)
        .agg(first(col("n1")).as("n1"), first(col("n2")).as("n2"),
          count(lit(1)).as("n_values"),
          sum(abs(col("c1") * col("n2") - col("c2") * col("n1")))
            .as("l1x"))
        .select(lit(d.tbl).as("tbl"), lit(d.col).as("col"),
          col("n1"), col("n2"), col("n_values"),
          expr("(1000 * l1x) div (2 * n1 * n2)").as("tv_pm"))
    }
    rows.reduce(_.unionByName(_)).orderBy("tbl", "col")
  }

  val categoryDriftSql: String = driftCols.map { d =>
    s"""SELECT '${d.tbl}' AS tbl, '${d.col}' AS col, n1, n2, n_values, tv_pm
      |FROM (
      |  SELECT first(n1)::BIGINT AS n1, first(n2)::BIGINT AS n2,
      |    count(*)::BIGINT AS n_values,
      |    ((1000 * sum(abs(c1 * n2 - c2 * n1))) //
      |     (2 * first(n1) * first(n2)))::BIGINT AS tv_pm
      |  FROM (
      |    SELECT v, c1, c2, sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
      |    FROM (
      |      SELECT CAST(${d.col} AS VARCHAR) AS v,
      |        sum(CASE WHEN ${d.key} % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS c1,
      |        sum(CASE WHEN ${d.key} % 2 = 0 THEN 0 ELSE 1 END)::BIGINT AS c2
      |      FROM ${d.tbl} WHERE ${d.col} IS NOT NULL GROUP BY 1)))""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col")

  /** Numeric drift spec: a positive money/measure column log2-bucketed
    * by bitlength(⌊100·x⌋ + 1) — scale-free integer bins, so the drift
    * statistic needs no agreed-on bin edges between corpus versions.
    */
  private case class Nd(tbl: String, col: String, key: String)

  private val numDriftCols: Seq[Nd] = Seq(
    Nd("events", "value", "event_id"),
    Nd("lineitem", "l_extendedprice", "l_partkey"),
    Nd("orders", "o_totalprice", "o_orderkey"))

  /** Continuous-column drift between the same two cohorts: the column is
    * reduced to its cents' bitlength (≤64 buckets at ANY value range —
    * the agreement-free binning), then the exact total-variation permille
    * of [[categoryDrift]] applies unchanged. Same shape: one bounded
    * histogram, a 1-row totals broadcast, one fold.
    */
  def numericDrift(s: SparkSession, dir: String): DataFrame = {
    val rows = numDriftCols.map { d =>
      val hist = Tables.table(s, dir, d.tbl)
        .where(col(d.col).isNotNull)
        .select(length(bin(floor(col(d.col) * 100).cast("long") + 1L))
            .cast("long").as("v"),
          (col(d.key) % 2 === 0).as("a"))
        .groupBy(col("v"))
        .agg(sum(when(col("a"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("a"), 1L).otherwise(0L)).as("c2"))
      val totals = broadcast(
        hist.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2")))
      hist.crossJoin(totals)
        .agg(first(col("n1")).as("n1"), first(col("n2")).as("n2"),
          count(lit(1)).as("n_buckets"),
          sum(abs(col("c1") * col("n2") - col("c2") * col("n1")))
            .as("l1x"))
        .select(lit(d.tbl).as("tbl"), lit(d.col).as("col"),
          col("n1"), col("n2"), col("n_buckets"),
          expr("(1000 * l1x) div (2 * n1 * n2)").as("tv_pm"))
    }
    rows.reduce(_.unionByName(_)).orderBy("tbl", "col")
  }

  val numericDriftSql: String = numDriftCols.map { d =>
    s"""SELECT '${d.tbl}' AS tbl, '${d.col}' AS col, n1, n2, n_buckets, tv_pm
      |FROM (
      |  SELECT first(n1)::BIGINT AS n1, first(n2)::BIGINT AS n2,
      |    count(*)::BIGINT AS n_buckets,
      |    ((1000 * sum(abs(c1 * n2 - c2 * n1))) //
      |     (2 * first(n1) * first(n2)))::BIGINT AS tv_pm
      |  FROM (
      |    SELECT v, c1, c2, sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
      |    FROM (
      |      SELECT length(bin(floor(${d.col} * 100)::BIGINT + 1))::BIGINT AS v,
      |        sum(CASE WHEN ${d.key} % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS c1,
      |        sum(CASE WHEN ${d.key} % 2 = 0 THEN 0 ELSE 1 END)::BIGINT AS c2
      |      FROM ${d.tbl} WHERE ${d.col} IS NOT NULL GROUP BY 1)))""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col")

  // -------------------------------------------------------- error localizing

  /** Row-level violation samples — the ACTIONABLE half of the audit
    * (Deequ's row-level results): for every row-addressable check, up to
    * 5 violating rows identified by their natural key, smallest keys
    * first so the sample is deterministic. Each branch is filter →
    * TakeOrdered(5) (Spark's distributed top-k: per-partition heads,
    * 5-row driver merge — never a global sort), so the audit stays
    * bounded however many rows violate at corpus scale.
    */
  def violationSamples(s: SparkSession, dir: String): DataFrame = {
    def keyed(df: DataFrame, id: String, key: Column): DataFrame =
      df.select(lit(id).as("check_id"), key.as("row_key"))
        .orderBy(col("row_key")).limit(5)
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    val nat = Tables.table(s, dir, "nation")
    def liKey: Column = concat(col("l_orderkey").cast("string"), lit(":"),
      col("l_linenumber").cast("string"))
    val branches = Seq(
      keyed(ord.filter(!col("o_orderstatus").isin("O", "F", "P")),
        "domain_o_orderstatus", col("o_orderkey").cast("string")),
      keyed(li.filter(col("l_returnflag").isin("R", "A") &&
          col("l_linestatus") =!= "F"),
        "implies_return_final", liKey),
      keyed(li.filter(col("l_discount") < 0.0 || col("l_discount") > 0.1),
        "range_l_discount", liKey),
      keyed(li.filter(col("l_quantity") < 1.0 || col("l_quantity") > 50.0),
        "range_l_quantity", liKey),
      keyed(cust.join(nat, cust("c_nationkey") === nat("n_nationkey"),
          "left_anti"), "ri_customer_nation",
        col("c_custkey").cast("string")),
      keyed(li.join(ord, li("l_orderkey") === ord("o_orderkey"),
          "left_anti"), "ri_lineitem_orders", liKey),
      keyed(ord.join(cust, ord("o_custkey") === cust("c_custkey"),
          "left_anti"), "ri_orders_customer",
        col("o_orderkey").cast("string")),
      keyed(li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .filter(col("l_shipdate") < col("o_orderdate")),
        "order_before_ship", liKey))
    branches.reduce(_.unionByName(_)).orderBy("check_id", "row_key")
  }

  val violationSamplesSql: String = {
    val liKey = "l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR"
    val branches = Seq(
      "domain_o_orderstatus" ->
        s"""SELECT o_orderkey::VARCHAR AS row_key FROM orders
          |  WHERE o_orderstatus NOT IN ('O','F','P')""".stripMargin,
      "implies_return_final" ->
        s"""SELECT $liKey AS row_key FROM lineitem
          |  WHERE l_returnflag IN ('R','A') AND l_linestatus <> 'F'"""
          .stripMargin,
      "range_l_discount" ->
        s"""SELECT $liKey AS row_key FROM lineitem
          |  WHERE l_discount < 0.0 OR l_discount > 0.1""".stripMargin,
      "range_l_quantity" ->
        s"""SELECT $liKey AS row_key FROM lineitem
          |  WHERE l_quantity < 1.0 OR l_quantity > 50.0""".stripMargin,
      "ri_customer_nation" ->
        s"""SELECT c_custkey::VARCHAR AS row_key FROM customer
          |  WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)"""
          .stripMargin,
      "ri_lineitem_orders" ->
        s"""SELECT $liKey AS row_key FROM lineitem
          |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)"""
          .stripMargin,
      "ri_orders_customer" ->
        s"""SELECT o_orderkey::VARCHAR AS row_key FROM orders
          |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)"""
          .stripMargin,
      "order_before_ship" ->
        s"""SELECT $liKey AS row_key
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  WHERE l_shipdate < o_orderdate""".stripMargin)
    branches.map { case (id, sel) =>
      s"""SELECT '$id' AS check_id, row_key FROM (
        |$sel
        |ORDER BY row_key LIMIT 5)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY check_id, row_key")
  }

  /** Pearson chi-square association audit between two categorical
    * columns across a key join — market segment × order priority — the
    * "are these features independent?" read a training pipeline runs
    * before trusting either as a stratification key (a strong
    * association means stratifying on one silently skews the other).
    * Exact-integer cells: with O the observed count, E = ⌊R·C/N⌋ the
    * floored expectation from the margins, each cell ships O, E and
    * 1000·(O−E)²/⌊E⌋ — the per-cell chi-square contribution in permille,
    * integer-floored so both engines agree bit-for-bit. (O−E) ≤ N keeps
    * 1000·(O−E)² within int64 to ~10⁹ rows.
    *
    * Scale: one join + ONE partial-aggregated groupBy folds the corpus
    * to ≤|segments|·|priorities| cells; margins are two aggs OVER THE
    * CELL FRAME (bounded, not the corpus) broadcast back onto it.
    */
  def chiSquare(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderpriority").as("p"))
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("g"))
    val cells = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("g"), col("p")).agg(count(lit(1)).as("o"))
    import graft.Pin.PinOps
    val pinned = cells.pin // margins + final join read it thrice
    val rm = pinned.groupBy(col("g")).agg(sum(col("o")).as("r"))
    val cm = pinned.groupBy(col("p")).agg(sum(col("o")).as("c"))
    val nn = pinned.agg(sum(col("o")).as("n"))
    pinned
      .join(broadcast(rm), "g").join(broadcast(cm), "p")
      .crossJoin(broadcast(nn))
      .withColumn("e_floor", expr("(r * c) div n"))
      .withColumn("chi2_cell_x1000",
        expr("(1000 * (o - e_floor) * (o - e_floor)) div greatest(1, e_floor)"))
      .select(col("g"), col("p"), col("o"), col("e_floor"),
        col("chi2_cell_x1000"))
      .orderBy(col("g"), col("p"))
  }

  val chiSquareSql: String =
    """WITH j AS (
      |  SELECT c_mktsegment AS g, o_orderpriority AS p
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |cells AS (SELECT g, p, count(*)::BIGINT AS o FROM j GROUP BY g, p),
      |rm AS (SELECT g, sum(o)::BIGINT AS r FROM cells GROUP BY g),
      |cm AS (SELECT p, sum(o)::BIGINT AS c FROM cells GROUP BY p),
      |nn AS (SELECT sum(o)::BIGINT AS n FROM cells)
      |SELECT cells.g, cells.p, o, ((r * c) // n)::BIGINT AS e_floor,
      |  ((1000 * (o - (r * c) // n) * (o - (r * c) // n))
      |   // greatest(1, (r * c) // n))::BIGINT AS chi2_cell_x1000
      |FROM cells JOIN rm USING (g) JOIN cm USING (p) CROSS JOIN nn
      |ORDER BY g, p""".stripMargin

  /** Benford first-digit audit (Newcomb 1881; Benford 1938) of the money
    * columns — the classic synthetic-data / fabrication detector: values
    * spanning several orders of magnitude should have first significant
    * digits distributed as log₁₀(1 + 1/d), and uniform or hand-made data
    * fails it loudly. Expected shares ride as the integer-permille
    * Benford constants (301, 176, …, 46 — exact to the permille, no logs
    * at query time), so observed − ⌊n·p_d/1000⌋ and the permille L1
    * deviation are pure integer arithmetic, bit-identical across
    * engines. One row per digit per column plus the column's total L1
    * drift — the "pass/investigate" number.
    *
    * Scale: per column ONE partial-aggregated groupBy onto ≤9 digit
    * cells (map-side combine folds every partition first); the Benford
    * constants join as a 9-row broadcast literal. Caveat shipped with
    * the operator: Benford applies to wide-ranging positive measures —
    * a column with a narrow value band (unit prices clustered 1–9k)
    * fails REGARDLESS of authenticity; the drift number is a triage
    * signal, not a verdict.
    */
  def benford(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq(("orders", "o_totalprice", "benford_o_totalprice"),
      ("lineitem", "l_extendedprice", "benford_l_extendedprice"))
    val bconst = Seq(301L, 176L, 125L, 97L, 79L, 67L, 58L, 51L, 46L)
    val rows = cols.map { case (tbl, c, id) =>
      val digits = Tables.table(s, dir, tbl)
        .where(col(c) > 0)
        .select(substring(floor(col(c) * 100).cast("long").cast("string"),
          1, 1).cast("long").as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("observed"))
      import s.implicits._
      val exp = broadcast(
        bconst.zipWithIndex.map { case (p, i) => ((i + 1).toLong, p) }
          .toDF("d", "p_pm"))
      val n = broadcast(digits.agg(sum(col("observed")).as("n")))
      digits.join(exp, Seq("d")).crossJoin(n)
        .select(lit(id).as("check_id"), col("d"), col("observed"),
          expr("(n * p_pm) div 1000").as("expected_floor"),
          expr("abs(observed - (n * p_pm) div 1000)").as("abs_delta"))
    }
    rows.reduce(_.unionByName(_)).orderBy(col("check_id"), col("d"))
  }

  val benfordSql: String = {
    val bvals = Seq(301L, 176L, 125L, 97L, 79L, 67L, 58L, 51L, 46L)
      .zipWithIndex.map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
    Seq(("orders", "o_totalprice", "benford_o_totalprice"),
      ("lineitem", "l_extendedprice", "benford_l_extendedprice"))
      .map { case (tbl, c, id) =>
        s"""SELECT '$id' AS check_id, d, observed,
          |  ((n * p_pm) // 1000)::BIGINT AS expected_floor,
          |  abs(observed - (n * p_pm) // 1000)::BIGINT AS abs_delta
          |FROM (
          |  SELECT d, count(*)::BIGINT AS observed,
          |    sum(count(*)) OVER ()::BIGINT AS n
          |  FROM (SELECT substr((floor($c * 100)::BIGINT)::VARCHAR, 1, 1)
          |          ::BIGINT AS d
          |        FROM $tbl WHERE $c > 0)
          |  GROUP BY d)
          |JOIN (SELECT * FROM (VALUES $bvals) t(d, p_pm)) USING (d)"""
          .stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY check_id, d")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_benford" -> benford _,
    "dq_chi_square" -> chiSquare _,
    "dq_violation_samples" -> violationSamples _,
    "dq_profile" -> profile _,
    "dq_constraints" -> constraints _,
    "dq_fd_check" -> fdCheck _,
    "dq_category_drift" -> categoryDrift _,
    "dq_numeric_drift" -> numericDrift _)

  val oracles: Map[String, String] = Map(
    "dq_benford" -> benfordSql,
    "dq_chi_square" -> chiSquareSql,
    "dq_violation_samples" -> violationSamplesSql,
    "dq_profile" -> profileSql,
    "dq_constraints" -> constraintsSql,
    "dq_fd_check" -> fdCheckSql,
    "dq_category_drift" -> categoryDriftSql,
    "dq_numeric_drift" -> numericDriftSql)
}
