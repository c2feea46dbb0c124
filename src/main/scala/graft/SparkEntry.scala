package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.operators.{Affinity, Events, Graph, KvAria, LayoutOps, Materialized, Multimodal, Quality, Relational, Similarity, Skew, Sketches, Skyline, TemporalJoins, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2 inventory + the analytics /
  * LLM-pipeline surface) to DataFrame builders; `oracleSql` carries the
  * equivalent DuckDB SQL the driver hash-compares against at sf0.01.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Five-table join + agg — exercises broadcast joins, shuffle joins, and
    * hash aggregation in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.q3RevenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ KvAria.queries ++ Events.queries ++ Graph.queries ++
      TextOps.queries ++ Similarity.queries ++ Multimodal.queries ++
      Skew.queries ++ TemporalJoins.queries ++ Skyline.queries ++
      Sketches.queries ++ Materialized.queries ++ Quality.queries ++
      Affinity.queries ++ LayoutOps.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ KvAria.oracles ++ Events.oracles ++ Graph.oracles ++
      TextOps.oracles ++ Similarity.oracles ++ Multimodal.oracles ++
      Skew.oracles ++ TemporalJoins.oracles ++ Skyline.oracles ++
      Sketches.oracles ++ Materialized.oracles ++ Quality.oracles ++
      Affinity.oracles ++ LayoutOps.oracles

  /** DIAGNOSTIC queries: correct (oracle-gated) at gate scale but kept as
    * measured baselines for a production-width sibling, NOT recommended
    * operators — exclude them from scaled benchmarks and do not use them
    * on real corpora. Currently:
    *   - `dedup_simhash_pairs` — 16-bit SimHash saturation baseline for
    *     `dedup_simhash_wide_pairs` (62-bit). A 16-bit signature space
    *     (65,536 values) overflows once the corpus outgrows ~50k docs:
    *     PLANS.md's scaling table measures ×71 emitted pairs at ×10 docs,
    *     pure birthday collisions. The wide variant is the production path.
    */
  val diagnostic: Set[String] = Set("dedup_simhash_pairs")
}
