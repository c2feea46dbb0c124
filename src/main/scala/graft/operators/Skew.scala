package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.Pin.PinOps

/** Skew mitigation operators (builder prompt: "skewed keys → salting or AQE
  * skew-join").
  *
  * The token stream over `documents` is the engine's most skewed workload:
  * a 31-word vocabulary over millions of rows means every key is hot. The
  * salted two-stage aggregation below bounds any single reducer's input to
  * |input|/salts regardless of key skew — the classic fix when AQE's
  * skew-join splitting doesn't apply (aggregations, not joins).
  *
  * The salt must be DETERMINISTIC (derived from row content, not
  * rand()/partition id) so results are reproducible and retries are safe —
  * the same determinism discipline as the Aria engine.
  */
object Skew {

  /** Two-stage salted count/sum: stage 1 aggregates (key, salt) partials
    * (salts × |keys| groups, evenly spread), stage 2 merges per key.
    * Result is exactly the plain groupBy — the oracle doesn't change.
    */
  def saltedAgg(df: DataFrame, keyCol: Column, weight: Column, salts: Int,
      saltSource: Column): (DataFrame, DataFrame) = {
    val salted = df.select(keyCol.as("k"), weight.as("v"),
      pmod(crc32(saltSource.cast("string")), lit(salts)).as("salt"))
    val partial = salted.groupBy(col("k"), col("salt"))
      .agg(count(lit(1)).as("pc"), sum(col("v")).as("ps"))
    val merged = partial.groupBy(col("k"))
      .agg(sum(col("pc")).as("n"), sum(col("ps")).as("s"))
    (partial, merged)
  }

  /** Token frequencies over documents via salted two-stage aggregation;
    * output equals a plain GROUP BY (which is exactly the DuckDB oracle).
    */
  def skewSaltedTokenCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
    val (_, merged) = saltedAgg(tok, $"w", lit(1L), salts = 16,
      saltSource = $"doc_id")
    merged.select($"k".as("w"), $"n".as("n_occurrences"))
      .orderBy($"w")
  }

  val skewSaltedTokenCountsSql: String =
    """SELECT w, count(*) AS n_occurrences
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |      FROM documents) t
      |GROUP BY w ORDER BY w""".stripMargin

  /** Salted JOIN against hot keys: the big token stream (31-word
    * vocabulary — every key hot) joined to a per-token dim table by
    * replicating the SMALL side once per salt and salting the big side
    * deterministically, so each (key, salt) join cell holds 1/salts of a
    * hot key's rows — the manual form of AQE's skew-join splitting, for
    * when the skew is known ahead of time (or the join is inside a
    * structure AQE won't split). The post-join count uses the same
    * two-stage (key, salt) partial merge as [[saltedAgg]], so no stage
    * ever sees a hot key's full row set. Result is exactly the plain
    * join + GROUP BY — which is the oracle.
    *
    * Scale: replication cost is |dim| × salts rows (the dim is small by
    * assumption — here 31 rows × 16); the big side gains one cheap salt
    * column. The dim here is derived from the corpus for self-
    * containment; production joins a real dimension the same way.
    */
  def skewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val salts = 16
    val tok = Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .pin // big side + the dim derivation
    val dim = tok.groupBy($"w")
      .agg(count_distinct($"doc_id").as("df"))
    val saltedBig = tok.select($"w", $"doc_id",
      pmod(crc32($"doc_id".cast("string")), lit(salts)).as("salt"))
    val saltedDim = dim.select($"w", $"df",
      explode(array((0 until salts).map(lit): _*)).as("salt"))
    saltedBig.join(broadcast(saltedDim), Seq("w", "salt"))
      .groupBy($"w", $"salt")
      .agg(count(lit(1)).as("pc"), min($"df").as("pdf"))
      .groupBy($"w")
      .agg(sum($"pc").as("n_occurrences"), min($"pdf").as("df"))
      .orderBy($"w")
  }

  val skewSaltedJoinSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |dim AS (
      |  SELECT w, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY w)
      |SELECT t.w, count(*)::BIGINT AS n_occurrences, min(d.df)::BIGINT AS df
      |FROM tok t JOIN dim d ON t.w = d.w
      |GROUP BY t.w ORDER BY t.w""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "skew_salted_agg" -> skewSaltedTokenCounts _,
    "skew_salted_join" -> skewSaltedJoin _,
  )

  val oracles: Map[String, String] = Map(
    "skew_salted_agg" -> skewSaltedTokenCountsSql,
    "skew_salted_join" -> skewSaltedJoinSql,
  )
}
