package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the formatted physical plans of the headline queries,
  * as auditable evidence of the scale-design claims (broadcast vs shuffle
  * joins, parquet pushdown, partial aggregation, the two-phase GroupedTopK,
  * the grid-blocked near-dup equi-join). Regenerate with:
  *   sbt "runMain graft.Plans [sfDir] [outFile]"
  * Only the plans are regenerated: the measured history from the first
  * "## Scaling slope" heading on is kept as the file holds it.
  */
object Plans {

  /** Queries whose plan shape carries a specific scale claim. */
  private val headline = Seq(
    "q2_filter_project" -> "filters + projection pushed to the parquet scan",
    "q3_revenue_by_nation" -> "multi-way join: broadcast dims, shuffle fact, partial aggs",
    "q6_broadcast_join" -> "explicit broadcast of the small side",
    "q26_grouped_topk" -> "custom GroupedTopK: map-side partial before the exchange",
    "sim_neardup_pairs" -> "exact all-pairs as a grid-blocked equi-join (no nested loop)",
    "sim_ivf_topk" -> ("IVF cell-probe ANN over k-means centroids (the " +
      "BroadcastNestedLoopJoins here are the intentional cross joins against " +
      "the broadcast 8-row centroid table: every vector scores a CONSTANT " +
      "number of centroids — bounded at any data scale)"),
    "dedup_minhash_pairs" -> "LSH candidate pairs: bucketed (band, signature) self-join",
    "sketch_kmv_agg" -> "KMV via one typed-imperative aggregation (no distinct/join)",
    "skew_salted_agg" -> "salted two-stage aggregation",
    "ev_sessions" -> "native session_window merge, one shuffle",
    "q34_order_priority" -> ("EXISTS as a hash semi-join: date filter pushed " +
      "to the orders scan, 2-column lineitem read, range predicate " +
      "evaluated post-probe — no nested loop"),
    "text_ngram_topk" -> ("trigram generation is a per-row Generate (no " +
      "shuffle); one agg exchange on (lang, gram); bounded-heap GroupedTopK " +
      "partial before the per-lang exchange"),
    "dedup_simhash_pairs" -> ("Hamming<=1 pairs from (band, byte) bucket " +
      "equi-joins — pigeonhole banding, never all-pairs; the bit_count " +
      "filter rides inside the join"),
    "text_decontaminate" -> ("eval split shingled separately and broadcast; " +
      "the training side pays only its own shingle window + one broadcast " +
      "probe — no big-side shuffle beyond the per-doc aggregate"),
    "q37_nested_semi" -> ("TPC-H Q20 shape: part filter broadcast into " +
      "lineitem, one per-(supplier,part) agg shuffle, LEFT SEMI probe by " +
      "the tiny supplier table, nation broadcast"),
    "sketch_bloom_filter" -> ("bloom build is one groupBy(nation) of " +
      "bit_or partials; the probe side cross-joins a broadcast of the 25 " +
      "finished 24-byte blooms — no probe-side shuffle, the " +
      "bloom-prefiltered-semi-join shape"),
    "ev_attribution" -> ("point-in-time interval self-join shuffled once " +
      "on user_id; the latest-view rn=1 filter is rewritten to the " +
      "bounded-heap GroupedTopK by the injected optimizer rule — no " +
      "per-click candidate sort"),
    "sketch_hll_distinct" -> ("HyperLogLog: ONE map-side-combinable " +
      "aggregation over the scan (64 max-merged registers per group); the " +
      "register fill and exact-count sides broadcast"),
    "q39_argmin_supplier" -> ("correlated-minimum argmin folded into ONE " +
      "shuffle via lexicographic min(struct(price, suppkey)) — no " +
      "aggregate-then-join-back second pass over the fact table"),
    "sim_semantic_clusters" -> ("star-contraction components over the " +
      "grid-blocked exact pair join; the pair frame feeds the contraction " +
      "unsorted (no wasted global exchange) and each round is two " +
      "bounded shuffles"),
    "q40_latest_per_key" -> ("CDC-compaction read (latest record per key): " +
      "the rn=1 window idiom is rewritten to the bounded-heap GroupedTopK " +
      "— one partial-then-final exchange, no Window, no per-key sort"))

  /** The first heading of the measured history that follows the plans. */
  private val historyHeading = "## Scaling slope"

  /** The file `main` writes: the generated plan `head`, then everything of
    * the `existing` file from its first [[historyHeading]] line to the end,
    * byte for byte — that history is measured and written by hand, and a
    * regeneration must not drop it. With no such line, just the head.
    */
  private[graft] def withHistory(head: String, existing: String): String = {
    // the heading's line start in `existing` is the index of "\n" + heading
    // in "\n" + existing
    val at = ("\n" + existing).indexOf("\n" + historyHeading)
    if (at < 0) head else head + "\n" + existing.substring(at)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession()
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of the headline queries\n\n"
    sb ++= s"Generated by `graft.Plans` at `$sfDir` (plan SHAPE is what matters;\n"
    sb ++= "AQE may re-plan exchanges at runtime). Regenerate: " +
      "`sbt \"runMain graft.Plans\"`.\n"
    headline.foreach { case (name, claim) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb ++= s"\n## $name — $claim\n\n```\n"
      sb ++= df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb ++= "```\n"
    }
    val path = Paths.get(out)
    val existing =
      if (Files.exists(path)) new String(Files.readAllBytes(path), UTF_8)
      else ""
    Files.write(path, withHistory(sb.toString, existing).getBytes(UTF_8))
    println(s"PLANS_WRITTEN=$out")
    spark.stop()
  }
}
