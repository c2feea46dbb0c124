package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the formatted physical plans of the headline queries,
  * as auditable evidence of the scale-design claims (broadcast vs shuffle
  * joins, parquet pushdown, partial aggregation, the two-phase GroupedTopK,
  * the grid-blocked near-dup equi-join). Regenerate with:
  *   sbt "runMain graft.Plans [sfDir] [outFile]"
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

  /** Measured scaling evidence, maintained by hand from ScalingBench runs
    * (see its scaladoc) and appended after the plans so regeneration
    * doesn't lose it.
    */
  private val scalingSection: String =
    """
      |## Scaling slope: sf0.1 vs a 10× corpus (measured, round 9 — post
      |## first-matching-band, distinct-free LSH emitters, shared live-ops Aria)
      |
      |Harness: `sbt "runMain graft.ScalingBench"` (min-of-2 per point, local[32]).
      |The 10× corpus gives each of 10 shards a disjoint token vocabulary (a
      |bijective remap of the sf0.1 corpus per shard — EVERY shard remapped, with
      |equal-length digit-terminated suffixes, so cross-shard token equality is
      |impossible by construction), so each shard reproduces the original corpus's
      |intra-shard similarity structure exactly and true cross-shard similarity
      |is zero — rows and true pair volume both scale by exactly 10. Embeddings
      |replicate with offset ids (the query set is pinned to vec_id < 10, so
      |probe count stays constant while data grows). The Aria point scales the
      |generated workload itself (keys, txns, keyspace ×10, conflict density
      |held). Measurement protocol: small-output points run FIRST — the big pair
      |emitters leave the shared JVM under memory pressure measured to inflate a
      |code-identical query run right after them by 5×.
      |
      |Round 7 measured ×101/×236 emitted-pair blow-ups on the two LSH emitters
      |and attributed them to narrow sketches. Round 8 found and fixed the two
      |REAL root causes, both in the sketch INPUT, not the join plans:
      |
      |1. **Token-code prefix collapse** — token codes packed only the first 3
      |   chars + length, so the suffix-remapped shards collapsed back into ONE
      |   vocabulary at the code level and every sketch saw 10 copies of each
      |   doc: candidate volume went ~quadratic (mult²) by construction.
      |   Appending the last char as one more base-256 digit (exactness bound
      |   < 2^51 preserved) restored true shard disjointness: minhash pairs
      |   dropped ×100.9 → ×11.1 for ×10 docs with NO band/width change.
      |2. **Affine hash bit-correlation** — even at 62 bits, simhash pairs
      |   stayed ~quadratic because codes differing by a small constant (the
      |   shard digit) get affine hashes with correlated high bits, pulling
      |   disjoint shards within Hamming 3. Avalanching the token hashes (the
      |   HLL xorshift construction) fixed it: ×99.6 → ×14.5 for ×10 docs.
      |
      || query | 1× sec | 1× rows | 10× sec | 10× rows | slope | note |
      ||---|---|---|---|---|---|---|
      || dedup_jaccard_pairs | 2.72 | 190,925 | 2.81 | 1,909,250 | **≤×1.05 for ×10 rows** | deletion-neighborhood join |
      || dedup_ngram_overlap | 1.99 | 38,937 | 5.44 | 389,370 | ×2.7 for exactly ×10 rows | df-capped exact 4-gram window join |
      || dedup_clusters | 2.15 | 5,000 | 2.24 | 50,000 | ~flat | star contraction: rounds O(log n) |
      || dedup_cdc_chunks | 1.71 | 5,000 | 4.95 | 50,000 | ×2.9 | post-O(L) rewrite (see note below) |
      || sim_knn_graph | 0.58 | 5,661 | 1.98 | 59,976 | ×3.4 for ×10.6 rows | 8-bit-bucket self-join + rerank |
      || dedup_semantic | 3.17 | 2,000 | 5.97 | 20,000 | **×1.9 at nCells≈√N** | 45 → 140 cells (the prescribed config) |
      || sim_ivf_topk | 1.33 | 30 | 2.41 | 30 | ×1.8 | fit+assign linear; probe constant |
      || aria_reference_scenario | 3.40 | 7 | 6.15 | 10 | ×1.8 | ×10 keys/txns and MORE epochs; shared live-ops |
      || scan_pruned_zorder | 0.07 | 1 | 0.10 | 1 | ~flat | see below (incl. a 100× point) |
      || dedup_simhash_wide_pairs | 2.33 | 162,673 | 7.58 | 2,358,264 | ×3.2 for ×14.5 pairs | 62-bit avalanched, Hamming ≤ 3, 4 bands |
      || dedup_minhash_pairs | 0.71 | 4.36M | 9.20 | 48.2M | ×13.0 for ×11.1 pairs | distinct-free; cost IS the 48M-row emission |
      || dedup_simhash_pairs | 0.81 | 533,215 | 4.44 | 37.8M | ×5.5 for ×71 pairs | 16-bit DIAGNOSTIC saturation case |
      |
      |Table re-measured late round 9 on corpusGen **v3** (same document
      |construction as v2; single-query absolute times carry ordinary run
      |noise — compare SLOPES across rounds, not absolute seconds). A
      |round-9 forensic note on FULL-BENCH totals: every full Bench run early
      |in round 9 silently lost 104 of 140 queries — the original doc-level
      |graph_triangles filled the disk at sf0.1 and killed the SparkContext,
      |after which every alphabetically-later query recorded its
      |time-to-throw (~0.005 s) as its "time", which read as a spectacular
      |across-the-board speedup (canary at 0.01 s vs its true ~0.2 s floor).
      |The ScalingBench numbers in this table are unaffected (separate
      |process, every point's row count verified real). Triangles is now
      |group-contracted (see its scaladoc), Bench prints the first failure's
      |cause, and a canary far BELOW floor is as alarming as one above it.
      |v3 changes the scaled EMBEDDINGS: each shard now
      |applies a deterministic diagonal ±1 sign transform (intra-shard dot
      |products and norms are preserved exactly — the signs cancel — while any
      |two distinct shards disagree on ~half the dims, scrambling cross-shard
      |cosines to ≈0). Plain replication had made every replica pair an exact
      |near-dup, so a ×10 corpus carried ×100 true pairs — a denser problem,
      |not a scaled one; v3 makes embedding-side pair volume scale by exactly
      |×10, the honest denominator for the three embedding rows above.
      |
      |Round-9 plan fix measured in this table: **dedup_cdc_chunks** boundary
      |detection originally evaluated `substr(text, i, 1)` per position; UTF8
      |character-position lookup is O(i), making the scan O(L²) per document —
      |12.2s at sf0.1. Rewritten as one posexplode of the character codes plus
      |eight O(1) `lag`s over a per-doc window (the same trailing-8 polynomial,
      |hash-identical output): 1.6s at 1× and ×2.9 at ×10 chars. The defect
      |class is worth naming: any per-position string indexing in a hot loop
      |is quadratic in Spark (and invisible at spec scale).
      |
      |**dedup_semantic** is measured in its DEPLOYMENT configuration
      |(nCells ≈ √N per scale, the operator's scaladoc prescription): per-cell
      |compare volume stays ~N and the slope reads ×1.9 for ×10 vectors.
      |Running the 10× point at the 1× cell count would measure ×mult²
      |compares by construction — a misconfiguration, not a scaling property.
      |
      |Round-9 re-measurement note: the round-8 table was taken BEFORE commit
      |2240b3a (first-matching-band emission) landed; this table describes the
      |shipped distinct-free emitters. The change is decisive at scale:
      |dedup_minhash_pairs' 10× point fell 75.4s → 9.2s (and 1× 4.07 → 0.71)
      |with identical output — the old cost was the 48M-row pair distinct's
      |hash table spilling in one JVM; with first-matching-band there is
      |nothing left to dedup, so the residual ×13.0-vs-×11.1 gap is just
      |emitting 48M counted rows through 32 threads. 16-bit simhash likewise
      |34.3s → 4.4s, confirming r8's "saturation, not plan" diagnosis —
      |it stays DIAGNOSTIC (SparkEntry.diagnostic): ×71 pairs for ×10 docs is
      |birthday-collision output, unusable beyond ~50k docs regardless of
      |speed. Output volume is ≈ linear in data for minhash (×11.1) and wide
      |simhash (×14.5 — the residual over ×10 is per-shard hash-realization
      |variance at the Hamming-3 boundary, since each remapped shard is an
      |independent hash draw of the same corpus).
      |
      |**100× points (round 9)** — one more decade for the cheapest-slope
      |queries (100 shards, same disjoint-vocabulary construction; the
      |after-last-'s' digit-run argument makes cross-shard token equality
      |impossible at ANY shard count, not just ≤10):
      |
      || query | 1× sec | 100× sec | slope | note |
      ||---|---|---|---|---|
      || dedup_jaccard_pairs | 4.54 | 52.8 | **×11.6 for ×100 rows** | 19.1M pairs emitted |
      || dedup_clusters | 2.93 | 19.2 | **×6.6 for ×100 rows** | 500k docs, rounds still O(log n) |
      || dedup_ngram_overlap | 2.76 | 29.6 | **×10.7 for ×100 rows** | 3.89M pairs — EXACTLY ×100 output |
      || dedup_cdc_chunks | 2.14 | 25.8 | **×12.1 for ×100 rows** | post-O(L) rewrite; 500k docs, ~150M char rows through the lag window (v3 corpus) |
      |
      |The ngram-overlap 100× point is itself a round-9 catch: the first cut
      |keyed 4-gram windows on the prefix-packed token code folded mod 2^31,
      |and 100 shards emitted ×715 pairs instead of ×100 — the third instance
      |of the sketch-input defect class (tokenCode packs first-3-chars +
      |length + LAST char, so the suffixes "s12"/"s22"/… collide
      |systematically and shard vocabularies collapse at the code level;
      |invisible at ≤10 shards whose suffixes are single distinct digits).
      |Fixed by keying windows on TWO independent full-character polynomial
      |word hashes folded into the pair (g1, g2) — every character
      |participates, so no packing artifact can equate distinct words, and
      |the ~2^61 key space pushes birthday collisions out past 10^9 distinct
      |windows per df-cap bucket. Output is now exactly linear at both
      |decades (389,370 = ×10, 3,893,700 = ×100).
      |
      |Wall-clock grows an order of magnitude SLOWER than data across two
      |decades on a fixed 32-thread box — the per-row cost falls as fixed
      |job overhead amortizes, which is the signature of a plan whose work is
      |all in data-parallel stages (on a 1000-executor cluster the same plans
      |spread by partition count).
      |
      |**scan_pruned_zorder** (zone maps + z-order): a z-ordered, zone-mapped
      |VersionedTable (both dims min/max-normalized to a shared 10-bit range
      |before interleaving) built at 8 files (1×), 80 files (10×), 800 files
      |(100×), point-probed on doc_id and range-probed on n_chars:
      |
      || scale | files | doc_id probe opens | n_chars probe opens | probe sec |
      ||---|---|---|---|---|
      || 1× | 8 | 5 (62%) | 3 (38%) | 0.12 |
      || 10× | 80 | 18 (22%) | 14 (18%) | 0.15 |
      || 100× | 800 | 42 (5.3%) | 65 (8.1%) | 0.30 |
      |
      |Both dimensions prune (a linear sort prunes only its leading column —
      |LayoutSpec proves the contrast), and the opened FRACTION falls
      |62% → 22% → 5.3% across two decades — the 2-D z-curve's O(√F) law
      |measured, not argued: opens grow ~×8.4 while files grow ×100 (√100 =
      |10). When O(1) opens is required on a single dimension, the 1-D path
      |already provides it: compact(sortBy) range-clusters and a point probe
      |opens exactly 1 file of 4+ (VersionedTableSpec "sorted compaction
      |tightens zone maps").
      |
      |## Round-10 scaling additions (same harness & corpus construction)
      |
      |**Embedding-side 100× points** (v3 sign-transformed shards; deployment
      |configs: dedup_semantic nCells ≈ 0.63·√N → 450 cells, sim_knn_graph
      |planes = 8 + ⌈log₂ mult⌉ = 15 → 32,768 buckets). Both 1× points are
      |re-measured inside the same JVM/run as their 100× pair (post-corpus-
      |build pressure differs from the r9 table's absolute seconds — compare
      |the within-run pair, not absolutes across tables):
      |
      || query | 1× sec | 1× rows | 100× sec | 100× rows | slope |
      ||---|---|---|---|---|---|
      || dedup_semantic | 8.41 | 2,000 | 35.0 | 200,000 | **×4.2 for ×100 vectors** |
      || sim_knn_graph | 0.67 | 5,661 | 104.7 | 596,383 | ×156 for ×105 output rows |
      |
      |dedup_semantic's second decade confirms the √N-cell law the 10× point
      |suggested: with per-cell population held at ≈√N, compare volume tracks
      |N and the wall ratio stays an order of magnitude under the data ratio.
      |sim_knn_graph's output is near-exactly linear (×105 rows — the honest
      |denominator after the v3 sign transform), while per-pair cost degrades
      |×1.49 across two decades: the rerank window pays for every bucket
      |candidate, and residual cluster structure inside the 2^15-bucket space
      |grows candidates slightly faster than output. On a cluster the same
      |plan spreads by bucket count (the shuffle key), so the fixed-box
      |degradation is pressure, not shape; the next lever if it mattered is
      |bucket-local pre-truncation before the per-node window (composes with
      |the GroupedTopK rewrite).
      |
      |**pipeline_keep_manifest 10×** — the composed end-to-end verdict
      |(quality ∧ cluster-keeper ∧ decontaminated) measured as ONE dag in a
      |dedicated run: 4.40 s (1×) → 8.55 s (10×) = **×1.9 for ×10 docs**. The
      |composition inherits its stages' ≈linear slopes — the doc_id-keyed
      |composition joins add no new corpus pass.
      |
      |**PQ geometry sweep** (1× corpus, k=8 per subspace, flat-ADC top-3
      |probe including the subspace fits):
      |
      || M | bytes/vec | sec |
      ||---|---|---|
      || 2 | 0.75 | 2.05 |
      || 4 | 1.50 | 1.62 |
      || 8 | 3.00 | 1.46 |
      |
      |Probe+fit time is flat-to-falling in M at this scale (smaller
      |per-subspace fits; the M-term LUT-sum is sub-measurement), so the
      |geometry choice is governed by the serving-state axis — bytes/vector
      |×4 from M=2 to M=8 — exactly the trade a 100 TB deployment tunes
      |(recall rises with M; sim_pq_recall gates it at the pinned geometry).
      |
      |**BPE rounds slope** (per-round corpus `replace` ⇒ O(rounds·corpus)):
      |
      || point | sec |
      ||---|---|
      || 1×, rounds=3 | 2.17 |
      || 1×, rounds=8 | 3.99 |
      || 1×, rounds=16 | 8.46 |
      || 10×, rounds=3 | 2.34 |
      |
      |Both factors of the product measured: ~0.48 s/round at 1× (linear in
      |rounds, as the per-round full-corpus replace predicts — NOT
      |super-linear) and ≈flat for ×10 corpus at fixed rounds (the corpus
      |term amortizes across 32 threads at this size). A production tokenizer
      |(tens of thousands of merges) replaces the rounds× full-corpus pass
      |with the pair-cache incremental merge — only documents containing the
      |winning pair are touched per round — turning the corpus factor into
      |the match-set size; the linear rounds slope certifies that switch is a
      |constant-factor choice, not a correctness cliff.
      |
      |**Round-10 operator additions** (same harness, 1× = sf0.1, 10× = the
      |sharded-vocab / sign-transformed corpus; min of 2 iters):
      |
      || query | 1× sec | 1× rows | 10× sec | 10× rows | reading |
      ||---|---|---|---|---|---|
      || sim_sq_topk | 0.67 | 30 | 0.81 | 30 | ×1.2 wall for ×10 vectors — the probe is one narrow scan over the code column; fixed costs dominate at this size, the data term is the 8×-smaller code read |
      || text_cooccur_lift | 1.11 | 20 | 7.44 | 20 | ×6.7 for ×10 tokens — pair emit is lead-based O(window·tokens); the count shuffles scale with distinct pairs (vocab-sharded corpus → ×10 pair vocabulary) |
      || graph_bfs_reach | 3.38 | 973 | 1.83 | 8042 | flat-to-noise: the contracted graph is 12k edges at 1× — wall is per-round checkpoint + join FIXED cost, the data term is invisible until the edge list outgrows the 3-round setup (~×8.3 output confirms per-shard replication) |
      |
      |The BFS point is the honest negative result: at gate scale the operator
      |measures its orchestration overhead, not its data slope. Its scale story
      |is structural — per round exactly one hash join of the distance frame
      |against the (bucketable) edge list plus one min-agg, the same
      |shape/bounds as `graph_pagerank` whose slope IS measured above.
      |
      |**Round-10 session-2 additions** (same harness and protocol):
      |
      || query | 1× sec | 1× rows | 10× sec | 10× rows | reading |
      ||---|---|---|---|---|---|
      || text_zipf_curve | 0.64 | 5 | 0.85 | 9 | ×1.3 for ×10 tokens — the corpus term is one map-side-combinable count; the rank window runs over the VOCABULARY (×10 under sharding: 9 rank buckets vs 5), which is the frame that grows |
      || sample_shard_assign | 0.38 | 136 | 0.50 | 1354 | ×1.3 wall for ×10 docs, shard count exactly ×10 (1354/136 ≈ 10) — the prefix sum is linear; the global sort is absorbed at this size, and the documented two-pass offset form replaces it verbatim at cluster scale |
      || graph_kcore | 2.08 | 915 | 2.65 | 7429 | flat-to-noise like graph_bfs_reach: 4 peel rounds of (degree agg + two semi-joins) on the contracted graph — per-round fixed cost dominates until the edge list outgrows the setup; core membership ×8.1 confirms per-shard replication |
      || sim_mmr_rerank | 2.00 | 20 | 1.71 | 20 | flat (within noise): the corpus term is the one broadcast-query candidate-fetch scan; the greedy runs on the queries×8 pool, constant in data |
      |
      |`text_rake_phrases` and `pipeline_stage_funnel` are deliberately absent:
      |the shard-suffixed 10× vocabulary removes RAKE's 'a'/'the' delimiters
      |(the measurement would exercise a degenerate segmentation), and the
      |funnel is pipeline_keep_manifest (×1.9 at ×10, above) plus a ≤5-row
      |aggregate. RAKE's corpus pass is the same gaps-and-islands window +
      |token-keyed agg shape as text_cooccur_lift, whose slope is measured.
      |
      |""".stripMargin

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
    sb ++= scalingSection
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"PLANS_WRITTEN=$out")
    spark.stop()
  }
}
