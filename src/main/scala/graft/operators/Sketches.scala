package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.Pin.PinOps

/** Deterministic sketch operators (builder prompt: "a novel sketch" as
  * custom-operator material; SURVEY.md §2.2 extended surface).
  *
  * Spark's own approximate aggregates (approx_count_distinct, percentile
  * sketches) are engine-private in their randomness and merge order, so no
  * cross-engine oracle can hash-match them. These sketches get the same
  * scale behavior from DETERMINISTIC integer hashes — every estimate is a
  * pure function of the data, reproducible bit-for-bit in DuckDB SQL:
  *
  *  - KMV (k-minimum-values) distinct-count estimator: keep the k smallest
  *    distinct hash values per group; estimate ≈ (k−1)·M / h_(k). The
  *    k-smallest selection rides the engine's own GroupedTopK physical
  *    operator (bounded per-group heaps, map-side partials — the 100 TB
  *    shape; a sort-based top-k would shuffle the full hash set).
  *  - Hash-threshold Bernoulli sampling: keep rows with h(x) mod D < T —
  *    the standard deterministic sample that is stable across reruns,
  *    partitionings, and engines (no RNG state).
  *  - Count-min sketch: d=2 hash rows × w=32 buckets of counts; a point
  *    frequency estimate is the min over rows of its bucket count.
  *
  * Hash arithmetic is exact int64 in both engines. Most paths stay below
  * 2^53 (also float64-safe); the HLL second mixing round intentionally
  * exceeds that (1779033703 · y can reach ~3.8e18 < 2^63) and relies on
  * both engines computing BIGINT products exactly — which they do, and the
  * oracle hash-match proves it (see graft-oracle-parity rules in SURVEY.md
  * §7.4).
  */
object Sketches {

  private val M = 2147483647L // 2^31 − 1, the hash modulus

  private[graft] def h(x: Column, a: Long, b: Long): Column =
    (lit(a) * x + lit(b)) % M

  // ---- KMV distinct-count estimator ----

  /** Knuth multiplicative constant: small sequential part keys must spread
    * over [0, M) or the (k−1)·M/h_k estimate is meaningless; products stay
    * < 2^53 (exact in both engines) for any plausible SF.
    */
  private def partKeyHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_returnflag".as("grp"),
        h($"l_partkey", 2654435761L, 12007L).as("hv"))
  }

  /** Shared estimator tail: from per-group (kth_hash, n_kept), the implied
    * distinct-count estimate alongside the exact count (the estimator's
    * error is part of the result surface). Both KMV variants end here, so
    * formula and oracle can never diverge between them.
    */
  private def kmvFinish(s: SparkSession, dir: String, kept: DataFrame): DataFrame = {
    import s.implicits._
    val exact = Tables.lineitem(s, dir)
      .groupBy($"l_returnflag".as("grp"))
      .agg(countDistinct($"l_partkey").as("exact_distinct"))
    kept
      .withColumn("est_distinct",
        floor(($"n_kept" - 1).cast("double") * lit(M.toDouble)
          / $"kth_hash".cast("double")).cast("long"))
      .join(exact, Seq("grp"))
      .orderBy($"grp")
  }

  /** Per l_returnflag: the 64 smallest distinct part-key hashes → k-th min
    * and the implied distinct-count estimate, via the GroupedTopK physical
    * operator over the distinct hash set.
    */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashes = partKeyHash(s, dir).distinct().withColumn("hneg", -$"hv")
    val kept = graft.plans.GroupedTopK(hashes,
      groupCols = Seq("grp"), orderCols = Seq("hneg", "hv"), k = 64)
    kmvFinish(s, dir, kept.groupBy($"grp")
      .agg(max($"hv").as("kth_hash"), count(lit(1)).as("n_kept")))
  }

  val kmvDistinctSql: String =
    s"""WITH hs AS (
       |  SELECT DISTINCT l_returnflag AS grp,
       |    (2654435761 * l_partkey + 12007) % $M AS hv
       |  FROM lineitem),
       |r AS (
       |  SELECT grp, hv,
       |    row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
       |  FROM hs),
       |kept AS (
       |  SELECT grp, max(hv)::BIGINT AS kth_hash, count(*)::BIGINT AS n_kept
       |  FROM r WHERE rn <= 64 GROUP BY grp)
       |SELECT grp, kth_hash, n_kept,
       |  floor((n_kept - 1)::DOUBLE * $M::DOUBLE / kth_hash::DOUBLE)::BIGINT
       |    AS est_distinct,
       |  (SELECT count(DISTINCT l_partkey) FROM lineitem l
       |   WHERE l.l_returnflag = kept.grp)::BIGINT AS exact_distinct
       |FROM kept ORDER BY grp""".stripMargin

  /** The same KMV estimate through the engine's UDAF extension point
    * ([[graft.functions.KMinValues]]): ONE aggregation over raw rows — the
    * bounded buffer dedups and trims as it goes, so there is no distinct,
    * no top-k operator, and no join in the plan. `element_at(kmv,
    * size(kmv))` is the k-th minimum. Same oracle as [[kmvDistinct]].
    */
  def kmvAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.KMinValues.kMinValues
    kmvFinish(s, dir, partKeyHash(s, dir)
      .groupBy($"grp")
      .agg(kMinValues($"hv", 64).as("kmv"))
      .select($"grp",
        element_at($"kmv", size($"kmv")).as("kth_hash"),
        size($"kmv").cast("long").as("n_kept")))
  }

  /** The ONE copy of the avalanche finisher (xor-shift 15 → affine mod M
    * → xor-shift 13): any operator whose estimate reads the hash's BIT
    * PATTERN rather than just its order needs it (HLL here; the wide
    * simhash in [[TextOps]]) — a plain affine map leaves nearby inputs
    * with correlated high bits. Products a·y < 2^31.4 · 2^31 < 2^63 stay
    * exact int64 in both engines.
    */
  private[operators] def avalanche(x: Column, a: Long, b: Long): Column = {
    val y = x.bitwiseXOR(shiftright(x, 15))
    val z = h(y, a, b)
    z.bitwiseXOR(shiftright(z, 13))
  }

  /** The avalanched 31-bit hash ([[hllDistinct]]'s scaladoc explains why
    * HLL can't ride the plain affine hash the other sketches use).
    */
  private def hllHash(k: Column): Column =
    avalanche(h(k, 2654435761L, 12007L), 1779033703L, 514229L)

  /** HyperLogLog distinct-count estimator (Flajolet et al. 2007), built
    * deterministically so the register contents — and therefore the
    * estimate — hash-match DuckDB bit-for-bit:
    *
    *  - a 31-bit AVALANCHED hash: affine mod M → xor-shift 15 → affine
    *    mod M → xor-shift 13. A single affine map (what KMV/CMS use) is
    *    rank-blind here — its output over sequential keys is an
    *    equally-spaced lattice whose leading-zero statistics are far from
    *    geometric (measured: +57% bias on this corpus); HLL is the one
    *    sketch in this file whose estimate reads the BIT PATTERN, not
    *    just the hash order, so it needs the nonlinear rounds (KMV needs
    *    only exchangeability of order statistics, which affine gives).
    *    xor and >> are exact int64 in both engines.
    *  - register j = hv mod 64 (p = 6), the remaining 25 bits w = ⌊hv/64⌋
    *    carry the rank: rho = 26 − bitlength(w) (leading zeros + 1 on the
    *    25-bit axis; w = 0 ⇒ rho = 26). bitlength via `length(bin(w))` —
    *    identical no-leading-zeros semantics in both engines, no float
    *    log2.
    *  - per (group, register): M_j = max(rho); absent registers count as 0.
    *  - estimate = ⌊α₆₄·m²/Σ 2^(−M_j)⌋ with α₆₄ = 0.709. Every 2^(−M_j) is
    *    a dyadic rational ≥ 2⁻²⁶, so the 64-term sum is EXACT in a double
    *    regardless of addition order, and the final divide is one
    *    IEEE-correctly-rounded op — the double math cannot diverge across
    *    engines. (The small-range linear-counting correction needs ln(),
    *    whose last-ulp behavior is libm-specific, so it is intentionally
    *    not applied; `n_zero` ships in the result for callers that want
    *    it.) The raw estimator's error vs the exact count is part of the
    *    result surface, as with KMV.
    *
    * Scale: ONE map-side-combinable aggregation over the scan (64 registers
    * per group, mergeable by max) — the canonical distinct-count sketch for
    * a 100 TB corpus, cheaper than KMV's top-k heap when groups are many.
    */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val regs = Tables.lineitem(s, dir)
      .select($"l_returnflag".as("grp"), hllHash($"l_partkey").as("hv"))
      .select($"grp", ($"hv" % 64L).as("j"),
        floor($"hv" / 64L).cast("long").as("w"))
      .withColumn("rho",
        when($"w" === 0L, lit(26)).otherwise(lit(26) - length(bin($"w"))))
      .groupBy($"grp", $"j").agg(max($"rho").as("mx"))
    val full = regs.select($"grp").distinct()
      .select($"grp", explode(sequence(lit(0), lit(63))).as("j"))
      .join(regs, Seq("grp", "j"), "left")
      .withColumn("mx", coalesce($"mx", lit(0)))
    val est = full.groupBy($"grp")
      .agg(sum(when($"mx" === 0, 1L).otherwise(0L)).as("n_zero"),
        sum(pow(lit(2.0), -$"mx")).as("ssum"))
      .select($"grp", $"n_zero",
        floor(lit(0.709) * lit(4096.0) / $"ssum").cast("long").as("est_hll"))
    val exact = Tables.lineitem(s, dir)
      .groupBy($"l_returnflag".as("grp"))
      .agg(countDistinct($"l_partkey").as("exact_distinct"))
    est.join(exact, Seq("grp")).orderBy($"grp")
  }

  val hllDistinctSql: String =
    s"""WITH h1 AS (
       |  SELECT l_returnflag AS grp,
       |    xor((2654435761 * l_partkey + 12007) % $M,
       |        ((2654435761 * l_partkey + 12007) % $M) >> 15) AS y1
       |  FROM lineitem),
       |hs AS (
       |  SELECT grp,
       |    xor((1779033703 * y1 + 514229) % $M,
       |        ((1779033703 * y1 + 514229) % $M) >> 13) AS hv
       |  FROM h1),
       |rj AS (
       |  SELECT grp, hv % 64 AS j,
       |    CASE WHEN hv // 64 = 0 THEN 26
       |         ELSE 26 - length(bin(hv // 64)) END AS rho
       |  FROM hs),
       |regs AS (SELECT grp, j, max(rho) AS mx FROM rj GROUP BY grp, j),
       |filled AS (
       |  SELECT g.grp, u.j, coalesce(regs.mx, 0) AS mx
       |  FROM (SELECT DISTINCT grp FROM hs) g
       |  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) u
       |  LEFT JOIN regs ON regs.grp = g.grp AND regs.j = u.j),
       |est AS (
       |  SELECT grp,
       |    sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
       |    floor(0.709::DOUBLE * 4096::DOUBLE
       |          / sum(pow(2.0::DOUBLE, -mx)))::BIGINT AS est_hll
       |  FROM filled GROUP BY grp)
       |SELECT grp, n_zero, est_hll,
       |  (SELECT count(DISTINCT l_partkey) FROM lineitem l
       |   WHERE l.l_returnflag = est.grp)::BIGINT AS exact_distinct
       |FROM est ORDER BY grp""".stripMargin

  // ---- deterministic Bernoulli sample ----

  /** ~2% hash-threshold sample of lineitem (h(orderkey, linenumber,
    * partkey) mod 1000 < 20), aggregated per returnflag: the sample is a
    * pure function of row values, so reruns, repartitions, and the oracle
    * all select the same rows.
    */
  def hashSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hv = (($"l_orderkey" * 131071L + $"l_linenumber" * 8191L
      + $"l_partkey") % M) % 1000L
    Tables.lineitem(s, dir)
      .filter(hv < 20L)
      .groupBy($"l_returnflag".as("grp"))
      // floor() on BOTH sides: Spark's cast-to-long truncates while
      // DuckDB's ::BIGINT rounds — integral today, divergent on any
      // fractional quantity
      .agg(count(lit(1)).as("n_sampled"),
        sum(floor($"l_quantity").cast("long")).as("sum_qty"))
      .withColumn("scaled_rows", $"n_sampled" * 50L)
      .orderBy($"grp")
  }

  val hashSampleSql: String =
    s"""SELECT l_returnflag AS grp, count(*)::BIGINT AS n_sampled,
       |  sum(floor(l_quantity)::BIGINT)::BIGINT AS sum_qty,
       |  (count(*) * 50)::BIGINT AS scaled_rows
       |FROM lineitem
       |WHERE ((l_orderkey * 131071 + l_linenumber * 8191 + l_partkey)
       |       % $M) % 1000 < 20
       |GROUP BY 1 ORDER BY grp""".stripMargin

  // ---- count-min sketch ----

  /** Count-min over order priorities (key = first char code): build the
    * d=2 × w=32 counter table, then estimate each priority's frequency as
    * the min over rows of its bucket — returned next to the exact count.
    * The sketch build is one scan + one map-side-combinable aggregation
    * (each record explodes to its d cells); estimates read d cells per key.
    */
  def cmsFreq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val key = ascii(substring($"o_orderpriority", 1, 1)).cast("long")
    val w = 32L
    val rows = Seq((0, 1103L, 12007L), (1, 52361L, 33023L))
    // ONE orders scan builds all d rows of the sketch (explode to the d
    // (j, bucket) cells per record), and the tiny per-key table is
    // materialized so the probe branches don't re-aggregate orders
    val cells = Tables.orders(s, dir)
      .select(key.as("key"))
      .select(explode(array(rows.map { case (j, a, b) =>
        struct(lit(j).as("j"), (h($"key", a, b) % w).as("bucket"))
      }: _*)).as("e"))
      .select($"e.j".as("j"), $"e.bucket".as("bucket"))
      .groupBy($"j", $"bucket")
      .agg(count(lit(1)).as("c"))
    val keys = Tables.orders(s, dir)
      .groupBy($"o_orderpriority".as("priority"))
      .agg(count(lit(1)).as("exact_n"))
      .withColumn("key", ascii(substring($"priority", 1, 1)).cast("long"))
      .pin
    val probes = rows.map { case (j, a, b) =>
      keys.withColumn("j", lit(j))
        .withColumn("bucket", h($"key", a, b) % w)
    }.reduce(_ unionByName _)
    probes.join(cells, Seq("j", "bucket"))
      .groupBy($"priority", $"exact_n")
      .agg(min($"c").as("est_n"))
      .select($"priority", $"est_n", $"exact_n")
      .orderBy($"priority")
  }

  val cmsFreqSql: String =
    s"""WITH ks AS (
       |  SELECT o_orderpriority AS priority, count(*)::BIGINT AS exact_n,
       |    ascii(substr(o_orderpriority, 1, 1))::BIGINT AS key
       |  FROM orders GROUP BY 1),
       |cells AS (
       |  SELECT 0 AS j, ((1103 * k + 12007) % $M) % 32 AS bucket,
       |         count(*)::BIGINT AS c
       |  FROM (SELECT ascii(substr(o_orderpriority, 1, 1))::BIGINT AS k
       |        FROM orders) GROUP BY 2
       |  UNION ALL
       |  SELECT 1, ((52361 * k + 33023) % $M) % 32, count(*)::BIGINT
       |  FROM (SELECT ascii(substr(o_orderpriority, 1, 1))::BIGINT AS k
       |        FROM orders) GROUP BY 2),
       |probes AS (
       |  SELECT priority, exact_n, 0 AS j,
       |    ((1103 * key + 12007) % $M) % 32 AS bucket FROM ks
       |  UNION ALL
       |  SELECT priority, exact_n, 1,
       |    ((52361 * key + 33023) % $M) % 32 FROM ks)
       |SELECT priority, min(c)::BIGINT AS est_n, exact_n
       |FROM probes JOIN cells USING (j, bucket)
       |GROUP BY priority, exact_n ORDER BY priority""".stripMargin

  /** Join-size estimation from count-min inner products (Cormode &
    * Muthukrishnan 2005 §4.2; the AMS F₂ idea carried by CMS buckets) —
    * the query-planner primitive that prices a join WITHOUT running it.
    * Estimated here on the corpus's skew-bearing self-join, lineitem ⋈
    * lineitem on l_partkey (size = Σ_p f(p)² — also exactly the
    * candidate volume a partkey-blocked dedup would pay): for each of
    * d=2 hash rows, est_j = Σ_b c_j[b]² ≥ Σ f² with equality iff no
    * collisions, so est = min_j est_j OVERESTIMATES by at most n²/w in
    * expectation — the one-sided bound that makes it safe for
    * budget-gating ("never under-provision the shuffle").
    *
    * Scale: the sketch build is ONE scan with a map-side-combinable
    * (row, bucket) count — d·w = 16,384 cells of state regardless of
    * corpus size, mergeable across partitions/shards/days by cell-wise
    * sum (the reason planners ship CMS and not samples); the exact side
    * (shipped for the error surface, as with KMV/HLL) is one keyed
    * aggregation. The single 1-row cross assembling the report row is
    * the house bounded-broadcast shape.
    *
    * Like HLL (and unlike [[cmsFreq]]'s point estimates, which only
    * need hash ORDER exchangeability), the inner product reads bucket
    * OCCUPANCY — a bit-pattern statistic — so the plain affine hash is
    * disqualified: over this corpus's sequential part keys its
    * equally-spaced output lattice lands 2,000 keys in 2,000 DISTINCT
    * buckets of 8,192 (measured: zero collisions in either row, est =
    * exact — a misleadingly perfect sketch that would shatter the
    * moment keys stop being consecutive). Both rows therefore pay the
    * avalanche rounds; the surviving overestimate is the honest n²/w
    * collision price.
    */
  def cmsJoinCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = 8192L
    val rows = Seq((0, 2654435761L, 12007L, 1779033703L, 514229L),
      (1, 52361L, 33023L, 2246822519L, 28657L))
    val cells = Tables.lineitem(s, dir)
      .select($"l_partkey".as("key"))
      .select(explode(array(rows.map { case (j, a, b, c, d) =>
        struct(lit(j).as("j"),
          (avalanche(h($"key", a, b), c, d) % w).as("bucket"))
      }: _*)).as("e"))
      .select($"e.j".as("j"), $"e.bucket".as("bucket"))
      .groupBy($"j", $"bucket")
      .agg(count(lit(1)).as("c"))
    val est = cells.groupBy($"j").agg(sum($"c" * $"c").as("est"))
      .agg(sum(when($"j" === 0, $"est")).as("est_row0"),
        sum(when($"j" === 1, $"est")).as("est_row1"),
        min($"est").as("est_join"))
    val exact = Tables.lineitem(s, dir)
      .groupBy($"l_partkey").agg(count(lit(1)).as("f"))
      .agg(sum($"f" * $"f").as("exact_join"))
    est.crossJoin(exact)
      .select($"est_row0", $"est_row1", $"est_join", $"exact_join",
        // one-sided: est ≥ exact always, so operands stay positive
        expr("(1000 * (est_join - exact_join)) div exact_join")
          .as("overest_pm"))
  }

  val cmsJoinCardSql: String =
    s"""WITH y0 AS (
       |  SELECT xor((2654435761 * l_partkey + 12007) % $M,
       |             ((2654435761 * l_partkey + 12007) % $M) >> 15) AS y
       |  FROM lineitem),
       |y1 AS (
       |  SELECT xor((52361 * l_partkey + 33023) % $M,
       |             ((52361 * l_partkey + 33023) % $M) >> 15) AS y
       |  FROM lineitem),
       |cells AS (
       |  SELECT 0 AS j,
       |    xor((1779033703 * y + 514229) % $M,
       |        ((1779033703 * y + 514229) % $M) >> 13) % 8192 AS bucket,
       |    count(*)::BIGINT AS c
       |  FROM y0 GROUP BY 2
       |  UNION ALL
       |  SELECT 1,
       |    xor((2246822519 * y + 28657) % $M,
       |        ((2246822519 * y + 28657) % $M) >> 13) % 8192,
       |    count(*)::BIGINT
       |  FROM y1 GROUP BY 2),
       |est AS (
       |  SELECT sum(CASE WHEN j = 0 THEN e END)::BIGINT AS est_row0,
       |    sum(CASE WHEN j = 1 THEN e END)::BIGINT AS est_row1,
       |    min(e)::BIGINT AS est_join
       |  FROM (SELECT j, sum(c * c)::BIGINT AS e FROM cells GROUP BY j)),
       |exact AS (
       |  SELECT sum(f * f)::BIGINT AS exact_join
       |  FROM (SELECT count(*)::BIGINT AS f FROM lineitem
       |        GROUP BY l_partkey))
       |SELECT est_row0, est_row1, est_join, exact_join,
       |  ((1000 * (est_join - exact_join)) // exact_join)::BIGINT
       |    AS overest_pm
       |FROM est CROSS JOIN exact""".stripMargin

  /** Stratified sampling over the corpus: per-language per-mille rates
    * (downsample the dominant language, keep the tail), selected by a
    * deterministic multiplicative hash of the row key — rerun-, partition-
    * and engine-stable, unlike rand(). The filter is a pure row predicate
    * (no shuffle, no state); a training-data pipeline materializes
    * `docs.filter(hv < rate)` directly — this query reports the per-stratum
    * sample-vs-total accounting the pipeline would log.
    */
  /** The per-language per-mille rate and the deterministic row-hash — the
    * pipeline's reusable selection predicate is `sampleHash < sampleRate`.
    */
  def sampleRate: org.apache.spark.sql.Column =
    when(col("lang") === "en", 100L)
      .when(col("lang") === "de", 300L).otherwise(500L)

  def sampleHash: org.apache.spark.sql.Column =
    ((col("doc_id") * 131071L + col("n_chars") * 8191L) % M) % 1000L

  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one scan, one shuffle: the sampled count is a conditional aggregate
    // (the oracle's CASE-WHEN shape), not a second scan + join
    Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_total"), min(sampleRate).as("rate_pm"),
        sum(when(sampleHash < sampleRate, 1L).otherwise(0L)).as("n_sampled"))
      .select($"lang", $"n_total", $"rate_pm", $"n_sampled")
      .orderBy($"lang")
  }

  val stratifiedSampleSql: String =
    s"""WITH rated AS (
       |  SELECT lang, doc_id,
       |    CASE WHEN lang = 'en' THEN 100
       |         WHEN lang = 'de' THEN 300 ELSE 500 END AS rate_pm,
       |    ((doc_id * 131071 + n_chars * 8191) % $M) % 1000 AS hv
       |  FROM documents)
       |SELECT lang, count(*)::BIGINT AS n_total,
       |  min(rate_pm)::BIGINT AS rate_pm,
       |  sum(CASE WHEN hv < rate_pm THEN 1 ELSE 0 END)::BIGINT AS n_sampled
       |FROM rated GROUP BY lang ORDER BY lang""".stripMargin

  /** NEYMAN-optimal stratified allocation (Neyman 1934): split a fixed
    * 100-doc budget across language strata ∝ N_h·σ_h — the design that
    * minimizes the estimator variance of a corpus mean (doc length here),
    * vs the proportional allocation [[stratifiedSample]]'s fixed rates
    * imply. High-variance strata earn MORE than their headcount share;
    * the op reports both allocations side by side, plus what the
    * deterministic hash-sample actually admits under the Neyman one.
    *
    * Exactness: N_h·σ_h = √(N_h·Σx² − S_h²) — ONE sqrt of an exact
    * integer per stratum (floor'd back to integer), so the cross-stratum
    * total and both allocations are pure integer arithmetic; no k-term
    * double fold (the stat_anova partition-order lesson). Realized
    * sampling is top-n_h by the deterministic hash under a lang-keyed
    * window — exact counts, reproducible across reruns and engines.
    *
    * Scale: one groupBy to |strata| rows, a 1-row broadcast total, one
    * lang-partitioned window pass for the realized sample.
    */
  def neymanSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select($"lang", $"doc_id", $"n_chars".cast("long").as("x"),
        sampleHash.as("hv"))
    val strata = d.groupBy($"lang").agg(count(lit(1)).as("n_total"),
        sum($"x").as("sh"), sum($"x" * $"x").as("qh"))
      .withColumn("nsig",
        floor(sqrt(($"n_total" * $"qh" - $"sh" * $"sh").cast("double")))
          .cast("long"))
    val tot = strata.agg(sum($"nsig").as("tt"), sum($"n_total").as("nn"))
    val alloc = strata.crossJoin(broadcast(tot))
      .select($"lang", $"n_total", $"nsig",
        ($"nsig" * 100L / $"tt").cast("long").as("alloc_neyman"),
        ($"n_total" * 100L / $"nn").cast("long").as("alloc_prop"))
    val sampled = d
      .withColumn("rn", row_number().over(
        Window.partitionBy($"lang").orderBy($"hv", $"doc_id")))
      .join(broadcast(alloc.select($"lang", $"alloc_neyman")), Seq("lang"))
      .filter($"rn" <= $"alloc_neyman")
      .groupBy($"lang").agg(count(lit(1)).as("n_sampled"),
        sum($"x").as("sx"))
    alloc.join(sampled.select($"lang", $"n_sampled",
        ($"sx" / $"n_sampled").cast("long").as("sampled_avg_len")),
        Seq("lang"), "left")
      .select($"lang", $"n_total", $"nsig", $"alloc_neyman", $"alloc_prop",
        coalesce($"n_sampled", lit(0L)).as("n_sampled"),
        coalesce($"sampled_avg_len", lit(-1L)).as("sampled_avg_len"))
      .orderBy($"lang")
  }

  val neymanSampleSql: String =
    s"""WITH d AS (
       |  SELECT lang, doc_id, n_chars::BIGINT AS x,
       |    ((doc_id * 131071 + n_chars * 8191) % $M) % 1000 AS hv
       |  FROM documents),
       |strata AS (
       |  SELECT lang, count(*)::BIGINT AS n_total, sum(x)::BIGINT AS sh,
       |    sum(x * x)::BIGINT AS qh
       |  FROM d GROUP BY 1),
       |st2 AS (
       |  SELECT *, floor(sqrt((n_total * qh - sh * sh)::DOUBLE))::BIGINT
       |    AS nsig
       |  FROM strata),
       |tot AS (SELECT sum(nsig)::BIGINT AS tt, sum(n_total)::BIGINT AS nn
       |        FROM st2),
       |alloc AS (
       |  SELECT lang, n_total, nsig,
       |    nsig * 100 // tt AS alloc_neyman,
       |    n_total * 100 // nn AS alloc_prop
       |  FROM st2 CROSS JOIN tot),
       |rk AS (
       |  SELECT lang, x,
       |    row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn
       |  FROM d),
       |sampled AS (
       |  SELECT r.lang, count(*)::BIGINT AS n_sampled,
       |    (sum(r.x) // count(*))::BIGINT AS sampled_avg_len
       |  FROM rk r JOIN alloc a ON r.lang = a.lang
       |  WHERE r.rn <= a.alloc_neyman GROUP BY 1)
       |SELECT a.lang, a.n_total, a.nsig, a.alloc_neyman, a.alloc_prop,
       |  coalesce(s.n_sampled, 0)::BIGINT AS n_sampled,
       |  coalesce(s.sampled_avg_len, -1)::BIGINT AS sampled_avg_len
       |FROM alloc a LEFT JOIN sampled s ON a.lang = s.lang
       |ORDER BY a.lang""".stripMargin

  // ---- mixture sampling (domain reweighting) ----

  /** Multi-source mixture sampling: given target mixture weights over
    * source *domains* (the training-data recipe shape — e.g. web 20%,
    * books 50%, code 30% of tokens), compute the largest total token
    * budget the corpus can serve at EXACTLY those proportions
    * (T = min_d avail_d/w_d — the scarcest domain binds), each domain's
    * token quota, the per-mille acceptance rate meeting it, and the
    * docs/tokens the deterministic hash-sample actually admits. All
    * arithmetic is integer-exact (< 2^53), so the oracle hash-matches.
    *
    * Scale shape: one scan builds the 3-row per-domain availability;
    * rates derive from a window-min over that tiny frame (no driver
    * round-trip, no crossJoin); the sampling pass re-scans with the
    * 3-row rate table broadcast — the same two-pass shape as TF-IDF.
    * A pipeline materializes `docs.filter(hv < rate_pm)` as the actual
    * mixture; this query reports the accounting it would log.
    */
  private def mixDomain(src: Column): Column = {
    val n = substring(src, 4, 9).cast("int")
    when(n <= 6, "web").when(n <= 13, "books").otherwise("code")
  }

  private def mixTargetPm(domain: Column): Column =
    when(domain === "web", 200L).when(domain === "books", 500L)
      .otherwise(300L)

  def mixtureSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select(
      $"doc_id",
      mixDomain($"source").as("domain"),
      (length($"text") - length(regexp_replace($"text", " ", "")) + 1)
        .cast("long").as("n_words"),
      (($"doc_id" * 65537L + $"n_chars" * 4099L) % M % 1000L).as("hv"))
    val avail = docs.groupBy($"domain")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("avail_tokens"))
      .withColumn("target_pm", mixTargetPm($"domain"))
    val rates = avail
      .withColumn("t_total",
        min(floor($"avail_tokens" * 1000L / $"target_pm"))
          .over(Window.partitionBy()))
      .withColumn("quota_tokens",
        floor($"t_total" * $"target_pm" / 1000L))
      .withColumn("rate_pm",
        floor($"quota_tokens" * 1000L / $"avail_tokens"))
      .select($"domain", $"n_docs", $"avail_tokens", $"target_pm",
        $"quota_tokens", $"rate_pm")
    docs.join(broadcast(rates), Seq("domain"))
      .groupBy($"domain")
      .agg(min($"n_docs").as("n_docs"),
        min($"avail_tokens").as("avail_tokens"),
        min($"target_pm").as("target_pm"),
        min($"quota_tokens").as("quota_tokens"),
        min($"rate_pm").as("rate_pm"),
        sum(when($"hv" < $"rate_pm", 1L).otherwise(0L)).as("docs_sampled"),
        sum(when($"hv" < $"rate_pm", $"n_words").otherwise(0L))
          .as("tokens_sampled"))
      .orderBy($"domain")
  }

  val mixtureSampleSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    CASE WHEN CAST(substr(source, 4) AS INT) <= 6 THEN 'web'
       |         WHEN CAST(substr(source, 4) AS INT) <= 13 THEN 'books'
       |         ELSE 'code' END AS domain,
       |    (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT
       |      AS n_words,
       |    ((doc_id * 65537 + n_chars * 4099) % $M) % 1000 AS hv
       |  FROM documents),
       |avail AS (
       |  SELECT domain, count(*)::BIGINT AS n_docs,
       |    sum(n_words)::BIGINT AS avail_tokens,
       |    CASE WHEN domain = 'web' THEN 200
       |         WHEN domain = 'books' THEN 500 ELSE 300 END AS target_pm
       |  FROM docs GROUP BY 1),
       |rates AS (
       |  SELECT domain, n_docs, avail_tokens, target_pm,
       |    floor(min(floor(avail_tokens * 1000 / target_pm)) OVER ()
       |      * target_pm / 1000)::BIGINT AS quota_tokens
       |  FROM avail),
       |rated AS (
       |  SELECT domain, n_docs, avail_tokens, target_pm, quota_tokens,
       |    floor(quota_tokens * 1000 / avail_tokens)::BIGINT AS rate_pm
       |  FROM rates)
       |SELECT domain, min(r.n_docs)::BIGINT AS n_docs,
       |  min(r.avail_tokens)::BIGINT AS avail_tokens,
       |  min(r.target_pm)::BIGINT AS target_pm,
       |  min(r.quota_tokens)::BIGINT AS quota_tokens,
       |  min(r.rate_pm)::BIGINT AS rate_pm,
       |  sum(CASE WHEN d.hv < r.rate_pm THEN 1 ELSE 0 END)::BIGINT
       |    AS docs_sampled,
       |  sum(CASE WHEN d.hv < r.rate_pm THEN d.n_words ELSE 0 END)::BIGINT
       |    AS tokens_sampled
       |FROM docs d JOIN rated r USING (domain)
       |GROUP BY domain ORDER BY domain""".stripMargin

  // ---- Bloom filter (192-bit, k=2, deterministic) ----

  /** Per-nation Bloom filter over customer keys, built with composable
    * aggregates only (`bit_or` over word contributions — no UDAF): 192 bits
    * as 4×48-bit words, two independent hashes per key. 48 bits per word
    * keeps every intermediate < 2^53, so the dynamic bit arithmetic
    * (floor(2^j), floor(word/2^j)) is exact float→int in both engines and
    * the filter contents hash-match DuckDB's native `<<`/`>>`/`bit_or`
    * bit-for-bit. The probe pass then scores every customer against every
    * nation's bloom and reports the false-positive count — the number a
    * bloom-prefiltered semi join would pay in extra probe-side rows.
    * Scale: build is one groupBy(nation); the 25 finished blooms broadcast
    * (200 bytes each), so the probe side streams with NO shuffle — exactly
    * how a bloom prefilter cuts a 100 TB shuffle join's probe volume. No
    * false negatives by construction (a member's bits are always set).
    */
  def bloomFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = 4
    val wbits = 48
    val mBits = words * wbits
    val cust = Tables.customer(s, dir)
      .select($"c_nationkey".as("nk"), $"c_custkey".as("x"))
      .withColumn("h1", h($"x", 2654435761L, 12007L) % mBits)
      .withColumn("h2", h($"x", 1779033703L, 514229L) % mBits)
    def contrib(hc: Column, w: Int): Column =
      when(floor(hc / wbits) === w,
        floor(pow(lit(2.0), hc % wbits)).cast("long")).otherwise(0L)
    val aggs = (0 until words).map(w =>
      bit_or(contrib($"h1", w).bitwiseOR(contrib($"h2", w))).as(s"b$w")) :+
      count(lit(1)).as("n_members")
    val blooms = cust.groupBy($"nk").agg(aggs.head, aggs.tail: _*)
    def testBit(hc: Column): Column = {
      val word = when(floor(hc / wbits) === 0, $"b0")
        .when(floor(hc / wbits) === 1, $"b1")
        .when(floor(hc / wbits) === 2, $"b2")
        .otherwise($"b3")
      // word * 2^-j is a pure exponent shift (exact), so floor is the true
      // integer shift-right
      pmod(floor(word.cast("double") / pow(lit(2.0), hc % wbits)).cast("long"),
        lit(2L))
    }
    val might = cust.select($"x", $"h1", $"h2")
      .crossJoin(broadcast(blooms.drop("n_members")))
      .filter(testBit($"h1") === 1L && testBit($"h2") === 1L)
      .groupBy($"nk").agg(count(lit(1)).as("n_might"))
    blooms.join(might, Seq("nk"), "left")
      .select($"nk".as("nationkey"), $"n_members",
        (bit_count($"b0") + bit_count($"b1") + bit_count($"b2")
          + bit_count($"b3")).as("bits_set"),
        coalesce($"n_might", lit(0L)).as("n_might"))
      .withColumn("n_fp", $"n_might" - $"n_members")
      .orderBy($"nationkey")
  }

  val bloomFilterSql: String = {
    def bld(w: Int) =
      s"""    bit_or((CASE WHEN h1 // 48 = $w THEN 1::BIGINT << (h1 % 48)::INT ELSE 0 END) |
         |           (CASE WHEN h2 // 48 = $w THEN 1::BIGINT << (h2 % 48)::INT ELSE 0 END)) AS b$w""".stripMargin
    def tst(hc: String) =
      s"""((CASE $hc // 48 WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END
         |          >> ($hc % 48)::INT) & 1) = 1""".stripMargin
    s"""WITH c AS (
       |  SELECT c_nationkey AS nk, c_custkey AS x,
       |    ((2654435761 * c_custkey + 12007) % 2147483647) % 192 AS h1,
       |    ((1779033703 * c_custkey + 514229) % 2147483647) % 192 AS h2
       |  FROM customer),
       |bl AS (
       |  SELECT nk,
       |${(0 until 4).map(bld).mkString(",\n")},
       |    count(*)::BIGINT AS n_members
       |  FROM c GROUP BY nk),
       |mi AS (
       |  SELECT bl.nk, count(*)::BIGINT AS n_might
       |  FROM bl CROSS JOIN c
       |  WHERE ${tst("h1")}
       |    AND ${tst("h2")}
       |  GROUP BY bl.nk)
       |SELECT bl.nk AS nationkey, n_members,
       |  bit_count(b0)::INT + bit_count(b1)::INT + bit_count(b2)::INT
       |    + bit_count(b3)::INT AS bits_set,
       |  coalesce(n_might, 0)::BIGINT AS n_might,
       |  coalesce(n_might, 0)::BIGINT - n_members AS n_fp
       |FROM bl LEFT JOIN mi ON bl.nk = mi.nk
       |ORDER BY nationkey""".stripMargin
  }

  /** Bloom-pruned semi join — the runtime-filter pushdown every 100 TB
    * join wants (Spark's own runtime bloom, Bloom 1970): the build side's
    * key set (custkeys holding 1-URGENT orders) folds to a 64-WORD bloom
    * TABLE (word_idx, bits) — the word-as-row layout keeps the sketch a
    * tiny broadcast relation instead of a 64-column monster, and membership
    * tests become two equi joins against it. The probe scan (customer)
    * keeps only bloom-passing rows BEFORE the exact semi join — at scale
    * that is shuffle volume cut at the map side; here every stage of the
    * funnel ships in one row: inserted keys, probe rows, bloom passes,
    * exact matches, false positives, and the joined balance total (which
    * the oracle computes WITHOUT the bloom — hash equality IS the
    * no-false-negative proof).
    *
    * Both bit positions use the avalanched hash, not the plain affine map:
    * the CMS/HLL lattice lesson — sequential custkeys under an affine hash
    * land equally spaced, a misleadingly collision-free bloom that would
    * report 0 false positives and shatter on non-consecutive keys.
    *
    * Scale: build = one distinct + a ≤64-row bit_or aggregate (mergeable,
    * O(words) state); probe = two broadcast joins + a filter riding the
    * scan; the exact semi join runs on the pruned remainder. Nothing
    * grows but the scans.
    */
  def bloomJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wbits = 48L
    val words = 64L // m = 3072 bits, k = 2
    val mBits = words * wbits
    def pos1(x: Column) =
      avalanche(h(x, 2654435761L, 12007L), 1779033703L, 514229L) % mBits
    def pos2(x: Column) =
      avalanche(h(x, 1779033703L, 514229L), 2654435761L, 12007L) % mBits
    val keys = Tables.orders(s, dir)
      .filter($"o_orderpriority" === "1-URGENT" &&
        $"o_totalprice" > 350000.0)
      .select($"o_custkey".as("x")).distinct()
    val bloom = keys
      .select(explode(array(pos1($"x"), pos2($"x"))).as("hc"))
      .select(floor($"hc" / wbits).cast("long").as("w"),
        // 2^j as an exact double-exponent shift (the bloomFilter idiom)
        floor(pow(lit(2.0), $"hc" % wbits)).cast("long").as("bit"))
      .groupBy($"w").agg(bit_or($"bit").as("bits"))
    def hits(bits: Column, hc: Column): Column =
      pmod(floor(bits.cast("double") / pow(lit(2.0), hc % wbits))
        .cast("long"), lit(2L)) === 1L
    val probe = Tables.customer(s, dir)
      .select($"c_custkey".as("x"),
        round($"c_acctbal" * 100).cast("long").as("bal"))
      .withColumn("h1", pos1($"x")).withColumn("h2", pos2($"x"))
    // left joins: a missing bloom word means no bit set -> condition null
    // -> filtered, exactly the all-zero-word semantics
    val passed = probe
      .join(broadcast(bloom.select($"w".as("w1"), $"bits".as("bits1"))),
        floor($"h1" / wbits).cast("long") === $"w1", "left")
      .join(broadcast(bloom.select($"w".as("w2"), $"bits".as("bits2"))),
        floor($"h2" / wbits).cast("long") === $"w2", "left")
      .filter(hits($"bits1", $"h1") && hits($"bits2", $"h2"))
      .select($"x", $"bal")
    val matched = passed.join(keys, Seq("x"), "left_semi")
    val a = keys.agg(count(lit(1)).as("n_keys"))
    val b = probe.agg(count(lit(1)).as("n_probe"))
    val c = passed.agg(count(lit(1)).as("n_pass"))
    val d = matched.agg(count(lit(1)).as("n_match"),
      sum($"bal").as("bal_cents"))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(c))
      .crossJoin(broadcast(d))
      .select($"n_keys", $"n_probe", $"n_pass", $"n_match",
        ($"n_pass" - $"n_match").as("n_fp"), $"bal_cents")
  }

  val bloomJoinSql: String = {
    // the avalanched bit position as SQL, mirroring [[avalanche]] exactly:
    // affine -> xor-shift 15 -> affine -> xor-shift 13 -> mod m
    def ava(expr: String, a1: Long, b1: Long, a2: Long, b2: Long) = {
      val inner =
        s"xor(($a1 * $expr + $b1) % $M, (($a1 * $expr + $b1) % $M) >> 15)"
      val affine2 = s"($a2 * ($inner) + $b2) % $M"
      s"(xor($affine2, ($affine2) >> 13)) % 3072"
    }
    def p1(e: String) = ava(e, 2654435761L, 12007L, 1779033703L, 514229L)
    def p2(e: String) = ava(e, 1779033703L, 514229L, 2654435761L, 12007L)
    s"""WITH keys AS (
       |  SELECT DISTINCT o_custkey AS x FROM orders
       |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 350000),
       |kpos AS (
       |  SELECT ${p1("x")} AS hc FROM keys
       |  UNION ALL SELECT ${p2("x")} AS hc FROM keys),
       |bloom AS (
       |  SELECT hc // 48 AS w, bit_or(1::BIGINT << (hc % 48)::INT) AS bits
       |  FROM kpos GROUP BY 1),
       |probe AS (
       |  SELECT c_custkey AS x, round(c_acctbal * 100)::BIGINT AS bal,
       |    ${p1("c_custkey")} AS h1, ${p2("c_custkey")} AS h2
       |  FROM customer),
       |passed AS (
       |  SELECT p.x, p.bal FROM probe p
       |  JOIN bloom b1 ON p.h1 // 48 = b1.w
       |    AND ((b1.bits >> (p.h1 % 48)::INT) & 1) = 1
       |  JOIN bloom b2 ON p.h2 // 48 = b2.w
       |    AND ((b2.bits >> (p.h2 % 48)::INT) & 1) = 1),
       |matched AS (
       |  SELECT pa.x, pa.bal FROM passed pa
       |  WHERE pa.x IN (SELECT x FROM keys))
       |SELECT
       |  (SELECT count(*) FROM keys)::BIGINT AS n_keys,
       |  (SELECT count(*) FROM probe)::BIGINT AS n_probe,
       |  (SELECT count(*) FROM passed)::BIGINT AS n_pass,
       |  (SELECT count(*) FROM matched)::BIGINT AS n_match,
       |  ((SELECT count(*) FROM passed)
       |    - (SELECT count(*) FROM matched))::BIGINT AS n_fp,
       |  (SELECT sum(bal) FROM matched)::BIGINT AS bal_cents""".stripMargin
  }

  // ---- weighted (πps / Poisson) sampling ----

  /** Probability-proportional-to-size Poisson sample: doc i is kept iff
    * hash(doc_id) mod W < min(w_i, W), weight w_i = n_chars, W = 8192 —
    * inclusion probability π_i = min(w_i, W)/W ∝ weight (capped at 1),
    * the design behind size-biased corpus selection (long docs carry more
    * tokens, so an unweighted doc sample under-represents their tokens).
    * The Horvitz–Thompson estimator Σ_{sampled} w_i/π_i recovers total
    * weight, and since w_i/π_i = W exactly for uncapped docs it is
    * INTEGER-exact here (n_uncapped·W + Σ capped w_i) — reported next to
    * the exact total so the estimator's error is part of the result
    * surface, as with the other sketches. Deterministic hash: rerun,
    * repartition, and the oracle all select the same rows; one scan, one
    * map-side-combinable conditional aggregation, no shuffle beyond the
    * per-language rollup — a pipeline materializes
    * `docs.filter(hv < least(w, W))` directly.
    */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = 8192L
    val hv = (($"doc_id" * 52361L + 33023L) % M) % W
    val w = $"n_chars".cast("long")
    val kept = hv < least(w, lit(W))
    Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_total"),
        sum(w).as("exact_w"),
        sum(when(kept, 1L).otherwise(0L)).as("n_sampled"),
        sum(when(kept, when(w >= W, w).otherwise(lit(W))).otherwise(0L))
          .as("ht_est_w"))
      .orderBy($"lang")
  }

  val weightedSampleSql: String =
    s"""WITH d AS (
       |  SELECT lang, n_chars::BIGINT AS w,
       |    ((doc_id * 52361 + 33023) % $M) % 8192 AS hv
       |  FROM documents)
       |SELECT lang, count(*)::BIGINT AS n_total, sum(w)::BIGINT AS exact_w,
       |  sum(CASE WHEN hv < least(w, 8192) THEN 1 ELSE 0 END)::BIGINT
       |    AS n_sampled,
       |  sum(CASE WHEN hv < least(w, 8192)
       |           THEN (CASE WHEN w >= 8192 THEN w ELSE 8192 END)
       |           ELSE 0 END)::BIGINT AS ht_est_w
       |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  /** Tick count k shared by [[ppsSystematic]] and its SQL oracle. */
  val PpsK = 100

  /** SYSTEMATIC πps sample (Madow 1949; the fixed-size complement of the
    * Poisson πps [[weightedSample]]): k = 100 evenly-spaced ticks on the
    * cumulative-weight axis, weight = n_chars; the doc whose weight
    * interval (cum − w, cum] contains tick t·W/k is pick t. Poisson πps
    * has binomial sample-size variance; systematic πps returns k ROWS
    * OR FEWER — exactly k when no doc's weight exceeds W/k, while a
    * heavier doc absorbs every tick landing in its interval into its one
    * row (the certainty-inclusion property size-biased selection wants:
    * w > W/k is hit by ≥1 tick with certainty; PpsSpec conditions its
    * size assertion on exactly this). Integer-exact: a doc is selected
    * iff floor(cum·k/W) > floor((cum−w)·k/W); its pick index is
    * floor(cum·k/W), the LAST tick in its interval when several land
    * there. Deterministic start offset 0 — the reproducible audit form
    * of the textbook's random-start estimator, same trade as every
    * deterministic hash in this file.
    *
    * Scale: one GlobalOrder cumulative sum (range-partitioned offset
    * pass, never a single-reducer window) + one filter; output is k rows.
    */
  def ppsSystematic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", $"n_chars".cast("long").as("w"))
    val (cum, _) = GlobalOrder.cumsum(docs, Seq(col("doc_id")), col("w"),
      "cum")
    val tot = cum.agg(max($"cum").as("wt"))
    // integer floor-div via expr: Spark's `/` on longs is DOUBLE division
    cum.crossJoin(broadcast(tot))
      .filter(expr(s"cum * $PpsK div wt > (cum - w) * $PpsK div wt"))
      .select(expr(s"cum * $PpsK div wt").as("pick"), $"doc_id", $"w")
      .orderBy($"pick", $"doc_id")
  }

  val ppsSystematicSql: String =
    s"""WITH c AS (
       |  SELECT doc_id, n_chars::BIGINT AS w,
       |    sum(n_chars::BIGINT) OVER (ORDER BY doc_id) AS cum
       |  FROM documents),
       |tt AS (SELECT max(cum)::BIGINT AS wt FROM c)
       |SELECT (cum * $PpsK // wt)::BIGINT AS pick, doc_id, w
       |FROM c CROSS JOIN tt
       |WHERE cum * $PpsK // wt > (cum - w) * $PpsK // wt
       |ORDER BY pick, doc_id""".stripMargin

  /** KMV multiset algebra (Beyer et al., "On Synopses for Distinct-Value
    * Estimation Under Multiset Operations", SIGMOD 2007): distinct-count
    * estimates for the UNION and INTERSECTION of every pair of
    * `l_returnflag` part-key sets, computed purely on the per-flag KMV
    * sketches — the raw data is touched once (to build the sketches and
    * the exact-error columns), every set operation after that works on
    * ≤ k hashes per side. This is the property that matters at 100 TB:
    * cross-partition / cross-dataset overlap questions ("how many part
    * keys do these two shards share?") become sketch-sized joins.
    *
    * Union sketch = k smallest of the union of the two sketch hash sets
    * (valid because each side kept its k smallest — any hash in the true
    * union's k smallest is in one side's k smallest). est_union is the
    * same (k−1)·M/h_k estimator as [[kmvDistinct]]; est_inter = ρ ·
    * est_union with ρ = |union-sketch ∩ both-sides| / k (the paper's
    * match-fraction estimator). Exact union/intersection counts ride
    * along as the error surface, house style.
    *
    * All arithmetic is exact int64 + one floor(double) per estimate
    * (operands < 2^53, so both engines compute identical doubles).
    */
  def kmvSetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val hashes = partKeyHash(s, dir).distinct().withColumn("hneg", -$"hv")
    val kept = graft.plans.GroupedTopK(hashes,
        groupCols = Seq("grp"), orderCols = Seq("hneg", "hv"), k = 64)
      .select($"grp", $"hv")
      .pin // ≤ 64·|flags| rows; five consumers below
    // unordered flag pairs — a |flags|² cross product of two ≤3-row
    // frames, checkpointed so the tiny nested loop never re-plans
    val pairs = kept.select($"grp".as("g1")).distinct()
      .crossJoin(kept.select($"grp".as("g2")).distinct())
      .filter($"g1" < $"g2")
      .pin
    val u = pairs.join(kept.select($"grp".as("g1"), $"hv"), Seq("g1"))
      .select($"g1", $"g2", $"hv")
      .unionByName(pairs.join(kept.select($"grp".as("g2"), $"hv"), Seq("g2"))
        .select($"g1", $"g2", $"hv"))
      .distinct()
    val topu = u.withColumn("rn", row_number().over(
        Window.partitionBy($"g1", $"g2").orderBy($"hv")))
      .filter($"rn" <= 64)
      .pin // consumed by the merged agg AND the ρ join
    val merged = topu.groupBy($"g1", $"g2")
      .agg(max($"hv").as("kth_hash"), count(lit(1)).as("n_kept"))
    val both = kept.select($"grp".as("g1"), $"hv")
      .join(kept.select($"grp".as("g2"), $"hv"), Seq("hv"))
      .filter($"g1" < $"g2")
    val nBoth = topu.join(both, Seq("g1", "g2", "hv"))
      .groupBy($"g1", $"g2").agg(count(lit(1)).as("n_both"))
    // exact error surface: per-flag distinct sizes + pairwise overlap
    val fp = Tables.lineitem(s, dir)
      .select($"l_returnflag".as("g"), $"l_partkey".as("pk")).distinct()
      .pin
    val cnt = fp.groupBy($"g").agg(count(lit(1)).as("c"))
    val xInter = fp.select($"g".as("g1"), $"pk")
      .join(fp.select($"g".as("g2"), $"pk"), Seq("pk"))
      .filter($"g1" < $"g2")
      .groupBy($"g1", $"g2").agg(count(lit(1)).as("exact_inter"))
    merged
      .join(nBoth, Seq("g1", "g2"), "left")
      .withColumn("n_both", coalesce($"n_both", lit(0L)))
      .withColumn("est_union",
        floor(($"n_kept" - 1).cast("double") * lit(M.toDouble)
          / $"kth_hash".cast("double")).cast("long"))
      .withColumn("est_inter",
        floor($"n_both".cast("double") * $"est_union".cast("double")
          / $"n_kept".cast("double")).cast("long"))
      .join(xInter, Seq("g1", "g2"), "left")
      .withColumn("exact_inter", coalesce($"exact_inter", lit(0L)))
      .join(cnt.select($"g".as("g1"), $"c".as("c1")), Seq("g1"))
      .join(cnt.select($"g".as("g2"), $"c".as("c2")), Seq("g2"))
      .withColumn("exact_union", $"c1" + $"c2" - $"exact_inter")
      .select($"g1", $"g2", $"n_kept", $"kth_hash", $"n_both",
        $"est_union", $"est_inter", $"exact_union", $"exact_inter")
      .orderBy($"g1", $"g2")
  }

  val kmvSetOpsSql: String =
    s"""WITH hs AS (
       |  SELECT DISTINCT l_returnflag AS grp,
       |    (2654435761 * l_partkey + 12007) % $M AS hv
       |  FROM lineitem),
       |r AS (
       |  SELECT grp, hv,
       |    row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
       |  FROM hs),
       |kept AS (SELECT grp, hv FROM r WHERE rn <= 64),
       |prs AS (
       |  SELECT a.grp AS g1, b.grp AS g2
       |  FROM (SELECT DISTINCT grp FROM kept) a
       |  JOIN (SELECT DISTINCT grp FROM kept) b ON a.grp < b.grp),
       |u AS (
       |  SELECT DISTINCT p.g1, p.g2, k.hv
       |  FROM prs p JOIN kept k ON k.grp = p.g1 OR k.grp = p.g2),
       |tu AS (
       |  SELECT g1, g2, hv,
       |    row_number() OVER (PARTITION BY g1, g2 ORDER BY hv) AS rn
       |  FROM u),
       |mg AS (
       |  SELECT g1, g2, max(hv)::BIGINT AS kth_hash,
       |    count(*)::BIGINT AS n_kept
       |  FROM tu WHERE rn <= 64 GROUP BY 1, 2),
       |bt AS (
       |  SELECT a.grp AS g1, b.grp AS g2, a.hv
       |  FROM kept a JOIN kept b ON a.hv = b.hv AND a.grp < b.grp),
       |nb AS (
       |  SELECT t.g1, t.g2, count(*)::BIGINT AS n_both
       |  FROM tu t JOIN bt ON t.g1 = bt.g1 AND t.g2 = bt.g2 AND t.hv = bt.hv
       |  WHERE t.rn <= 64 GROUP BY 1, 2),
       |fp AS (SELECT DISTINCT l_returnflag AS g, l_partkey AS pk
       |       FROM lineitem),
       |cnt AS (SELECT g, count(*)::BIGINT AS c FROM fp GROUP BY g),
       |xin AS (
       |  SELECT a.g AS g1, b.g AS g2, count(*)::BIGINT AS exact_inter
       |  FROM fp a JOIN fp b ON a.pk = b.pk AND a.g < b.g GROUP BY 1, 2),
       |est AS (
       |  SELECT m.g1, m.g2, m.n_kept, m.kth_hash,
       |    coalesce(nb.n_both, 0)::BIGINT AS n_both,
       |    floor((m.n_kept - 1)::DOUBLE * $M::DOUBLE
       |      / m.kth_hash::DOUBLE)::BIGINT AS est_union
       |  FROM mg m LEFT JOIN nb ON m.g1 = nb.g1 AND m.g2 = nb.g2)
       |SELECT e.g1, e.g2, e.n_kept, e.kth_hash, e.n_both, e.est_union,
       |  floor(e.n_both::DOUBLE * e.est_union::DOUBLE
       |    / e.n_kept::DOUBLE)::BIGINT AS est_inter,
       |  (c1.c + c2.c - coalesce(x.exact_inter, 0))::BIGINT AS exact_union,
       |  coalesce(x.exact_inter, 0)::BIGINT AS exact_inter
       |FROM est e
       |LEFT JOIN xin x ON e.g1 = x.g1 AND e.g2 = x.g2
       |JOIN cnt c1 ON e.g1 = c1.g
       |JOIN cnt c2 ON e.g2 = c2.g
       |ORDER BY e.g1, e.g2""".stripMargin

  /** Alpha-sampling (temperature-scaled language rebalancing, the
    * multilingual mixing knob of Conneau & Lample's XLM / mBERT lineage):
    * sample languages proportional to n^α with α = 1/2 instead of their
    * natural share, upweighting low-resource languages. α = 1/2 is chosen
    * BECAUSE it has an exact integer form — weight = ⌊√n⌋ (isqrt: one
    * correctly-rounded IEEE sqrt + floor, identical in both engines) — so
    * the whole mixture, including the achievable-total bound and per-lang
    * permille rates, stays bit-reproducible. Same deterministic
    * hash-threshold materialization as the other samplers (rerun- and
    * partition-stable); the rate table is |langs| rows on a broadcast.
    */
  def alphaSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select(
      $"doc_id", $"lang",
      (($"doc_id" * 52361L + $"n_chars" * 12289L) % M % 1000L).as("hv"))
    val counts = docs.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("weight", floor(sqrt($"n_docs".cast("double"))).cast("long"))
    // clamped to ≥ 1‰: a language whose ⌊√n⌋ weight is under 1/1000 of
    // the total (reachable on corpora with many languages) would floor to
    // 0 and the achievable-total division below would hit divide-by-zero
    // — NULL under Spark's non-ANSI division but an ERROR under DuckDB's
    // `//`, so the engines would diverge instead of degrading. The clamp
    // (mirrored in the oracle SQL) means every language retains at least
    // a 1‰ target share.
    val rates = counts
      .withColumn("target_pm",
        greatest(floor($"weight" * 1000L
          / sum($"weight").over(Window.partitionBy())).cast("long"), lit(1L)))
      // largest total sample for which every language can fill its share
      // from its own docs (rates stay ≤ 1000‰) — the same achievable-
      // total bound the domain-mixture sampler uses
      .withColumn("t_total",
        min(floor($"n_docs" * 1000L / $"target_pm"))
          .over(Window.partitionBy()))
      .withColumn("quota_docs", floor($"t_total" * $"target_pm" / 1000L))
      .withColumn("rate_pm", floor($"quota_docs" * 1000L / $"n_docs"))
      .select($"lang", $"n_docs", $"weight", $"target_pm", $"quota_docs",
        $"rate_pm")
    docs.join(broadcast(rates), Seq("lang"))
      .groupBy($"lang")
      .agg(min($"n_docs").as("n_docs"),
        min($"weight").as("weight"),
        min($"target_pm").as("target_pm"),
        min($"quota_docs").as("quota_docs"),
        min($"rate_pm").as("rate_pm"),
        sum(when($"hv" < $"rate_pm", 1L).otherwise(0L)).as("docs_sampled"))
      .orderBy($"lang")
  }

  val alphaSampleSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, lang,
       |    (doc_id * 52361 + n_chars * 12289) % $M % 1000 AS hv
       |  FROM documents),
       |c AS (
       |  SELECT lang, count(*)::BIGINT AS n_docs,
       |    floor(sqrt(count(*)::DOUBLE))::BIGINT AS weight
       |  FROM docs GROUP BY lang),
       |r AS (
       |  SELECT lang, n_docs, weight,
       |    greatest((weight * 1000 // sum(weight) OVER ())::BIGINT, 1)
       |      AS target_pm
       |  FROM c),
       |t AS (
       |  SELECT *, min(n_docs * 1000 // target_pm) OVER ()::BIGINT AS t_total
       |  FROM r),
       |q AS (
       |  SELECT lang, n_docs, weight, target_pm,
       |    (t_total * target_pm // 1000)::BIGINT AS quota_docs,
       |    ((t_total * target_pm // 1000) * 1000 // n_docs)::BIGINT AS rate_pm
       |  FROM t)
       |SELECT q.lang, q.n_docs, q.weight, q.target_pm, q.quota_docs,
       |  q.rate_pm,
       |  sum(CASE WHEN d.hv < q.rate_pm THEN 1 ELSE 0 END)::BIGINT
       |    AS docs_sampled
       |FROM q JOIN docs d ON q.lang = d.lang
       |GROUP BY 1, 2, 3, 4, 5, 6
       |ORDER BY q.lang""".stripMargin

  /** Per-domain document cap — the crawl-curation rule (C4/RefinedWeb
    * style) that stops any single domain from dominating the corpus: each
    * source keeps at most `cap` documents, best-first (longest text, then
    * doc_id — a deterministic quality proxy on the synthetic corpus; a
    * production run swaps in the [[graft.operators.TextOps]] quality
    * score, the ordering machinery is identical). Emits the full per-doc
    * manifest (rank within source + kept flag), not just survivors, so
    * downstream audits can see WHY a document dropped.
    *
    * Scale: one source-keyed shuffle; the per-source row_number ≤ cap is
    * exactly the [[graft.plans.GroupedTopKRewrite]] bounded-heap shape, so
    * a 10M-page domain never sorts its full posting — and the rank
    * column doubles as the cap-utilization histogram input.
    */
  def domainCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"source").orderBy($"n_chars".desc, $"doc_id")))
      .withColumn("kept", when($"rnk" <= 10, 1L).otherwise(0L))
      .select($"doc_id", $"source", $"n_chars", $"rnk".cast("long").as("rnk"),
        $"kept")
      .orderBy($"doc_id")
  }

  val domainCapSql: String =
    """WITH ranked AS (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id)::BIGINT AS rnk
      |  FROM documents)
      |SELECT doc_id, source, n_chars, rnk,
      |  (CASE WHEN rnk <= 10 THEN 1 ELSE 0 END)::BIGINT AS kept
      |FROM ranked ORDER BY doc_id""".stripMargin

  /** Token-balanced SHARD ASSIGNMENT — the training-data packaging step:
    * order the corpus by a deterministic hash (a seeded global shuffle,
    * reproducible across reruns/engines — no RNG state), run a token
    * prefix sum over that order, and cut shards every `target` tokens
    * (a doc belongs to the shard its starting offset falls in). Output is
    * the per-shard manifest (doc/token counts, id range) a dataloader
    * fleet consumes — near-equal token shards mean near-equal step times
    * across data-parallel workers.
    *
    * Scale: the prefix sum runs as the standard two-pass form
    * ([[GlobalOrder.cumsum]]) — hash-order `repartitionByRange`,
    * per-partition token sums, a partitions-sized offset table broadcast
    * back, per-partition local cumsum + offset. No unpartitioned window
    * anywhere; identical output to the single-window form by
    * construction. Everything is exact int64, so shard boundaries are
    * bit-stable.
    */
  def shardAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val target = 2000L
    val docs = Tables.documents(s, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("toks"))
      .withColumn("hh", h($"doc_id", 52361L, 12007L))
    val (withCum, _) =
      GlobalOrder.cumsum(docs, Seq($"hh", $"doc_id"), $"toks", "cum")
    val assigned = withCum
      .withColumn("shard_id", expr(s"(cum - toks) div $target"))
    assigned.groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("shard_tokens"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .orderBy($"shard_id")
  }

  val shardAssignSql: String =
    """WITH docs AS (
      |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS toks,
      |    (52361 * doc_id + 12007) % 2147483647 AS hh
      |  FROM documents),
      |assigned AS (
      |  SELECT doc_id, toks,
      |    ((sum(toks) OVER (ORDER BY hh, doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks)
      |     // 2000)::BIGINT AS shard_id
      |  FROM docs)
      |SELECT shard_id, count(*)::BIGINT AS n_docs,
      |  sum(toks)::BIGINT AS shard_tokens,
      |  min(doc_id)::BIGINT AS min_doc, max(doc_id)::BIGINT AS max_doc
      |FROM assigned GROUP BY shard_id ORDER BY shard_id""".stripMargin

  /** Windowed HLL: distinct users per DAY via the same deterministic
    * 64-register HyperLogLog as [[hllDistinct]] — the "sketches meet
    * windows" operator a monitoring pipeline materializes: per-window
    * register blocks are MERGEABLE (max per register), so daily blocks
    * roll up to weekly/monthly distincts without rescanning events, and
    * a streaming job maintains them incrementally (max is order- and
    * dedup-insensitive). Estimate + zero-register count + exact distinct
    * ride together, same contract as the global sketch.
    *
    * Scale: one map-side-combinable agg keyed (day, register) — state is
    * days × 64 rows regardless of event volume.
    */
  def hllDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(date_format($"ts", "yyyy-MM-dd").as("day"), $"user_id")
    val regs = ev
      .select($"day", hllHash($"user_id").as("hv"))
      .select($"day", ($"hv" % 64L).as("j"),
        floor($"hv" / 64L).cast("long").as("w"))
      .withColumn("rho",
        when($"w" === 0L, lit(26)).otherwise(lit(26) - length(bin($"w"))))
      .groupBy($"day", $"j").agg(max($"rho").as("mx"))
    val full = regs.select($"day").distinct()
      .select($"day", explode(sequence(lit(0), lit(63))).as("j"))
      .join(regs, Seq("day", "j"), "left")
      .withColumn("mx", coalesce($"mx", lit(0)))
    val est = full.groupBy($"day")
      .agg(sum(when($"mx" === 0, 1L).otherwise(0L)).as("n_zero"),
        sum(pow(lit(2.0), -$"mx")).as("ssum"))
      .select($"day", $"n_zero",
        floor(lit(0.709) * lit(4096.0) / $"ssum").cast("long").as("est_hll"))
    val exact = ev.groupBy($"day")
      .agg(countDistinct($"user_id").as("exact_distinct"))
    est.join(exact, Seq("day")).orderBy($"day")
  }

  val hllDailySql: String =
    s"""WITH ev AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events),
       |h1 AS (
       |  SELECT day, user_id,
       |    xor((2654435761 * user_id + 12007) % $M,
       |        ((2654435761 * user_id + 12007) % $M) >> 15) AS y1
       |  FROM ev),
       |hs AS (
       |  SELECT day,
       |    xor((1779033703 * y1 + 514229) % $M,
       |        ((1779033703 * y1 + 514229) % $M) >> 13) AS hv
       |  FROM h1),
       |rj AS (
       |  SELECT day, hv % 64 AS j,
       |    CASE WHEN hv // 64 = 0 THEN 26
       |         ELSE 26 - length(bin(hv // 64)) END AS rho
       |  FROM hs),
       |regs AS (SELECT day, j, max(rho) AS mx FROM rj GROUP BY day, j),
       |filled AS (
       |  SELECT g.day, u.j, coalesce(regs.mx, 0) AS mx
       |  FROM (SELECT DISTINCT day FROM hs) g
       |  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) u
       |  LEFT JOIN regs ON regs.day = g.day AND regs.j = u.j),
       |est AS (
       |  SELECT day,
       |    sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
       |    floor(0.709::DOUBLE * 4096::DOUBLE
       |          / sum(pow(2.0::DOUBLE, -mx)))::BIGINT AS est_hll
       |  FROM filled GROUP BY day)
       |SELECT est.day, n_zero, est_hll, x.exact_distinct
       |FROM est JOIN (
       |  SELECT day, count(DISTINCT user_id)::BIGINT AS exact_distinct
       |  FROM ev GROUP BY day) x ON est.day = x.day
       |ORDER BY est.day""".stripMargin

  /** Deterministic fixed-size per-group sample — the reservoir-sampling
    * equivalent with no RNG state: keep the k = 20 documents with the
    * SMALLEST hash per language. Bottom-k-by-hash over a uniform hash IS
    * a uniform k-subset (any k-subset is equally likely over the hash
    * randomness), and unlike a sequential reservoir it is MERGEABLE
    * (bottom-k of a union = bottom-k of the two bottom-ks) and stable
    * across reruns, partitionings, and engines — the property that makes
    * eval-set draws reproducible. The window's `row_number() <= k` shape
    * is exactly what the engine's TopKRewrite turns into the bounded-heap
    * GroupedTopK physical operator (no full sort, O(k) state per group) —
    * the rank column is deliberately NOT projected, which is the rewrite's
    * applicability condition (the heap doesn't materialize ranks; the
    * (hh, doc_id) sort key already orders the members).
    */
  def reservoirSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", h($"doc_id", 84631L, 24001L).as("hh"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"lang").orderBy($"hh", $"doc_id")))
      .filter($"rk" <= 20)
      .select($"lang", $"doc_id", $"hh")
      .orderBy($"lang", $"hh", $"doc_id")
  }

  val reservoirSampleSql: String =
    """WITH hashed AS (
      |  SELECT doc_id, lang,
      |    (84631 * doc_id + 24001) % 2147483647 AS hh
      |  FROM documents),
      |ranked AS (
      |  SELECT lang, doc_id, hh,
      |    row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rk
      |  FROM hashed)
      |SELECT lang, doc_id, hh FROM ranked
      |WHERE rk <= 20 ORDER BY lang, hh, doc_id""".stripMargin

  /** Epoch-mix planning under data constraint (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models": repeating data up to ~4
    * epochs retains most of its value, beyond that returns decay): given
    * a token budget of 2× the corpus and a UNIFORM per-source mixing
    * target, compute each source's repeat factor — epochs =
    * ⌈target/avail⌉ capped at 4 — and the effective tokens it can
    * actually contribute (min(target, 4·avail)), with the unfillable
    * deficit made explicit. This is the planning table a data-constrained
    * pretraining run reads to decide which sources repeat and where the
    * mixture falls short; all arithmetic is exact integer (ceil division
    * as (t + a − 1) / a).
    *
    * Scale: one mergeable token-count aggregation over documents, then
    * everything runs on the |sources|-row frame against a 1-row broadcast
    * totals aggregate.
    */
  def epochMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = Tables.documents(s, dir)
      .select($"source", size(split($"text", " ")).cast("long").as("t"))
      .groupBy($"source").agg(sum($"t").as("avail_tokens"))
    val tot = per.agg(sum($"avail_tokens").as("total"),
      count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        floor(lit(2L) * $"total" / $"n_sources").cast("long"))
      .withColumn("epochs",
        least(lit(4L), floor(($"target_tokens" + $"avail_tokens" - 1L)
          / $"avail_tokens").cast("long")))
      .withColumn("effective_tokens",
        least($"target_tokens", lit(4L) * $"avail_tokens"))
      .withColumn("deficit", $"target_tokens" - $"effective_tokens")
      .select($"source", $"avail_tokens", $"target_tokens", $"epochs",
        $"effective_tokens", $"deficit")
      .orderBy($"source")
  }

  val epochMixSql: String =
    """WITH per AS (
      |  SELECT source,
      |    sum(len(string_split(text, ' ')))::BIGINT AS avail_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT sum(avail_tokens)::BIGINT AS total,
      |               count(*)::BIGINT AS n_sources FROM per)
      |SELECT source, avail_tokens,
      |  (2 * total // n_sources)::BIGINT AS target_tokens,
      |  least(4, (2 * total // n_sources + avail_tokens - 1)
      |    // avail_tokens)::BIGINT AS epochs,
      |  least((2 * total // n_sources)::BIGINT,
      |        4 * avail_tokens)::BIGINT AS effective_tokens,
      |  ((2 * total // n_sources)
      |    - least((2 * total // n_sources)::BIGINT,
      |            4 * avail_tokens))::BIGINT AS deficit
      |FROM per CROSS JOIN tot ORDER BY source""".stripMargin

  /** Mixing-temperature SWEEP: the per-language target shares at α = 1
    * (natural), α = ½ (the [[alphaSample]] deployment value) and α = ¼
    * (aggressive rebalancing), all in one query — the table a
    * multilingual recipe reads to CHOOSE its temperature, not just apply
    * one. Exact-integer weights at every temperature: n, ⌊√n⌋, and
    * ⌊⁴√n⌋ = ⌊√⌊√n⌋⌋ (the nested-isqrt identity), with the same ≥1‰
    * clamp as the shipped sampler so no language's share floors to zero.
    *
    * Scale: one mergeable language count, then everything runs on the
    * 3·|langs|-row frame (the [[graft.operators.TextOps.thresholdCurve]]
    * / lshTuning one-pass-many-configs discipline).
    */
  def temperatureSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, dir)
      .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
    val isqrt = floor(sqrt($"n_docs".cast("double"))).cast("long")
    val i4rt = floor(sqrt(floor(sqrt($"n_docs".cast("double"))))).cast("long")
    counts.select($"lang", $"n_docs", explode(array(
        struct(lit(1000L).as("alpha_pm"), $"n_docs".as("w")),
        struct(lit(500L).as("alpha_pm"), isqrt.as("w")),
        struct(lit(250L).as("alpha_pm"), i4rt.as("w")))).as("e"))
      .select($"lang", $"n_docs", $"e.alpha_pm".as("alpha_pm"),
        $"e.w".as("weight"))
      .withColumn("target_pm",
        greatest(floor($"weight" * 1000L
          / sum($"weight").over(Window.partitionBy($"alpha_pm")))
          .cast("long"), lit(1L)))
      .orderBy($"alpha_pm", $"lang")
  }

  val temperatureSweepSql: String =
    """WITH c AS (
      |  SELECT lang, count(*)::BIGINT AS n_docs FROM documents
      |  GROUP BY lang),
      |w AS (
      |  SELECT lang, n_docs, 1000::BIGINT AS alpha_pm, n_docs AS weight
      |  FROM c
      |  UNION ALL
      |  SELECT lang, n_docs, 500, floor(sqrt(n_docs::DOUBLE))::BIGINT
      |  FROM c
      |  UNION ALL
      |  SELECT lang, n_docs, 250,
      |    floor(sqrt(floor(sqrt(n_docs::DOUBLE))))::BIGINT
      |  FROM c)
      |SELECT lang, n_docs, alpha_pm, weight,
      |  greatest((weight * 1000 // sum(weight)
      |    OVER (PARTITION BY alpha_pm))::BIGINT, 1) AS target_pm
      |FROM w ORDER BY alpha_pm, lang""".stripMargin

  /** HLL register-count SWEEP: the distinct-users estimate at m ∈
    * {16, 64, 256} registers in one pass, each with its exact error in
    * permille — the precision/memory table read before fixing a sketch
    * budget (the standard-error law is 1.04/√m: ×4 registers should
    * roughly halve the error, and this query shows whether it does on
    * the real key distribution). Measured at sf0.1 (1500 users): err_pm
    * 98 → 94 → 90 for m = 16 → 64 → 256 — the error PLATEAUS instead of
    * halving, i.e. past m = 16 this sketch is limited by the 31-bit
    * modular hash's uniformity, not register count. Exactly the finding
    * the sweep exists to surface: buying registers past the hash-quality
    * floor is wasted memory (a production deployment upgrades to a
    * 64-bit hash first). Same avalanched hash and bias constants
    * as [[hllDistinct]] (α₁₆ = 0.673, α₆₄ = 0.709, α₂₅₆ = 0.7213 /
    * (1 + 1.079/256) — evaluated identically in both engines), so every
    * register and estimate is bit-reproducible.
    *
    * Scale: one hash pass fans each key into 3 (m, register) rows (the
    * one-pass-many-configs discipline); register state is Σm = 336
    * cells; the exact count rides along as a 1-row broadcast.
    */
  def hllSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hv = Tables.events(s, dir)
      .select($"user_id").distinct()
      .select($"user_id", hllHash($"user_id").as("hv"))
      .pin // register fan-out + the exact count
    val exact = hv.agg(count(lit(1)).as("exact_distinct"))
    val ms = Seq(16, 64, 256)
    val regs = hv.select(explode(array(ms.map(m =>
        struct(lit(m.toLong).as("m"), ($"hv" % m).as("j"),
          floor($"hv" / m).cast("long").as("w"))): _*)).as("e"))
      .select($"e.m".as("m"), $"e.j".as("j"), $"e.w".as("w"))
      .withColumn("kbits",
        when($"m" === 16L, 28).when($"m" === 64L, 26).otherwise(24))
      .withColumn("rho",
        when($"w" === 0L, $"kbits")
          .otherwise($"kbits" - length(bin($"w"))))
      .groupBy($"m", $"j").agg(max($"rho").as("mx"))
    val filled = regs.select($"m").distinct()
      .select($"m", explode(sequence(lit(0L), $"m" - 1L)).as("j"))
      .join(regs, Seq("m", "j"), "left")
      .withColumn("mx", coalesce($"mx", lit(0)))
    val alpha = when($"m" === 16L, lit(0.673))
      .when($"m" === 64L, lit(0.709))
      .otherwise(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)))
    filled.groupBy($"m")
      .agg(sum(when($"mx" === 0, 1L).otherwise(0L)).as("n_zero"),
        sum(pow(lit(2.0), -$"mx")).as("ssum"))
      .select($"m", $"n_zero",
        floor(alpha * ($"m" * $"m").cast("double") / $"ssum")
          .cast("long").as("est_hll"))
      .crossJoin(broadcast(exact))
      .withColumn("err_pm",
        floor(abs($"est_hll" - $"exact_distinct") * 1000L
          / $"exact_distinct").cast("long"))
      .orderBy($"m")
  }

  val hllSweepSql: String =
    s"""WITH du AS (SELECT DISTINCT user_id FROM events),
       |h1 AS (
       |  SELECT user_id,
       |    xor((2654435761 * user_id + 12007) % $M,
       |        ((2654435761 * user_id + 12007) % $M) >> 15) AS y1
       |  FROM du),
       |hs AS (
       |  SELECT xor((1779033703 * y1 + 514229) % $M,
       |             ((1779033703 * y1 + 514229) % $M) >> 13) AS hv
       |  FROM h1),
       |ex AS (SELECT count(*)::BIGINT AS exact_distinct FROM hs),
       |fan AS (
       |  SELECT ms.m, hv % ms.m AS j, hv // ms.m AS w,
       |    CASE ms.m WHEN 16 THEN 28 WHEN 64 THEN 26 ELSE 24 END AS kbits
       |  FROM hs CROSS JOIN (VALUES (16), (64), (256)) ms(m)),
       |regs AS (
       |  SELECT m, j,
       |    max(CASE WHEN w = 0 THEN kbits
       |             ELSE kbits - length(bin(w)) END) AS mx
       |  FROM fan GROUP BY m, j),
       |filled AS (
       |  SELECT g.m, u.j, coalesce(regs.mx, 0) AS mx
       |  FROM (SELECT DISTINCT m FROM fan) g
       |  CROSS JOIN (SELECT unnest(range(0, 256)) AS j) u
       |  LEFT JOIN regs ON regs.m = g.m AND regs.j = u.j
       |  WHERE u.j < g.m),
       |est AS (
       |  SELECT m::BIGINT AS m,
       |    sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
       |    floor((CASE m WHEN 16 THEN 0.673 WHEN 64 THEN 0.709
       |           ELSE 0.7213 / (1.0 + 1.079 / 256.0) END)
       |          * (m * m)::DOUBLE
       |          / sum(pow(2.0::DOUBLE, -mx)))::BIGINT AS est_hll
       |  FROM filled GROUP BY m)
       |SELECT est.m, est.n_zero, est.est_hll, ex.exact_distinct,
       |  (abs(est.est_hll - ex.exact_distinct) * 1000
       |    // ex.exact_distinct)::BIGINT AS err_pm
       |FROM est CROSS JOIN ex ORDER BY m""".stripMargin

  // ---- Exact heavy hitters via a Misra–Gries candidate pass ----

  /** Exact φ-heavy hitters (φ = 1/(k+1), k = 64) over the corpus token
    * stream, computed WITHOUT an unbounded exact GROUP BY: pass 1 is one
    * [[graft.functions.MisraGries]] aggregation — O(k) state per task,
    * map-side combinable, candidate set provably ⊇ every token with
    * frequency > N/(k+1) under any partitioning (Agarwal et al., PODS
    * 2012) — and pass 2 recounts ONLY the ≤ k candidates (a broadcast
    * join against the token stream) and applies the exact threshold
    * `cnt·(k+1) > N` in integer arithmetic. The output is therefore
    * bit-identical to the full exact GROUP BY the oracle runs, while the
    * engine never materializes more than k counters per task plus one
    * ≤ k-row broadcast — the standard two-pass shape for "top tokens /
    * domains / URLs" over a 100 TB corpus whose key cardinality (billions
    * of distinct n-grams) makes the exact one-pass GROUP BY the
    * bottleneck shuffle.
    *
    * N and the sketch ride ONE aggregation (single scan), so no scalar
    * cross-join is needed: the 1-row (n, mg) frame explodes into the
    * candidate frame that both carries the threshold and keys the
    * recount join.
    */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 64
    val toks = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("w"))
    val cand = toks
      .agg(count(lit(1)).as("n"),
        graft.functions.MisraGries.misraGries($"w", k).as("mg"))
      .select($"n", explode(map_keys($"mg")).as("w"))
    toks.join(broadcast(cand), Seq("w"))
      .groupBy($"w")
      .agg(count(lit(1)).as("cnt"), min($"n").as("n"))
      .filter($"cnt" * (k + 1) > $"n")
      .select($"w", $"cnt")
      .orderBy($"cnt".desc, $"w")
  }

  val heavyHittersSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |tot AS (SELECT count(*) AS n FROM toks)
      |SELECT w, count(*)::BIGINT AS cnt
      |FROM toks, tot
      |GROUP BY w, n
      |HAVING count(*) * 65 > n
      |ORDER BY cnt DESC, w""".stripMargin

  /** Sketch size k shared by [[kmvIntersect]] and its SQL oracle. */
  val KmvK = 256

  /** KMV / theta-sketch INTERSECTION estimate (Bar-Yossef et al. 2002's
    * k-minimum-values cardinality sketch; Beyer et al. SIGMOD'07 for the
    * multi-set estimators; the Apache DataSketches theta form): the set-
    * EXPRESSION member of the sketch battery — HLL ([[hllSweep]],
    * ev_hll_daily) unions beautifully but cannot intersect (its registers
    * carry no sample to intersect); KMV keeps the k smallest element
    * hashes as an actual uniform SAMPLE of each set, so A∩B is estimated
    * from the retained values themselves: θ = k-th smallest hash of the
    * merged sketch, every retained hash < θ is a uniform 1/(M/θ) sample
    * of A∪B, and est(X) = |sample ∩ X|·M div θ. Here A / B are the
    * tokenCode vocabularies of the even / odd doc_id halves (the element
    * domain is the code digest, identical in both engines; code
    * collisions fold identically on both sides). All integer: h(code) =
    * code·48271 mod (2³¹−1) (Lehmer mixing, product < 2⁵⁰), θ and the
    * estimates are int64 divisions.
    *
    * Scale: per side one distinct + a TOP-K-BY-HASH (TakeOrderedAndProject
    * — k rows to the driver-side heap per partition, never a global
    * sort); the merge/θ/intersection arithmetic runs on ≤2k rows. The
    * sketches are mergeable by construction (union-of-sketches re-min'd)
    * — the property that lets every shard sketch independently at 100 TB.
    */
  def kmvIntersect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = Tables.documents(s, dir)
      .select(($"doc_id" % 2L === 0L).as("sidea"),
        explode(split($"text", " ")).as("w"))
      .select($"sidea", (Fingerprint.tokenCode($"w") * 48271L % 2147483647L)
        .as("h"))
      .distinct().pin // both side filters read it
    val skA = h.filter($"sidea").select($"h").orderBy($"h").limit(KmvK)
      .pin // union + the common join
    val skB = h.filter(!$"sidea").select($"h").orderBy($"h").limit(KmvK)
      .pin
    val uni = skA.unionByName(skB).distinct().orderBy($"h").limit(KmvK)
      .pin // theta agg + the support restriction
    val theta = uni.agg(max($"h").as("theta"), count(lit(1)).as("ku"))
    val cAgg = skA.join(skB, Seq("h")).join(uni, Seq("h"))
      .agg(count(lit(1)).as("c"))
    // Unsaturated sketch (ku < k): the union sketch holds EVERY distinct
    // hash, so the exact cardinality ku is known — emit it instead of the
    // noisy (ku-1)·M/θ extrapolation, as DataSketches theta does (r15
    // ADVICE). Saturated path unchanged.
    theta.crossJoin(broadcast(cAgg))
      .select($"ku".as("k"), $"theta",
        when($"ku" < KmvK, $"ku")
          .otherwise(expr("(ku - 1) * 2147483647 div theta"))
          .as("est_union"),
        when($"ku" < KmvK, $"c")
          .otherwise(expr("c * 2147483647 div theta"))
          .as("est_inter"),
        $"c".as("common_in_sketch"))
  }

  /** Mergeable QUANTILE sketch (fixed-grid equi-width histogram; the
    * integer-exact member of the Greenwald–Khanna/KLL family — VERDICT
    * r15 #5): the one summary statistic the sketch battery (KMV / HLL /
    * CMS / Bloom / Misra-Gries) lacked. `q29_quantile_histogram` computes
    * EXACT percentiles — a full-shuffle sort wall at 100 TB; this sketch
    * answers the same question in ONE map-side-combinable aggregation
    * with error bounded by the grid width.
    *
    * Construction: prices in integer cents bucketed on a FIXED grid
    * (`b = cents div width`, width 8192 cents ≈ $82); the per-bucket
    * count histogram is the sketch. It is mergeable BY CONSTRUCTION —
    * two shards' histograms merge by summing per-bucket counts (a plain
    * `groupBy(b).sum`), exactly the partial-aggregate path Spark already
    * runs map-side, so 1000 executors each sketch locally and the merge
    * is one tiny shuffle of ≤|grid| rows per executor. The quantile
    * readout walks the ≤|grid|-row cumulative histogram: est(q) = upper
    * edge of the first bucket whose cumulative count reaches ⌈q·n⌉
    * (integer form: 1000·cum ≥ pm·n), giving exact ≤ est ≤ exact+width
    * — a deterministic error bound proven in QuantileSketchSpec against
    * the exact sort, NOT a probabilistic one, and hash-reproducible in
    * DuckDB (unlike Spark's own approx_percentile, whose merge order is
    * engine-private).
    *
    * Scale: the corpus-sized pass is one groupBy over a grid whose size
    * is range/width (configuration-sized, ~1.3k buckets for TPC-H
    * prices) — map-side combine collapses each partition to ≤|grid|
    * rows before the exchange. The cumulative window is global-ordered
    * but over the BOUNDED grid frame (PlanGuard bounded-window entry),
    * never the corpus.
    */
  def quantileSketch(s: SparkSession, dir: String,
                     width: Long = 8192L): DataFrame = {
    import s.implicits._
    val histo = Tables.lineitem(s, dir)
      .select(round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy(expr(s"cents div $width").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"b")
    val cum = histo.select($"b", sum($"cnt").over(w).as("cum")).pin
    val n = cum.agg(max($"cum").as("n"))
    val pms = Seq(250L, 500L, 750L, 900L, 990L).toDF("pm")
    cum.crossJoin(broadcast(n)).crossJoin(broadcast(pms))
      .filter($"cum" * 1000L >= $"pm" * $"n") // cum >= ceil(pm*n/1000)
      .groupBy($"pm")
      .agg(min($"b").as("bucket"), max($"n").as("n"))
      .select($"pm", $"bucket",
        (($"bucket" + 1L) * width).as("est_cents"), $"n")
      .orderBy($"pm")
  }

  val quantileSketchSql: String =
    """WITH cents AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem),
      |histo AS (
      |  SELECT cents // 8192 AS b, count(*)::BIGINT AS cnt
      |  FROM cents GROUP BY 1),
      |cum AS (
      |  SELECT b, sum(cnt) OVER (ORDER BY b)::BIGINT AS cum FROM histo),
      |n AS (SELECT max(cum)::BIGINT AS n FROM cum),
      |q AS (SELECT pm::BIGINT AS pm
      |      FROM (VALUES (250),(500),(750),(900),(990)) t(pm))
      |SELECT pm, min(b)::BIGINT AS bucket,
      |  ((min(b) + 1) * 8192)::BIGINT AS est_cents,
      |  max(n)::BIGINT AS n
      |FROM cum CROSS JOIN n CROSS JOIN q
      |WHERE cum * 1000 >= pm * n
      |GROUP BY pm
      |ORDER BY pm""".stripMargin

  val kmvIntersectSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id % 2 = 0 AS sidea,
       |         unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |h AS (
       |  SELECT DISTINCT sidea,
       |    (${Fingerprint.tokenCodeSql} * 48271 % 2147483647)
       |      AS h
       |  FROM tok),
       |ska AS (SELECT h FROM h WHERE sidea ORDER BY h LIMIT $KmvK),
       |skb AS (SELECT h FROM h WHERE NOT sidea ORDER BY h LIMIT $KmvK),
       |uni AS (SELECT DISTINCT h FROM (SELECT h FROM ska
       |        UNION ALL SELECT h FROM skb) z ORDER BY h LIMIT $KmvK),
       |th AS (SELECT max(h)::BIGINT AS theta, count(*)::BIGINT AS ku
       |       FROM uni),
       |cm AS (SELECT count(*)::BIGINT AS c
       |       FROM ska JOIN skb USING (h) JOIN uni USING (h))
       |SELECT ku AS k, theta,
       |  (CASE WHEN ku < $KmvK THEN ku
       |        ELSE (ku - 1) * 2147483647 // theta END)::BIGINT
       |    AS est_union,
       |  (CASE WHEN ku < $KmvK THEN c
       |        ELSE c * 2147483647 // theta END)::BIGINT AS est_inter,
       |  c AS common_in_sketch
       |FROM th, cm""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_kmv_intersect" -> kmvIntersect _,
    "sketch_quantile" ->
      ((s: SparkSession, dir: String) => quantileSketch(s, dir)),
    "freq_heavy_hitters" -> heavyHitters _,
    "sketch_hll_sweep" -> hllSweep _,
    "sample_temperature_sweep" -> temperatureSweep _,
    "sample_epoch_mix" -> epochMix _,
    "ev_hll_daily" -> hllDaily _,
    "sample_reservoir" -> reservoirSample _,
    "sample_shard_assign" -> shardAssign _,
    "sample_domain_cap" -> domainCap _,
    "sample_alpha" -> alphaSample _,
    "sample_stratified" -> stratifiedSample _,
    "sample_mixture" -> mixtureSample _,
    "sample_weighted" -> weightedSample _,
    "sample_pps" -> ppsSystematic _,
    "sketch_bloom_filter" -> bloomFilter _,
    "sketch_bloom_join" -> bloomJoin _,
    "sample_neyman" -> neymanSample _,
    "sketch_kmv_distinct" -> kmvDistinct _,
    "sketch_kmv_agg" -> kmvAgg _,
    "sketch_kmv_setops" -> kmvSetOps _,
    "sketch_hll_distinct" -> hllDistinct _,
    "sketch_hash_sample" -> hashSample _,
    "sketch_cms_freq" -> cmsFreq _,
    "sketch_cms_join_card" -> cmsJoinCard _,
  )

  val oracles: Map[String, String] = Map(
    "sketch_kmv_intersect" -> kmvIntersectSql,
    "sketch_quantile" -> quantileSketchSql,
    "freq_heavy_hitters" -> heavyHittersSql,
    "sketch_hll_sweep" -> hllSweepSql,
    "sample_temperature_sweep" -> temperatureSweepSql,
    "sample_epoch_mix" -> epochMixSql,
    "ev_hll_daily" -> hllDailySql,
    "sample_reservoir" -> reservoirSampleSql,
    "sample_shard_assign" -> shardAssignSql,
    "sample_domain_cap" -> domainCapSql,
    "sample_alpha" -> alphaSampleSql,
    "sample_stratified" -> stratifiedSampleSql,
    "sample_mixture" -> mixtureSampleSql,
    "sample_weighted" -> weightedSampleSql,
    "sample_pps" -> ppsSystematicSql,
    "sketch_bloom_filter" -> bloomFilterSql,
    "sketch_bloom_join" -> bloomJoinSql,
    "sample_neyman" -> neymanSampleSql,
    "sketch_kmv_distinct" -> kmvDistinctSql,
    "sketch_kmv_agg" -> kmvDistinctSql, // same logical result, UDAF plan
    "sketch_kmv_setops" -> kmvSetOpsSql,
    "sketch_hll_distinct" -> hllDistinctSql,
    "sketch_hash_sample" -> hashSampleSql,
    "sketch_cms_freq" -> cmsFreqSql,
    "sketch_cms_join_card" -> cmsJoinCardSql,
  )
}
