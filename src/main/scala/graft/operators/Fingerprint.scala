package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text fingerprints: the token code, the modular polynomial fold,
  * MinHash, LSH banding, word shingles and the dual rolling character
  * hash with its n-gram windows. Each kernel is written once, with its
  * DuckDB twin next to it, so a query and its oracle hash documents with
  * the same expression and can only change together. The dedup, text,
  * graph, streaming, multimodal and sketch queries call it.
  *
  * All arithmetic is integer (token codes from `ascii`, folds mod a
  * prime) so DuckDB computes bit-identical values — cross-engine float
  * divergence is designed out.
  */
object Fingerprint {

  private[operators] val P = 2147483647L // 2^31 - 1 (Mersenne prime)
  private[operators] val A = Seq(1103L, 12289L, 52361L, 84631L, 11213L, 91099L, 30011L, 70607L)
  private[operators] val B = Seq(12007L, 24001L, 33023L, 47093L, 59063L, 71411L, 83477L, 95789L)

  // ---- token codes ----

  /** Whitespace token stream: (doc_id, w), distinct per doc.
    * Docs are single-space separated (verified on the corpus).
    */
  private[operators] def tokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .distinct()
  }

  /** Integer token code: first 3 chars packed base-256 + length, then the
    * LAST char appended in a further base-256 digit. The tail character
    * matters: with only a prefix + length, any two tokens agreeing on
    * their first 3 chars and length collide unconditionally ("running" /
    * "runtime"), which collapses distinct vocabulary into one sketch
    * input — measured on a 10× suffix-disambiguated corpus, that collapse
    * (not bucket math) was what inflated LSH candidate pairs ~quadratically.
    * Bound: < 2^26 · 256 = 2^34, so A_max·code + B < 2^51 stays exact in
    * int64 AND float64 in both engines. `ascii('') = 0` in both engines
    * covers words shorter than 3 chars.
    */
  private[operators] def tokenCode(w: Column): Column =
    ((ascii(substring(w, 1, 1)).cast("long") * 65536L
      + ascii(substring(w, 2, 1)).cast("long") * 256L
      + ascii(substring(w, 3, 1)).cast("long")
      + length(w).cast("long")) * 256L
      + ascii(w.substr(length(w), lit(1))).cast("long"))

  private[operators] val tokenCodeSql =
    """((ascii(substr(w,1,1))::BIGINT * 65536
      | + ascii(substr(w,2,1))::BIGINT * 256
      | + ascii(substr(w,3,1))::BIGINT + length(w)::BIGINT) * 256
      | + ascii(substr(w,length(w),1))::BIGINT)""".stripMargin
      .replace("\n", " ")

  /** (doc_id, code) over the distinct token set: [[tokCte]]'s `codes`. */
  private[operators] def tokenCodes(s: SparkSession, dir: String): DataFrame =
    tokens(s, dir).select(col("doc_id"), tokenCode(col("w")).as("code"))

  private[operators] val tokCte =
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |codes AS (SELECT doc_id, $tokenCodeSql AS code FROM tok)
       |""".stripMargin

  // ---- modular polynomial fold ----

  /** Modulus of the polynomial fold: a prime ≈ 2^36, so every
    * intermediate `acc % M * 131071 + c` stays < 2^53 — exact in int64
    * and float64 in both engines.
    */
  private[operators] val M = 68719476731L

  /** Folds columns into one code, (acc·131071 + c) mod [[M]]: band
    * signatures over minhash rows, shingle codes over word codes and
    * n-gram window codes over word hashes. Only the head term is reduced
    * before its first product (it may be ≥ M or negative); every later
    * accumulator is already a remainder, |acc| < M, and (x % M) % M ==
    * x % M under the truncated remainder of both engines. A single term
    * is its own fold.
    */
  private[operators] def fold(cs: Seq[Column]): Column =
    if (cs.size == 1) cs.head
    else cs.tail.foldLeft(cs.head % M)((acc, c) => (acc * 131071L + c) % M)

  private[operators] def foldSql(cs: Seq[String]): String =
    if (cs.size == 1) cs.head
    else cs.tail.foldLeft(s"(${cs.head}) % $M")(
      (acc, c) => s"($acc * 131071 + $c) % $M")

  // ---- MinHash ----

  /** MinHash signatures of a (doc_id, code) frame: 8 permutations
    * (a_j*code + b_j) mod P, min per doc. Signature equality ≈ Jaccard
    * similarity of the code sets — the sketch behind LSH dedup.
    */
  private[operators] def minhashOf(codes: DataFrame): DataFrame = {
    val aggs = A.indices.map(j =>
      min((lit(A(j)) * col("code") + B(j)) % P).as(s"mh$j"))
    codes.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The SQL twin of [[minhashOf]]'s aggregate list, over `code`. */
  private[operators] val minhashColsSql: String = A.indices.map(j =>
    s"min((${A(j)} * code + ${B(j)}) % 2147483647) AS mh$j").mkString(", ")

  /** The 8 MinHash signature columns as pure PER-ROW array expressions
    * over a `text` column: array_min over the permuted codes of the
    * distinct token set. Bit-identical to the groupBy-min the batch
    * operators use (same distinct set, same permutations — asserted in
    * DedupStreamSpec), but STATELESS, which is what a streaming ingest
    * path needs: an append-mode stream cannot emit groupBy aggregates
    * without watermark expiry, while a map-only signature goes straight
    * into a stream-static index join ([[graft.streaming.DedupStream]]).
    */
  private[graft] def minhashSigCols: Seq[Column] = {
    val codes = transform(array_distinct(split(col("text"), " ")),
      w => tokenCode(w))
    A.indices.map(j =>
      array_min(transform(codes, c => (lit(A(j)) * c + B(j)) % P))
        .as(s"mh$j"))
  }

  // ---- LSH banding ----

  /** (doc_id, sig0, band, sig) band-exploded view of an 8-column minhash
    * signature frame — 2 bands × 4 rows (S-curve threshold
    * (1/b)^(1/r) ≈ 0.71) folded by [[fold]]. sig0 rides along for
    * first-matching-band dedup at the join. `carry` names extra input
    * columns to thread through unchanged (the streaming self-join carries
    * its event-time column this way).
    */
  private[graft] def bandedOf(sig: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val s = sig.sparkSession
    import s.implicits._
    val carried = carry.map(col)
    sig.select(Seq($"doc_id",
        fold((0 until 4).map(i => col(s"mh$i"))).as("sig0"),
        fold((4 until 8).map(i => col(s"mh$i"))).as("sig1")) ++ carried: _*)
      .select(Seq($"doc_id", $"sig0", explode(array(
        struct(lit(0).as("band"), $"sig0".as("sig")),
        struct(lit(1).as("band"), $"sig1".as("sig")))).as("e")) ++ carried: _*)
      .select(Seq($"doc_id", $"sig0", $"e.band", $"e.sig") ++ carried: _*)
  }

  /** LSH candidate pairs (a, b), a < b, of a signature frame: docs sharing
    * a band signature. The join key is (band, signature), so work is
    * proportional to bucket sizes, never O(n²).
    *
    * FIRST-MATCHING-BAND emission: a pair agreeing in several bands is
    * emitted only from its lowest matching band (later bands carry the
    * band-0 signature and filter on its inequality), so the candidate
    * set needs NO distinct — at 10× scale that distinct was a 48M-row
    * exchange+dedup and the emitters' dominant cost; the filter rides
    * the join itself.
    *
    * `aPred` restricts the LEFT (min-id) side BEFORE the bucket join —
    * the sampled recall audit's lever: per-bucket volume drops from
    * |bucket|^2 to |stratum slice| x |bucket|.
    */
  private[operators] def bandPairs(sig: DataFrame,
      aPred: Option[Column => Column]): DataFrame = {
    val s = sig.sparkSession
    import s.implicits._
    val bands = bandedOf(sig)
    val l0 = bands.select($"doc_id".as("a"), $"sig0".as("s0a"), $"band", $"sig")
    // None leaves l structurally identical to r (exchange-reuse safe);
    // the filter node exists only when a stratum is actually requested
    val l = aPred.fold(l0)(p => l0.filter(p($"a")))
    val r = bands.select($"doc_id".as("b"), $"sig0".as("s0b"), $"band", $"sig")
    l.join(r, Seq("band", "sig"))
      .filter($"a" < $"b" && ($"band" === 0 || $"s0a" =!= $"s0b"))
      .select($"a", $"b")
  }

  /** `, sigs AS (...)`: the minhash signatures of a `codes(doc_id, code)`
    * CTE.
    */
  private[operators] val sigsCte: String =
    s", sigs AS (SELECT doc_id, $minhashColsSql FROM codes GROUP BY doc_id)"

  /** Band `i` of `r` rows: the [[foldSql]] of minhash columns
    * mh(i·r) .. mh(i·r + r − 1).
    */
  private[operators] def bandSql(i: Int, r: Int): String =
    foldSql((i * r until (i + 1) * r).map(j => s"mh$j"))

  /** `name(doc_id, band, sig)` over `sigs`: `b` bands of `r` rows. */
  private[operators] def bandsCte(name: String, b: Int, r: Int): String =
    s"$name AS (\n  " + (0 until b).map(i =>
      s"SELECT doc_id, $i AS band, ${bandSql(i, r)} AS sig FROM sigs")
      .mkString("\n  UNION ALL ") + ")"

  /** sigs/bands/pairs CTEs over `codes` — the ONE copy of the banding
    * SQL, shared by the token and shingle LSH oracles so the band count
    * and fold constants can never drift between them. `aCond` is pushed
    * into the bucket join's LEFT (= min-endpoint, since
    * l.doc_id < r.doc_id) side — mirrors [[TextOps.prefixCtesWith]] so a
    * min-endpoint stratum restriction (the sampled recall audit) prunes
    * the join itself instead of relying on the optimizer to push a
    * post-DISTINCT filter. `pairs` ≡ the Spark first-matching-band
    * emission of [[bandPairs]], which is distinct by construction.
    */
  private[operators] def pairsCte(aCond: String): String =
    sigsCte + s""",
         |${bandsCte("bands", 2, 4)},
         |pairs AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bands l JOIN bands r
         |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
         |  WHERE $aCond)""".stripMargin

  // ---- word shingles ----

  /** Word-shingle (3-gram) codes of the corpus: ORDER-SENSITIVE 3-word
    * shingles (token-set MinHash ignores order; shingles catch
    * reorderings as different content), each the [[fold]] of its three
    * word codes.
    */
  private[operators] def shingleCodes(s: SparkSession, dir: String): DataFrame =
    shingleCodesOf(Tables.documents(s, dir))

  /** Shingle codes of an arbitrary document frame — lets callers shingle a
    * pre-filtered subset (e.g. just the eval split) instead of paying a
    * full-corpus shingling pass and filtering after. Precondition:
    * `doc_id` is unique per row (ShinglePerRowSpec checks the corpus);
    * the distinct below is per row.
    */
  private[operators] def shingleCodesOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Per-ROW shingling (r17): the 3-gram fold over consecutive token
    // codes is a pure array expression — token codes via transform, the
    // trigram window via sequence + element_at — so the
    // explode-then-lead-window form's per-derivation exchange + sort of
    // every token (Window.partitionBy(doc_id)) is gone entirely. The
    // audits/pair queries deliberately re-derive codes instead of
    // checkpointing a corpus-sized frame (the prefixPairs memory rule),
    // which made each derivation's window shuffle the dominant repeated
    // cost; a per-row derivation is scan + explode + distinct only.
    // Value-identical: same split, same token order, same modular fold;
    // docs with fewer than 3 tokens emitted no c2-complete shingle before
    // and are filtered out before the (ascending-only) sequence here.
    docs
      .select($"doc_id",
        transform(split($"text", " "), w => tokenCode(w)).as("cs"))
      .filter(size($"cs") >= 3)
      // the distinct is PER-ROW too: all of one doc's shingles live in
      // one array, and the global DISTINCT (doc_id, code) is exactly the
      // per-doc distinct since doc_id is part of the key — array_distinct
      // replaces a corpus-sized exchange per derivation
      .select($"doc_id", explode(array_distinct(transform(
        sequence(lit(0), size($"cs") - 3),
        // reduced mod M so the minhash multiply a*code stays < 2^63
        i => fold((1 to 3).map(k => element_at($"cs", i + k)))))).as("code"))
  }

  /** The SQL twin of [[shingleCodes]]: `codes(doc_id, code)`, with the
    * positions from generate_subscripts + lead(). Opens the WITH list.
    */
  private[operators] val shingleCte =
    s"""WITH toks AS (
       |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
       |         unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |wcodes AS (SELECT doc_id, pos, $tokenCodeSql AS c0 FROM toks),
       |scodes AS (
       |  SELECT doc_id, c0,
       |    lead(c0, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS c1,
       |    lead(c0, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS c2
       |  FROM wcodes),
       |codes AS (
       |  SELECT DISTINCT doc_id, ${foldSql(Seq("c0", "c1", "c2"))} AS code
       |  FROM scodes WHERE c2 IS NOT NULL)
       |""".stripMargin

  // ---- rolling character hash and n-gram windows ----

  /** Polynomial rolling hash over all chars of `w`,
    * (acc·mult + ascii(c)) mod `mod` from `init` — exact integer parity
    * (Spark `aggregate` ≡ DuckDB `list_reduce`). Every char participates,
    * so no packing artifact can collide two distinct words.
    */
  private[operators] def charHash(w: Column, init: Long, mult: Long,
      mod: Long): Column =
    aggregate(split(w, ""), lit(init), (acc, c) => (acc * mult + ascii(c)) % mod)

  private[operators] def charHashSql(w: String, init: Long, mult: Long,
      mod: Long): String =
    s"""list_reduce(
       |    list_prepend($init::BIGINT,
       |      [ascii(c)::BIGINT FOR c IN string_split($w, '')]),
       |    (a, b) -> (a * $mult + b) % $mod)""".stripMargin

  /** Every `n`-word window of each document: (doc_id, nw, pos, g1, g2)
    * with `nw` the doc's word count and `pos` the 1-based position of the
    * window's first word. The window identity (g1, g2) is the [[fold]] of
    * two independent [[charHash]] channels per word, (7, 31, 1e9+7) and
    * (13, 131, 998244353) — an effective ~2^61-value space in which
    * birthday collisions are negligible until ~10^9 distinct windows.
    * Each mod < 2^31 keeps every fold product below 2^49.
    */
  private[operators] def gramsOf(docs: DataFrame, n: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val dw = Window.partitionBy($"doc_id").orderBy($"pos")
    val codes = docs
      .select($"doc_id", size(split($"text", " ")).cast("long").as("nw"),
        posexplode(split($"text", " ")).as(Seq("pos0", "w")))
      .select($"doc_id", $"nw", ($"pos0" + 1L).as("pos"),
        charHash($"w", 7L, 31L, 1000000007L).as("c0"),
        charHash($"w", 13L, 131L, 998244353L).as("d0"))
    val leads = (1 until n).foldLeft(codes) { (df, j) =>
      df.withColumn(s"c$j", lead(col("c0"), j).over(dw))
        .withColumn(s"d$j", lead(col("d0"), j).over(dw))
    }
    leads
      .filter(col(s"c${n - 1}").isNotNull)
      .select($"doc_id", $"nw", $"pos",
        fold((0 until n).map(j => col(s"c$j"))).as("g1"),
        fold((0 until n).map(j => col(s"d$j"))).as("g2"))
  }

  /** The SQL twin of [[gramsOf]]: `grams(doc_id, pos, nw, g1, g2)`, after
    * `toks(doc_id, pos, w, nw)` with one row per word. Opens the WITH list.
    */
  private[operators] def gramsCte(n: Int): String = {
    val leadCols = (1 until n).flatMap(j => Seq(
      s"lead(c0, $j) OVER (PARTITION BY doc_id ORDER BY pos) AS c$j",
      s"lead(d0, $j) OVER (PARTITION BY doc_id ORDER BY pos) AS d$j"))
      .mkString(",\n    ")
    s"""WITH toks AS (
       |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
       |         unnest(string_split(text, ' ')) AS w,
       |         len(string_split(text, ' '))::BIGINT AS nw
       |  FROM documents),
       |wcodes AS (
       |  SELECT doc_id, pos, nw,
       |    ${charHashSql("w", 7L, 31L, 1000000007L)} AS c0,
       |    ${charHashSql("w", 13L, 131L, 998244353L)} AS d0
       |  FROM toks),
       |scodes AS (
       |  SELECT doc_id, pos, nw, c0, d0,
       |    $leadCols
       |  FROM wcodes),
       |grams AS (
       |  SELECT doc_id, pos, nw,
       |    ${foldSql((0 until n).map(j => s"c$j"))} AS g1,
       |    ${foldSql((0 until n).map(j => s"d$j"))} AS g2
       |  FROM scodes WHERE c${n - 1} IS NOT NULL)""".stripMargin
  }
}
