package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Fingerprint

/** Streaming near-duplicate detection: continuous corpus ingestion with
  * MinHash-LSH filtering against a persisted signature index — the
  * streaming counterpart of [[graft.operators.TextOps.incrementalPairsOf]]
  * (the batch delta-vs-corpus shape).
  *
  * The whole path is APPEND-MODE SAFE by construction:
  *  - signatures are per-row array expressions ([[Fingerprint.minhashSigCols]])
  *    — no groupBy, no state, no watermark needed to emit;
  *  - banding is a map + explode;
  *  - the candidate join is stream-static on (band, sig) against the
  *    corpus signature index (n_docs × 9 longs — the thing a production
  *    pipeline keeps in a `VersionedTable`, see IncrementalDedupSpec),
  *    with the same first-matching-band emission as the batch emitters,
  *    so no per-pair distinct and no stream-side state at all.
  *
  * Delta-vs-delta collisions inside the stream are covered by
  * [[withinStreamMatches]] — a watermarked stream-stream self-join on the
  * band keys that pairs near-dups arriving within one horizon of each
  * other (including the same micro-batch); pairs further apart are
  * handled by the index fold ([[mergeIndex]]) + [[nearDupMatches]], so
  * the two operators partition the pair space by arrival gap.
  */
object DedupStream {

  /** (doc_id, mh0..mh7) signatures of a (doc_id, text) frame — works on
    * batch and streaming frames alike (map-only).
    */
  def signatures(docs: DataFrame): DataFrame =
    docs.select((col("doc_id") +: Fingerprint.minhashSigCols): _*)

  /** Streaming matches: every delta doc paired with the indexed corpus
    * docs whose LSH bands collide. `deltaDocs` may be a streaming
    * (doc_id, text) frame; `corpusSig` is the static signature index.
    * Emits (new_id, match_id), each pair exactly once
    * (first-matching-band). An id present on both sides never self-pairs
    * (re-submission guard, same contract as the batch helper).
    */
  def nearDupMatches(deltaDocs: DataFrame, corpusSig: DataFrame): DataFrame = {
    val d = Fingerprint.bandedOf(signatures(deltaDocs))
      .select(col("doc_id").as("new_id"), col("sig0").as("s0n"),
        col("band"), col("sig"))
    val c = Fingerprint.bandedOf(corpusSig)
      .select(col("doc_id").as("match_id"), col("sig0").as("s0c"),
        col("band"), col("sig"))
    d.join(c, Seq("band", "sig"))
      .filter(col("new_id") =!= col("match_id") &&
        (col("band") === 0 || col("s0n") =!= col("s0c")))
      .select(col("new_id"), col("match_id"))
  }

  /** Fold an ingested batch into the signature index (what a
    * foreachBatch sink does between micro-batches): last-writer-wins on
    * doc_id so re-submitted docs replace their old sketch.
    */
  def mergeIndex(corpusSig: DataFrame, batchSig: DataFrame): DataFrame =
    corpusSig.join(batchSig.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(batchSig)

  /** Delta-vs-delta matches: near-dup pairs among the STREAMED docs
    * themselves — the window [[nearDupMatches]] leaves open (the
    * stream-static join only sees the already-indexed corpus, so two
    * near-dup docs arriving in the same micro-batch were not paired until
    * the index fold caught one of them a batch later). A watermarked
    * stream-stream SELF-join on the LSH band keys closes it:
    *
    *  - `deltaDocs` is a streaming (doc_id, text, ingest_ts) frame — the
    *    event-time column is required, because stream-stream join state
    *    is evicted by watermark, never by size;
    *  - both self-join branches carry a `horizon` watermark and the join
    *    condition bounds |a_ts − b_ts| ≤ horizon, so buffered signatures
    *    are dropped once the other side's watermark passes — state is
    *    arrival-rate × horizon, not stream lifetime (the same cleanup
    *    contract as [[EventStreams.clickAttribution]]);
    *  - emission is append-mode-safe (inner equi-join on (band, sig)) and
    *    each unordered pair appears exactly once: the match_id < new_id
    *    orientation kills the mirrored row, first-matching-band kills the
    *    second band's duplicate — same contract as the batch delta side
    *    of [[graft.operators.TextOps.incrementalPairsOf]], which this
    *    converges to when every delta doc arrives within one horizon.
    *
    * Pairs separated by MORE than the horizon are intentionally not
    * emitted here — by then the earlier doc is in the index and
    * [[nearDupMatches]] reports the pair; the two operators partition the
    * pair space by arrival gap instead of double-reporting it.
    */
  def withinStreamMatches(deltaDocs: DataFrame,
      horizon: String = "1 hour"): DataFrame = {
    val banded = Fingerprint.bandedOf(
      deltaDocs.select((col("doc_id") +: col("ingest_ts") +:
        Fingerprint.minhashSigCols): _*),
      carry = Seq("ingest_ts"))
    // per-side column names: a self-join of one streaming source would
    // otherwise carry ambiguous attribute references into the condition
    val a = banded
      .select(col("doc_id").as("match_id"), col("sig0").as("s0a"),
        col("band").as("band_a"), col("sig").as("sig_a"),
        col("ingest_ts").as("a_ts"))
      .withWatermark("a_ts", horizon)
    val b = banded
      .select(col("doc_id").as("new_id"), col("sig0").as("s0b"),
        col("band").as("band_b"), col("sig").as("sig_b"),
        col("ingest_ts").as("b_ts"))
      .withWatermark("b_ts", horizon)
    a.join(b,
        col("band_a") === col("band_b") && col("sig_a") === col("sig_b") &&
          col("match_id") < col("new_id") &&
          col("b_ts") >= col("a_ts") - expr(s"INTERVAL $horizon") &&
          col("b_ts") <= col("a_ts") + expr(s"INTERVAL $horizon"))
      .filter(col("band_a") === 0 || col("s0a") =!= col("s0b"))
      .select(col("new_id"), col("match_id"))
  }
}
