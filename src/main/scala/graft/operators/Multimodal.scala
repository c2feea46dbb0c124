package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables
import graft.Pin.PinOps

/** Multimodal-column plumbing (builder prompt): treat media as opaque
  * `binary` columns with typed metadata, and run decode / feature-extract
  * as batched per-partition transforms — the Scala equivalent of a Pandas
  * UDF over `mapInPandas`.
  *
  * The container has no image/audio codecs, so THE DECODE STEP IS A STUB
  * (deterministic fake features derived from the bytes — see
  * [[stubDecode]]); everything around it — binary schema, metadata
  * derivation, partition-batched UDF shape, feature schema — is real and
  * tested. Swapping in a real codec changes only the stub's body.
  *
  * Scale: media blobs stay opaque bytes end-to-end (no driver collect, no
  * string conversion); decode runs per-partition so batch size = partition
  * size, controlled by `spark.sql.files.maxPartitionBytes`.
  */
object Multimodal {

  /** Media table: documents' text re-cast as opaque binary payloads with
    * typed metadata (the corpus has no real media; the byte-column plumbing
    * is identical).
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id".as("media_id"),
      encode($"text", "UTF-8").as("payload"),
      $"source".as("container"),
      octet_length($"text").as("n_bytes"))
  }

  /** Typed metadata derived from the payload — byte length plus
    * deterministic fake dimensions (arithmetic on n_bytes stands in for a
    * header parse; exactly reproducible in the SQL oracle).
    */
  def mediaMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir).select(
      $"media_id", $"container", $"n_bytes",
      ($"n_bytes" % 640 + 1).as("width"),
      (($"n_bytes" * 7) % 480 + 1).as("height"),
      when($"n_bytes" % 3 === 0, "rgb").otherwise("gray").as("mode"))
      .orderBy($"media_id")
  }

  val mediaMetaSql: String =
    """SELECT doc_id AS media_id, source AS container,
      |  octet_length(encode(text)) AS n_bytes,
      |  octet_length(encode(text)) % 640 + 1 AS width,
      |  (octet_length(encode(text)) * 7) % 480 + 1 AS height,
      |  CASE WHEN octet_length(encode(text)) % 3 = 0
      |       THEN 'rgb' ELSE 'gray' END AS mode
      |FROM documents ORDER BY media_id""".stripMargin

  /** STUB decoder: stands in for an image/audio codec (not available in
    * this container). Produces deterministic fake features from the raw
    * bytes: 8 "channel means" = mean of every 8th byte. A real
    * implementation would decode `payload` and pool actual channels; the
    * signature (bytes → fixed-width float vector) is the real contract.
    */
  /** Per-channel byte sums and counts (channel = position mod 8) — the one
    * accumulation loop behind both the stub decoder and the perceptual
    * hash, so a channel-count or corpus-handling change lands in one place.
    */
  private def channelSums(payload: Array[Byte]): (Array[Long], Array[Long]) = {
    val sums = new Array[Long](8)
    val counts = new Array[Long](8)
    var i = 0
    while (i < payload.length) {
      val b = i % 8
      sums(b) += (payload(i) & 0xff).toLong
      counts(b) += 1
      i += 1
    }
    (sums, counts)
  }

  def stubDecode(payload: Array[Byte]): Array[Double] = {
    val (sums, counts) = channelSums(payload)
    val feats = new Array[Double](8)
    var j = 0
    while (j < 8) {
      if (counts(j) > 0) feats(j) = sums(j).toDouble / counts(j)
      j += 1
    }
    feats
  }

  private val featSchema = StructType(
    StructField("media_id", LongType) +: StructField("n_bytes", IntegerType) +:
      (0 until 8).map(b => StructField(s"f$b", DoubleType)))

  /** Partition-batched decode + feature extraction: one pass per partition,
    * rows streamed (never materialized whole). The mapInPandas-equivalent
    * shape: Iterator[Row] → Iterator[Row] with an explicit output schema.
    *
    * Features are emitted as scalar columns f0..f7 (not an array) so the
    * result is sortable/hashable by any downstream compare; each f_b is an
    * exact int64 byte-sum divided by an exact count — the same two integers
    * the SQL oracle divides, so the doubles are bit-identical with no
    * rounding step.
    */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(featSchema)
    mediaTable(s, dir)
      .select(col("media_id"), col("payload"), col("n_bytes"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          Row.fromSeq(r.getAs[Long]("media_id") +: payload.length +:
            stubDecode(payload).toSeq)
        }
      }(enc)
      .orderBy(col("media_id"))
  }

  /** Oracle for the stub decode: byte b at 0-based position i contributes to
    * channel i % 8; the corpus is ASCII so ascii(char) == byte value.
    */
  /** Shared oracle prefix: per-doc byte codes exploded with 0-based
    * positions, ending in `ch(doc_id, code, i)` — one copy for the three
    * byte-level oracles (features, frame-sample, phash).
    */
  private val channelCte: String =
    """WITH cs AS (
      |  SELECT doc_id, [ascii(c)::BIGINT FOR c IN string_split(text, '')] AS codes
      |  FROM documents),
      |ch AS (
      |  SELECT doc_id, unnest(codes) AS code,
      |         generate_subscripts(codes, 1) - 1 AS i FROM cs)""".stripMargin

  val mediaFeaturesSql: String = {
    // coalesce(…, 0.0) + LEFT JOIN: a channel with no bytes (text shorter
    // than 8 chars) is 0.0 in stubDecode, and a row must survive even for
    // an empty text — corpus-safe today (min length 44), but the oracle
    // must match the decoder on any corpus
    val fs = (0 until 8).map(b =>
      s"  coalesce(max(CASE WHEN b = $b THEN sm::DOUBLE / cnt END), 0.0) AS f$b")
      .mkString(",\n")
    s"""$channelCte,
       |fm AS (
       |  SELECT doc_id, i % 8 AS b, sum(code)::BIGINT AS sm,
       |         count(*)::BIGINT AS cnt
       |  FROM ch GROUP BY 1, 2)
       |SELECT d.doc_id AS media_id, octet_length(encode(d.text)) AS n_bytes,
       |$fs
       |FROM documents d LEFT JOIN fm ON fm.doc_id = d.doc_id
       |GROUP BY 1, 2 ORDER BY media_id""".stripMargin
  }

  /** STUB resize: nearest-neighbor downsample of the payload to a fixed
    * 16 "pixels" — out(j) = payload(floor(j·n/16)). A real image resize
    * swaps only this kernel; the contract (bytes → fixed-width row, one
    * partition-batched pass) is the real plumbing.
    */
  def stubResize(payload: Array[Byte], target: Int): Array[Int] = {
    val out = new Array[Int](target)
    var j = 0
    while (j < target) {
      out(j) = payload((j.toLong * payload.length / target).toInt) & 0xff
      j += 1
    }
    out
  }

  private val resizeTarget = 16

  private val resizeSchema = StructType(
    StructField("media_id", LongType) +: StructField("n_bytes", IntegerType) +:
      (0 until resizeTarget).map(j => StructField(s"p$j", IntegerType)))

  def mediaResize(s: SparkSession, dir: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(resizeSchema)
    mediaTable(s, dir)
      .select(col("media_id"), col("payload"), col("n_bytes"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          Row.fromSeq(r.getAs[Long]("media_id") +: payload.length +:
            stubResize(payload, resizeTarget).toSeq)
        }
      }(enc)
      .orderBy(col("media_id"))
  }

  /** Oracle: out(j) = byte at 0-based floor(j·n/16) = ascii of the char at
    * 1-based floor(j·n/16)+1.
    *
    * ASCII-corpus assumption (shared by every payload oracle here): the
    * Spark side indexes PAYLOAD BYTES while this SQL indexes CHARACTERS
    * via length(text)/substr/ascii, so the two agree only while every
    * character is one byte. The synthetic documents corpus is all-ASCII;
    * on a multi-byte corpus the oracle — not the operator — would need a
    * byte-indexed rewrite (octet_length + blob slicing).
    */
  val mediaResizeSql: String = {
    val ps = (0 until resizeTarget).map(j =>
      s"  ascii(substr(text, ((${j}::BIGINT * length(text)) // 16 + 1)::INT, 1)) AS p$j")
      .mkString(",\n")
    s"""SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
       |$ps
       |FROM documents ORDER BY media_id""".stripMargin
  }

  /** STUB frame sampler: the payload is read as consecutive 8-byte frames
    * (a stand-in for video frames); every 4th complete frame is sampled
    * and summarized by its mean byte. One input row → many output rows —
    * the partition-batched 1-to-N shape of real frame extraction.
    */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("frame_mean", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    mediaTable(s, dir)
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val id = r.getAs[Long]("media_id")
          val nFrames = payload.length / 8
          (0 until nFrames by 4).iterator.map { f =>
            var sum = 0L
            var i = f * 8
            while (i < f * 8 + 8) { sum += payload(i) & 0xff; i += 1 }
            Row(id, f, sum.toDouble / 8d)
          }
        }
      }(enc)
      .orderBy(col("media_id"), col("frame_idx"))
  }

  val frameSampleSql: String =
    s"""$channelCte,
      |frames AS (
      |  SELECT doc_id, (i // 8)::INT AS frame_idx,
      |         sum(code)::BIGINT AS s, count(*)::BIGINT AS cnt
      |  FROM ch GROUP BY 1, 2)
      |SELECT doc_id AS media_id, frame_idx, s::DOUBLE / 8 AS frame_mean
      |FROM frames
      |WHERE frame_idx % 4 = 0 AND cnt = 8
      |ORDER BY media_id, frame_idx""".stripMargin

  /** STUB perceptual hash: bit b is set iff channel b's mean exceeds the
    * overall byte mean — the aHash recipe over the stub decoder's channel
    * sums. The comparison is CROSS-MULTIPLIED (sum_b · total_count >
    * total_sum · count_b) so the hash is pure int64 arithmetic: no
    * division, no float, bit-identical in any engine. A real pHash swaps
    * the channel sums for DCT coefficients; the bucketing downstream is
    * unchanged.
    */
  def stubPHash(payload: Array[Byte]): Long = {
    val (sums, counts) = channelSums(payload)
    var totalSum = 0L
    var totalCnt = 0L
    var j = 0
    while (j < 8) { totalSum += sums(j); totalCnt += counts(j); j += 1 }
    // a·d > c·b without int64 overflow: the fast path covers payloads to
    // ~8 MB of 0xff (every factor < 2^31 → products < 2^62); beyond that
    // fall back to BigInt rather than silently wrapping (the oracle side
    // multiplies in HUGEINT for the same reason)
    def gtFrac(a: Long, b: Long, c: Long, d: Long): Boolean =
      if (a < (1L << 31) && b < (1L << 31) && c < (1L << 31) && d < (1L << 31))
        a * b > c * d
      else BigInt(a) * BigInt(b) > BigInt(c) * BigInt(d)
    var h = 0L
    j = 0
    while (j < 8) {
      if (gtFrac(sums(j), totalCnt, totalSum, counts(j))) h |= (1L << j)
      j += 1
    }
    h
  }

  private val phashSchema = StructType(Seq(
    StructField("media_id", LongType), StructField("phash", LongType)))

  /** (media_id, phash) frame shared by the bucket query and the near-dup
    * pairs query — one decode pass, localCheckpointed because every
    * consumer fans it into ≥2 plan branches.
    */
  private def phFrame(s: SparkSession, dir: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(phashSchema)
    mediaTable(s, dir)
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          Row(r.getAs[Long]("media_id"),
            stubPHash(r.getAs[Array[Byte]]("payload")))
        }
      }(enc)
      .pin
  }

  /** Media near-duplicate grouping by perceptual hash: each media's phash
    * plus how many media share it — the multimodal counterpart of the text
    * dedup pipeline (identical-phash buckets are the dedup candidates).
    * The bucket-size frame has at most 256 rows (an 8-bit hash), so its
    * join back is a broadcast at any corpus size.
    */
  def mediaPHash(s: SparkSession, dir: String): DataFrame = {
    val ph = phFrame(s, dir)
    val sizes = ph.groupBy(col("phash"))
      .agg(count(lit(1)).as("n_same"))
    ph.join(broadcast(sizes), "phash")
      .select(col("media_id"), col("phash"), col("n_same"))
      .orderBy(col("media_id"))
  }

  val mediaPHashSql: String =
    // documents LEFT JOIN + coalesce: an empty text yields phash 0 in
    // stubPHash, and its row must survive here too (the rule
    // mediaFeaturesSql establishes); HUGEINT multiply mirrors the Scala
    // side's BigInt fallback instead of overflowing BIGINT
    s"""$channelCte,
      |fm AS (
      |  SELECT doc_id, i % 8 AS b, sum(code)::BIGINT AS sm,
      |         count(*)::BIGINT AS cnt
      |  FROM ch GROUP BY 1, 2),
      |tot AS (SELECT doc_id, sum(sm)::BIGINT AS ts, sum(cnt)::BIGINT AS tc
      |        FROM fm GROUP BY 1),
      |ph AS (
      |  SELECT f.doc_id,
      |    sum(CASE WHEN f.sm::HUGEINT * t.tc > t.ts::HUGEINT * f.cnt
      |        THEN (1::BIGINT << f.b) ELSE 0 END)::BIGINT AS phash
      |  FROM fm f JOIN tot t ON f.doc_id = t.doc_id GROUP BY f.doc_id),
      |phall AS (
      |  SELECT d.doc_id, coalesce(ph.phash, 0)::BIGINT AS phash
      |  FROM documents d LEFT JOIN ph ON d.doc_id = ph.doc_id),
      |sz AS (SELECT phash, count(*)::BIGINT AS n_same FROM phall GROUP BY 1)
      |SELECT phall.doc_id AS media_id, phall.phash, sz.n_same
      |FROM phall JOIN sz ON phall.phash = sz.phash
      |ORDER BY media_id""".stripMargin

  /** Near-duplicate media pairs at Hamming distance 1..2 over the
    * perceptual hash (distance-0 — identical hashes — is already
    * [[mediaPHash]]'s `n_same` bucket). Candidates come from pigeonhole
    * banding — the same argument as the text SimHash pairs: a pair within
    * Hamming ≤ 2 differs in at most 2 of 3 bands, so it MUST agree on one;
    * equi-join on (band, bits), then the exact `bit_count(xor)` filter.
    *
    * Scale shape: the banding self-join runs over the DISTINCT-hash table
    * (≤ 256 rows for the 8-bit stub hash — constant in corpus size), and
    * doc pairs materialize only per matching hash pair via two equi-joins
    * back; the output volume is the answer's own size, never an
    * intermediate. With a real 64-bit pHash the identical banding applies
    * directly on doc signatures (as in the text `dedup_simhash_pairs`,
    * k+1 bands for Hamming ≤ k); only the band arithmetic widens.
    *
    * The oracle is the naive all-pairs definition over doc ids, so the
    * gate also proves the banding loses no pair.
    */
  def mediaPHashPairs(s: SparkSession, dir: String): DataFrame = {
    val ph = phFrame(s, dir)
    // 8 bits → 3 bands (3+3+2): Hamming ≤ 2 ⇒ some band identical
    val distinctH = ph.select(col("phash")).distinct()
    val banded = distinctH.select(col("phash"), explode(array(
        struct(lit(0).as("band"), (col("phash") % 8).as("key")),
        struct(lit(1).as("band"), (shiftright(col("phash"), 3) % 8).as("key")),
        struct(lit(2).as("band"), shiftright(col("phash"), 6).as("key"))))
        .as("e"))
      .select(col("phash"), col("e.band"), col("e.key"))
    val hl = banded.select(col("phash").as("ha"), col("band"), col("key"))
    val hr = banded.select(col("phash").as("hb"), col("band"), col("key"))
    val hashPairs = hl.join(hr, Seq("band", "key"))
      .filter(col("ha") < col("hb"))          // ha < hb also rules out d=0
      .select(col("ha"), col("hb")).distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= 2)
    val a = ph.select(col("media_id").as("ida"), col("phash").as("ha"))
    val b = ph.select(col("media_id").as("idb"), col("phash").as("hb"))
    a.join(broadcast(hashPairs), "ha").join(b, "hb")
      .select(least(col("ida"), col("idb")).as("a"),
        greatest(col("ida"), col("idb")).as("b"), col("hamming"))
      .orderBy(col("a"), col("b"))
  }

  val mediaPHashPairsSql: String =
    // naive all-pairs over doc ids — the losslessness oracle for the
    // banded plan; phall (incl. the empty-text phash-0 rows) as in mm_phash
    s"""$channelCte,
      |fm AS (
      |  SELECT doc_id, i % 8 AS b, sum(code)::BIGINT AS sm,
      |         count(*)::BIGINT AS cnt
      |  FROM ch GROUP BY 1, 2),
      |tot AS (SELECT doc_id, sum(sm)::BIGINT AS ts, sum(cnt)::BIGINT AS tc
      |        FROM fm GROUP BY 1),
      |ph AS (
      |  SELECT f.doc_id,
      |    sum(CASE WHEN f.sm::HUGEINT * t.tc > t.ts::HUGEINT * f.cnt
      |        THEN (1::BIGINT << f.b) ELSE 0 END)::BIGINT AS phash
      |  FROM fm f JOIN tot t ON f.doc_id = t.doc_id GROUP BY f.doc_id),
      |phall AS (
      |  SELECT d.doc_id, coalesce(ph.phash, 0)::BIGINT AS phash
      |  FROM documents d LEFT JOIN ph ON d.doc_id = ph.doc_id)
      |SELECT x.doc_id AS a, y.doc_id AS b,
      |  bit_count(xor(x.phash, y.phash))::BIGINT AS hamming
      |FROM phall x JOIN phall y ON x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.phash, y.phash)) BETWEEN 1 AND 2
      |ORDER BY a, b""".stripMargin

  /** STUB shot-boundary (scene-cut) detection: flag frames whose 8-byte
    * frame SUM jumps by more than 256 from the previous frame — the video
    * curation step that picks representative frames per shot instead of a
    * blind every-Nth sample ([[frameSample]]). The decode is the same
    * deterministic stub (8-byte frames, integer sums — a real pipeline
    * swaps in the codec); the Spark plumbing is the real shape: one
    * mapPartitions decode pass emitting (media, frame, sum) rows, then a
    * per-media lag window — sequential only WITHIN a media item, parallel
    * across items, which is the unit that scales. Pure integers, so the
    * cut flags are bit-exact cross-engine.
    */
  def sceneCuts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("frame_sum", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    val frames = mediaTable(s, dir)
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val id = r.getAs[Long]("media_id")
          val nFrames = payload.length / 8 // complete frames only
          (0 until nFrames).iterator.map { f =>
            var sum = 0L
            var i = f * 8
            while (i < f * 8 + 8) { sum += payload(i) & 0xff; i += 1 }
            Row(id, f, sum)
          }
        }
      }(enc)
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("prev", lag(col("frame_sum"), 1).over(w))
      .select(col("media_id"), col("frame_idx"), col("frame_sum"),
        when(col("prev").isNotNull &&
          abs(col("frame_sum") - col("prev")) > 256, 1).otherwise(0)
          .as("is_cut"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  val sceneCutsSql: String =
    s"""$channelCte,
       |frames AS (
       |  SELECT doc_id, (i // 8)::INT AS frame_idx,
       |         sum(code)::BIGINT AS s, count(*)::BIGINT AS cnt
       |  FROM ch GROUP BY 1, 2),
       |f2 AS (
       |  SELECT doc_id, frame_idx, s,
       |    lag(s) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
       |  FROM frames WHERE cnt = 8)
       |SELECT doc_id AS media_id, frame_idx, s AS frame_sum,
       |  CASE WHEN prev IS NOT NULL AND abs(s - prev) > 256 THEN 1 ELSE 0 END
       |    AS is_cut
       |FROM f2 ORDER BY media_id, frame_idx""".stripMargin

  /** 16-channel variant of [[stubPHash]] for the cluster operator: the
    * 8-bit hash space is too dense to cluster over — at sf0.01 the corpus
    * occupies 168 of 256 values and Hamming ≤ 2 percolates the whole
    * corpus into ONE component (measured; the same saturation mechanism
    * as the 16-bit SimHash diagnostic) — while 16 bits (478 of 65,536
    * occupied) keep the Hamming ball sparse. A real pipeline's 64-bit
    * pHash is sparser still; bit width is the knob.
    */
  def stubPHash16(payload: Array[Byte]): Long = {
    val sums = new Array[Long](16)
    val counts = new Array[Long](16)
    var i = 0
    while (i < payload.length) {
      val b = i % 16
      sums(b) += (payload(i) & 0xff).toLong
      counts(b) += 1
      i += 1
    }
    var totalSum = 0L
    var totalCnt = 0L
    var j = 0
    while (j < 16) { totalSum += sums(j); totalCnt += counts(j); j += 1 }
    def gtFrac(a: Long, b: Long, c: Long, d: Long): Boolean =
      if (a < (1L << 31) && b < (1L << 31) && c < (1L << 31) && d < (1L << 31))
        a * b > c * d
      else BigInt(a) * BigInt(b) > BigInt(c) * BigInt(d)
    var h = 0L
    j = 0
    while (j < 16) {
      if (gtFrac(sums(j), totalCnt, totalSum, counts(j))) h |= (1L << j)
      j += 1
    }
    h
  }

  /** Media near-dup CLUSTERS: connected components over the 16-bit pHash
    * graph (edges = Hamming ≤ 2 between distinct hashes; identical
    * hashes collapse by construction since media map onto hash NODES) —
    * the multimodal counterpart of `dedup_clusters`: after pair
    * generation, group transitively-linked media so one representative
    * per visual family survives. Candidate hash pairs come from
    * pigeonhole banding (3 bands of 6+5+5 bits: Hamming ≤ 2 ⇒ some band
    * identical — [[mediaPHashPairs]]'s argument at 16 bits), labels from
    * [[Graph.starContraction]] (O(log n) rounds); the oracle replays
    * exact all-pairs reachability as a recursive CTE, so the banding and
    * the contraction are both proven lossless.
    *
    * Scale: the contraction runs on the DISTINCT-HASH graph (hash
    * diversity, not corpus size — for a real 64-bit pHash, # distinct
    * hashes ≪ # media); media join their hash's label in one broadcast
    * join.
    */
  def phashClusters(s: SparkSession, dir: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(phashSchema)
    val ph = mediaTable(s, dir)
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          Row(r.getAs[Long]("media_id"),
            stubPHash16(r.getAs[Array[Byte]]("payload")))
        }
      }(enc)
      .pin
    val distinctH = ph.select(col("phash")).distinct()
    val banded = distinctH.select(col("phash"), explode(array(
        struct(lit(0).as("band"), (col("phash") % 64).as("key")),
        struct(lit(1).as("band"), (shiftright(col("phash"), 6) % 32).as("key")),
        struct(lit(2).as("band"), shiftright(col("phash"), 11).as("key"))))
        .as("e"))
      .select(col("phash"), col("e.band"), col("e.key"))
    val pairs = banded.select(col("phash").as("a"), col("band"), col("key"))
      .join(banded.select(col("phash").as("b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("a") < col("b")).select(col("a"), col("b")).distinct()
      .filter(bit_count(col("a").bitwiseXOR(col("b"))) <= 2)
    val (labels, _) = Graph.starContraction(
      distinctH.select(col("phash")), pairs)
    ph.join(broadcast(labels), Seq("phash"))
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_media"),
        count_distinct(col("phash")).as("n_hashes"),
        min(col("media_id")).as("min_media"))
      .orderBy(col("cluster"))
  }

  val phashClustersSql: String =
    s"""$channelCte,
      |fm AS (
      |  SELECT doc_id, i % 16 AS b, sum(code)::BIGINT AS sm,
      |         count(*)::BIGINT AS cnt
      |  FROM ch GROUP BY 1, 2),
      |tot AS (SELECT doc_id, sum(sm)::BIGINT AS ts, sum(cnt)::BIGINT AS tc
      |        FROM fm GROUP BY 1),
      |ph AS (
      |  SELECT f.doc_id,
      |    sum(CASE WHEN f.sm::HUGEINT * t.tc > t.ts::HUGEINT * f.cnt
      |        THEN (1::BIGINT << f.b) ELSE 0 END)::BIGINT AS phash
      |  FROM fm f JOIN tot t ON f.doc_id = t.doc_id GROUP BY f.doc_id),
      |phall AS (
      |  SELECT d.doc_id, coalesce(ph.phash, 0)::BIGINT AS phash
      |  FROM documents d LEFT JOIN ph ON d.doc_id = ph.doc_id),
      |dh AS (SELECT DISTINCT phash FROM phall),
      |hedges AS (
      |  SELECT x.phash AS a, y.phash AS b
      |  FROM dh x JOIN dh y ON x.phash <> y.phash
      |  WHERE bit_count(xor(x.phash, y.phash)) BETWEEN 1 AND 2),
      |${Graph.reachCte("hedges", "phash, phash FROM dh")},
      |lab AS (SELECT node AS phash, min(m)::BIGINT AS label
      |        FROM reach GROUP BY node)
      |SELECT lab.label AS cluster, count(*)::BIGINT AS n_media,
      |  count(DISTINCT phall.phash)::BIGINT AS n_hashes,
      |  min(phall.doc_id)::BIGINT AS min_media
      |FROM phall JOIN lab ON phall.phash = lab.phash
      |GROUP BY lab.label ORDER BY cluster""".stripMargin
      .replaceFirst("WITH ", "WITH RECURSIVE ")

  /** CROSS-MODAL duplicate audit: for every TEXT near-dup candidate pair
    * (the shingle-LSH banding), the perceptual-hash Hamming distance of
    * the two docs' media payloads, with the agreement flag (`xmodal` = 1
    * when both modalities call it a duplicate, Hamming ≤ 2). The
    * precision move of multimodal curation: text-only dedup nukes
    * image-different re-posts of the same boilerplate, media-only dedup
    * merges captioned variants — requiring BOTH is the conservative
    * action, and the disagreeing pairs are the human-review queue.
    *
    * Scale: the pair frame is the bounded LSH candidate set (never
    * all-pairs); the two phash attachments are co-keyed hash joins; the
    * Hamming flag is one codegen'd expression. media_id == doc_id by
    * corpus construction — at scale this is the same join keyed by the
    * pipeline's media↔doc link table.
    */
  def crossmodalDups(s: SparkSession, dir: String): DataFrame = {
    val ph = phFrame(s, dir)
    // unsorted pair frame: the phash joins re-shuffle immediately, so
    // shinglePairs' presentation sort would be a wasted global exchange
    TextOps.shinglePairsOf(Fingerprint.shingleCodes(s, dir))
      .join(ph.select(col("media_id").as("a"), col("phash").as("pa")),
        Seq("a"))
      .join(ph.select(col("media_id").as("b"), col("phash").as("pb")),
        Seq("b"))
      .select(col("a"), col("b"),
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("long")
          .as("hamming"))
      .withColumn("xmodal",
        when(col("hamming") <= 2, 1L).otherwise(0L))
      .orderBy(col("a"), col("b"))
  }

  lazy val crossmodalDupsSql: String =
    s"""WITH tp AS (SELECT a, b FROM (${graft.operators.TextOps.shinglePairsSql}) t),
       |pha AS (SELECT media_id, phash FROM ($mediaPHashSql) p)
       |SELECT tp.a, tp.b,
       |  bit_count(xor(pa.phash, pb.phash))::BIGINT AS hamming,
       |  (CASE WHEN bit_count(xor(pa.phash, pb.phash)) <= 2
       |        THEN 1 ELSE 0 END)::BIGINT AS xmodal
       |FROM tp JOIN pha pa ON tp.a = pa.media_id
       |        JOIN pha pb ON tp.b = pb.media_id
       |ORDER BY tp.a, tp.b""".stripMargin

  /** STUB audio fingerprint (Haitsma–Kalker 2002 / the Chromaprint
    * recipe, over the stub decoder's signal): the payload is framed into
    * 8-byte windows, each frame's ENERGY is its byte sum, and bit j of
    * the 16-bit fingerprint is the SIGN of the energy delta between
    * frames j and j+1 — the delta-sign trick that makes the print robust
    * to level changes (a real implementation band-filters a spectrogram
    * first; the frame→energy→delta-sign→bits contract is identical and
    * is what this exercises). Partial trailing frames are dropped, media
    * shorter than j+2 full frames leave bit j at 0.
    */
  def stubAudioFp(payload: Array[Byte]): Long = {
    val nf = payload.length / 8
    val e = new Array[Long](nf)
    var i = 0
    while (i < nf * 8) { e(i / 8) += (payload(i) & 0xff).toLong; i += 1 }
    var fp = 0L
    var j = 0
    while (j < 16 && j + 1 < nf) {
      if (e(j + 1) > e(j)) fp |= (1L << j)
      j += 1
    }
    fp
  }

  /** Audio DEDUP by fingerprint: each media row's 16-bit delta-sign print
    * plus its duplicate group (min media_id sharing the print) and group
    * size — the "same recording, different container" detector. Decode
    * runs partition-batched ([[mediaFeatures]]'s mapInPandas-equivalent
    * shape); grouping is one fingerprint-keyed aggregation joined back —
    * at 100 TB both stages are plain keyed shuffles on a 16-bit-bounded
    * key space (65,536 groups regardless of corpus size; a production
    * print widens the key, never the shape).
    */
  def audioFingerprint(s: SparkSession, dir: String): DataFrame = {
    val fpSchema = StructType(Seq(StructField("media_id", LongType),
      StructField("fp", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(fpSchema)
    val fps = mediaTable(s, dir)
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          Row(r.getAs[Long]("media_id"),
            stubAudioFp(r.getAs[Array[Byte]]("payload")))
        }
      }(enc)
    val groups = fps.groupBy(col("fp")).agg(
      min(col("media_id")).as("dup_group"),
      count(lit(1)).as("group_n"))
    fps.join(groups, Seq("fp"))
      .select(col("media_id"), col("fp"), col("dup_group"), col("group_n"))
      .orderBy(col("media_id"))
  }

  val audioFingerprintSql: String =
    s"""$channelCte,
       |fe AS (
       |  SELECT doc_id, i // 8 AS f, sum(code)::BIGINT AS e,
       |         count(*)::BIGINT AS c
       |  FROM ch GROUP BY 1, 2),
       |de AS (
       |  SELECT doc_id, f, e,
       |    lead(e) OVER (PARTITION BY doc_id ORDER BY f) AS e2
       |  FROM fe WHERE c = 8),
       |fp AS (
       |  SELECT d.doc_id AS media_id,
       |    coalesce(sum(CASE WHEN de.e2 > de.e AND de.f < 16
       |      THEN (1::BIGINT << de.f::INT) ELSE 0 END), 0)::BIGINT AS fp
       |  FROM documents d LEFT JOIN de ON de.doc_id = d.doc_id
       |  GROUP BY 1),
       |g AS (
       |  SELECT fp, min(media_id) AS dup_group, count(*)::BIGINT AS group_n
       |  FROM fp GROUP BY 1)
       |SELECT f.media_id, f.fp, g.dup_group, g.group_n
       |FROM fp f JOIN g USING (fp)
       |ORDER BY media_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_audio_fingerprint" -> audioFingerprint _,
    "mm_crossmodal_dups" -> crossmodalDups _,
    "mm_phash_clusters" -> phashClusters _,
    "mm_scene_cuts" -> sceneCuts _,
    "mm_media_meta" -> mediaMeta _,
    "mm_media_features" -> mediaFeatures _,
    "mm_media_resize" -> mediaResize _,
    "mm_frame_sample" -> frameSample _,
    "mm_phash" -> mediaPHash _,
    "mm_phash_pairs" -> mediaPHashPairs _,
  )

  val oracles: Map[String, String] = Map(
    "mm_audio_fingerprint" -> audioFingerprintSql,
    "mm_crossmodal_dups" -> crossmodalDupsSql,
    "mm_phash_clusters" -> phashClustersSql,
    "mm_scene_cuts" -> sceneCutsSql,
    "mm_media_meta" -> mediaMetaSql,
    "mm_media_features" -> mediaFeaturesSql,
    "mm_media_resize" -> mediaResizeSql,
    "mm_frame_sample" -> frameSampleSql,
    "mm_phash" -> mediaPHashSql,
    "mm_phash_pairs" -> mediaPHashPairsSql,
  )
}
