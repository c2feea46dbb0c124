package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.kv.KvOps

/** Minimal versioned copy-on-write table on plain parquet: each MERGE
  * writes a complete new snapshot under `path/v=N`, and reads address any
  * version (time travel) or the latest. This is the durable form of the
  * engine's version-production model — the Aria install phase and the
  * streaming KV sink both produce "next table versions"; this sink gives
  * those versions a lifecycle on disk.
  *
  * Scale notes: snapshots are plain parquet directories, so every reader
  * optimization (pushdown, pruning, partitioning) applies; MERGE is the
  * one-shuffle last-writer-wins upsert from [[KvOps.upsert]]. Full-snapshot
  * rewrite per version is the simplest correct COW scheme — file-level
  * deltas (what Delta/Iceberg add) are an optimization of the same model.
  * Listing uses the Hadoop FileSystem API, so any hadoop-compatible store
  * works, not just local disk.
  */
object VersionedTable {

  private def versionDir(path: String, v: Int) = s"$path/v=$v"

  private val TagFile = "_GRAFT_TAG"

  private val SchemaFile = "_GRAFT_SCHEMA"

  private val StatsFile = "_GRAFT_STATS"

  private def writeSidecar(spark: SparkSession, dir: String, name: String,
      content: String): Unit = {
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = f.create(new org.apache.hadoop.fs.Path(dir, name), true)
    out.write(content.getBytes("UTF-8"))
    out.close()
  }

  private def readSidecar(spark: SparkSession, dir: String,
      name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        Some(new String(bytes, "UTF-8"))
      } finally in.close()
    }
  }

  /** Atomic commit via [[AtomicDir]]: a crashed or in-flight write can
    * never surface as a committed version, and a lost rename race
    * (concurrent committer of the same N) cleans up and fails instead of
    * corrupting the winner. An optional `tag` (e.g. a streaming batch id)
    * is stored inside the snapshot so writers can recognize their own
    * replays — see [[tagOf]].
    */
  private def commitVersion(df: DataFrame, path: String, v: Int,
      tag: Option[String], partitionBy: Seq[String] = Nil,
      statsCols: Seq[String] = Nil): Unit =
    AtomicDir.commit(df.sparkSession, versionDir(path, v)) { tmp =>
      val w = df.write.mode("errorifexists")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(tmp)
      // The exact schema rides with the snapshot: hive-layout reads would
      // otherwise run partition-column TYPE INFERENCE (a string column
      // holding "01" comes back as int 1 and the next merge rewrites the
      // stored value) and move partition columns to the end. read()
      // applies this schema, so round-trips are type- and order-exact.
      writeSidecar(df.sparkSession, tmp, SchemaFile, df.schema.json)
      tag.foreach(t => writeSidecar(df.sparkSession, tmp, TagFile, t))
      if (statsCols.nonEmpty)
        writeSidecar(df.sparkSession, tmp, StatsFile,
          computeStats(df.sparkSession, tmp, statsCols))
    }

  /** Per-file zone maps: one min/max pair per stats column per data file,
    * computed by re-scanning the freshly written snapshot (the same
    * information Delta/Iceberg harvest from parquet footers — one extra
    * columnar pass at commit time buys file-level skipping on every
    * subsequent read). File paths are stored relative to the version dir,
    * so the sidecar survives the atomic rename. Values are JSON numbers
    * for numeric columns and JSON strings otherwise; an all-null file
    * stores nulls and is never pruned.
    *
    * DRIVER-MEMORY BOUND: the collect below pulls exactly ONE row per
    * data file (2 scalars per stats column), the same shape Delta keeps in
    * its transaction log — at 100 TB / 128 MB files that is ~800k rows of
    * a few hundred bytes, well under 1 GB of driver heap; it cannot grow
    * with row count, only with file count.
    */
  private def computeStats(spark: SparkSession, tmp: String,
      statsCols: Seq[String]): String = {
    import org.apache.spark.sql.functions._
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val rows = spark.read.parquet(tmp)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val prefix = new org.apache.hadoop.fs.Path(tmp).toUri.getPath
    def j(v: Any): String = v match {
      case null => "null"
      // NaN/Infinity are not JSON tokens; an unknown bound is stored as
      // null, which zoneOverlaps treats as never-prunable
      case d: java.lang.Double if d.isNaN || d.isInfinite => "null"
      case f: java.lang.Float if f.isNaN || f.isInfinite => "null"
      case n: java.lang.Number => n.toString
      // temporal bounds are stored on the same numeric axes probeValue
      // converts probes to (the SHARED toMicros/toDays helpers — stats and
      // probes must stay bit-identical or pruning silently goes wrong)
      case t: java.sql.Timestamp => toMicros(t).toString
      case i: java.time.Instant => toMicros(i).toString
      case d: java.sql.Date => toDays(d).toString
      case l: java.time.LocalDate => toDays(l).toString
      case other => "\"" + other.toString.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    }
    rows.map { r =>
      val abs = new java.net.URI(r.getString(0)).getPath
      val rel = abs.stripPrefix(prefix).stripPrefix("/")
      val cols = statsCols.map { c =>
        s""""$c":{"min":${j(r.get(r.fieldIndex(s"min_$c")))},"max":${j(r.get(r.fieldIndex(s"max_$c")))}}"""
      }.mkString(",")
      s"""{"file":"$rel","stats":{$cols}}"""
    }.mkString("[", ",", "]")
  }

  private def resolveVersion(spark: SparkSession, path: String,
      version: Int): Int =
    if (version >= 0) version else latestOrThrow(spark, path, "")

  /** The newest committed version at `path`; throws when there is none,
    * with `hint` appended to the message (writers say "init first"). */
  private def latestOrThrow(spark: SparkSession, path: String,
      hint: String = " — init first"): Int =
    latestVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no versions at $path$hint"))

  /** (relative file, min node, max node) triples for `c` from the stats
    * sidecar — Jackson nodes so numeric vs string comparison semantics
    * follow the stored JSON type. None when the snapshot has no sidecar OR
    * the sidecar doesn't cover `c` (e.g. a later commit narrowed
    * statsCols): both degrade to the unpruned full-scan path.
    */
  private def statsFor(spark: SparkSession, dir: String, c: String)
      : Option[Seq[(String, com.fasterxml.jackson.databind.JsonNode,
        com.fasterxml.jackson.databind.JsonNode)]] =
    readSidecar(spark, dir, StatsFile).flatMap { json =>
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      val entries = (0 until root.size()).map { i =>
        val e = root.get(i)
        (e.get("file").asText(), e.get("stats").get(c))
      }
      if (entries.exists(_._2 == null)) None
      else Some(entries.map { case (f, st) => (f, st.get("min"), st.get("max")) })
    }

  /** Unsigned UTF-8 byte order ≡ code-point order — the ordering Spark's
    * UTF8String comparisons (and DuckDB's VARCHAR collation) use. Plain
    * java.lang.String comparison is UTF-16 code-UNIT order, which disagrees
    * above the basic plane and would prune files that contain matches.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Timestamp-ish → epoch micros (Spark's own fromJavaTimestamp formula).
    * Shared by computeStats and probeValue: both sides of a prune decision
    * MUST use this one conversion.
    */
  private def toMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      t.getTime * 1000L + (t.getNanos / 1000) % 1000L
    case i: java.time.Instant =>
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    case other =>
      throw new IllegalArgumentException(s"not a timestamp: $other")
  }

  /** Date-ish → epoch days. Shared for the same reason as [[toMicros]]. */
  private def toDays(v: Any): Long = v match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case l: java.time.LocalDate => l.toEpochDay
    case other => throw new IllegalArgumentException(s"not a date: $other")
  }

  /** The probe value converted onto the axis the column's stats were
    * stored on — None when the probe's type doesn't match the column's
    * (which must disable pruning, never guess: comparing a Timestamp's
    * micros against a Date column's day numbers would prune everything).
    */
  private def probeValue(dt: Option[org.apache.spark.sql.types.DataType],
      v: Any): Option[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case Some(_: TimestampType) => v match {
        case t: java.sql.Timestamp => Some(toMicros(t))
        case i: java.time.Instant => Some(toMicros(i))
        case _ => None
      }
      case Some(_: DateType) => v match {
        case d: java.sql.Date => Some(toDays(d))
        case l: java.time.LocalDate => Some(toDays(l))
        case _ => None
      }
      case Some(_: NumericType) => v match {
        case n: java.lang.Number => Some(n)
        case _ => None
      }
      case Some(_: StringType) => v match {
        case s: String => Some(s)
        case _ => None
      }
      // unknown column type (no schema sidecar): fall back to the probe's
      // own runtime type and let zoneOverlaps' JSON-kind check guard it
      case _ => v match {
        case n: java.lang.Number => Some(n)
        case s: String => Some(s)
        case _ => None
      }
    }
  }

  /** The committed snapshot schema, parsed once per call site. */
  private def schemaOf(spark: SparkSession, dir: String)
      : Option[org.apache.spark.sql.types.StructType] =
    readSidecar(spark, dir, SchemaFile).collect {
      case json => org.apache.spark.sql.types.DataType.fromJson(json)
    }.collect { case s: org.apache.spark.sql.types.StructType => s }

  /** Column type lookup, case-insensitive like Spark's own resolution —
    * statsCols = Seq("TS") against a column named "ts" writes stats under
    * "TS", and an exact-match lookup here would silently disable pruning.
    */
  private def columnType(schema: Option[org.apache.spark.sql.types.StructType],
      c: String): Option[org.apache.spark.sql.types.DataType] =
    schema.flatMap(_.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType))

  /** Does [min, max] (possibly null = unknown) overlap [lo, hi]?
    * `lo`/`hi` are pre-converted by [[probeValue]]. Conservative by
    * construction: any representation doubt (null bound, numeric zone
    * probed with a non-numeric value, string zone probed with a
    * non-String) keeps the file — pruning may only drop files that
    * provably contain no match.
    */
  private def zoneOverlaps(mn: com.fasterxml.jackson.databind.JsonNode,
      mx: com.fasterxml.jackson.databind.JsonNode, lo: Option[Any],
      hi: Option[Any]): Boolean = {
    if (mn == null || mx == null || mn.isNull || mx.isNull) return true
    def num(a: Option[Any]): Option[Double] = a match {
      case Some(n: java.lang.Number) => Some(n.doubleValue())
      case _ => None
    }
    if (mn.isNumber)
      (num(lo), num(hi)) match {
        case (Some(l), Some(h)) => !(mx.asDouble() < l || mn.asDouble() > h)
        case _ => true
      }
    else (lo, hi) match {
      case (Some(l: String), Some(h: String)) =>
        !(utf8Lt(mx.asText(), l) || utf8Lt(h, mn.asText()))
      case _ => true
    }
  }

  /** Zone-map file pruning: (files kept, total files) for a `c BETWEEN lo
    * AND hi` scan of `version` — the observability hook the data-skipping
    * spec asserts on.
    */
  def prunedFiles(spark: SparkSession, path: String, c: String, lo: Any,
      hi: Any, version: Int = -1): (Int, Int) = {
    val dir = versionDir(path, resolveVersion(spark, path, version))
    statsFor(spark, dir, c) match {
      case None => (0, 0)
      case Some(entries) =>
        val dt = columnType(schemaOf(spark, dir), c)
        val (l, h) = (probeValue(dt, lo), probeValue(dt, hi))
        (entries.count(e => zoneOverlaps(e._2, e._3, l, h)), entries.size)
    }
  }

  /** Data-skipping scan: `c BETWEEN lo AND hi` over a snapshot committed
    * with `statsCols` containing `c` — only files whose zone map overlaps
    * the range are opened; the residual filter still applies (zone maps
    * are a superset guarantee). Falls back to a plain filtered read when
    * the snapshot carries no stats sidecar (or no stats for `c`). At 100 TB
    * this is the layout half of pruning: hive partitioning skips
    * directories, zone maps skip files within a partition — together a
    * range probe touches only the files that can contain it (the parquet
    * reader's row-group stats then prune within each file).
    *
    * Type contract: probe `lo`/`hi` with the column's own external type —
    * a Number for numeric columns, a String for string columns,
    * Timestamp/Instant for timestamp columns, Date/LocalDate for date
    * columns (temporal bounds are stored as epoch micros/days and probes
    * convert onto the same axis). Any other pairing disables pruning
    * rather than risking a wrong prune — see [[probeValue]].
    */
  def scanPruned(spark: SparkSession, path: String, c: String, lo: Any,
      hi: Any, version: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = resolveVersion(spark, path, version)
    val dir = versionDir(path, v)
    val pred = col(c) >= lit(lo) && col(c) <= lit(hi)
    statsFor(spark, dir, c) match {
      case None => read(spark, path, v).filter(pred)
      case Some(entries) =>
        // one sidecar read serves both the probe-type lookup and the reader
        // schema — on an object store each read is a network round trip
        val schema = schemaOf(spark, dir)
        val dt = columnType(schema, c)
        val (l, h) = (probeValue(dt, lo), probeValue(dt, hi))
        val keep = entries.filter(e => zoneOverlaps(e._2, e._3, l, h))
        if (keep.isEmpty) read(spark, path, v).limit(0).filter(pred)
        else {
          val reader = spark.read.option("basePath", dir)
          val withSchema = schema match {
            case Some(s) =>
              reader.schema(s).parquet(keep.map(e => s"$dir/${e._1}"): _*)
                .select(s.fieldNames.map(col).toSeq: _*)
            case None => reader.parquet(keep.map(e => s"$dir/${e._1}"): _*)
          }
          withSchema.filter(pred)
        }
    }
  }

  /** The tag a version was committed with, if any. */
  def tagOf(spark: SparkSession, path: String, v: Int): Option[String] =
    readSidecar(spark, versionDir(path, v), TagFile)

  /** All committed version numbers, ascending (only marker-stamped
    * directories count — partial writes are invisible).
    */
  def versions(spark: SparkSession, path: String): Seq[Int] =
    AtomicDir.committed(spark, path, "v=")

  def latestVersion(spark: SparkSession, path: String): Option[Int] =
    versions(spark, path).lastOption

  /** Create version 0. `partitionBy` lays the snapshot out hive-style
    * (`col=value` directories), so any read with a filter on those columns
    * partition-prunes — at 100 TB this is the difference between touching
    * one partition and listing the world. Pass the same columns on every
    * `merge` so the layout survives version evolution.
    */
  def init(df: DataFrame, path: String, tag: Option[String] = None,
      partitionBy: Seq[String] = Nil, statsCols: Seq[String] = Nil): Unit =
    commitVersion(df, path, 0, tag, partitionBy, statsCols)

  /** Read a specific version (time travel) or the latest. Applies the
    * snapshot's stored schema when present (see [[commitVersion]]) so
    * partitioned layouts read back with exact column types and order.
    */
  def read(spark: SparkSession, path: String, version: Int = -1): DataFrame = {
    val dir = versionDir(path, resolveVersion(spark, path, version))
    readSidecar(spark, dir, SchemaFile) match {
      case Some(json) =>
        val schema = org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        spark.read.schema(schema).parquet(dir).select(
          schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
      case None => spark.read.parquet(dir)
    }
  }

  /** MERGE: last-writer-wins upsert of `updates` (key-unique) into the
    * latest snapshot, committed as the next version. Returns the new
    * version number.
    */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
      keyCol: String, tag: Option[String] = None,
      partitionBy: Seq[String] = Nil, statsCols: Seq[String] = Nil): Int = {
    val current = latestOrThrow(spark, path)
    val next = current + 1
    commitVersion(
      KvOps.upsert(read(spark, path, current), updates, keyCol), path, next,
      tag, partitionBy, statsCols)
    next
  }

  /** One CAS attempt of the optimistic merge: upsert `updates` into the
    * snapshot at `base` and commit the result AT `base + 1`, failing with
    * [[ConcurrentCommitException]] when some other writer committed
    * `base + 1` first (the [[AtomicDir]] marker race arbitrates — exactly
    * one writer's rename owns each version directory). Exposed
    * package-private so the spec can drive the lost-race path
    * deterministically; production callers use [[mergeOcc]].
    */
  private[graft] def tryMergeAt(spark: SparkSession, path: String,
      updates: DataFrame, keyCol: String, base: Int,
      tag: Option[String] = None, partitionBy: Seq[String] = Nil,
      statsCols: Seq[String] = Nil): Int = {
    val next = base + 1
    try {
      commitVersion(KvOps.upsert(read(spark, path, base), updates, keyCol),
        path, next, tag, partitionBy, statsCols)
      next
    } catch {
      case e: IllegalStateException
          if e.getMessage != null &&
            e.getMessage.contains("committed concurrently") =>
        throw new ConcurrentCommitException(path, next, e)
    }
  }

  /** Lost-CAS signal: `version` at `path` was committed by another writer
    * between this writer's base read and its rename.
    */
  final class ConcurrentCommitException(val path: String, val version: Int,
      cause: Throwable) extends RuntimeException(
    s"version $version at $path was committed concurrently", cause)

  /** OPTIMISTIC-CONCURRENCY MERGE — compare-and-swap commits with
    * deterministic rebase-retry (VERDICT r15 #6). [[merge]] assumes a
    * single writer: two writers that both read head N and both write
    * N+1 would race, and the loser's updates would be LOST if it simply
    * gave up. This is the same problem the reference engine's reservation
    * phase solves for transactions (`TrancM_func.cuh:21-275`: every txn
    * optimistically executes against the epoch-start snapshot, the
    * min-Tid CAS arbitrates each contended slot, and losers re-execute
    * against the installed state in the next epoch) — re-expressed at
    * table-commit granularity:
    *
    *  - RESERVE: the writer records the head version it read (`base`)
    *    and attempts to commit at `base + 1`. The [[AtomicDir]]
    *    commit-id marker is the CAS — exactly one writer owns each
    *    version directory, however the filesystem resolves the rename.
    *  - DETECT: a loser's commit throws instead of corrupting the
    *    winner's snapshot (never torn state, like Aria's write
    *    reservations it can be checked after the fact).
    *  - RETRY: the loser re-reads the NEW head and re-applies its
    *    updates against it — a REBASE, not a blind re-rename, so the
    *    winner's rows are carried forward and no update is lost.
    *
    * Guarantees: version history is linear (v0, v1, … with no gaps or
    * forks); every writer's updates land in some committed version
    * (no lost update — the property the spec's interleaved- and
    * threaded-writer tests pin); writers on disjoint keys compose, and
    * same-key conflicts resolve last-committer-wins, serialized by the
    * CAS order. Retries are bounded by `maxRetries` (each retry means
    * some OTHER writer made progress, so the system as a whole never
    * livelocks — the classic OCC argument, and the reason the reference
    * can run deterministic epochs without locks).
    *
    * Scale: each attempt is one upsert shuffle + snapshot write, the
    * same cost as [[merge]]; contention costs attempts × that, which is
    * why high-frequency writers should batch (exactly the reference's
    * epoch batching) rather than commit per row.
    */
  def mergeOcc(spark: SparkSession, path: String, updates: DataFrame,
      keyCol: String, tag: Option[String] = None,
      partitionBy: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      maxRetries: Int = 10): Int = {
    var attempt = 0
    while (attempt <= maxRetries) {
      val base = latestOrThrow(spark, path)
      try {
        return tryMergeAt(spark, path, updates, keyCol, base, tag,
          partitionBy, statsCols)
      } catch {
        case _: ConcurrentCommitException => attempt += 1 // rebase + retry
      }
    }
    throw new IllegalStateException(
      s"mergeOcc at $path lost the commit race $maxRetries times — " +
        "pathological contention; batch writers or raise maxRetries")
  }

  /** CHANGE DATA FEED between two committed versions: per key, what a
    * consumer must apply to get from `fromV` to `toV` — `insert` (key only
    * in `toV`), `delete` (key only in `fromV`), or `update` (present in
    * both with any non-key column changed; comparison is null-safe, so a
    * column moving to/from NULL is an update, not a miss). Unchanged keys
    * are not emitted. Returns (key, _change, _old, _new) with the non-key
    * columns as structs.
    *
    * On the COW model the diff is one full-outer shuffle join of the two
    * snapshots — the same cost class as the merge that produced the
    * version, and how downstream incremental consumers (a feature store,
    * an index, an aggregate) subscribe to a 100 TB table without rescanning
    * it: they read the delta, not the snapshot. Both versions must share a
    * schema (COW versions produced by [[merge]]/[[delete]]/[[compact]] do).
    *
    * Keys must be NON-NULL — the same contract as the [[merge]] upsert
    * that maintains the table (equi-joins never match NULL to NULL, so a
    * NULL-keyed row present in both versions would surface as a spurious
    * delete+insert pair rather than an update/none). NULL-keyed rows are
    * rejected up front rather than silently mis-diffed.
    */
  def diff(spark: SparkSession, path: String, fromV: Int, toV: Int,
      keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = read(spark, path, fromV)
    val b = read(spark, path, toV)
    require(a.columns.sorted.sameElements(b.columns.sorted),
      s"diff needs matching schemas; v$fromV has ${a.columns.mkString(",")}, " +
        s"v$toV has ${b.columns.mkString(",")}")
    val payload = a.columns.filterNot(_.equalsIgnoreCase(keyCol))
    // zero-extra-pass key check, embedded in the key expression itself (a
    // side filter could be optimizer-simplified away; the key column is
    // what the join consumes, so this cannot be pruned): any NULL key
    // raises on the same scan that feeds the join — no validation action
    def checkedKey(v: Int): Column =
      when(col(keyCol).isNotNull, col(keyCol)).otherwise(raise_error(
        lit(s"diff: NULL $keyCol in v$v — keys must be non-null")))
    val old = a.select(checkedKey(fromV).as(keyCol),
      struct(payload.map(col).toSeq: _*).as("_old"))
    val neu = b.select(checkedKey(toV).as("_k2"),
      struct(payload.map(col).toSeq: _*).as("_new"))
    old.join(neu, col(keyCol) === col("_k2"), "full_outer")
      .withColumn("_change",
        when(col("_old").isNull, "insert")
          .when(col("_new").isNull, "delete")
          .when(!(col("_old") <=> col("_new")), "update")
          .otherwise("none"))
      .filter(col("_change") =!= "none")
      .select(coalesce(col(keyCol), col("_k2")).as(keyCol), col("_change"),
        col("_old"), col("_new"))
  }

  /** COMPACTION: rewrite the latest snapshot's data files into
    * ~`targetFileBytes` outputs, committed as the next version — a pure
    * layout change (same rows, fewer/bigger files). Streaming sinks and
    * frequent small merges accrete many small files; at 100 TB the
    * resulting per-file open/seek overhead and task explosion dominate
    * scan cost, and periodic compaction is what keeps the table readable
    * (exactly Delta/Iceberg's OPTIMIZE, expressed on the same COW model —
    * readers of older versions are untouched, and the atomic commit means
    * a crashed compaction is invisible).
    *
    * `sortBy` additionally range-clusters the rewrite (repartitionByRange
    * + in-partition sort), which makes the recomputed `statsCols` zone
    * maps NON-OVERLAPPING — after `compact(sortBy = Seq("ts"), statsCols
    * = Seq("ts"))` a range probe via [[scanPruned]] opens ~1 file instead
    * of all of them. Without `sortBy`, a hive layout (`partitionBy`)
    * compacts to one file per partition directory; otherwise to
    * ⌈bytes/target⌉ hash-spread files. The two layouts are mutually
    * exclusive: a hive write of range-clustered partitions would re-split
    * every range file across partition directories, destroying the
    * clustering it just paid for — so passing both is rejected (use
    * `sortBy` with the partition column leading if you want both orders).
    * Returns the new version number.
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20, sortBy: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil, statsCols: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions.col
    require(targetFileBytes > 0, s"targetFileBytes must be > 0")
    require(sortBy.isEmpty || partitionBy.isEmpty,
      "compact takes sortBy (range-cluster) OR partitionBy (hive layout), " +
        "not both: a hive re-split of range-clustered output would destroy " +
        "the clustering")
    val current = latestOrThrow(spark, path)
    val dir = new org.apache.hadoop.fs.Path(versionDir(path, current))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(dir).getLength
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      .min(Int.MaxValue.toLong).toInt
    val df = read(spark, path, current)
    val out =
      if (sortBy.nonEmpty)
        df.repartitionByRange(nFiles, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else if (partitionBy.nonEmpty) df.repartition(partitionBy.map(col): _*)
      else df.repartition(nFiles)
    commitVersion(out, path, current + 1, None, partitionBy, statsCols)
    current + 1
  }

  /** Version retention: drop all but the newest `keepLast` snapshots.
    * Returns the versions removed. Bounds both storage (each version is a
    * full COW snapshot) and any scan over the version list — the streaming
    * sink's replay guard and `versions` itself are O(retained), not
    * O(history), once retention runs periodically. Time travel to a
    * dropped version fails with "no such version" semantics (the dir is
    * gone); callers choose the window.
    */
  def retain(spark: SparkSession, path: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"retain needs keepLast >= 1, got $keepLast")
    val drop = versions(spark, path).dropRight(keepLast)
    val f = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // FileSystem.delete reports failure as `false`, not an exception
    // (permissions, concurrent removal on some stores): only report a
    // version dropped if it is actually gone
    drop.filter { v =>
      val p = new org.apache.hadoop.fs.Path(versionDir(path, v))
      f.delete(p, true) || !f.exists(p)
    }
  }

  /** REPLACE: commit `df` wholesale as the next version — for producers
    * that regenerate the FULL snapshot (an index re-fit, a batch job that
    * overwrites its output table). Unlike [[merge]] there is no
    * read-modify-write upsert shuffle, and the writer's own layout
    * survives: a range-clustered `df` commits range-clustered, so its
    * `statsCols` zone maps stay selective (an upsert's hash shuffle would
    * destroy the clustering and with it the file skipping). Returns the
    * new version number.
    */
  def replace(spark: SparkSession, path: String, df: DataFrame,
      tag: Option[String] = None, partitionBy: Seq[String] = Nil,
      statsCols: Seq[String] = Nil): Int = {
    val current = latestOrThrow(spark, path)
    val next = current + 1
    commitVersion(df, path, next, tag, partitionBy, statsCols)
    next
  }

  /** Delete keys (anti join), committed as the next version. Pass the same
    * `partitionBy`/`statsCols` as every other commit — a delete is a full
    * COW snapshot like any merge, and omitting them here would silently
    * strip the hive layout and zone maps from the new latest version.
    */
  def delete(spark: SparkSession, path: String, keys: DataFrame,
      keyCol: String, partitionBy: Seq[String] = Nil,
      statsCols: Seq[String] = Nil): Int = {
    val current = latestOrThrow(spark, path)
    val next = current + 1
    commitVersion(
      KvOps.delete(read(spark, path, current), keys, keyCol), path, next, None,
      partitionBy, statsCols)
    next
  }
}
