package graft.sources

import java.nio.charset.StandardCharsets
import java.util.{Base64, UUID}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, date_format, lit, max, min, struct, to_json, unix_micros, when}
import org.apache.spark.sql.types._

/** Minimal manifest-pinned table: atomic commits and snapshot-isolated
  * reads over plain parquet — the table-format pattern (Iceberg/Delta's
  * core idea) at the scale of this engine. The physical contract:
  *
  *   table/
  *     data/<uuid>/part-*.parquet     one directory per commit
  *     _manifests/m-<version>.txt     per version: data dirs + column stats
  *     _latest                        pointer file: current version hint
  *
  * Data lands FIRST, then the manifest is published by an atomic
  * no-overwrite rename — creating `m-(v+1)` IS the commit, and doubles as
  * the optimistic-concurrency lock: two writers racing to the same version
  * can only have one rename land; the loser re-reads the new head and
  * retries on top of it (append commits carry the winner's data forward,
  * so no commit is ever lost). `_latest` is a monotonically-advanced hint
  * for readers, not the source of truth — a missing, torn, or lagging
  * hint falls back to the manifest head, so a writer that crashes
  * between manifest and pointer costs readers one directory listing,
  * never visibility. A crash at any earlier point leaves only
  * invisible garbage (data without a manifest), never a broken table.
  *
  * Manifests also record per-commit min/max stats for caller-chosen
  * columns, and [[readRange]] prunes a snapshot read to the data dirs
  * whose range intersects the predicate — partition pruning without
  * physical partitioning, the manifest-level file-skipping that makes a
  * time- or key-scoped query at 100 TB read only the commits that can
  * match.
  *
  * Readers that pin a version keep a consistent snapshot while writers
  * commit ahead; [[vacuum]] reclaims superseded commits once no reader
  * needs them. This also closes [[ParquetSink.compact]]'s documented
  * reader-retry window: [[compactCommit]] rewrites the current snapshot
  * and swaps the pointer with zero reader-visible downtime.
  *
  * Concurrency: manifest publication routes through a pluggable
  * [[CommitStore]] — rename-CAS by default (atomic on HDFS; the local-fs
  * check-then-rename window is closed by a read-back), conditional-put
  * ([[ObjectStoreCommitStore]]) for object stores where rename is
  * copy+delete and nothing about it is atomic. Select per session with
  * `spark.graft.commit.store`; the protocol above is store-agnostic.
  */
object ManifestTable {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fresh table-relative data-dir name. The UUID is what makes
    * concurrent writers collision-free AND what [[publish]]'s torn-CAS
    * adoption leans on as an authorship proof — every commit path must
    * mint dirs here.
    */
  private def newDataDirName(): String =
    s"data/${UUID.randomUUID().toString.replace("-", "").take(16)}"

  /** Column reference by EXACT top-level name: backtick-quoted so a
    * name containing dots is never parsed as a nested-field path
    * (embedded backticks escape by doubling). Every NAME-driven select,
    * aggregate, or filter in the table protocol and the DSv2 surface
    * must use this — a plain col("a.b") silently resolves field b of
    * struct a, or throws, for a perfectly legal parquet column "a.b".
    */
  private[graft] def colExact(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  private def store(spark: SparkSession): CommitStore =
    CommitStore.forSession(spark)

  /** Atomic overwrite publish of a protocol file (the `_latest` hint).
    * False when a concurrent publisher won: the only caller is the
    * pointer protocol, which is self-healing — its loop re-reads the
    * pointer and re-decides; throwing would fail a commit whose manifest
    * already durably landed.
    */
  private def writeFile(spark: SparkSession, p: Path, content: String): Boolean =
    store(spark).putOverwrite(p, content)

  private def readFile(spark: SparkSession, p: Path): String =
    store(spark).read(p)

  /** Current committed version, or 0 if the table is empty/uninitialized.
    *
    * The pointer is a HINT, and on the local filesystem a concurrent
    * overwrite renames the data file and its .crc sidecar as two
    * separate ops — a reader can catch a torn pair mid-rename
    * (ChecksumException) or a transient not-exists window. Neither may
    * fail a read or surface as "no committed version": retry briefly,
    * then fall back to the manifest head — the actual source of truth,
    * just a listing instead of one file read.
    */
  def currentVersion(spark: SparkSession, table: String): Long = {
    val h = hintVersion(spark, table)
    if (h > 0) h
    else highestManifest(spark, table) // no/ torn hint: head decides (0 if empty)
  }

  /** The raw pointer-file value, 0 when missing or unreadable (a torn
    * local-fs rename pair mid-overwrite). The WRITER protocol
    * ([[advancePointer]]) must loop on this, not on [[currentVersion]]:
    * the reader fallback would report the head and convince the writer
    * the hint file it never wrote is already current.
    */
  private def hintVersion(spark: SparkSession, table: String): Long = {
    val ptr = new Path(table, "_latest")
    try {
      if (store(spark).exists(ptr)) readFile(spark, ptr).toLong else 0L
    } catch {
      case _: java.io.IOException | _: NumberFormatException => 0L
    }
  }

  private def manifestPath(table: String, v: Long) =
    new Path(table, f"_manifests/m-$v%06d.txt")

  private def listManifests(spark: SparkSession, table: String): Seq[(String, Long)] =
    store(spark).listFiles(new Path(table, "_manifests"))

  /** (version, mtimeMs) of every `m-<v>.txt` in a `_manifests` listing —
    * the one parser of manifest file names. Temp siblings and anything
    * else in the directory are skipped.
    */
  private def manifestVersions(listing: Seq[(String, Long)]): Seq[(Long, Long)] =
    listing.flatMap { case (n, mtime) =>
      if (n.startsWith("m-") && n.endsWith(".txt"))
        n.stripPrefix("m-").stripSuffix(".txt").toLongOption.map(_ -> mtime)
      else None
    }

  /** Highest version any manifest file claims — the commit head, which
    * can run ahead of the `_latest` hint (writer crashed mid-publish, or
    * a concurrent writer between manifest and pointer).
    */
  private def highestManifest(spark: SparkSession, table: String): Long =
    manifestVersions(listManifests(spark, table)).foldLeft(0L)((a, v) => math.max(a, v._1))

  /** Whether `path` is a manifest table (has ≥1 published manifest) —
    * the [[GraftCatalog]] discovery probe, routed through the commit
    * store so table discovery agrees with whatever store published the
    * manifests.
    */
  private[graft] def isTable(spark: SparkSession, path: String): Boolean =
    manifestVersions(listManifests(spark, path)).nonEmpty

  // ---- manifest entry format ---------------------------------------------
  // one line per data dir:  <dir>[\t<col>:<tag>:<minB64>:<maxB64>[:<nulls>];...]
  // stats values are base64 so arbitrary string minima can't collide with
  // the separators; tag is `num` (compare as decimal) or `str` (compare
  // lexically — correct for strings and ISO dates). `nulls` (the column's
  // null-row count in the dir) is an optional FIFTH field: min/max prove
  // what a dir CANNOT contain, but an ALL-rows-match proof (metadata-only
  // DELETE) additionally needs "no rows where the predicate evaluates
  // NULL" — entries written before the field carry None and simply never
  // prove all-match, which is conservative in the right direction.

  private[graft] case class ColStat(tag: String, min: String, max: String,
      nulls: Option[Long] = None)
  private[graft] case class Entry(dir: String, stats: Map[String, ColStat])

  private def b64(s: String) =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String) =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  private def renderEntry(e: Entry): String =
    if (e.stats.isEmpty) e.dir
    else e.dir + "\t" + e.stats.toSeq.sortBy(_._1).map { case (c, s) =>
      s"$c:${s.tag}:${b64(s.min)}:${b64(s.max)}" +
        s.nulls.map(n => s":$n").getOrElse("")
    }.mkString(";")

  private def parseEntry(line: String): Entry = line.split("\t", -1) match {
    case Array(dir) => Entry(dir, Map.empty)
    // split with limit -1: Java's default drops TRAILING empty strings,
    // so an empty-string min/max (b64("") == "") would destructure into
    // 2-3 fields and MatchError every subsequent read of the table
    case Array(dir, stats) => Entry(dir, stats.split(';').map { part =>
      part.split(":", -1) match {
        case Array(c, tag, mn, mx) =>
          c -> ColStat(tag, unb64(mn), unb64(mx))
        case Array(c, tag, mn, mx, n) =>
          c -> ColStat(tag, unb64(mn), unb64(mx), n.toLongOption)
        case other => throw new IllegalStateException(
          s"manifest-table: unreadable stats field '$part' " +
            s"(${other.length} segments)")
      }
    }.toMap)
    case other => Entry(other.head, Map.empty)
  }

  /** One manifest read → both things a manifest holds: the `#ts` commit
    * stamp (None for legacy headerless manifests) and the entry list.
    * [[manifestEntries]] and [[commitTimeMs]] each surface one half;
    * callers needing both (e.g. [[historyRows]]) parse once here instead
    * of issuing two store reads per version.
    */
  private def parseManifest(content: String): (Option[Long], Seq[Entry]) = {
    val ts = content.linesIterator.find(_.nonEmpty)
      .filter(_.startsWith("#ts:"))
      .flatMap(_.stripPrefix("#ts:").trim.toLongOption)
    val entries = content.linesIterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(parseEntry).toSeq
    (ts, entries)
  }

  private[graft] def manifestEntries(spark: SparkSession, table: String,
      v: Long): Seq[Entry] =
    if (v == 0) Nil
    else parseManifest(readFile(spark, manifestPath(table, v)))._2

  /** The wall-clock commit time stamped INSIDE a manifest at CAS time
    * (`#ts:<epochMillis>` header) — the honest axis `TIMESTAMP AS
    * OF` resolves on, unlike file mtimes which report whatever the
    * filesystem last touched. None for pre-stamp legacy manifests.
    */
  private[graft] def commitTimeMs(spark: SparkSession, table: String,
      v: Long): Option[Long] =
    parseManifest(readFile(spark, manifestPath(table, v)))._1

  /** Render a manifest for publication as version `base + 1`: entries
    * sorted by dir under a commit-time header. The stamp is MONOTONE per
    * table — max(now, predecessor's stamp + 1) — so `TIMESTAMP AS OF`
    * resolves unambiguously even across committer clock skew (the Delta
    * in-commit-timestamp rule). Legacy headerless predecessors
    * contribute no floor.
    */
  private def renderManifest(spark: SparkSession, table: String, base: Long,
      entries: Seq[Entry]): String = {
    val floor = if (base > 0)
      commitTimeMs(spark, table, base).getOrElse(0L) else 0L
    val ts = math.max(System.currentTimeMillis(), floor + 1)
    s"#ts:$ts\n" + entries.sortBy(_.dir).map(renderEntry).mkString("\n")
  }

  /** The latest version whose stamped commit time is <= `targetMs` —
    * Spark's `TIMESTAMP AS OF` contract (Delta semantics: the snapshot
    * that was current at that instant). Walks retained versions from the
    * head down, so vacuumed history simply isn't addressable and a
    * legacy unstamped manifest refuses ONLY when resolution actually
    * needs it (every stamped version is still after the target).
    */
  private[graft] def versionAtTime(spark: SparkSession, table: String,
      targetMs: Long): Long = {
    val versions = manifestVersions(listManifests(spark, table)).map(_._1)
      .sorted(Ordering[Long].reverse)
    require(versions.nonEmpty, s"manifest-table: $table has no committed version")
    var earliest = Long.MaxValue
    versions.foreach { v =>
      commitTimeMs(spark, table, v) match {
        case None => throw new UnsupportedOperationException(
          s"manifest-table: version $v of $table predates commit-time " +
            "stamps - TIMESTAMP AS OF cannot resolve at or below it; " +
            "use VERSION AS OF")
        case Some(ts) if ts <= targetMs => return v
        case Some(ts) => earliest = ts
      }
    }
    throw new IllegalArgumentException(
      s"manifest-table: TIMESTAMP AS OF $targetMs ms is before the " +
        s"earliest retained commit of $table " +
        s"(${java.time.Instant.ofEpochMilli(earliest)})")
  }

  private def dataDirs(spark: SparkSession, table: String, v: Long): Seq[String] =
    manifestEntries(spark, table, v).map(_.dir)

  /** The stats-inheritance rule: `statsCols` when the caller names any,
    * else the columns the snapshot's commits already record stats on —
    * so pruning survives SQL writes, merges and rewrites that have no
    * way to name them. Self-sustaining: once any commit in the snapshot
    * carries stats on a column, every inheriting write keeps recording
    * it (columns absent from the written schema are skipped by
    * [[statTags]], never wrong). Pure over entries the caller already
    * read, so inheriting costs no manifest read.
    */
  private def statsOrInherited(statsCols: Seq[String], entries: Seq[Entry]): Seq[String] =
    if (statsCols.nonEmpty) statsCols else entries.flatMap(_.stats.keys).distinct.sorted

  /** The current head's inherited stats columns — what a SQL write
    * passes as its own `statsCols`.
    */
  private[graft] def headStatsCols(spark: SparkSession, table: String): Seq[String] =
    statsOrInherited(Nil, manifestEntries(spark, table, highestManifest(spark, table)))

  /** Column → stats tag for the supported types; unsupported columns are
    * skipped (absent stats = the dir is never pruned — always safe).
    */
  private def statTags(schema: StructType, statsCols: Seq[String]): Map[String, String] = {
    // column names are manifest-format separators' namespace
    statsCols.foreach(c => require(!c.exists(":;\t\n".contains(_)),
      s"manifest-table: stats column name '$c' may not contain : ; tab or newline"))
    statsCols.flatMap { c =>
      schema.find(_.name == c).map(_.dataType).collect {
        case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
             _: FloatType | _: DoubleType => c -> "num"
        case _: StringType | _: DateType => c -> "str"
        // timestamps go through epoch micros, NOT a string cast: the
        // rendered form depends on spark.sql.session.timeZone, so stats
        // written by one session and bounds given to another would
        // silently prune matching dirs. Micros are the tz-independent
        // instant; [[tsCanon]] renders them canonically in UTC.
        case _: TimestampType => c -> "ts"
        // NTZ timestamps (what parquet timestamp columns with
        // isAdjustedToUTC=false load as — e.g. every testdata ts) are
        // pure WALL TIME: date_format renders them session-independently,
        // and the fixed-width layout (same as tsCanon's) sorts lexically
        // = chronologically. Going through micros here would be the bug
        // the ts comment warns about — NTZ→LTZ casts interpret the wall
        // time in the SESSION zone.
        case _: TimestampNTZType => c -> "tsn"
      }
    }.toMap
  }

  private def statAggs(tags: Map[String, String]): Seq[org.apache.spark.sql.Column] =
    tags.toSeq.sortBy(_._1).flatMap { case (c, tag) =>
      val e = tag match {
        case "ts" => unix_micros(colExact(c))
        case "tsn" => date_format(colExact(c), TsPattern) // already canonical
        case _ => colExact(c)
      }
      Seq(min(e).cast("string").as(s"mn_$c"), max(e).cast("string").as(s"mx_$c"),
        // null count rides the same single agg pass: count(*) - count(c)
        (count(lit(1)) - count(colExact(c))).as(s"nc_$c"))
    }

  private[graft] val TsPattern = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Canonical UTC rendering of an epoch-micros instant — fixed width, so
    * lexical order IS chronological order (years 0001–9999).
    */
  private[graft] def tsCanon(micros: Long): String =
    java.time.format.DateTimeFormatter.ofPattern(TsPattern)
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS))

  /** A caller's timestamp bound, canonicalized: "yyyy-MM-dd[ HH:mm:ss
    * [.fraction]]", interpreted as UTC (deliberately NOT the session
    * timezone — stats must mean the same thing to every session).
    */
  private def tsCanonBound(s: String): String = {
    val t = s.trim
    val ldt =
      try {
        if (t.length == 10) java.time.LocalDate.parse(t).atStartOfDay()
        else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      } catch {
        case e: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"manifest-table: timestamp bound '$s' is not yyyy-MM-dd[ HH:mm:ss[.f]]", e)
      }
    tsCanon(ldt.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
      ldt.getNano / 1000L)
  }

  /** Decode one agg row (as produced by [[statAggs]]) into ColStats,
    * dropping anything unrecordable — null bounds, non-finite numerics
    * (NaN/Infinity minima or maxima would make every future
    * prunedDataDirs call throw). Unrecorded = unprunable, never wrong.
    */
  private def rowStats(tags: Map[String, String],
      row: org.apache.spark.sql.Row): Map[String, ColStat] = {
    def finite(tag: String, s: String) =
      tag != "num" || scala.util.Try(BigDecimal(s)).isSuccess
    tags.flatMap { case (c, tag) =>
      val (mn, mx) = (row.getAs[String](s"mn_$c"), row.getAs[String](s"mx_$c"))
      val nulls = Option(row.getAs[Long](s"nc_$c"))
      if (mn == null || mx == null || !finite(tag, mn) || !finite(tag, mx)) None
      else if (tag == "ts") Some(c -> ColStat(tag, tsCanon(mn.toLong), tsCanon(mx.toLong), nulls))
      else Some(c -> ColStat(tag, mn, mx, nulls))
    }
  }

  /** Min/max stats for the written commit, read back from its own files —
    * a column-pruned scan of just the new dir, never a recompute of the
    * input plan.
    */
  private def commitStats(spark: SparkSession, dirPath: Path,
      statsCols: Seq[String]): Map[String, ColStat] = {
    if (statsCols.isEmpty) return Map.empty
    val df = spark.read.parquet(dirPath.toString)
    val tags = statTags(df.schema, statsCols)
    if (tags.isEmpty) return Map.empty
    val aggs = statAggs(tags)
    rowStats(tags, df.agg(aggs.head, aggs.tail: _*).head())
  }

  /** THE manifest commit loop — every version any writer publishes goes
    * through here. Each pass reads the manifest head `base` and asks
    * `attempt(base)` for the commit to make on top of it: `None` when
    * there is nothing to commit (the call returns `base`), else the
    * entries of `m-(base+1)` plus the data dirs this attempt wrote. The
    * CAS on `m-(base+1)` is the optimistic-concurrency lock:
    *
    *   - won: `base + 1` is committed;
    *   - reported lost: [[CommitStore.putIfAbsent]] may report a torn
    *     publish as lost although it landed, so the version is ADOPTED
    *     when `m-(base+1)` lists exactly the attempted dirs (a fresh
    *     UUID dir proves authorship; an entry-identical racer published
    *     the same snapshot). Otherwise a racer won: the attempt's
    *     written dirs are deleted and the next pass re-derives from the
    *     new head, so content derived from a snapshot (merge, rewrite,
    *     compaction) is never published over a head it did not see.
    *
    * The adoption check must precede the delete: deleting on a torn
    * report would leave the landed head referencing deleted dirs, and
    * manifests are immutable. Dirs an attempt reuses across passes
    * ([[commit]]'s data dir, the empty-snapshot anchor) are not listed
    * as written. Every call ends in [[advancePointer]], the no-op
    * outcome included, so a replay heals a pointer a crashed writer
    * left behind. `attempt` may throw to abort before publishing.
    */
  private def publish(spark: SparkSession, table: String)(
      attempt: Long => Option[(Seq[Entry], Seq[String])]): Long = {
    var committed = -1L
    while (committed < 0) {
      val base = highestManifest(spark, table)
      attempt(base) match {
        case None => committed = base
        case Some((entries, written)) =>
          def landed = scala.util.Try(manifestEntries(spark, table, base + 1)).toOption
            .exists(_.map(_.dir).toSet == entries.map(_.dir).toSet)
          if (store(spark).putIfAbsent(manifestPath(table, base + 1),
              renderManifest(spark, table, base, entries)) || landed)
            committed = base + 1
          else written.foreach { d => val p = new Path(table, d); fs(spark, p).delete(p, true) }
      }
    }
    advancePointer(spark, table, committed)
    committed
  }

  /** Write `df` as one data dir (a fresh one by default) and record its
    * stats — the new entry of a commit. Overwrite mode: bytes already in
    * a token dir are a crashed attempt's unreferenced garbage.
    */
  private def writeEntry(df: DataFrame, table: String, statsCols: Seq[String],
      dirName: String = newDataDirName()): Entry = {
    val dirPath = new Path(table, dirName)
    df.write.mode("overwrite").parquet(dirPath.toString)
    Entry(dirName, commitStats(df.sparkSession, dirPath, statsCols))
  }

  /** The empty-snapshot anchor: a commit that would leave zero dirs
    * commits ONE empty schema-carrying dir instead — the snapshot schema
    * lives in parquet footers, so a zero-dir manifest would erase it and
    * strand every follow-up INSERT. The returned writer makes the dir at
    * most once per commit call and reuses it across CAS retries.
    */
  private def anchorOnce(spark: SparkSession, table: String): StructType => Entry = {
    var made: Option[Entry] = None
    schema => made.getOrElse {
      val e = writeEntry(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        .repartition(1), table, Nil)
      made = Some(e)
      e
    }
  }

  /** Commit `df` as the next version. `append = true` carries the commit
    * head's data dirs (and their stats) forward into the new manifest;
    * `false` makes the new data the entire snapshot (atomic overwrite).
    * Appends must match the head snapshot's schema (names + types) — a
    * drifted append fails HERE, at the write that caused it, instead of
    * poisoning arbitrary later reads with footer-sampling surprises.
    *
    * `statsCols` columns get min/max recorded in the manifest for
    * [[readRange]] pruning.
    *
    * `allowEvolution = true` permits Iceberg-style additive schema
    * evolution on append: the new commit may ADD columns (earlier
    * commits read them as null) or OMIT existing ones (the new rows read
    * null there) — but a column present on both sides must keep its
    * type, enforced HERE so type drift fails at the write that caused it,
    * not at some later read's parquet merge error. The default stays
    * strict: an accidental shape change is usually a bug, not evolution.
    *
    * Safe under concurrent writers: the data dir is written once, then
    * [[publish]] retries against whatever head wins each race — every
    * committer's data lands in some version, in CAS order. An APPEND
    * retry carries the race winner's data forward; an OVERWRITE retry is
    * last-writer-wins by design (its content does not derive from the
    * snapshot it replaces — racing commits serialize in CAS order,
    * exactly as if they had run back-to-back).
    */
  def commit(df: DataFrame, table: String, append: Boolean,
      statsCols: Seq[String] = Nil, allowEvolution: Boolean = false): Long =
    commitDir(df, table, newDataDirName(), append, statsCols, allowEvolution,
      idempotent = false)

  /** The body [[commit]] and [[commitIdempotent]] share: `dirName` is
    * written on the first attempt that needs it and carried across
    * retries. `idempotent` makes a head that already lists `dirName` a
    * no-op — before anything is written.
    */
  private def commitDir(df: DataFrame, table: String, dirName: String,
      append: Boolean, statsCols: Seq[String], allowEvolution: Boolean,
      idempotent: Boolean): Long = {
    val spark = df.sparkSession
    lazy val entry = writeEntry(df, table, statsCols, dirName)
    publish(spark, table) { base =>
      val baseEntries = if (append) manifestEntries(spark, table, base) else Nil
      if (idempotent && baseEntries.exists(_.dir == dirName)) None
      else {
        if (append && base > 0)
          checkAppendSchema(spark, table, base, df, allowEvolution)
        Some((baseEntries :+ entry, Nil))
      }
    }
  }

  /** `ALTER TABLE ADD COLUMNS` — the ONE safe DDL mutation, expressed as
    * the commit form it maps onto: an empty APPEND whose parquet footer
    * carries the extended schema. Union-schema snapshot resolution then
    * reports the new columns table-wide, existing commits null-fill them
    * on read (the additive-evolution contract [[commit]] already
    * enforces for data appends), and the next INSERT aligns against the
    * extended snapshot schema. Columns must be nullable (a non-null
    * column over null-filled history would be a lie) and new
    * (case-insensitively). Destructive alters — drop / rename / type
    * change — have no safe commit form and stay refused at the catalog.
    */
  def addColumnsCommit(spark: SparkSession, table: String,
      newFields: Seq[StructField]): Long = {
    require(newFields.nonEmpty, "manifest-table: ADD COLUMNS needs columns")
    val head = currentVersion(spark, table)
    require(head > 0, s"manifest-table: $table has no committed version")
    val schema = snapshotSchemaOf(spark, table, head)
    newFields.foreach { f =>
      require(f.nullable,
        s"manifest-table: ADD COLUMNS ${f.name} must be nullable - " +
          "existing commits null-fill it on read")
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(f.name)),
        s"manifest-table: column ${f.name} already exists")
    }
    val extended = StructType(schema.fields ++ newFields)
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), extended)
      .repartition(1)
    commit(empty, table, append = true,
      statsCols = headStatsCols(spark, table), allowEvolution = true)
  }

  private def checkAppendSchema(spark: SparkSession, table: String, base: Long,
      df: DataFrame, allowEvolution: Boolean): Unit = {
    // the CACHED one-footer-per-dir union schema, not read(...).schema:
    // planning the full snapshot with mergeSchema costs a footer read per
    // FILE over ALL dirs, and this check runs on EVERY append attempt
    // (and again per CAS-race retry) — exactly the planning cost the
    // pruned-read path exists to avoid. Field ORDER from the footer walk
    // is first-seen (not mergeSchema's), so the shape compare is by
    // name+type SET: column order never matters to reads anyway
    // ([[sliceRead]] selects by name and null-fills).
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSet
    val current = snapshotSchemaOf(spark, table, base)
    if (allowEvolution) {
      val cur = current.fields.map(f => f.name -> f.dataType).toMap
      df.schema.fields.foreach(f => cur.get(f.name).foreach(t =>
        require(t == f.dataType,
          s"manifest-table: column ${f.name} type drift " +
            s"(${t.simpleString} -> ${f.dataType.simpleString}) - " +
            "evolution is additive, not mutating")))
    } else
      require(shape(df.schema) == shape(current),
        s"manifest-table: append schema ${df.schema.simpleString} does not " +
          s"match the snapshot's ${current.simpleString} " +
          "(allowEvolution = true for additive evolution)")
  }

  /** Idempotent append commit for exactly-once pipelines: `token` names
    * the logical batch (e.g. a streaming micro-batch id), and the commit
    * is a no-op if a commit carrying that token is already in the head
    * snapshot. The token IS the data-dir name, so the check needs no side
    * ledger — the atomic manifest CAS that publishes the commit is the
    * same operation that makes the token visible, leaving no window where
    * a batch is committed but its token unseen (the two-step
    * commit-then-mark problem this replaces).
    *
    * A replay after a crash BEFORE the CAS finds unreferenced data in the
    * token's dir — invisible garbage by the table contract — and safely
    * overwrites it. A replay after the CAS sees the token and no-ops.
    * This is the foreachBatch exactly-once contract: replayed micro-batch
    * ids never double-append.
    *
    * Caveat: tokens live in manifest entries, so they are only consulted
    * while their commit's dir remains in the snapshot. [[compactCommit]]
    * rewrites dirs and forgets tokens — schedule compaction from the same
    * single-writer scheduler as the ingest (or outside its crash-replay
    * window), the standard table-format arrangement.
    *
    * Contract: ONE committer per token at a time (concurrent committers
    * of DIFFERENT tokens are fine — [[publish]] serializes them like
    * [[commit]]). Two simultaneous writers of the same token would race
    * on the token's data dir; sequential replay — the streaming
    * foreachBatch shape this exists for — never does that.
    */
  def commitIdempotent(df: DataFrame, table: String, token: String,
      statsCols: Seq[String] = Nil, allowEvolution: Boolean = false): Long = {
    require(token.nonEmpty && token.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"manifest-table: token '$token' must be [A-Za-z0-9_-]+")
    commitDir(df, table, s"data/t-$token", append = true, statsCols,
      allowEvolution, idempotent = true)
  }

  /** Monotonic `_latest` advance: never regress the hint. Two racing
    * advancers can interleave read/write (A reads 1, B writes 3, A writes
    * 2 — a regression B's own re-check cannot see), so after the write
    * loop each advancer re-reads the manifest HEAD and heals the hint up
    * to it. Any residual interleaving leaves the hint at a lower LIVE
    * version only until the next commit/advance heals it — reads stay
    * correct (every manifest is complete), at worst briefly stale.
    */
  private def advancePointer(spark: SparkSession, table: String, target: Long): Unit = {
    val ptr = new Path(table, "_latest")
    var guard = 0
    while (hintVersion(spark, table) < target && guard < 5) {
      writeFile(spark, ptr, target.toString)
      guard += 1
    }
    // heal up to the head with the same bounded persistence as the main
    // loop: a single attempt can lose an OVERWRITE race to a slower
    // lower-version writer and leave the hint stale until the NEXT
    // advance (still correct, just stale longer than necessary)
    val head = highestManifest(spark, table)
    var heal = 0
    while (head > target && hintVersion(spark, table) < head && heal < 5) {
      writeFile(spark, ptr, head.toString)
      heal += 1
    }
  }

  /** Read a snapshot: the current one, or a pinned `version` for
    * time-travel / long-running-job consistency.
    */
  def read(spark: SparkSession, table: String, version: Long = 0L): DataFrame = {
    val v = if (version > 0) version else currentVersion(spark, table)
    require(v > 0, s"manifest-table: $table has no committed version")
    val paths = dataDirs(spark, table, v).map(d => new Path(table, d).toString)
    // mergeSchema: evolved snapshots read as the union of their commits'
    // schemas (missing columns null-fill); identical-schema tables read
    // unchanged. Cost is a footer read per file at planning - compact
    // when file counts grow.
    spark.read.option("mergeSchema", "true").parquet(paths: _*)
  }

  /** The data dirs of a snapshot whose recorded [min,max] for `column`
    * intersects [lo,hi] — plus any dir with no stats for the column
    * (absent stats never prune: always safe, never complete-silently-
    * wrong). Bounds are the stats' string form: decimal strings for
    * numeric columns, raw values for string/date.
    */
  private[graft] def prunedDataDirs(spark: SparkSession, table: String,
      column: String, lo: String, hi: String, version: Long = 0L): Seq[String] = {
    val v = if (version > 0) version else currentVersion(spark, table)
    require(v > 0, s"manifest-table: $table has no committed version")
    // caller bounds canonicalize OUTSIDE statOverlap's per-entry
    // tolerance: a non-numeric bound against a num column, or a
    // malformed timestamp bound, is a caller bug that must fail loudly,
    // not degrade into a silent full-table scan
    lazy val numBounds =
      try { BigDecimal(lo); BigDecimal(hi); (lo, hi) }
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"manifest-table: non-numeric bounds [$lo,$hi] for numeric column $column")
      }
    // ts and NTZ stats share one canonical layout; NTZ bounds read as wall time
    lazy val tsBounds = (tsCanonBound(lo), tsCanonBound(hi))
    manifestEntries(spark, table, v).filter { e =>
      e.stats.get(column).forall { s =>
        val (l, h) = s.tag match {
          case "num" => numBounds
          case "ts" | "tsn" => tsBounds
          case _ => (lo, hi)
        }
        statOverlap(s.tag, s, Some(l), Some(h))
      }
    }.map(_.dir)
  }

  /** UTF-8 binary `a <= b` — the ORDER THE RECORDED STATS USE. Spark's
    * string min/max compare UTF8String bytes unsigned (code-point order);
    * Scala's `<=` compares UTF-16 code units, and the two DISAGREE
    * exactly on strings mixing BMP chars ≥ U+E000 with supplementary
    * chars (surrogates 0xD800-0xDFFF sort below 0xE000 in UTF-16 but
    * encode as higher UTF-8 bytes) — e.g. real text with emoji. Pruning
    * string bounds with the wrong order silently DROPS matching dirs, so
    * every string-stat comparison goes through here. (ts stats are
    * fixed-width ASCII and date strings are ASCII — either order agrees —
    * but they could route through here too without harm.)
    */
  private[graft] def utf8Leq(a: String, b: String): Boolean = utf8Cmp(a, b) <= 0

  /** Three-way UTF-8 binary compare — for the strict-inequality side of
    * all-rows-match proofs, where `<=` and `<` genuinely differ.
    */
  private[graft] def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  /** Range-scoped snapshot read: scans only the commits whose recorded
    * stats can contain `column ∈ [lo, hi]`. The caller still applies its
    * row-level filter — this prunes I/O, it does not filter rows.
    */
  def readRange(spark: SparkSession, table: String, column: String,
      lo: String, hi: String, version: Long = 0L): DataFrame =
    readWhere(spark, table, Seq((column, lo, hi)), version)

  /** Multi-predicate pruned read: a commit survives only if EVERY
    * (column, lo, hi) range can match its recorded stats — conjunctive
    * pruning, so each extra predicate can only shrink the scan (e.g. a
    * time window AND a key range on a table committed by day).
    *
    * The result always carries the FULL snapshot schema: on an evolved
    * table, a column living only in pruned-out commits null-fills rather
    * than disappearing — otherwise the schema would depend on which
    * commits a predicate happens to keep, breaking any caller that
    * references an evolved column.
    */
  def readWhere(spark: SparkSession, table: String,
      ranges: Seq[(String, String, String)], version: Long = 0L): DataFrame = {
    require(ranges.nonEmpty, "readWhere needs at least one (column, lo, hi)")
    // resolve the snapshot ONCE: per-predicate resolution could straddle a
    // concurrent commit and intersect dir sets from different versions
    // (typically an empty - silently wrong - result)
    val v = if (version > 0) version else currentVersion(spark, table)
    require(v > 0, s"manifest-table: $table has no committed version")
    val dirs = ranges.map { case (c, lo, hi) =>
      prunedDataDirs(spark, table, c, lo, hi, v).toSet
    }.reduce(_ intersect _)
    sliceRead(spark, table, dirs.toSeq.sorted,
      snapshotSchemaCached(spark, table, v, dataDirs(spark, table, v)))
  }

  // (table, version, dir list) -> union schema. A snapshot's dirs carry
  // fresh UUIDs per commit and their contents never change, so the key
  // identifies the snapshot CONTENT — including across a table deleted
  // and re-created at the same path in one JVM, whose same-numbered
  // versions get different dir UUIDs (keying on (table, version) alone
  // would serve the dead table's schema there). Repeated pruned reads of
  // one snapshot — a mart job probing many ranges, the bench's passes —
  // pay the per-dir footer walk once per JVM, not per read. Bounded by
  // wholesale clear: the cache is tiny and only ever an I/O saving.
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Seq[String]), StructType]()

  /** Whether `version`'s manifest is still present (committed and not
    * vacuumed) — the [[GraftCatalog]] time-travel existence probe.
    */
  private[graft] def versionExists(spark: SparkSession, table: String,
      version: Long): Boolean =
    version > 0 && store(spark).exists(manifestPath(table, version))

  /** A snapshot's full union schema — the [[GraftDataSource]] (DSv2 SQL
    * surface) entry point into the cached footer-walk.
    */
  private[graft] def snapshotSchemaOf(spark: SparkSession, table: String,
      version: Long): StructType =
    snapshotSchemaCached(spark, table, version, dataDirs(spark, table, version))

  /** Dir-subset snapshot read with the full-schema null-fill contract —
    * the [[GraftDataSource]] scan's entry point into [[sliceRead]].
    */
  private[graft] def sliceReadAs(spark: SparkSession, table: String,
      dirs: Seq[String], fullSchema: StructType): DataFrame =
    sliceRead(spark, table, dirs, fullSchema)

  private def snapshotSchemaCached(spark: SparkSession, table: String,
      v: Long, dirs: Seq[String]): StructType = {
    if (schemaCache.size > 1024) schemaCache.clear()
    schemaCache.computeIfAbsent((table, v, dirs.sorted),
      _ => snapshotSchema(spark, table, dirs))
  }

  /** The snapshot's union schema from ONE parquet footer per data dir —
    * each dir is a single `df.write`, so all its files share a schema.
    * This is what a pruned read uses instead of planning the full
    * snapshot with mergeSchema (a footer read per FILE over ALL dirs,
    * which made every pruned read pay full-snapshot planning cost at
    * large file counts — the exact cost manifest-level skipping exists
    * to avoid).
    */
  private def snapshotSchema(spark: SparkSession, table: String,
      dirs: Seq[String]): StructType = {
    var seen = Set.empty[String]
    val fields = Seq.newBuilder[StructField]
    dirs.foreach { d =>
      // per-DIR FileSystem, not the table root's: a shallow clone's
      // entries are qualified absolute dirs that may live on a different
      // filesystem than the clone root (s3a source, hdfs clone) — the
      // root-bound fs would throw "Wrong FS" on them
      val p = new Path(table, d)
      fs(spark, p).listStatus(p)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).headOption
        .foreach { st =>
          spark.read.parquet(st.getPath.toString).schema.fields.foreach { fld =>
            if (!seen(fld.name)) { seen += fld.name; fields += fld }
          }
        }
    }
    StructType(fields.result())
  }

  /** Read a subset of a snapshot's data dirs while keeping the FULL
    * snapshot schema (columns living only in unselected commits
    * null-fill) — the shared slice contract of [[readWhere]] and
    * [[readAppendedSince]].
    */
  private def sliceRead(spark: SparkSession, table: String,
      dirs: Seq[String], fullSchema: StructType): DataFrame =
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fullSchema)
    else {
      val pruned = spark.read.option("mergeSchema", "true")
        .parquet(dirs.map(d => new Path(table, d).toString): _*)
      val have = pruned.columns.toSet
      pruned.select(fullSchema.fields.map(f =>
        if (have(f.name)) colExact(f.name)
        else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)): _*)
    }

  /** Incremental consumption: the rows ADDED to the table after
    * `fromVersion`, i.e. the union of data dirs present in `toVersion`
    * (default: current) but not in `fromVersion` — append commits carry
    * earlier dirs forward, so the set difference is exactly the appended
    * data. `fromVersion = 0` reads the whole snapshot (a bootstrapping
    * consumer). This is how a downstream job tails the table without
    * reprocessing: persist the version it consumed through (e.g. as a
    * `BatchRunner` ledger entry), pass it back as `fromVersion` next
    * run, and each commit's rows are processed exactly once.
    *
    * Fails loudly on a non-append boundary: if `fromVersion` has dirs
    * the target no longer carries (an overwrite or compaction happened
    * in between), "rows since" is not well-defined dir-wise — the
    * consumer must re-bootstrap from the new snapshot, and silently
    * returning the rewritten dirs would double-process everything it
    * had already seen. Schedule compaction at a cadence consumers can
    * keep up with, or pin consumers to pre-compaction versions until
    * they drain (the standard table-format CDC contract).
    */
  def readAppendedSince(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long = 0L): DataFrame = {
    // resolve the default bound from the manifest HEAD, not the pointer
    // hint: a consumer that persisted fromVersion from a just-returned
    // commit can transiently see a stale hint < fromVersion and fail the
    // range check below even though the table is fine
    val to = if (toVersion > 0) toVersion
      else math.max(hintVersion(spark, table), highestManifest(spark, table))
    val (toEntries, fresh) = appendedEntries(spark, table, fromVersion, to)
    sliceRead(spark, table, fresh.map(_.dir).sorted,
      snapshotSchemaCached(spark, table, to, toEntries.map(_.dir)))
  }

  /** The `to` snapshot's full entry list PLUS the entries ADDED after
    * `fromVersion` — the dir-set difference with [[readAppendedSince]]'s
    * non-append-boundary refusal (shared with the `sinceVersion`
    * SQL-surface option, which prunes the fresh entries' stats like any
    * other scan). Returns both so callers that also need the snapshot's
    * dirs (the schema-cache key) don't re-read the manifest.
    */
  private[graft] def appendedEntries(spark: SparkSession, table: String,
      fromVersion: Long, to: Long): (Seq[Entry], Seq[Entry]) = {
    require(to > 0, s"manifest-table: $table has no committed version")
    require(fromVersion >= 0 && fromVersion <= to,
      s"manifest-table: fromVersion $fromVersion out of range (head $to)")
    val toEntries = manifestEntries(spark, table, to)
    val fromDirs = if (fromVersion == 0) Set.empty[String]
      else manifestEntries(spark, table, fromVersion).map(_.dir).toSet
    val dropped = fromDirs -- toEntries.map(_.dir).toSet
    require(dropped.isEmpty,
      s"manifest-table: versions $fromVersion -> $to are not append-only " +
        s"(${dropped.size} dirs rewritten by an overwrite/compaction) - " +
        "re-bootstrap the consumer from the current snapshot")
    (toEntries, toEntries.filterNot(e => fromDirs(e.dir)))
  }

  /** The dir-level footprint of a version diff: (from-only, to-only,
    * shared), each sorted — the split [[snapshotDiff]] prunes its scan
    * to. */
  private[graft] def diffDirs(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): (Seq[String], Seq[String], Seq[String]) = {
    val fromDirs = manifestEntries(spark, table, fromVersion).map(_.dir)
    val toDirs = manifestEntries(spark, table, toVersion).map(_.dir)
    val shared = fromDirs.toSet intersect toDirs.toSet
    (fromDirs.filterNot(shared).sorted, toDirs.filterNot(shared).sorted,
      shared.toSeq.sorted)
  }

  /** Snapshot diff — "what changed between Tuesday's corpus and
    * Wednesday's": every key classified added / removed / changed between
    * two retained versions, with both sides' non-key values as JSON.
    *
    * The scan is COMMIT-PRUNED: under the unique-key-per-snapshot
    * contract (the same contract [[mergeCommit]]'s carry-by-reference
    * rests on), a commit retained by BOTH versions contributes identical
    * rows to both sides and cannot produce a difference — so only the
    * dirs the versions do NOT share are read. A merge that rewrote one
    * commit diffs by scanning that commit's before/after, never the
    * table; a compaction that rewrote rows byte-identically classifies
    * as no change (equal values cancel in the final filter).
    */
  def snapshotDiff(spark: SparkSession, table: String, keyCols: Seq[String],
      fromVersion: Long, toVersion: Long = 0L): DataFrame = {
    require(keyCols.nonEmpty, "manifest-table: diff needs at least one key column")
    val to = if (toVersion > 0) toVersion
      else math.max(hintVersion(spark, table), highestManifest(spark, table))
    require(fromVersion > 0 && fromVersion <= to,
      s"manifest-table: diff range $fromVersion -> $to invalid")
    // one manifest read per version: the all-dirs lists (schema-cache
    // keys) rebuild from the split
    val (fromOnly, toOnly, shared) = diffDirs(spark, table, fromVersion, to)
    val fromAll = (fromOnly ++ shared).sorted
    val toAll = (toOnly ++ shared).sorted
    def side(dirs: Seq[String], v: Long, all: Seq[String], as: String) = {
      val schema = snapshotSchemaCached(spark, table, v, all)
      val df = if (dirs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else sliceReadAs(spark, table, dirs, schema)
      keyCols.foreach(k => require(df.columns.contains(k),
        s"manifest-table: diff key $k absent from version $v's schema"))
      val nonKey = df.columns.filterNot(keyCols.contains).sorted
      df.select(keyCols.map(colExact) :+
        to_json(struct(nonKey.map(colExact): _*)).as(as): _*)
    }
    // Null keys carry no row identity: [[mergeCommit]]'s contract lets
    // null-key target rows SURVIVE rewrites, so a rewritten dir can
    // legally hold them — and the equality join below would then
    // re-classify an unchanged null-key row as added + removed (null
    // never equals null). A null-safe join is no fix either: several
    // null-key rows per side would match many-to-many and could cancel
    // a real removal silently. So refuse LOUDLY, and only when it
    // matters — the check scans just the commit-pruned diff slices, so
    // null-key rows resting in shared (untouched) dirs never trip it.
    val lhs = side(fromOnly, fromVersion, fromAll, "from_values")
    val rhs = side(toOnly, to, toAll, "to_values")
    val nullKey = keyCols.map(colExact(_).isNull).reduce(_ || _)
    require(lhs.filter(nullKey).isEmpty && rhs.filter(nullKey).isEmpty,
      s"manifest-table: rows with null ${keyCols.mkString("/")} in the " +
        s"diffed commits of $table - null keys have no row identity to " +
        "diff on; use key columns that are non-null across both versions")
    lhs.join(rhs, keyCols, "full_outer")
      .withColumn("change",
        when(col("from_values").isNull, "added")
          .when(col("to_values").isNull, "removed")
          .when(col("from_values") =!= col("to_values"), "changed"))
      .filter(col("change").isNotNull)
  }

  /** The table's version history, oldest first — what makes `VERSION AS
    * OF` discoverable: one row per RETAINED manifest (vacuumed versions
    * simply don't appear), with the commit's wall-clock landing time
    * (the manifest file's mtime — INFORMATIONAL, which is exactly why
    * `TIMESTAMP AS OF` stays refused while history happily reports it),
    * the snapshot's dir count, and the dirs added/removed vs the
    * previous retained version (an append adds 1/removes 0; an
    * overwrite or compaction removes many).
    */
  private[graft] def historyRows(spark: SparkSession, table: String)
      : Seq[(Long, Long, Int, Int, Int)] = {
    val manifests = manifestVersions(listManifests(spark, table)).sortBy(_._1)
    var prev = Set.empty[String]
    manifests.map { case (v, mtimeMs) =>
      // ONE store read per version: dirs and the commit stamp parse from
      // the same content (2N GETs would double protocol I/O on an
      // object-store history call for nothing)
      val (stamp, entries) = parseManifest(readFile(spark, manifestPath(table, v)))
      val dirs = entries.map(_.dir).toSet
      // epoch MILLIS: the stamped in-manifest commit time when present
      // (what TIMESTAMP AS OF resolves on), file mtime for legacy
      // manifests (informational only)
      val ts = stamp.getOrElse(mtimeMs)
      val row = (v, ts, dirs.size,
        dirs.diff(prev).size, prev.diff(dirs).size)
      prev = dirs
      row
    }
  }

  /** Per-commit decision for [[cowRewriteCommit]]: carry the entry
    * forward untouched, drop it from the snapshot (metadata-only — its
    * stats prove no row survives), or fold it into the copy-on-write
    * slice whose rows the caller's transform rewrites.
    */
  private[graft] sealed trait CowAction
  private[graft] case object CowKeep extends CowAction
  private[graft] case object CowDrop extends CowAction
  private[graft] case object CowRewrite extends CowAction

  /** Stats-pruned partial COPY-ON-WRITE commit — the shared primitive
    * under row-level `DELETE` fallback and SQL `UPDATE`: each head
    * commit is classified keep / drop / rewrite against the snapshot
    * schema, the rewrite slice is read once (full-snapshot-schema
    * slice read), transformed by `rewrite`, and written as ONE new
    * commit dir; kept entries travel by reference and dropped entries
    * vanish metadata-only. At 100 TB this is the difference between a
    * point-UPDATE rewriting a handful of key-clustered commits and
    * rewriting the table: the classification runs over manifest stats,
    * so provably-untouched dirs cost zero bytes of IO. With nothing to
    * rewrite this is metadata-only DELETE; a drop that empties the
    * snapshot commits the empty-snapshot anchor instead.
    *
    * Classification and rewrite re-run per [[publish]] attempt against
    * the head it read. A classification with nothing to drop or rewrite
    * is a no-op returning the current version (no empty commit spam).
    * New-dir stats follow [[statsOrInherited]].
    */
  private[graft] def cowRewriteCommit(spark: SparkSession, table: String,
      classify: (StructType, Entry) => CowAction,
      rewrite: DataFrame => DataFrame,
      statsCols: Seq[String] = Nil): Long = {
    val anchor = anchorOnce(spark, table)
    publish(spark, table) { v =>
      require(v > 0, s"manifest-table: $table has no committed version")
      val entries = manifestEntries(spark, table, v)
      val schema = snapshotSchemaCached(spark, table, v, entries.map(_.dir))
      val decided = entries.map(e => e -> classify(schema, e))
      val kept = decided.collect { case (e, CowKeep) => e }
      val toRewrite = decided.collect { case (e, CowRewrite) => e }
      if (toRewrite.isEmpty && kept.size == entries.size) None
      else {
        val fresh = if (toRewrite.isEmpty) Nil
          else Seq(writeEntry(rewrite(sliceRead(spark, table, toRewrite.map(_.dir).sorted,
            schema)), table, statsOrInherited(statsCols, entries)))
        val out = kept ++ fresh
        Some((if (out.isEmpty) Seq(anchor(schema)) else out, fresh.map(_.dir)))
      }
    }
  }

  /** Stats-pruned copy-on-write UPSERT — the merge that scales: rewrite
    * ONLY the commits whose recorded key ranges can contain an update
    * key, keep every provably-disjoint commit untouched. [[graft
    * .operators.Lifecycle.cdcApply]] answers "apply this delta" by
    * producing a full new snapshot; at 100 TB the right question is
    * "which of the table's thousands of commits can this delta even
    * touch" — against key- or time-clustered commits (ingest order, or
    * [[compactClustered]]) a small hot-key delta rewrites a handful of
    * dirs and the manifest carries the rest forward by reference.
    *
    * Semantics: rows of `updates` REPLACE target rows with equal
    * `keyCols` (matched exactly by anti-join inside the affected dirs —
    * range overlap only decides which dirs to read); unmatched update
    * rows insert. `updates` must be key-unique with non-null keys (the
    * SQL MERGE multiple-match rule, enforced), and match the snapshot
    * schema. Target rows with null keys never match and survive. An
    * empty `updates` is a no-op returning the current version.
    *
    * The rewrite re-derives per [[publish]] attempt. New-dir stats
    * follow [[statsOrInherited]], so pruning — including the NEXT
    * merge's — survives by inheritance; a merge into an empty table
    * records them on `keyCols` by default.
    *
    * `updates` is consumed several times (key-hygiene check, range agg,
    * anti-join, write): it is eagerly checkpointed here and released
    * before returning, so an expensive upstream plan computes once.
    */
  def mergeCommit(spark: SparkSession, table: String, updates: DataFrame,
      keyCols: Seq[String], statsCols: Seq[String] = Nil): Long = {
    require(keyCols.nonEmpty, "manifest-table: merge needs key columns")
    keyCols.foreach(c => require(updates.columns.contains(c),
      s"manifest-table: key column $c missing from updates"))
    val keyTags = statTags(updates.schema, keyCols)
    keyCols.foreach(c => require(keyTags.contains(c),
      s"manifest-table: key column $c has no comparable stats type " +
        "(num/str/date/ts) - range pruning cannot bound the rewrite"))
    if (updates.isEmpty) {
      val v = currentVersion(spark, table)
      require(v > 0, s"manifest-table: $table has no committed version")
      return v
    }
    val u = updates.transform(d => graft.CacheHygiene.materialize(d))
    try {
      val dupes = u.groupBy(keyCols.map(colExact): _*).count()
        .filter(col("count") > 1).limit(1).count()
      require(dupes == 0,
        s"manifest-table: updates are not key-unique on ${keyCols.mkString(",")} " +
          "(the SQL MERGE multiple-match rule)")
      // the updates' key envelope, in the SAME canonical forms the
      // manifest stats use - so overlap compares apples to apples
      val aggs = statAggs(keyTags)
      val kstats = rowStats(keyTags, u.agg(aggs.head, aggs.tail: _*).head())
      keyCols.foreach(c => require(kstats.get(c).exists(_.nulls.contains(0L)),
        s"manifest-table: null keys in updates column $c"))

      def affectedBy(e: Entry): Boolean = keyCols.forall { c =>
        (e.stats.get(c), kstats.get(c)) match {
          case (Some(s), Some(k)) if s.tag == k.tag =>
            statOverlap(s.tag, s, Some(k.min), Some(k.max))
          case _ => true // no/mismatched stats: cannot prove disjoint
        }
      }

      publish(spark, table) { v =>
        if (v > 0) checkAppendSchema(spark, table, v, u, allowEvolution = false)
        val entries = manifestEntries(spark, table, v)
        val (affected, untouched) = entries.partition(affectedBy)
        val entry = if (v == 0) // merge into nothing = create
          writeEntry(u, table, if (statsCols.nonEmpty) statsCols else keyCols)
        else {
          val schema = snapshotSchemaCached(spark, table, v, entries.map(_.dir))
          // explicit join condition, not usingColumns: a usingColumns
          // join PARSES the names, so a key literally called "a.b" would
          // silently match nothing and duplicate its rows. The update
          // keys are renamed to safe synthetic names so the condition's
          // sides can't collide; null target keys still never match
          // (=== with null is null) — the survive-contract above.
          val uKeys = u.select(keyCols.zipWithIndex.map { case (c, i) =>
            colExact(c).as(s"__graft_mk_$i") }: _*)
          val antiCond = keyCols.zipWithIndex.map { case (c, i) =>
            colExact(c) === uKeys(s"__graft_mk_$i") }.reduce(_ && _)
          val survivors = sliceRead(spark, table, affected.map(_.dir).sorted, schema)
            .join(uKeys, antiCond, "left_anti")
          writeEntry(survivors.unionByName(u), table, statsOrInherited(statsCols, entries))
        }
        Some((untouched :+ entry, Seq(entry.dir)))
      }
    } finally graft.CacheHygiene.release(u)
  }

  /** THE interval-intersection predicate over recorded stats: can a
    * commit's [min,max] for one column intersect the canonical [lo, hi]
    * (None = unbounded side)? Shared by [[mergeCommit]]'s affected-dir
    * decision, [[prunedDataDirs]] and the SQL scan's dir pruning
    * ([[GraftDataSource.entryCanMatch]]) so the comparison semantics —
    * decimal for num, UTF-8 binary for str/ts canonical forms — cannot
    * drift between the merge path and the read paths. Any parse surprise
    * in a RECORDED bound keeps the dir: never-prove-disjoint is the safe
    * direction on every path.
    */
  private[graft] def statOverlap(tag: String, s: ColStat,
      lo: Option[String], hi: Option[String]): Boolean =
    tag match {
      case "num" => scala.util.Try {
        lo.forall(l => BigDecimal(s.max) >= BigDecimal(l)) &&
          hi.forall(h => BigDecimal(s.min) <= BigDecimal(h))
      }.getOrElse(true)
      case _ =>
        lo.forall(l => utf8Leq(l, s.max)) && hi.forall(h => utf8Leq(s.min, h))
    }

  /** Rewrite the current snapshot into ~targetBytes files and commit the
    * result as a new version — compaction with zero reader-visible
    * downtime (old snapshot stays pinned-readable until vacuumed).
    * `statsCols` re-records stats on the compacted commit.
    *
    * Content-preserving under concurrency, unlike a plain overwrite: the
    * base is the manifest HEAD (not the `_latest` hint, which can lag a
    * crashed publisher — basing on the hint would silently drop the
    * head's commits), and [[publish]] re-derives the rewrite from the
    * new head if any commit wins the race.
    */
  def compactCommit(spark: SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024,
      statsCols: Seq[String] = Nil): Long =
    publish(spark, table) { v =>
      require(v > 0, s"manifest-table: $table has no committed version")
      val nFiles = ParquetSink.targetFileCount(snapshotBytes(spark, table, v), targetBytes)
      // renderManifest stamps #ts on this manifest like every other: an
      // unstamped compaction would make versionAtTime refuse TIMESTAMP
      // AS OF for every target at or below it
      val entry = writeEntry(read(spark, table, v).repartition(nFiles), table, statsCols)
      Some((Seq(entry), Seq(entry.dir)))
    }

  /** Total data bytes of snapshot `v`. Per-dir fs: clone entries may be
    * absolute dirs on a foreign filesystem (compaction on a clone is the
    * documented escape hatch from the source-vacuum hazard, so it MUST
    * work on such entries).
    */
  private def snapshotBytes(spark: SparkSession, table: String, v: Long): Long =
    dataDirs(spark, table, v).map { d =>
      val p = new Path(table, d)
      fs(spark, p).getContentSummary(p).getLength
    }.sum

  /** [[compactCommit]] that PRESERVES pruning: the snapshot is rewritten
    * into `buckets` range-clustered data dirs on `clusterCol` (one
    * distributed `repartitionByRange` pass — sampled range partitioning,
    * no global sort bottleneck — then one partitioned write), and each
    * bucket dir gets its own manifest entry with tight min/max stats.
    * A plain compaction collapses the table into ONE dir, so every
    * [[readRange]] after it degenerates to a full scan — exactly when
    * pruning matters most (compaction is what you run when the table got
    * big). This is the table-format "sort-ordered rewrite": after it, a
    * key- or time-scoped read scans ~1/buckets of the data.
    *
    * File sizing and clustering compose: the rewrite uses
    * max(buckets, totalBytes/targetBytes) range partitions and maps them
    * onto buckets contiguously, so each bucket dir holds ~targetBytes
    * files covering a disjoint slice of the cluster column. Rows with a
    * null cluster value sort into the first bucket (null-first range
    * partitioning); a dir whose column is all-null records no stats and
    * is simply never pruned. Same [[publish]] contract as
    * [[compactCommit]].
    */
  def compactClustered(spark: SparkSession, table: String, clusterCol: String,
      buckets: Int, targetBytes: Long = 128L * 1024 * 1024,
      statsCols: Seq[String] = Nil): Long =
    compactRewrite(spark, table, Seq(clusterCol), buckets, targetBytes,
      statsCols, snapshot => col(clusterCol))

  /** Multi-dimensional [[compactClustered]]: the snapshot is rewritten
    * into `buckets` dirs range-clustered on the Morton (bit-interleaved)
    * key of 2–8 NUMERIC columns, and every cluster column's min/max is
    * recorded per dir. Each bucket then covers a compact hypercube-ish
    * cell of the key space, so [[readWhere]] prunes on ANY of the
    * dimensions — a single-column clustering leaves every other
    * dimension's [min,max] spanning the full range in every dir (no
    * pruning), exactly the gap Z-ordering exists to close. The manifest-
    * level analog of [[ParquetSink.writeZOrdered]]'s file-level layout.
    */
  def compactZOrdered(spark: SparkSession, table: String,
      clusterCols: Seq[String], buckets: Int,
      targetBytes: Long = 128L * 1024 * 1024,
      statsCols: Seq[String] = Nil): Long =
    compactRewrite(spark, table, clusterCols, buckets, targetBytes,
      statsCols, snapshot => ParquetSink.mortonColumn(snapshot, clusterCols))

  // the bucket partition column: deliberately NOT underscore-prefixed so
  // ONE discovery read of the staging dir returns it (Spark's hidden-file
  // filter skips `_...=` partition dirs); files inside never contain it
  // (partitionBy stores it in the path), so renamed data dirs read clean
  private val BucketCol = "graft__bucket"

  private def compactRewrite(spark: SparkSession, table: String,
      clusterCols: Seq[String], buckets: Int, targetBytes: Long,
      statsCols: Seq[String], keyOf: DataFrame => org.apache.spark.sql.Column): Long = {
    require(buckets >= 1, "clustered compaction: buckets must be >= 1")
    val root = new Path(table)
    val f = fs(spark, root)
    val recordCols = (clusterCols ++ statsCols).distinct
    val anchor = anchorOnce(spark, table)
    publish(spark, table) { v =>
      require(v > 0, s"manifest-table: $table has no committed version")
      val snapshot = read(spark, table, v)
      clusterCols.foreach(c => require(snapshot.columns.contains(c),
        s"manifest-table: cluster column $c not in snapshot schema"))
      require(!snapshot.columns.contains(BucketCol),
        s"manifest-table: column name $BucketCol is reserved by compaction")
      // same reservation for the transient range key: withColumn would
      // silently REPLACE a user column of this name and the drop below
      // would erase it from the compacted snapshot
      require(!snapshot.columns.contains("_graft_ck"),
        "manifest-table: column name _graft_ck is reserved by compaction")
      val nFiles = math.max(buckets,
        ParquetSink.targetFileCount(snapshotBytes(spark, table, v), targetBytes))
      // range partitions are ordered, so a contiguous pid->bucket map keeps
      // each bucket's slice of the cluster key disjoint
      val staging = new Path(root, s"data/.compact-${UUID.randomUUID().toString.take(8)}")
      snapshot.withColumn("_graft_ck", keyOf(snapshot))
        .repartitionByRange(nFiles, col("_graft_ck"))
        .sortWithinPartitions("_graft_ck") // file/row-group stats tighten too
        .drop("_graft_ck")
        .withColumn(BucketCol,
          org.apache.spark.sql.functions.expr(
            s"cast((cast(spark_partition_id() as bigint) * $buckets) div $nFiles as int)"))
        .write.partitionBy(BucketCol).parquet(staging.toString)
      val bucketDirs = f.listStatus(staging).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$BucketCol="))
        .sortBy(_.getPath.getName)
      // ALL buckets' stats in one grouped job over the staged output — a
      // per-dir agg would serialize `buckets` small driver-planned jobs.
      // Guarded on bucketDirs: an empty snapshot stages no partition dirs
      // and a discovery read of the bare _SUCCESS would fail schema
      // inference before the empty-table fallback below could run.
      val tags = statTags(snapshot.schema, recordCols)
      val bucketStats: Map[Int, Map[String, ColStat]] =
        if (tags.isEmpty || bucketDirs.isEmpty) Map.empty
        else {
          val staged = spark.read.parquet(staging.toString)
          val aggs = statAggs(tags)
          staged.groupBy(col(BucketCol)).agg(aggs.head, aggs.tail: _*)
            .collect()
            .map(r => r.getAs[Number](BucketCol).intValue() -> rowStats(tags, r))
            .toMap
        }
      val moved = bucketDirs.map { st =>
        val bucket = st.getPath.getName.stripPrefix(s"$BucketCol=").toInt
        val dirName = newDataDirName()
        // a silently-failed move would publish a manifest entry pointing
        // at a missing dir, breaking every read of the new version —
        // abort the compaction instead (no CAS happened yet, table intact)
        require(f.rename(st.getPath, new Path(root, dirName)),
          s"manifest-table: compaction could not move staged bucket " +
            s"${st.getPath} to $dirName - aborting before publish")
        Entry(dirName, bucketStats.getOrElse(bucket, Map.empty))
      }
      f.delete(staging, true) // _SUCCESS and empty shell
      // an empty snapshot stages no bucket: keep the version readable
      Some((if (moved.isEmpty) Seq(anchor(snapshot.schema)) else moved, moved.map(_.dir)))
    }
  }

  /** SHALLOW CLONE — the zero-copy fork every lakehouse ships
    * (Delta `CLONE` semantics): `target` is created with ONE commit
    * whose entries reference the source snapshot's data dirs by
    * QUALIFIED ABSOLUTE path — no data bytes move; the cost is one
    * manifest write however many TB the source holds. Stats ride along,
    * so pruning works on the clone from commit one. The clone evolves
    * independently: its own commits land under its own `data/`, and its
    * [[vacuum]] only ever deletes there (foreign absolute dirs are
    * outside vacuum's local listing by construction — resolution keeps
    * absolute entry dirs absolute, Path(parent, child) semantics).
    * The standard shallow-clone hazard is documented, not hidden:
    * VACUUM or overwrite+vacuum on the SOURCE can delete dirs the clone
    * still references — [[compactCommit]] on the clone deep-copies and
    * cuts the dependency. A torn creation report adopts through
    * [[publish]]: `m-1` listing exactly the source snapshot's dirs is
    * this clone (or an identical concurrent one); anything else is a
    * pre-existing target.
    */
  def cloneShallow(spark: SparkSession, source: String, target: String,
      version: Long = 0L): Long = {
    val v = if (version > 0) version else currentVersion(spark, source)
    require(v > 0, s"manifest-table: $source has no committed version")
    require(versionExists(spark, source, v),
      s"manifest-table: clone source version $v of $source is not retained")
    val srcRoot = { val p = new Path(source); fs(spark, p).makeQualified(p) }
    val abs = manifestEntries(spark, source, v)
      .map(e => e.copy(dir = new Path(srcRoot, e.dir).toString))
    publish(spark, target) { base =>
      require(base == 0, s"manifest-table: clone target $target already exists")
      Some((abs, Nil))
    }
  }

  /** RESTORE — rollback as a COMMIT (Delta `RESTORE` semantics):
    * publishes head+1 whose entries are exactly `toVersion`'s. History
    * is preserved — the rolled-back commits stay addressable for
    * forensics and time travel — and incremental consumers hit
    * [[readAppendedSince]]'s loud non-append boundary instead of
    * silently double-reading rows they already consumed. Requires the
    * target version still retained (not vacuumed); its data dirs are
    * then live by the vacuum invariant, and publishing them at the head
    * re-pins them against future vacuums.
    */
  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    require(toVersion > 0 && versionExists(spark, table, toVersion),
      s"manifest-table: version $toVersion of $table is not retained")
    val entries = manifestEntries(spark, table, toVersion)
    publish(spark, table) { _ =>
      // re-validate PER ATTEMPT: a concurrent commit plus an aggressive
      // vacuum can retire toVersion (and delete its now-unreferenced
      // dirs) between our entry read and a late CAS win — publishing the
      // stale entry list would pin a head full of deleted dirs. The
      // check shrinks the window to one CAS round-trip; closing it fully
      // needs what every table format needs here: don't run vacuum with
      // keepVersions below the restore horizon you intend to use.
      require(versionExists(spark, table, toVersion),
        s"manifest-table: version $toVersion of $table was vacuumed " +
          "mid-restore - aborting before publishing dangling dirs")
      Some((entries, Nil))
    }
  }

  /** Delete data dirs no version ≥ (current - keepVersions + 1) references,
    * superseded manifests, and crashed-publish temp files. Run once
    * readers of old snapshots are done — the same retention contract as
    * any table format. Manifests a stricter earlier vacuum already
    * removed are skipped, and deletions are driven by a directory
    * listing, so a vacuum's cost tracks actual garbage, not the
    * table's age.
    *
    * Safe alongside an IN-FLIGHT commit: manifests numbered past the
    * current pointer are treated as live (a writer mid-publish), and
    * unmanifested data dirs / temp files are only reclaimed once older
    * than `graceMs` — a data dir younger than that may simply not have
    * its manifest yet (the Delta/Iceberg retention pattern). Keep
    * graceMs comfortably above the longest commit's write time.
    */
  def vacuum(spark: SparkSession, table: String, keepVersions: Int = 1,
      graceMs: Long = 60L * 60 * 1000): Unit = {
    require(keepVersions >= 1)
    val v = currentVersion(spark, table)
    if (v == 0) return
    val keepFrom = math.max(1L, v - keepVersions + 1)
    val root = new Path(table)
    val f = fs(spark, root)
    val st = store(spark)
    val cutoff = System.currentTimeMillis() - graceMs
    val manifestRoot = new Path(root, "_manifests")
    // protocol files (manifests, temps) live in the commit store; data
    // dirs are plain parquet on the filesystem — same split as commit
    val manifestFiles = st.listFiles(manifestRoot)
    val manifestVers = manifestVersions(manifestFiles).map(_._1)
    // live = everything the retained versions reference PLUS anything an
    // in-flight (not-yet-pointed) manifest references
    val live = manifestVers.filter(_ >= keepFrom)
      .flatMap(dataDirs(spark, table, _)).toSet
    val dataRoot = new Path(root, "data")
    if (f.exists(dataRoot))
      f.listStatus(dataRoot)
        .filter(s => !live.contains(s"data/${s.getPath.getName}"))
        .filter(_.getModificationTime <= cutoff)
        .foreach(s => f.delete(s.getPath, true))
    manifestVers.filter(_ < keepFrom).foreach(v => st.delete(manifestPath(table, v)))
    manifestFiles.foreach { case (name, mtime) =>
      if (name.contains(".tmp-") && mtime <= cutoff) st.delete(new Path(manifestRoot, name))
    }
    // crashed _latest publishes leave temps in the table root
    st.listFiles(root)
      .filter { case (name, mtime) => name.contains(".tmp-") && mtime <= cutoff }
      .foreach { case (name, _) => st.delete(new Path(root, name)) }
  }
}
