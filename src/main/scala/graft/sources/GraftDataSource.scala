package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.functions.{coalesce, col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{ByteType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL/catalog surface for [[ManifestTable]] — the lakehouse layer as a
  * Spark data source, so a pure-SQL user (the reference's actual persona:
  * ad-hoc SQL over the warehouse, finnoio/jobhouse dags/sql) can
  * query a manifest table without calling Scala:
  *
  * {{{
  *   spark.read.format("graft").load("/path/to/table")          // snapshot
  *   spark.read.format("graft").option("version", 3).load(path) // time travel
  *   CREATE TEMPORARY VIEW jobs USING graft OPTIONS (path '...', version '3')
  *   SELECT * FROM jobs WHERE posted_at >= '2024-09-01'         -- pure SQL
  *   INSERT INTO jobs VALUES ...                 -- CAS append commit
  *   DELETE FROM cat.jobs WHERE d <= '...'       -- metadata-only retention
  *   spark.readStream.format("graft").load(path) -- the change feed
  *   df.writeStream.format("graft").option("path", p)... -- exactly-once sink
  * }}}
  *
  * (Direct `FROM graft.&#96;/path&#96;` SQL is a FileFormat-only Spark
  * feature; DSv2 providers surface to SQL through `USING graft` views.)
  *
  * Design: a DataSourceV2 [[TableProvider]] (registered under the short
  * name `graft` via the `DataSourceRegister` service loader — data-source
  * formats ride the service registry, not `SparkSessionExtensions`) whose
  * scan builder implements `SupportsPushDownFilters` +
  * `SupportsPushDownRequiredColumns`:
  *
  *   - **Dir-level stats pruning.** Pushed range predicates are evaluated
  *     against each commit's recorded min/max ([[ManifestTable.Entry]]
  *     stats) and non-matching data dirs are dropped from the scan
  *     entirely — the SQL-facing twin of [[ManifestTable.readWhere]].
  *     Pruning is advisory: every pushed filter is ALSO returned as a
  *     residual, so Spark re-evaluates rows and correctness never
  *     depends on the stats (absent or unparseable stats simply keep
  *     the dir).
  *   - **Native parquet execution.** The scan implements [[V1Scan]] (the
  *     same bridge Spark's built-in JDBC connector uses): at execution
  *     the surviving dirs are planned as a regular parquet read with the
  *     pushed predicates re-applied, so whole-stage codegen, vectorized
  *     decoding and parquet row-group pushdown all stay native instead
  *     of being re-implemented behind a `PartitionReaderFactory`.
  *     `needConversion = false` hands Spark the inner plan's InternalRow
  *     RDD directly — no per-row conversion at the bridge.
  *
  * The table binds its snapshot version when the read is planned (or to
  * the explicit `version` option): a long-running query reads ONE
  * consistent snapshot regardless of concurrent commits, and two reads
  * without `version` may legitimately see different heads.
  *
  * **Writes** ride the same surface — `INSERT INTO` / `INSERT OVERWRITE`
  * on a `USING graft` view or a [[GraftCatalog]] table, and
  * `df.write.format("graft").mode(...)` on an existing table — through
  * [[TableCapability.V1_BATCH_WRITE]] (the Kafka-connector bridge): the
  * plan's append/truncate intent maps 1:1 onto [[ManifestTable.commit]]
  * (`INSERT INTO` → `append = true`, `INSERT OVERWRITE` → the atomic
  * whole-snapshot overwrite), so the CAS contract is surfaced in SQL
  * vocabulary, not hidden behind it. Anything WITHOUT a 1:1 mapping is
  * refused: writes to a `version`-pinned or `sinceVersion` table throw
  * (a time-travel view is not a write target — commits only ever land on
  * the CAS head), and schema evolution stays library-side
  * ([[ManifestTable.commit]]'s `allowEvolution`) because INSERT semantics
  * align the query to the table schema before the write ever sees it.
  * New commits record min/max stats on the head's stats columns (SQL has
  * nowhere to name them — inheritance keeps pruning alive), overridable
  * with a `stats 'c1,c2'` option on the view/save.
  */
final class GraftDataSource extends TableProvider with DataSourceRegister
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider {
  override def shortName(): String = "graft"

  /** `spark.readStream.format("graft")` — the table's change feed as a
    * V1 streaming source ([[GraftStreamSource]]: version offsets, each
    * micro-batch a native pruned read of exactly the appended commits).
    */
  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft stream: the manifest schema is authoritative - drop .schema(...)")
    (shortName(), GraftDataSource.cacheStreamSetup(ctx.sparkSession, parameters)._2)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val (path, tableSchema, since, maxV) =
      GraftDataSource.consumeStreamSetup(ctx.sparkSession, parameters)
    new GraftStreamSource(ctx.sparkSession, path, tableSchema, since, maxV,
      metadataPath)
  }

  /** `stream.writeStream.format("graft")` — micro-batches land as
    * idempotent CAS commits ([[GraftStreamSink]]: append = token-gated
    * exactly-once appends, complete = whole-snapshot overwrite).
    */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    import org.apache.spark.sql.streaming.OutputMode
    require(partitionColumns.isEmpty,
      "graft sink: partitionBy is not supported - manifest tables " +
        "organize by commit; cluster at compaction (compactClustered/ZOrdered)")
    require(outputMode == OutputMode.Append() || outputMode == OutputMode.Complete(),
      s"graft sink: output mode $outputMode has no commit form - use " +
        "append (idempotent commits) or complete (whole-snapshot overwrite); " +
        "row-level upserts are cdcApply's job, not a sink's")
    val opts = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(parameters).asJava)
    val path = GraftDataSource.requiredPath(opts, "graft sink:")
    require(!opts.containsKey("version") && !opts.containsKey("sinceVersion"),
      "graft sink: version/sinceVersion are read options - commits land " +
        "on the CAS head")
    new GraftStreamSink(ctx.sparkSession, path, outputMode,
      GraftDataSource.statsOption(opts))
  }

  // user-specified schemas are rejected (supportsExternalMetadata stays
  // false): the manifest's union schema is authoritative, and a stale
  // user schema would silently null-fill evolved columns
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftDataSource.resolveTable(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    GraftDataSource.resolveTable(new CaseInsensitiveStringMap(properties))

  /** `df.write.format("graft").mode(...).save(path)` — the V1 fallback
    * write path. Spark 3.2+/4 routes Append and Overwrite saves of a
    * TableProvider through the DSv2 plan ([[GraftDataSource.GraftTable]]
    * → V1_BATCH_WRITE), so in practice only ErrorIfExists (the default)
    * and Ignore — the create-only modes DSv2 has no hook for on a
    * path-based save — reach this method; the Append/Overwrite cases
    * below run only under a `spark.sql.sources.useV1SourceList`
    * override. They are kept BEHAVIOR-IDENTICAL to the DSv2 write
    * (same commit forms, same option refusals, same stats inheritance)
    * precisely so the routing never matters: edit write semantics in
    * BOTH places or neither. The existence CHECK for the create-only
    * modes is advisory (two racing creators both pass it and their
    * commits serialize in CAS order — the same already-exists race every
    * path-based Spark source has); the COMMIT itself is never racy.
    */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val opts = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(parameters).asJava)
    val path = GraftDataSource.requiredPath(opts,
      "graft datasource: df.write needs .save(path) -")
    require(!opts.containsKey("version") && !opts.containsKey("sinceVersion"),
      "graft datasource: version/sinceVersion are read options - writes " +
        "always target the CAS head")
    val spark = ctx.sparkSession
    val stats = GraftDataSource.statsOption(opts)
      .getOrElse(ManifestTable.headStatsCols(spark, path))
    val exists = ManifestTable.currentVersion(spark, path) > 0
    mode match {
      case SaveMode.Append =>
        ManifestTable.commit(data, path, append = true, statsCols = stats)
      case SaveMode.Overwrite =>
        ManifestTable.commit(data, path, append = false, statsCols = stats)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft datasource: $path already has committed versions " +
            "(mode append/overwrite, or ManifestTable entry points)")
        ManifestTable.commit(data, path, append = false, statsCols = stats)
      case SaveMode.Ignore =>
        if (!exists)
          ManifestTable.commit(data, path, append = false, statsCols = stats)
    }
    // the post-write head as a relation (the JDBC-provider convention;
    // path saves discard it, but a caller holding it reads what it wrote)
    val head = ManifestTable.currentVersion(spark, path)
    val schema = ManifestTable.snapshotSchemaOf(spark, path, head)
    new GraftDataSource.GraftV1Relation(ctx, path, head, 0L, schema, schema,
      Array.empty)
  }
}

private[graft] object GraftDataSource {
  import ManifestTable.{ColStat, Entry}

  /** The single `path` option, trimmed and validated — ONE rule for all
    * four entry surfaces (table resolution, V1 save, stream setup,
    * sink) so path handling can never drift between them. `what`
    * prefixes the error with the surface's name and usage hint.
    */
  private def requiredPath(opts: CaseInsensitiveStringMap, what: String): String = {
    val p = Option(opts.get("path")).map(_.trim).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"$what a single `path` option is required"))
    // DataFrameReader.load(paths: _*) joins them with commas
    require(!p.contains(","), s"$what exactly one path")
    p
  }

  /** Resolve (path, pinned version) from reader options. The version pin
    * happens HERE, once per table resolution — `inferSchema` and
    * `getTable` both land on the same [[GraftTable]] value because the
    * resolved version is part of it, so a commit racing the two calls
    * cannot hand the plan a schema from one snapshot and data from
    * another (the second resolution re-pins, and the TABLE's own schema
    * is what the plan uses).
    */
  private def resolveTable(options: CaseInsensitiveStringMap): Table = {
    val path = requiredPath(options,
      "graft datasource: spark.read.format(\"graft\").load(\"/table/path\") -")
    val spark = SparkSession.active
    val history = Option(options.get("history")).map(_.trim).filter(_.nonEmpty)
      .map {
        case t if t.equalsIgnoreCase("true") => true
        case f if f.equalsIgnoreCase("false") => false
        case other => throw new IllegalArgumentException(
          s"graft datasource: history '$other' is not true/false")
      }.getOrElse(false)
    if (history) {
      // the version ledger as a table - what makes VERSION AS OF
      // discoverable from SQL. Scoping options have no meaning against
      // the ledger (it lists ALL retained versions): silently dropping a
      // pin would violate the loud-option contract below
      require(!options.containsKey("version") && !options.containsKey("sinceVersion"),
        "graft datasource: history is the full version ledger - " +
          "version/sinceVersion do not apply")
      require(ManifestTable.currentVersion(spark, path) > 0,
        s"graft datasource: $path has no committed version")
      return GraftHistoryTable(path)
    }
    // an explicit option must parse to a LEGAL value — a templated view
    // interpolating version '0' or '-1' must fail loudly, not silently
    // read the live head as if no pin had been asked for. (sinceVersion
    // '0' stays legal: "appended since before v1" IS the full snapshot,
    // the documented bootstrap semantics of readAppendedSince.)
    def versionOpt(key: String, minLegal: Long): Long =
      Option(options.get(key)).map(_.trim).filter(_.nonEmpty)
        .map(v => scala.util.Try(v.toLong).filter(_ >= minLegal).getOrElse(
          throw new IllegalArgumentException(
            s"graft datasource: $key '$v' is not a version >= $minLegal")))
        .getOrElse(0L)
    val version = versionOpt("version", 1L)
    // an explicit pin must NAME a real snapshot — resolve it to the
    // catalog's own error, not a raw manifest-file-not-found downstream
    if (version > 0)
      require(ManifestTable.versionExists(spark, path, version),
        s"graft datasource: $path has no committed version $version " +
          "(never committed, or vacuumed)")
    val pinned = if (version > 0) version else ManifestTable.currentVersion(spark, path)
    val since = versionOpt("sinceVersion", 0L)
    if (pinned <= 0) {
      // an UNBORN table: DataFrameWriter's create-mode probe resolves the
      // table before the V1 write fallback can bootstrap it, so a missing
      // table must resolve — to a table every SCAN of which refuses
      // loudly (a typo'd path must never read as an empty table) and only
      // a whole-table write can bring to life. Scoped reads of nothing
      // stay resolution-time errors.
      require(version == 0 && since == 0,
        s"graft datasource: $path has no committed version to pin or tail")
      return GraftTable(path, 0L, 0L, explicitPin = false,
        statsOpt = statsOption(options))
    }
    if (since > 0) {
      require(since <= pinned, s"graft datasource: sinceVersion $since is " +
        s"past the ${if (version > 0) "pinned version" else "head"} $pinned")
      // fail the append-only boundary at RESOLUTION (planning) time, not
      // first scan - versions are immutable, so a boundary that holds
      // here holds at every scan of this table object
      ManifestTable.appendedEntries(spark, path, since, pinned)
    }
    GraftTable(path, pinned, since,
      explicitPin = version > 0, statsOpt = statsOption(options))
  }

  /** The `stats 'c1,c2'` option: which columns a write through this table
    * records min/max on. None = inherit the head commit's stats columns.
    */
  private def statsOption(options: CaseInsensitiveStringMap): Option[Seq[String]] =
    Option(options.get("stats")).map(_.split(',').toSeq
      .map(_.trim).filter(_.nonEmpty))

  // sourceSchema (plan resolution) and createSource (query start) run on
  // DIFFERENT provider instances — Spark's DataSource.providingInstance()
  // is a def constructing a fresh provider per call — so the handoff that
  // makes the source bind exactly the schema the PLAN resolved must be
  // OBJECT-level: sourceSchema caches its resolution keyed by the full
  // parameter map, createSource consumes it. Without this, an evolution
  // append landing between resolution and start re-resolves one column
  // wider than the bound plan and the first batch fails on attribute
  // mismatch. A consumed/absent entry re-resolves (two concurrent starts
  // of identical parameter maps: the second re-resolves — same rare race,
  // strictly no worse). Entries EXPIRE after a TTL far above any real
  // resolve→start gap: a resolution built but never started (a notebook
  // cell re-run hours later, after the table evolved) must NOT hand its
  // stale schema to the next identically-parameterized stream — and
  // eviction removes only expired entries, because a blanket clear()
  // would wipe other queries' in-flight resolutions and re-open the
  // very race this cache closes.
  private val streamResolutions = new java.util.concurrent.ConcurrentHashMap[
    Map[String, String], (Long, (String, StructType, Long, Option[Long]))]()
  private val StreamResolutionTtlMs = 10L * 60 * 1000

  private def cacheStreamSetup(spark: SparkSession,
      parameters: Map[String, String])
      : (String, StructType, Long, Option[Long]) = {
    val now = System.currentTimeMillis()
    if (streamResolutions.size > 64) {
      streamResolutions.entrySet.removeIf(e => now - e.getValue._1 > StreamResolutionTtlMs)
      if (streamResolutions.size > 64) streamResolutions.clear() // 64+ LIVE: pathological
    }
    streamResolutions.compute(parameters, (p, prev) =>
      if (prev != null && now - prev._1 <= StreamResolutionTtlMs) prev
      else (now, streamSetup(spark, p)))._2
  }

  private def consumeStreamSetup(spark: SparkSession,
      parameters: Map[String, String])
      : (String, StructType, Long, Option[Long]) =
    Option(streamResolutions.remove(parameters))
      .filter { case (ts, _) =>
        System.currentTimeMillis() - ts <= StreamResolutionTtlMs }
      .map(_._2)
      .getOrElse(streamSetup(spark, parameters))

  /** Stream-source option resolution: (path, schema, sinceVersion,
    * maxVersionsPerBatch). The table must exist — a stream needs a real
    * schema to bind, and tailing an unborn path is a typo until proven
    * otherwise. The schema is the head snapshot's, fixed for the
    * stream's lifetime.
    */
  private def streamSetup(spark: SparkSession,
      parameters: Map[String, String])
      : (String, StructType, Long, Option[Long]) = {
    val opts = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(parameters).asJava)
    val path = requiredPath(opts, "graft stream:")
    require(!opts.containsKey("version"),
      "graft stream: version pins are a batch read option - a stream " +
        "tails the head; use sinceVersion to choose where the tail starts")
    val head = ManifestTable.currentVersion(spark, path)
    require(head > 0, s"graft stream: $path has no committed version")
    val since = Option(opts.get("sinceVersion")).map(_.trim).filter(_.nonEmpty)
      .map(v => scala.util.Try(v.toLong).filter(_ >= 0L).getOrElse(
        throw new IllegalArgumentException(
          s"graft stream: sinceVersion '$v' is not a version >= 0")))
      .getOrElse(0L)
    // the batch surface refuses a sinceVersion past the head; a STREAM
    // doing so would not fail - it would silently deliver nothing
    // forever (and skip the gap once the head catches up), the worse bug
    require(since <= head, s"graft stream: sinceVersion $since is past " +
      s"the head $head")
    val maxV = Option(opts.get("maxVersionsPerBatch")).map(_.trim)
      .filter(_.nonEmpty).map(v => scala.util.Try(v.toLong).filter(_ > 0L)
        .getOrElse(throw new IllegalArgumentException(
          s"graft stream: maxVersionsPerBatch '$v' is not a version count > 0")))
    (path, ManifestTable.snapshotSchemaOf(spark, path, head), since, maxV)
  }

  /** Stats tag for a column type — MUST mirror [[ManifestTable.statTags]]
    * (the write side): a read-side tag the write side never records is
    * just "no stats = no pruning", but a mismatched canonical FORM would
    * prune wrongly. None = type never carries stats, never prunes.
    */
  private def tagOf(schema: StructType, column: String): Option[String] =
    schema.find(_.name == column).map(_.dataType).collect {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => "num"
      case StringType | DateType => "str"
      case TimestampType => "ts"
      case TimestampNTZType => "tsn"
    }

  /** A filter value rendered in the stat tag's canonical string form, or
    * None when it can't be (null literal, unexpected runtime type) — in
    * which case the dir is kept, never pruned.
    */
  private def canon(tag: String, v: Any): Option[String] = v match {
    case null => None
    case _ => tag match {
      case "num" => scala.util.Try(BigDecimal(v.toString).toString).toOption
      case "ts" => v match {
        case t: java.sql.Timestamp => // floorDiv: pre-epoch instants too
          Some(ManifestTable.tsCanon(
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L))
        case i: java.time.Instant =>
          Some(ManifestTable.tsCanon(
            i.getEpochSecond * 1000000L + i.getNano / 1000L))
        case l: java.lang.Long =>
          // defensive: a bare long against a TimestampType column (the
          // tag came from the schema) can only sanely mean Catalyst's
          // internal epoch micros. Spark's own filter translation
          // (incl. the DELETE path's V2→V1 shim, which DOES run
          // convertToScala on literals - verified in 4.1.2) never
          // delivers this; a library caller building raw Filters might
          Some(ManifestTable.tsCanon(l))
        case _ => None
      }
      case "tsn" => v match { // NTZ: pure wall time, fixed-width render
        case ldt: java.time.LocalDateTime =>
          Some(java.time.format.DateTimeFormatter
            .ofPattern(ManifestTable.TsPattern).format(ldt))
        case l: java.lang.Long => // internal micros = wall-time-as-UTC
          Some(ManifestTable.tsCanon(l))
        // NO java.sql.Timestamp branch: a Timestamp is an INSTANT, and
        // rendering it as NTZ wall time needs a zone nobody specified -
        // toLocalDateTime would use the JVM default, making the proof
        // bound zone-dependent (over-deletion risk). No canon = no
        // proof = conservative.
        case _ => None
      }
      case _ => v match { // "str": strings raw; dates as yyyy-MM-dd
        case s: String => Some(s)
        case d: java.sql.Date => Some(d.toString)
        case d: java.time.LocalDate => Some(d.toString)
        case _ => None
      }
    }
  }

  /** Dir-level answer to "can this commit hold rows matching `f`?" —
    * strictly conservative: true unless the stats PROVE no row can
    * match. Strict vs non-strict inequalities deliberately collapse
    * (GreaterThan prunes like GreaterThanOrEqual): a dir whose max
    * exactly equals a strict bound survives — pruning may only skip
    * what provably cannot match, and the residual filter drops the
    * boundary rows.
    *
    * Bounds canonicalize per tag ([[canon]]) and compare through
    * [[ManifestTable.statOverlap]], the comparator the merge path and
    * [[ManifestTable.prunedDataDirs]] share. A bound that does not
    * canonicalize never throws here — a planner-path filter only
    * declines to prune.
    */
  private[graft] def entryCanMatch(schema: StructType, e: Entry, f: Filter): Boolean = {
    def bounded(c: String, lo: Option[Any], hi: Option[Any]): Boolean =
      (for {
        tag <- tagOf(schema, c)
        stat <- e.stats.get(c)
      } yield ManifestTable.statOverlap(stat.tag, stat,
        lo.flatMap(canon(tag, _)), hi.flatMap(canon(tag, _))))
        .getOrElse(true) // no stats / untagged type: never prune
    f match {
      case AlwaysTrue() => true
      case AlwaysFalse() => false // no row can match FALSE: prunable, and
        // on the delete path "provably no match" correctly KEEPS the dir
      case EqualTo(c, v) => bounded(c, Some(v), Some(v))
      case EqualNullSafe(c, v) if v != null => bounded(c, Some(v), Some(v))
      case GreaterThan(c, v) => bounded(c, Some(v), None)
      case GreaterThanOrEqual(c, v) => bounded(c, Some(v), None)
      case LessThan(c, v) => bounded(c, None, Some(v))
      case LessThanOrEqual(c, v) => bounded(c, None, Some(v))
      case In(c, vs) => vs.isEmpty || vs.exists(v => bounded(c, Some(v), Some(v)))
      // a recorded zero null count PROVES no row is null — without this,
      // DELETE WHERE c IS NULL on an all-non-null table would classify
      // every commit CowRewrite and rewrite 100 TB to delete nothing
      // (and a scan-side IS NULL would read every dir). A missing or
      // positive count keeps the dir, conservative as ever.
      case IsNull(c) => !e.stats.get(c).exists(_.nulls.contains(0L))
      case EqualNullSafe(c, v) if v == null => // <=> NULL is IS NULL
        !e.stats.get(c).exists(_.nulls.contains(0L))
      case And(l, r) => entryCanMatch(schema, e, l) && entryCanMatch(schema, e, r)
      case Or(l, r) => entryCanMatch(schema, e, l) || entryCanMatch(schema, e, r)
      case _ => true // Not, string matchers, ...: no dir-level claim
    }
  }

  /** The entries of a snapshot that survive every pushed filter —
    * conjunctive, like [[ManifestTable.readWhere]]. Pure over the entry
    * list (spec-able without a SparkSession).
    */
  private[graft] def pruneEntries(schema: StructType, entries: Seq[Entry],
      filters: Seq[Filter]): Seq[Entry] =
    entries.filter(e => filters.forall(f => entryCanMatch(schema, e, f)))

  /** The DUAL proof: do the stats prove EVERY row of the commit matches
    * `f`? This is what metadata-only DELETE stands on — a dir may be
    * dropped from the snapshot only when no row in it can survive the
    * predicate. Strictly conservative the other way around from
    * [[entryCanMatch]]: false unless proven, and strict vs non-strict
    * inequalities genuinely differ here (all rows > v needs min > v, not
    * min >= v). Any proof about a column additionally needs ZERO null
    * rows in it ([[ManifestTable.ColStat.nulls]]): min/max ignore nulls,
    * a predicate evaluates NULL on them, and a null-predicate row is NOT
    * deleted — dropping its dir would over-delete. Entries written before
    * the null count existed never prove all-match, which fails toward
    * refusing the delete, never toward losing rows.
    */
  private[graft] def entryAllMatch(schema: StructType, e: Entry, f: Filter): Boolean = {
    def noNulls(c: String) = e.stats.get(c).exists(_.nulls.contains(0L))
    def within(c: String, lo: Option[Any], loStrict: Boolean,
        hi: Option[Any], hiStrict: Boolean): Boolean =
      noNulls(c) && (for {
        tag <- tagOf(schema, c)
        stat <- e.stats.get(c)
        loC <- sequenceOpt(lo.map(canon(tag, _)))
        hiC <- sequenceOpt(hi.map(canon(tag, _)))
      } yield statAllIn(tag, stat, loC, loStrict, hiC, hiStrict))
        .getOrElse(false)
    f match {
      case AlwaysTrue() => true
      case EqualTo(c, v) if v != null =>
        within(c, Some(v), loStrict = false, Some(v), hiStrict = false)
      case EqualNullSafe(c, v) if v != null =>
        within(c, Some(v), loStrict = false, Some(v), hiStrict = false)
      case GreaterThan(c, v) => within(c, Some(v), loStrict = true, None, hiStrict = false)
      case GreaterThanOrEqual(c, v) => within(c, Some(v), loStrict = false, None, hiStrict = false)
      case LessThan(c, v) => within(c, None, loStrict = false, Some(v), hiStrict = true)
      case LessThanOrEqual(c, v) => within(c, None, loStrict = false, Some(v), hiStrict = false)
      case In(c, vs) => // provable exactly when the dir is single-valued
        vs.exists(v => v != null &&
          within(c, Some(v), loStrict = false, Some(v), hiStrict = false))
      case IsNotNull(c) => noNulls(c)
      case And(l, r) => entryAllMatch(schema, e, l) && entryAllMatch(schema, e, r)
      case Or(l, r) => entryAllMatch(schema, e, l) || entryAllMatch(schema, e, r)
      case Not(inner) =>
        // every row satisfies ¬p iff NO row satisfies p AND no row
        // evaluates p to NULL (¬NULL is NULL, which does not delete)
        inner.references.forall(noNulls) && !entryCanMatch(schema, e, inner)
      case _ => false // IsNull (needs all-null proof), string matchers, ...
    }
  }

  /** Recorded [mn,mx] ⊆ the bound interval, honoring strictness. False
    * on any parse surprise — an unproven delete must refuse, never drop.
    */
  private def statAllIn(tag: String, s: ColStat, lo: Option[String],
      loStrict: Boolean, hi: Option[String], hiStrict: Boolean): Boolean =
    tag match {
      case "num" => scala.util.Try {
        lo.forall(l => if (loStrict) BigDecimal(s.min) > BigDecimal(l)
          else BigDecimal(s.min) >= BigDecimal(l)) &&
        hi.forall(h => if (hiStrict) BigDecimal(s.max) < BigDecimal(h)
          else BigDecimal(s.max) <= BigDecimal(h))
      }.getOrElse(false)
      case _ => // ts + str canonical forms: UTF-8 binary order
        lo.forall(l => { val c = ManifestTable.utf8Cmp(s.min, l)
          if (loStrict) c > 0 else c >= 0 }) &&
        hi.forall(h => { val c = ManifestTable.utf8Cmp(s.max, h)
          if (hiStrict) c < 0 else c <= 0 })
    }

  /** Some(None→None lifted): Some(x) iff the inner canon succeeded. */
  private def sequenceOpt(o: Option[Option[String]]): Option[Option[String]] =
    o match {
      case None => Some(None) // unbounded side: fine
      case Some(Some(v)) => Some(Some(v))
      case Some(None) => None // bound present but uncanonicalizable: no proof
    }

  /** True when pushing `f` can contribute to dir pruning — the subset
    * reported back as "pushed" so `explain` shows exactly the filters
    * the manifest stats will be consulted for.
    */
  private def prunable(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(c, _) => tagOf(schema, c).isDefined
    case GreaterThan(c, _) => tagOf(schema, c).isDefined
    case GreaterThanOrEqual(c, _) => tagOf(schema, c).isDefined
    case LessThan(c, _) => tagOf(schema, c).isDefined
    case LessThanOrEqual(c, _) => tagOf(schema, c).isDefined
    case In(c, _) => tagOf(schema, c).isDefined
    case EqualNullSafe(c, v) => v != null && tagOf(schema, c).isDefined
    case And(l, r) => prunable(schema, l) || prunable(schema, r)
    case Or(l, r) => prunable(schema, l) && prunable(schema, r)
    case _ => false
  }

  /** Filter → Column for re-application inside the V1 scan, so parquet
    * row-group pushdown happens in the inner (native) plan. Partial
    * translation is fine — Spark evaluates every filter again above the
    * scan regardless (all filters are returned as residuals) — EXCEPT
    * under a Not: dropping a conjunct WEAKENS a predicate, and negating
    * a weakened predicate STRENGTHENS it, which would drop rows the
    * original filter keeps; inside any Not the translation must be
    * exact or absent (`strict`).
    */
  private def filterColumn(f: Filter): Option[org.apache.spark.sql.Column] =
    translateFilter(f, strict = false)

  private def translateFilter(f: Filter,
      strict: Boolean): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(c, v) => Some(ManifestTable.colExact(c) === lit(v))
    case EqualNullSafe(c, v) => Some(ManifestTable.colExact(c) <=> lit(v))
    case GreaterThan(c, v) => Some(ManifestTable.colExact(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(ManifestTable.colExact(c) >= lit(v))
    case LessThan(c, v) => Some(ManifestTable.colExact(c) < lit(v))
    case LessThanOrEqual(c, v) => Some(ManifestTable.colExact(c) <= lit(v))
    case In(c, vs) if !vs.contains(null) => Some(ManifestTable.colExact(c).isin(vs.toSeq: _*))
    case IsNull(c) => Some(ManifestTable.colExact(c).isNull)
    case IsNotNull(c) => Some(ManifestTable.colExact(c).isNotNull)
    case StringStartsWith(c, p) => Some(ManifestTable.colExact(c).startsWith(p))
    case StringEndsWith(c, p) => Some(ManifestTable.colExact(c).endsWith(p))
    case StringContains(c, p) => Some(ManifestTable.colExact(c).contains(p))
    case And(l, r) =>
      (translateFilter(l, strict), translateFilter(r, strict)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case _ if strict => None // a dropped conjunct is not exact
        case (a, b) => a.orElse(b) // half a conjunction still narrows
      }
    case Or(l, r) => for {
      a <- translateFilter(l, strict)
      b <- translateFilter(r, strict)
    } yield a || b
    case Not(inner) => translateFilter(inner, strict = true).map(!_)
    case _ => None
  }

  /** One pinned manifest snapshot as a DSv2 table — or, with
    * `sinceVersion > 0`, the incremental slice appended after that
    * version (the [[ManifestTable.readAppendedSince]] contract: refuses
    * non-append boundaries, carries the full snapshot schema so evolved
    * columns null-fill).
    *
    * Writable (V1_BATCH_WRITE) unless the READ was explicitly scoped —
    * `version`-pinned or incremental — in which case the write target
    * would be ambiguous (commits land on the CAS head, not the pinned
    * snapshot) and [[newWriteBuilder]] refuses.
    */
  private[graft] final case class GraftTable(path: String,
      snapshotVersion: Long, sinceVersion: Long = 0L,
      explicitPin: Boolean = false, statsOpt: Option[Seq[String]] = None)
      extends Table with SupportsRead
      with org.apache.spark.sql.connector.catalog.SupportsWrite
      with org.apache.spark.sql.connector.catalog.SupportsDelete {

    /** `DELETE FROM … WHERE p` — metadata-first with a copy-on-write
      * fallback: a commit dir is dropped from the snapshot when its
      * stats prove every row matches `p` ([[entryAllMatch]]), kept when
      * they prove none can ([[entryCanMatch]]), and — when every
      * conjunct translates EXACTLY to a row predicate — a straddling dir
      * is rewritten minus its matching rows through
      * [[ManifestTable.cowRewriteCommit]]'s pinned CAS. Decidable dirs
      * NEVER rewrite: the 100 TB retention path (`DELETE WHERE
      * event_date < X` against date-clustered commits) still moves zero
      * bytes, and a point-delete (`WHERE k = 42`) rewrites only the
      * commits whose key range contains 42. Only a predicate with an
      * untranslatable conjunct AND an undecidable dir still refuses
      * (via [[canDeleteWhere]] = false → analysis error): a non-exact
      * row filter could over- or under-delete, and guessing is worse
      * than refusing.
      */
    override def canDeleteWhere(filters: Array[Filter]): Boolean = {
      if (explicitPin || sinceVersion > 0) return false
      val spark = SparkSession.active
      val head = math.max(snapshotVersion,
        ManifestTable.currentVersion(spark, path))
      // unborn table: nothing to delete and no snapshot schema to prove
      // against — refuse at analysis like every read path, instead of
      // letting deleteWhere die on a manifest-internal require
      if (head == 0) return false
      if (rowPredicate(filters).isDefined) return true
      // prove against the HEAD snapshot's schema, the same schema
      // deleteWhere's classify uses — a long-lived catalog table resolved
      // before an additive evolution would otherwise refuse deletes its
      // execution path could decide (conservative, but needlessly so)
      val snapSchema = ManifestTable.snapshotSchemaOf(spark, path, head)
      ManifestTable.manifestEntries(spark, path, head)
        .forall(e => decidable(snapSchema, e, filters))
    }

    private def decidable(s: StructType, e: Entry,
        filters: Array[Filter]): Boolean =
      filters.forall(f => entryAllMatch(s, e, f)) ||
        filters.exists(f => !entryCanMatch(s, e, f))

    /** The delete predicate as ONE exact row-level Column — `Some` only
      * when every conjunct translates strictly (a dropped conjunct
      * weakens the predicate, which on the delete path would over-delete).
      */
    private def rowPredicate(filters: Array[Filter])
        : Option[org.apache.spark.sql.Column] = {
      val cols = filters.map(f => translateFilter(f, strict = true))
      if (cols.exists(_.isEmpty)) None
      else cols.flatten.reduceOption(_ && _).orElse(Some(lit(true)))
    }

    override def deleteWhere(filters: Array[Filter]): Unit = {
      require(!explicitPin && sinceVersion == 0,
        s"graft datasource: cannot DELETE through a time-travel or " +
          s"incremental view of $path")
      val spark = SparkSession.active
      val pred = rowPredicate(filters)
      ManifestTable.cowRewriteCommit(spark, path,
        classify = (snapSchema, e) => {
          // re-proven per CAS attempt - the snapshot may have moved since
          // canDeleteWhere; the proofs run against the PINNED schema
          if (filters.forall(f => entryAllMatch(snapSchema, e, f)))
            ManifestTable.CowDrop
          else if (filters.exists(f => !entryCanMatch(snapSchema, e, f)))
            ManifestTable.CowKeep
          else if (pred.isDefined) ManifestTable.CowRewrite
          else throw new IllegalStateException(
            s"graft datasource: DELETE needs a metadata-only proof or an " +
              s"exactly-translatable predicate, but ${e.dir} straddles " +
              s"(${filters.mkString(" AND ")}) and a conjunct does not " +
              "translate - compact on the delete column or rewrite via " +
              "INSERT OVERWRITE")
        },
        // SQL DELETE semantics: rows where p is TRUE go; FALSE and NULL
        // survive - hence coalesce(p, false) under the negation
        rewrite = df => df.filter(not(coalesce(pred.getOrElse(lit(true)),
          lit(false)))))
      ()
    }

    /** `TRUNCATE TABLE` — an overwrite with the empty snapshot, schema
      * kept: `deleteWhere(TRUE)` drops every commit metadata-only, and
      * [[ManifestTable.cowRewriteCommit]] then commits its empty-snapshot
      * anchor, which preserves the schema.
      */
    override def truncateTable(): Boolean = {
      deleteWhere(Array[Filter](AlwaysTrue()))
      true
    }
    override def name(): String =
      s"graft.`$path`@v$snapshotVersion" +
        (if (sinceVersion > 0) s" since v$sinceVersion" else "")
    override lazy val schema: StructType = {
      val spark = SparkSession.active
      ManifestTable.snapshotSchemaOf(spark, path, snapshotVersion)
    }
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      // an unpinned table tracks the CAS head: the snapshot re-resolves
      // per scan build (= per query), so INSERT-then-SELECT through the
      // same long-lived view sees the insert — the Delta/Iceberg
      // convention; ONE query still reads ONE snapshot. max() so a
      // lagging pointer hint never travels BACKWARD from the version
      // resolution already saw. An explicit `version` pin stays frozen,
      // and the view's schema stays its resolution-time schema (SQL view
      // semantics; later-evolved columns are dropped, removed ones
      // null-fill via the slice-read contract).
      // an unborn table (resolved before any commit existed) never
      // becomes readable through this stale binding — its schema was
      // fixed empty at resolution; re-resolve after the table is born
      require(snapshotVersion > 0,
        s"graft datasource: $path has no committed version " +
          "(re-read/re-create the view if the table was created since)")
      val v = if (explicitPin) snapshotVersion
        else math.max(snapshotVersion,
          ManifestTable.currentVersion(SparkSession.active, path))
      new GraftScanBuilder(path, v, sinceVersion, schema)
    }
    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder = {
      require(!explicitPin,
        s"graft datasource: cannot write to the time-travel view of $path " +
          s"(version $snapshotVersion) - commits land on the CAS head; " +
          "read-only by construction")
      require(sinceVersion == 0,
        s"graft datasource: cannot write to the incremental (sinceVersion) " +
          s"slice of $path - it is a change feed, not a table")
      new GraftWriteBuilder(path, statsOpt, info)
    }
  }

  private[graft] val HistorySchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("version", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("committed_at", TimestampType),
    org.apache.spark.sql.types.StructField("n_dirs", IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("added_dirs", IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("removed_dirs", IntegerType, nullable = false)))

  /** The version ledger as a read-only table (`history 'true'` option,
    * or `SELECT * FROM cat.t.history` — the Iceberg metadata-table
    * idiom): one row per retained manifest with the commit's wall-clock
    * landing time (informational mtime — exactly why `TIMESTAMP AS OF`
    * stays refused while history happily REPORTS it), snapshot dir
    * count, and dirs added/removed vs the previous retained version.
    * Rows are one per version — driver-side by construction.
    */
  private[graft] final case class GraftHistoryTable(path: String)
      extends Table with SupportsRead {
    override def name(): String = s"graft.`$path`.history"
    override def schema: StructType = HistorySchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new V1Scan {
        override def readSchema(): StructType = HistorySchema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = HistorySchema
            override def buildScan(): RDD[Row] = {
              val spark = context.sparkSession
              val rows = ManifestTable.historyRows(spark, path)
                .map { case (v, millis, n, added, removed) =>
                  Row(v, new java.sql.Timestamp(millis), n, added, removed)
                }
              spark.sparkContext.parallelize(rows, 1)
            }
          }.asInstanceOf[T]
      }
  }

  /** The write half of the SQL surface: `build()` hands Spark a
    * [[V1Write]] whose [[InsertableRelation]] IS [[ManifestTable.commit]]
    * — append for `INSERT INTO` / `SaveMode.Append`, whole-snapshot
    * overwrite for `INSERT OVERWRITE` / `SaveMode.Overwrite` (Spark
    * routes both through [[SupportsTruncate.truncate]] when the overwrite
    * condition is the whole table; partial `OVERWRITE WHERE` never
    * reaches a V1 write — Spark requires OVERWRITE_BY_FILTER for that,
    * which manifest commits deliberately do not claim). Concurrency is
    * commit's own CAS loop: concurrent INSERTs serialize in CAS order,
    * INSERT OVERWRITE is last-writer-wins, exactly the library contract.
    */
  private final class GraftWriteBuilder(path: String,
      tableStats: Option[Seq[String]],
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      extends org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
    private var overwrite = false
    override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
      overwrite = true; this
    }
    override def build(): org.apache.spark.sql.connector.write.Write = {
      val doOverwrite = overwrite
      // write-time options (df.write.option(...)) override table-level
      val stats = statsOption(info.options).orElse(tableStats)
      new org.apache.spark.sql.connector.write.V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwriteParam: Boolean): Unit = {
              val statsCols = stats.getOrElse(
                ManifestTable.headStatsCols(data.sparkSession, path))
              ManifestTable.commit(data, path,
                append = !(doOverwrite || overwriteParam),
                statsCols = statsCols)
            }
          }
      }
    }
  }

  private final class GraftScanBuilder(path: String, version: Long,
      since: Long, fullSchema: StructType)
      extends ScanBuilder with SupportsPushDownFilters
      with SupportsPushDownRequiredColumns {
    private var required: StructType = fullSchema
    private var pushed: Array[Filter] = Array.empty

    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      pushed = filters.filter(prunable(fullSchema, _))
      filters // ALL residual: pruning is advisory, rows re-checked above
    }
    override def pushedFilters(): Array[Filter] = pushed
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema
    override def build(): Scan =
      new GraftScan(path, version, since, fullSchema, required, pushed)
  }

  private final class GraftScan(path: String, version: Long, since: Long,
      fullSchema: StructType, required: StructType, pushed: Array[Filter])
      extends V1Scan {
    override def readSchema(): StructType = required
    override def description(): String =
      s"graft manifest $path@v$version" +
        (if (since > 0) s" since v$since" else "") + ", pruning on " +
        (if (pushed.isEmpty) "<none>" else pushed.mkString(", "))
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new GraftV1Relation(context, path, version, since, fullSchema,
        required, pushed).asInstanceOf[T]
  }

  /** The V1 bridge relation: builds the pruned snapshot read as a normal
    * DataFrame plan and hands over its InternalRow RDD.
    */
  private final class GraftV1Relation(context: SQLContext, path: String,
      version: Long, since: Long, fullSchema: StructType,
      required: StructType, pushed: Array[Filter])
      extends BaseRelation with TableScan {
    override def sqlContext: SQLContext = context
    override def schema: StructType = required
    // buildScan's rows are the inner plan's InternalRows, handed through
    // without per-row conversion (the standard V1Scan-bridge contract)
    override def needConversion: Boolean = false

    override def buildScan(): RDD[Row] = {
      val spark = context.sparkSession
      val entries =
        if (since > 0)
          ManifestTable.appendedEntries(spark, path, since, version)._2
        else ManifestTable.manifestEntries(spark, path, version)
      val survivors = pruneEntries(fullSchema, entries, pushed.toSeq)
      var df = ManifestTable.sliceReadAs(spark, path,
        survivors.map(_.dir).sorted, fullSchema)
      pushed.flatMap(filterColumn).foreach(c => df = df.filter(c))
      val projected =
        if (required.isEmpty) df.select() // count(*)-style empty projection
        else df.select( // exact names: a dotted column is not a struct path
          required.fieldNames.map(ManifestTable.colExact).toIndexedSeq: _*)
      projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
    }
  }
}
