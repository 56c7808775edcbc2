package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.CacheHygiene
import graft.sources.{BronzeLayer, ManifestTable, MetadataStore}
import graft.streaming.BronzePipeline

/** The `medallion` workload: one writer thread and one reader thread,
  * each a closed loop.
  *
  * Writer tick: land a generated JSONL batch, run the dedup gate
  * (`MetadataStore.ingestWithGate`), upsert the admitted rows into
  * `silver_current` with SQL `MERGE INTO` (GraftDml over GraftCatalog),
  * drain bronze into the `silver` and `gold` manifest tables
  * (`BronzePipeline.runOnceToTable` / `martRunOnceToTable`), and every
  * [[CompactEvery]] ticks cluster-compact `silver_current`.
  *
  * Reader: one gold "last 24 h by source" read (`readRange` on `hour`),
  * then two `silver_current` key-range reads (`readWhere`), repeated, in
  * the order the plan lists.
  *
  * Plan lines: `tick <phase> <batch_id> <file> <event_hi_ms> <rows>`,
  * `read gold`, `read silver <lo> <hi>`. Phases: warm (set-up; the reader
  * starts once `silver_current` exists and skips gold reads until the
  * gold mart has its first commit), timed, traced.
  *
  * The traced phase's own bookkeeping (admitted rows, rewritten dirs,
  * compacted bytes, pruned file fractions) runs outside every op window
  * and outside the counters: from the tables' state after the phase, or
  * with the probe and the counting store paused.
  */
object Medallion {
  /** Cluster-compact `silver_current` every this many ticks (see
    * perfbench/METRICS.md for how the cadence was chosen). */
  val CompactEvery = 2
  /** `compactClustered` buckets on `posting_id`. */
  val Buckets = 4
  /** Reads the traced phase makes, so its layer totals are comparable. */
  val TracedReads = 24

  private val Cols = Seq("posting_id", "raw_content", "source", "extracted_at")
  private val StagingSchema =
    "posting_id STRING, raw_content STRING, source STRING, extracted_at TIMESTAMP"
  private val HourFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  private final case class Tick(phase: String, id: String, file: String, eventHiMs: Long, rows: Long)

  def run(ctx: Ctx, plan: Seq[Seq[String]]): Unit = {
    val spark = ctx.spark
    val w = ctx.workDir
    val bronze = s"$w/bronze"
    val meta = s"$w/meta"
    val silverCurrent = s"$w/lake/silver_current"
    val silver = s"$w/lake/silver"
    val gold = s"$w/lake/gold"
    val ticks = plan.filter(_.head == "tick").map(l => Tick(l(1), l(2), l(3), l(4).toLong, l(5).toLong))
    val reads = plan.filter(_.head == "read").map(_.tail)
    Files.createDirectories(Paths.get(w, "landing"))
    val tr = ctx.tracer

    @volatile var phase = ""
    @volatile var latestHiMs = 0L
    @volatile var writerDone = false
    @volatile var goldReads = 0

    def entries(table: String, v: Long): Set[String] =
      ManifestTable.manifestEntries(spark, table, v).map(_.dir).toSet
    def dirBytes(root: Path): Long =
      if (!Files.exists(root)) 0L
      else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

    def rootsBytes(): Long =
      Seq(bronze, meta, silverCurrent, silver, gold).map(p => dirBytes(Paths.get(p))).sum

    def drain(kind: String, id: String)(start: => StreamingQuery): Unit =
      tr.span("streaming", s"drain_$kind", id) {
        val q = start
        q.awaitTermination()
        if (tr.on) q.recentProgress.foreach { p =>
          def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
          tr.note("trigger_s", d("triggerExecution"))
          tr.note("addbatch_s", d("addBatch"))
          tr.note("plan_s", d("queryPlanning"))
          tr.note("log_s", d("walCommit") + d("commitOffsets"))
          tr.note("rows_in", p.numInputRows.toDouble)
        }
      }

    def tick(t: Tick, index: Int): OpRecord = {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var error = ""
      try {
        val landed = Files.move(Paths.get(w, "pending", t.file), Paths.get(w, "landing", t.file),
          StandardCopyOption.ATOMIC_MOVE)
        val incoming = spark.read.schema(StagingSchema).json(landed.toString)
        val admitted = tr.span("sources", "gate", t.id) {
          MetadataStore.ingestWithGate(incoming, bronze, meta, t.id)
        }
        try {
          val rows = admitted.select(Cols.map(col): _*)
          if (index == 0)
            ManifestTable.commit(rows, silverCurrent, append = false, statsCols = Seq("posting_id"))
          else {
            rows.createOrReplaceTempView("bench_updates")
            tr.span("plans", "merge", t.id) {
              spark.sql("MERGE INTO lake.silver_current t USING bench_updates s " +
                "ON t.posting_id = s.posting_id " +
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()
            }
          }
        } finally CacheHygiene.release(admitted)
        drain("silver", t.id)(BronzePipeline.runOnceToTable(spark, bronze, silver, s"$w/chk/silver"))
        drain("gold", t.id)(BronzePipeline.martRunOnceToTable(spark, bronze, gold, s"$w/chk/gold"))
        if (index > 0 && index % CompactEvery == 0)
          tr.span("sources", "compact", t.id) {
            ManifestTable.compactClustered(spark, silverCurrent, "posting_id", Buckets,
              statsCols = Seq("posting_id"))
          }
        latestHiMs = t.eventHiMs
      } catch { case NonFatal(e) => error = Errors.describe(e) }
      OpRecord("write", t.id, t.phase, startMs, (System.nanoTime() - t0) / 1e9, error, t.rows)
    }

    // reader -----------------------------------------------------------
    var readFileFracs = Vector.empty[Double]
    var tableFiles = Vector.empty[Double]
    def read(spec: Seq[String], n: Int): OpRecord = {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ph = phase
      var error = ""
      var rows = 0L
      var pruned: Option[(org.apache.spark.sql.DataFrame, String)] = None
      try spec.head match {
        case "gold" =>
          val hi = latestHiMs
          val (lo, hiS) = (HourFmt.format(Instant.ofEpochMilli(hi - 24L * 3600 * 1000)),
            HourFmt.format(Instant.ofEpochMilli(hi)))
          val df = tr.span("sources", "read_gold", s"r$n") {
            val d = ManifestTable.readRange(spark, gold, "hour", lo, hiS)
            val out = d.filter(col("hour").between(lo, hiS)).groupBy("source")
              .agg(sum("n_postings").as("n")).collect()
            rows = out.length
            require(out.nonEmpty && out.forall(r => r.getString(0) != null && r.getLong(1) > 0),
              s"gold read [$lo, $hiS] returned no positive per-source counts")
            d
          }
          pruned = Some((df, gold))
        case "silver" =>
          val (lo, hi) = (spec(1), spec(2))
          val df = tr.span("sources", "read_silver", s"r$n") {
            val d = ManifestTable.readWhere(spark, silverCurrent, Seq(("posting_id", lo, hi)))
            val ids = d.filter(col("posting_id").between(lo, hi)).select("posting_id")
              .collect().map(_.getString(0))
            rows = ids.length
            require(ids.nonEmpty && ids.distinct.length == ids.length,
              s"silver_current read [$lo, $hi] returned ${ids.length} rows, " +
                s"${ids.length - ids.distinct.length} duplicate keys")
            d
          }
          pruned = Some((df, silverCurrent))
      } catch { case NonFatal(e) => error = Errors.describe(e) }
      val rec = OpRecord("query", s"read_${spec.head}", ph, startMs,
        (System.nanoTime() - t0) / 1e9, error, rows)
      if (tr.on) pruned.foreach { case (df, table) => pruning(df, table) }
      rec
    }
    // after the op: its snapshot listing is the benchmark's, not the read's
    def pruning(df: org.apache.spark.sql.DataFrame, table: String): Unit =
      CountingCommitStore.uncounted {
        ctx.setTrack(Probe.HarnessTrack)
        try {
          val all = ManifestTable.read(spark, table).inputFiles.length.toDouble
          readFileFracs :+= df.inputFiles.length / math.max(all, 1.0)
          tableFiles :+= all
        } finally ctx.setTrack("read")
      }
    val reader = new Thread(() => {
      ctx.setTrack("read")
      while (!writerDone && !ManifestTable.isTable(spark, silverCurrent)) Thread.sleep(100)
      var goldReady = false
      var n = 0
      var tracedDone = 0
      // untraced phases read while the writer runs; the traced phase makes
      // a fixed number of reads so its layer totals are comparable
      def more = if (phase == "traced") tracedDone < TracedReads else !writerDone
      while (more) {
        val spec = reads(n % reads.size)
        goldReady = goldReady || ManifestTable.isTable(spark, gold)
        if (spec.head == "silver" || goldReady) {
          val rec = read(spec, n)
          if (spec.head == "gold") goldReads += 1
          if (rec.phase == "traced") tracedDone += 1
          ctx.ops.add(rec)
        }
        n += 1
      }
    }, "medallion-reader")

    // writer (this thread) ------------------------------------------------
    ctx.setTrack("write")
    var tracedWall = 0.0
    var tracedT0 = 0L
    var tracedFrom = 0L   // silver_current version before the traced phase
    ticks.zipWithIndex.foreach { case (t, i) =>
      if (t.phase != phase) {
        if (phase == "warm" && t.phase == "timed") {
          // set-up ends once the reader has warmed its gold path too (the
          // gold mart only gets its first commit in the last warm tick)
          val deadline = System.currentTimeMillis() + 10000
          while (goldReads < 2 && reader.isAlive && System.currentTimeMillis() < deadline)
            Thread.sleep(20)
          ctx.setupEndMs = System.currentTimeMillis()
        }
        if (t.phase == "traced") {
          ctx.rssMb = ctx.peakRssMb()
          ctx.probe.reset()
          ctx.facts("bytes_before_traced") = rootsBytes()
          tracedFrom = ManifestTable.currentVersion(spark, silverCurrent)
          tracedT0 = System.nanoTime()
          ctx.tracing(on = true)
        }
        phase = t.phase
        if (phase == "warm") reader.start()
      }
      ctx.ops.add(tick(t, i))
    }
    if (phase != "traced") ctx.rssMb = ctx.peakRssMb()
    writerDone = true
    reader.join()
    if (tr.on) {
      tracedWall = (System.nanoTime() - tracedT0) / 1e9
      ctx.tracing(on = false)
    }

    if (phase == "traced") {
      val bytesWritten = rootsBytes() - ctx.facts("bytes_before_traced").asInstanceOf[Long]
      val spans = tr.spans
      def named(n: String) = spans.filter(_.name == n)
      def secs(n: String) = named(n).map(_.seconds).sum
      def extra(prefix: String, k: String) =
        spans.filter(_.name.startsWith(prefix)).map(_.extra.getOrElse(k, 0.0)).sum
      val reads = spans.filter(_.name.startsWith("read_"))
      val drains = spans.filter(_.name.startsWith("drain_"))
      // silver_current versions of the phase, attributed to the merge or
      // compaction span whose window holds their commit stamp
      def within(n: String, ms: Long) = named(n).exists(s => s.startMs <= ms && ms <= s.endMs)
      var mergeDirsRewritten, compactBytes = 0L
      var prev = entries(silverCurrent, tracedFrom)
      (tracedFrom + 1 to ManifestTable.currentVersion(spark, silverCurrent)).foreach { v =>
        val cur = entries(silverCurrent, v)
        val stamp = ManifestTable.commitTimeMs(spark, silverCurrent, v).getOrElse(-1L)
        if (within("merge", stamp)) mergeDirsRewritten += (prev -- cur).size
        if (within("compact", stamp))
          compactBytes += (cur -- prev).toSeq.map(d => dirBytes(Paths.get(silverCurrent, d))).sum
        prev = cur
      }
      val tracedTicks = ticks.filter(_.phase == "traced")
      val admittedRows = MetadataStore.read(spark, meta)
        .filter(col("batch_id").isin(tracedTicks.map(_.id): _*)).count()
      ctx.layers ++= Seq(
        "sources.gate_calls" -> named("gate").size.toDouble,
        "sources.gate_s" -> secs("gate"),
        "sources.gate_admit_frac" -> admittedRows / math.max(tracedTicks.map(_.rows).sum, 1L).toDouble,
        "sources.read_calls" -> reads.size.toDouble,
        "sources.read_s" -> reads.map(_.seconds).sum,
        "sources.read_file_frac" -> mean(readFileFracs),
        "sources.table_files" -> mean(tableFiles),
        "sources.compact_calls" -> named("compact").size.toDouble,
        "sources.compact_s" -> secs("compact"),
        "sources.compact_bytes" -> compactBytes.toDouble,
        "sources.store_ops" -> CountingCommitStore.ops.get.toDouble,
        "sources.publish_s" -> CountingCommitStore.publishNs.get / 1e9,
        "sources.cas_losses" -> CountingCommitStore.casLosses.get.toDouble,
        "sources.bytes_written" -> bytesWritten.toDouble,
        "plans.merge_calls" -> named("merge").size.toDouble,
        "plans.merge_s" -> secs("merge"),
        "plans.merge_dirs_rewritten" -> mergeDirsRewritten.toDouble,
        "streaming.drains" -> drains.size.toDouble,
        "streaming.drain_s" -> drains.map(_.seconds).sum,
        "streaming.trigger_s" -> extra("drain_", "trigger_s"),
        "streaming.addbatch_s" -> extra("drain_", "addbatch_s"),
        "streaming.plan_s" -> extra("drain_", "plan_s"),
        "streaming.log_s" -> extra("drain_", "log_s"),
        "streaming.overhead_s" -> (drains.map(_.seconds).sum - extra("drain_", "trigger_s")),
        "streaming.rows_in" -> extra("drain_", "rows_in"))
      val windows = ctx.ops.asScala.toSeq.filter(_.phase == "traced").map(o =>
        (if (o.kind == "write") "write" else "read", o.startMs, o.startMs + math.round(o.seconds * 1000)))
      ctx.sparkLayer(tracedWall, windows)
    }

    // end state for the output checks (untimed) -------------------------
    ctx.facts("ticks_done") = ticks.size.toLong
    ctx.facts("bytes_under_roots") = rootsBytes()
    def count(f: => Long): Long = try f catch { case NonFatal(_) => -1L }
    ctx.facts("bronze_rows") = count(BronzeLayer.readRaw(spark, bronze).count())
    ctx.facts("meta_rows") = count(MetadataStore.read(spark, meta).count())
    ctx.facts("silver_rows") = count(ManifestTable.read(spark, silver).count())
    ManifestTable.read(spark, silverCurrent).select(Cols.map(col): _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$w/out/silver_current")
    ManifestTable.read(spark, gold).coalesce(1).write.mode("overwrite").parquet(s"$w/out/gold")
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
