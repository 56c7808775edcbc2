package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, SparkEntry}

/** One timed (or warm-up) operation of a workload client. */
final case class OpRecord(kind: String, name: String, phase: String,
    startMs: Long, seconds: Double, error: String, rows: Long = 0L) {
  def toJson: String = Json.obj("kind" -> kind, "name" -> name, "phase" -> phase,
    "start_ms" -> startMs, "seconds" -> seconds, "ok" -> error.isEmpty,
    "error" -> error, "rows" -> rows)
}

/** Everything a workload needs: the session, the probe, the tracer and
  * the run's directories. Ops are appended from any client thread.
  */
final class Ctx(val spark: SparkSession, val probe: Probe, val tracer: Tracer,
    val traced: Boolean, val dataDir: String, val workDir: String) {
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[OpRecord]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val facts = mutable.LinkedHashMap[String, Any]()
  @volatile var setupEndMs = 0L
  @volatile var rssMb = 0.0

  /** Turn tracing (spans, the listener probe, the counting store) on or off. */
  def tracing(on: Boolean): Unit = if (on != tracer.on) {
    if (on) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    } else {
      org.apache.spark.graftbench.BusBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
      spark.listenerManager.unregister(probe)
    }
    tracer.on = on
    CountingCommitStore.active = on
  }

  def setTrack(track: String): Unit =
    spark.sparkContext.setLocalProperty(Probe.TrackKey, track)

  /** Peak resident set of this JVM so far (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Layer metrics shared by every workload, from the traced phase. */
  def sparkLayer(wallSeconds: Double, opWindows: Seq[(String, Long, Long)]): Unit = {
    org.apache.spark.graftbench.BusBridge.drain(spark.sparkContext)
    val t = probe.total
    val cores = spark.sparkContext.defaultParallelism
    val outside = opWindows.map { case (track, t0, t1) =>
      (t1 - t0 - probe.inJobMs(track, t0, t1)) / 1e3 }.sum
    layers ++= Seq(
      "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.driver_outside_jobs_s" -> outside,
      "spark.planning_s" -> probe.planningSeconds,
      "spark.executor_run_s" -> t.runMs / 1e3,
      "spark.executor_cpu_s" -> t.cpuNs / 1e9,
      "spark.core_busy_frac" -> (if (wallSeconds > 0) t.runMs / 1e3 / (wallSeconds * cores) else 0.0),
      "spark.gc_s" -> t.gcMs / 1e3, "spark.spill_bytes" -> t.spill.toDouble,
      "spark.task_queue_s" -> t.queueMs / 1e3,
      "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
      "spark.input_bytes" -> t.input.toDouble,
      "spark.task_failures" -> t.taskFailures.toDouble)
    tracer.selfSeconds.foreach { case (layer, s) => layers(s"$layer.self_s") = s }
  }

  def writeResult(path: String): Unit = {
    val body = Json.obj(
      "setup_end_ms" -> setupEndMs,
      "peak_rss_mb" -> rssMb,
      "cores" -> spark.sparkContext.defaultParallelism,
      "ops" -> Json.raw(ops.asScala.map(_.toJson).mkString("[", ",\n", "]")),
      "layers" -> layers.toMap,
      "facts" -> facts.toMap)
    Files.writeString(Paths.get(path), body)
    if (traced)
      Files.write(Paths.get(workDir, "spans.jsonl"),
        tracer.spans.map(_.toJson).asJava)
  }
}

/** Benchmark harness entry point.
  *
  *   oracles --entries a,b,c --out <json>      dump SparkEntry.oracleSql
  *   run --workload <w> --plan <file> --data <dir> --work <dir>
  *       --trace 0|1 --out <json>              run one workload
  *
  * The plan (op order, batches, read ranges) is generated from the seed by
  * perfbench/run.py; this side only executes it and records what happened.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a("mode") match {
      case "oracles" =>
        val oracles = SparkEntry.oracleSql
        val wanted = a("entries").split(',').toSeq
        Files.writeString(Paths.get(a("out")),
          Json.obj(wanted.map(e => e -> oracles.getOrElse(e, null)): _*))
      case "run" => run(a)
    }
  }

  private def session(a: Map[String, String]): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val work = a("work")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.lake.root", s"$work/lake")
    if (a("trace") == "1")
      b.config(graft.sources.CommitStore.ConfKey, classOf[CountingCommitStore].getName)
    b.getOrCreate()
  }

  private def run(a: Map[String, String]): Unit = {
    val spark = session(a)
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe
    val traced = a("trace") == "1"
    val ctx = new Ctx(spark, probe, new Tracer(spark.sparkContext, probe), traced,
      a("data"), a("work"))
    val plan = Files.readAllLines(Paths.get(a("plan"))).asScala.toSeq
      .map(_.trim.split("\\s+").toSeq).filter(_.head.nonEmpty)
    try a("workload") match {
      case "marts" | "llm_prep" => QueryWorkload.run(ctx, plan)
      case "medallion" => Medallion.run(ctx, plan)
    } finally {
      ctx.writeResult(a("out"))
      spark.stop()
    }
  }
}
