package graft.perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.{CacheHygiene, SparkEntry}

/** The `marts` and `llm_prep` clients: one closed loop over SparkEntry
  * queries in the seeded order the plan lists.
  *
  * Plan lines: `warm <entries...>` (untimed, run by `cores` concurrent
  * clients: it only has to compile and JIT each entry's code once, and
  * concurrency makes that several times faster), `round <entries...>`
  * (timed), `traced <entries...>` (the traced round, trace runs only: each
  * entry also runs once untraced right beside its traced run, alternating
  * which goes first, so the tracing overhead compares equally warm runs).
  * Every warm result is kept in memory and written out for the oracle
  * check once all timing is over.
  */
object QueryWorkload {
  private final case class Outcome(rec: OpRecord, rows: Array[Row], schema: StructType,
      buildJobs: Long, materialized: Int, leftover: Int)

  def run(ctx: Ctx, plan: Seq[Seq[String]]): Unit = {
    ctx.setTrack("query")
    def lines(tag: String) = plan.filter(_.head == tag).map(_.tail)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      ctx.spark.sparkContext.defaultParallelism)
    val warm = lines("warm").flatten.map { e =>
      pool.submit(new java.util.concurrent.Callable[Option[Outcome]] { def call() = {
        val o = execute(ctx, e, "warm", exclusive = false)
        ctx.ops.add(o.rec)
        Option(o.rows).map(_ => o)
      }})
    }
    val results = warm.flatMap(_.get()).map(o => o.rec.name -> (o.rows, o.schema)).toMap
    val expected = results.map { case (e, (rows, _)) => e -> fingerprint(rows) }
    pool.shutdown()
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    ctx.setupEndMs = System.currentTimeMillis()

    def timed(entries: Seq[String], phase: String): Seq[Outcome] = entries.map { e =>
      val o = execute(ctx, e, phase)
      // every repeat must return what the oracle-checked warm run returned
      val rec =
        if (o.rows == null || !expected.contains(e)) o.rec
        else if (fingerprint(o.rows) != expected(e))
          o.rec.copy(error = s"output differs from the warm-round result of $e")
        else o.rec
      ctx.ops.add(rec)
      o
    }
    lines("round").foreach(r => timed(r, "timed"))
    ctx.rssMb = ctx.peakRssMb()

    lines("traced").headOption.foreach { entries =>
      ctx.probe.reset()
      var wall = 0.0
      val outs = entries.zipWithIndex.flatMap { case (e, i) =>
        def traced() = {
          ctx.tracing(on = true)
          val t0 = System.nanoTime()
          val o = timed(Seq(e), "traced")
          wall += (System.nanoTime() - t0) / 1e9
          ctx.tracing(on = false)
          o
        }
        if (i % 2 == 0) { timed(Seq(e), "twin"); traced() }
        else { val o = traced(); timed(Seq(e), "twin"); o }
      }
      val spans = ctx.tracer.spans
      def sum(name: String) = spans.filter(_.name == name).map(_.seconds).sum
      ctx.layers ++= Seq(
        "operators.calls" -> spans.count(_.name == "build").toDouble,
        "operators.build_s" -> sum("build"),
        "operators.build_jobs" -> outs.map(_.buildJobs).sum.toDouble,
        "operators.action_s" -> sum("action"),
        "operators.materialized_rdds" -> outs.map(_.materialized).sum.toDouble,
        "operators.rows_out" -> outs.flatMap(o => Option(o.rows)).map(_.length.toLong).sum.toDouble,
        "operators.leftover_rdds" -> outs.map(_.leftover).sum.toDouble)
      ctx.sparkLayer(wall, outs.map(o => ("query", o.rec.startMs,
        o.rec.startMs + math.round(o.rec.seconds * 1000))))
    }

    // the warm results, for the oracle check (after all timing)
    results.foreach { case (e, (rows, schema)) =>
      ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${ctx.workDir}/out/$e")
    }
  }

  /** Build the entry's frame (the call into `operators`), collect it, and
    * release whatever it left persisted. Only build + collect are timed.
    * A non-exclusive run (concurrent warm-up) only releases its own frame's
    * checkpoints: other clients' blocks are persisted at the same time.
    */
  private def execute(ctx: Ctx, entry: String, phase: String,
      exclusive: Boolean = true): Outcome = {
    val sc = ctx.spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    val before = persisted
    var df: DataFrame = null
    var rows: Array[Row] = null
    var error = ""
    var buildJobs = 0L
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val fn = SparkEntry.queries(entry)
      df = ctx.tracer.span("operators", "build", entry)(fn(ctx.spark, ctx.dataDir))
      buildJobs = ctx.tracer.spans.lastOption.filter(_.name == "build").map(_.spark.jobs).getOrElse(0L)
      rows = ctx.tracer.span("operators", "action", entry)(df.collect())
    } catch { case NonFatal(e) => error = Errors.describe(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val materialized = (persisted -- before).size
    try if (df != null) CacheHygiene.releaseTree(df)
    catch { case NonFatal(e) => if (error.isEmpty) error = "release: " + Errors.describe(e) }
    val left = if (exclusive) persisted -- before else Set.empty[Int]
    left.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    val schema = if (df != null) df.schema else null
    Outcome(OpRecord("query", entry, phase, startMs, seconds, error,
      Option(rows).map(_.length.toLong).getOrElse(0L)), if (error.isEmpty) rows else null,
      schema, buildJobs, materialized, left.size)
  }

  /** Order-insensitive `count:hash-sum` of a result; doubles compare at
    * nine significant digits, so a reordered floating-point sum is not a
    * mismatch.
    */
  private def fingerprint(rows: Array[Row]): String = {
    def norm(v: Any): String = v match {
      case null => "null"
      case d: Double => f"$d%.9e"
      case f: Float => f"${f.toDouble}%.6e"
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }
        .sorted.mkString("{", ",", "}")
      case a: Array[Byte] => a.mkString("b", ".", "")
      case other => other.toString
    }
    val sum = rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(norm(r)).toLong).sum
    s"${rows.length}:$sum"
  }
}
