package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.sources.{CommitStore, GraftCatalog, ManifestTable, RenameCommitStore}

/** A [[CommitStore]] that simulates the torn-CAS outcome the contract
  * warns about: when armed, ONE successful putIfAbsent is reported as
  * false-when-actually-landed (the publish is durable; only the report
  * lies). Every derived-commit loop must recover by re-checking the
  * version it attempted — deleting its new dir on the false report
  * would leave the landed head referencing a deleted dir.
  */
class TornOnceStore extends CommitStore {
  private val inner =
    new RenameCommitStore(new org.apache.hadoop.conf.Configuration())
  override def putIfAbsent(p: Path, content: String): Boolean = {
    val r = inner.putIfAbsent(p, content)
    if (r && TornOnceStore.armed.compareAndSet(true, false)) false else r
  }
  override def putOverwrite(p: Path, content: String): Boolean =
    inner.putOverwrite(p, content)
  override def read(p: Path): String = inner.read(p)
  override def exists(p: Path): Boolean = inner.exists(p)
  override def listFiles(dir: Path): Seq[(String, Long)] = inner.listFiles(dir)
  override def delete(p: Path): Unit = inner.delete(p)
}
object TornOnceStore {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** Hardening specs for the manifest-table protocol edges: torn-CAS
  * adoption on every publish path, commit-time stamps on compaction
  * manifests, the `_graft_ck` reservation, snapshotDiff's null-key
  * refusal, and order-insensitive append schema checks.
  */
class ManifestHardeningSpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  private def withTornStore[A](body: => A): A = {
    val prior = spark.conf.getOption(CommitStore.ConfKey)
    spark.conf.set(CommitStore.ConfKey, classOf[TornOnceStore].getName)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(CommitStore.ConfKey, v)
      case None => spark.conf.unset(CommitStore.ConfKey)
    }
  }

  /** Run `body` with one torn CAS report armed and check the publish
    * landed exactly once: the call published `before + 1`, the pointer
    * serves it, and no second copy exists at `before + 2`. `body`
    * returns the version the call reports.
    */
  private def publishedOnce(table: String)(body: => Long): Unit = {
    val before = ManifestTable.currentVersion(spark, table)
    TornOnceStore.armed.set(true)
    val v = body
    assert(!TornOnceStore.armed.get(), "the torn report must have fired")
    val head = ManifestTable.historyRows(spark, table).map(_._1).max
    assert(v == before + 1 && head == v, s"returned $v, head $head, before $before")
    assert(ManifestTable.currentVersion(spark, table) == head,
      s"pointer must serve the adopted head $head")
    assert(!ManifestTable.versionExists(spark, table, v + 1),
      "adoption must not double-publish")
  }

  test("torn-CAS adoption: derived commits adopt a landed publish instead of deleting its dir") {
    import spark.implicits._
    withTornStore {
      val root = Files.createTempDirectory("graft_torn").toString
      spark.conf.set("spark.sql.catalog.torn", classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.torn.root", root)
      val table = s"$root/t"
      def rows(lo: Long, hi: Long) = (lo to hi).map(i => (i, s"v$i")).toDF("id", "v")
      def count() = ManifestTable.read(spark, table).count()
      ManifestTable.commit(rows(1, 100), table, append = false, statsCols = Seq("id"))

      // every publish path: the CAS lands but reports false, and the call
      // must adopt it — a retry would publish a second copy, and deleting
      // the attempt's dir would leave the landed head unreadable
      publishedOnce(table)(ManifestTable.commit(rows(101, 200), table,
        append = true, statsCols = Seq("id")))
      assert(count() == 200)
      publishedOnce(table)(ManifestTable.commit(rows(1, 200), table,
        append = false, statsCols = Seq("id")))
      assert(count() == 200)
      publishedOnce(table)(ManifestTable.commitIdempotent(rows(201, 300), table,
        "b-1", statsCols = Seq("id")))
      assert(count() == 300)
      // metadata-only DELETE: the 201..300 commit provably all-matches,
      // the 1..200 commit provably cannot match
      publishedOnce(table) {
        spark.sql("DELETE FROM torn.t WHERE id >= 201")
        ManifestTable.currentVersion(spark, table)
      }
      assert(count() == 200)
      // copy-on-write DELETE and UPDATE: the 1..200 commit straddles
      publishedOnce(table) {
        spark.sql("DELETE FROM torn.t WHERE id = 150")
        ManifestTable.currentVersion(spark, table)
      }
      assert(count() == 199)
      publishedOnce(table) {
        spark.sql("UPDATE torn.t SET v = 'u' WHERE id = 7")
        ManifestTable.currentVersion(spark, table)
      }
      assert(spark.sql("SELECT v FROM torn.t WHERE id = 7").head.getString(0) == "u")
      publishedOnce(table)(ManifestTable.mergeCommit(spark, table,
        Seq((1L, "upd")).toDF("id", "v"), keyCols = Seq("id")))
      val snap = ManifestTable.read(spark, table)
      assert(snap.count() == 199 &&
        snap.filter(col("id") === 1L).select("v").head().getString(0) == "upd",
        "adopted merge must hold exactly the merged snapshot")
      publishedOnce(table)(ManifestTable.restore(spark, table, 2))
      assert(count() == 200)
      publishedOnce(table)(ManifestTable.compactClustered(spark, table, "id", buckets = 2))
      assert(count() == 200)
      publishedOnce(table)(ManifestTable.compactCommit(spark, table))
      assert(count() == 200, "adopted compaction snapshot must stay fully readable")

      // shallow clone: the creation CAS lands with a false report — the
      // clone must be adopted, not refused as "already exists"
      val target = Files.createTempDirectory("graft_torn_clone").toString + "/c"
      publishedOnce(target)(ManifestTable.cloneShallow(spark, table, target))
      assert(ManifestTable.read(spark, target).count() == 200,
        "adopted clone must read the source snapshot")
    }
  }

  test("compaction manifests carry the #ts commit stamp (TIMESTAMP AS OF survives compaction)") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_stamp").toString + "/t"
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), table, append = false)
    val cv = ManifestTable.compactCommit(spark, table)
    assert(ManifestTable.commitTimeMs(spark, table, cv).isDefined,
      "a compaction manifest without a #ts stamp would make " +
        "TIMESTAMP AS OF refuse every target at or below it")
    assert(ManifestTable.versionAtTime(spark, table,
      System.currentTimeMillis() + 60000) == cv)
  }

  test("_graft_ck and graft__bucket are reserved: clustered compaction refuses instead of silently dropping the column") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_reserved").toString + "/t"
    ManifestTable.commit(
      Seq((1L, "x", "user-data")).toDF("id", "v", "_graft_ck"),
      table, append = false)
    val e = intercept[IllegalArgumentException](
      ManifestTable.compactClustered(spark, table, "id", buckets = 2))
    assert(e.getMessage.contains("_graft_ck") && e.getMessage.contains("reserved"),
      s"got: ${e.getMessage}")
  }

  test("snapshotDiff: null-key rows in SHARED dirs tolerated, in DIFFED dirs refused loudly") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_diffnull").toString + "/t"
    // v1 holds a null-key row; stats on id so merge can prune
    val v1 = ManifestTable.commit(
      Seq((Option(1L), "a"), (Option(2L), "b"), (Option.empty[Long], "n"))
        .toDF("id", "v"),
      table, append = false, statsCols = Seq("id"))
    // v2 appends: the null-key row rests in a SHARED (pruned-away) dir,
    // so the diff must work and report only the appended key
    val v2 = ManifestTable.commit(Seq((Option(3L), "c")).toDF("id", "v"),
      table, append = true, statsCols = Seq("id"))
    val d12 = ManifestTable.snapshotDiff(spark, table, Seq("id"), v1, v2)
    assert(d12.collect().map(r => (r.getLong(0), r.getString(3))).toSet ==
      Set((3L, "added")), "append diff must prune past the null-key dir")
    // v3 merges id=2, REWRITING the dir that carries the null-key row:
    // the unchanged null row would classify added+removed under equality
    // (and many-to-many under <=>), so the diff must refuse loudly
    val v3 = ManifestTable.mergeCommit(spark, table,
      Seq((2L, "b2")).toDF("id", "v"), keyCols = Seq("id"))
    val e = intercept[IllegalArgumentException](
      ManifestTable.snapshotDiff(spark, table, Seq("id"), v2, v3).collect())
    assert(e.getMessage.contains("null"), s"got: ${e.getMessage}")
  }

  test("a top-level column literally named a.b: commit, stats, SQL read with pushed filter, merge by it") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_dotted").toString + "/t"
    ManifestTable.commit(
      Seq((1L, "x"), (2L, "y")).toDF("id", "a.b"),
      table, append = false, statsCols = Seq("id", "a.b"))
    // DSv2 read: projection + pushed filter must treat the dotted name
    // as ONE top-level column, never as field b of struct a
    spark.read.format("graft").load(table).createOrReplaceTempView("dotted_t")
    val out = spark.sql("SELECT `a.b` FROM dotted_t WHERE `a.b` = 'x'").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("x"))
    // merge keyed on the dotted column (groupBy/select/anti-join paths):
    // key value "x" must REPLACE the (1, "x") row, not duplicate it
    ManifestTable.mergeCommit(spark, table,
      Seq((10L, "x")).toDF("id", "a.b"), keyCols = Seq("a.b"))
    assert(ManifestTable.read(spark, table).select("id", "`a.b`")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((10L, "x"), (2L, "y")))
  }

  test("append schema check is order-insensitive (reads select by name; order never mattered)") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_order").toString + "/t"
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), table, append = false)
    // same columns, different order: must append cleanly
    ManifestTable.commit(Seq(("b", 2L)).toDF("v", "id"), table, append = true)
    val snap = ManifestTable.read(spark, table)
    assert(snap.count() == 2 &&
      snap.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1)))
        .toSet == Set((1L, "a"), (2L, "b")))
    // a genuinely different schema still refuses
    val e = intercept[IllegalArgumentException](ManifestTable.commit(
      Seq((3L, 9.9)).toDF("id", "w"), table, append = true))
    assert(e.getMessage.contains("does not"), s"got: ${e.getMessage}")
  }
}
