package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path

import graft.sources.{CommitStore, ManifestTable, RenameCommitStore}

/** A [[CommitStore]] that counts every protocol operation it serves on
  * paths under [[CountingStore.scope]], by operation name — built like
  * [[TornOnceStore]]: delegate to the rename store, observe on the way.
  */
class CountingStore extends CommitStore {
  private val inner =
    new RenameCommitStore(new org.apache.hadoop.conf.Configuration())
  private def tick[A](op: String, p: Path)(a: => A): A = {
    val scope = CountingStore.scope
    if (scope.nonEmpty && p.toString.contains(scope))
      CountingStore.ops.merge(op, 1L, (a: Long, b: Long) => a + b)
    a
  }
  override def putIfAbsent(p: Path, content: String): Boolean =
    tick("putIfAbsent", p)(inner.putIfAbsent(p, content))
  override def putOverwrite(p: Path, content: String): Boolean =
    tick("putOverwrite", p)(inner.putOverwrite(p, content))
  override def read(p: Path): String = tick("read", p)(inner.read(p))
  override def exists(p: Path): Boolean = tick("exists", p)(inner.exists(p))
  override def listFiles(dir: Path): Seq[(String, Long)] =
    tick("listFiles", dir)(inner.listFiles(dir))
  override def delete(p: Path): Unit = tick("delete", p)(inner.delete(p))
}
object CountingStore {
  @volatile var scope = ""
  val ops = new ConcurrentHashMap[String, Long]()
}

/** Pins the store operations one uncontended call of each medallion
  * writer entry point issues — the commit loop's traffic on the path
  * every single-writer pipeline takes. A change to the commit protocol
  * that adds (or drops) a manifest read, listing or pointer write shows
  * up here as a count diff, per operation.
  */
class StoreOpParitySpec extends SparkSpec {
  import spark.implicits._

  /** Store ops of `body` against `table` (setup outside is not counted). */
  private def opsOf(table: String)(body: => Unit): Map[String, Long] = {
    val prior = spark.conf.getOption(CommitStore.ConfKey)
    spark.conf.set(CommitStore.ConfKey, classOf[CountingStore].getName)
    CountingStore.ops.clear()
    CountingStore.scope = table
    try body
    finally {
      CountingStore.scope = ""
      prior match {
        case Some(v) => spark.conf.set(CommitStore.ConfKey, v)
        case None => spark.conf.unset(CommitStore.ConfKey)
      }
    }
    import scala.jdk.CollectionConverters._
    CountingStore.ops.asScala.toMap
  }

  private def seeded(): String = {
    val table = Files.createTempDirectory("graft_ops").toString + "/t"
    ManifestTable.commit((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"),
      table, append = false, statsCols = Seq("id"))
    ManifestTable.commit((101L to 200L).map(i => (i, s"v$i")).toDF("id", "v"),
      table, append = true, statsCols = Seq("id"))
    table
  }

  // every uncontended publish: one head listing, three manifest reads
  // of the head (the call's own use, the schema or size pass, and the
  // predecessor's commit stamp), one CAS; then advancePointer's hint
  // probes (exists + read) before and after its one putOverwrite, and
  // its head listing
  private val onePublish = Map("listFiles" -> 2L, "read" -> 5L,
    "putIfAbsent" -> 1L, "exists" -> 2L, "putOverwrite" -> 1L)

  test("uncontended commit (append) issues one publish's store ops") {
    val table = seeded()
    assert(opsOf(table)(ManifestTable.commit(Seq((201L, "v201")).toDF("id", "v"),
      table, append = true, statsCols = Seq("id"))) == onePublish)
  }

  test("uncontended commitIdempotent issues one publish's store ops") {
    // the token check reuses the head entries the append carries
    // forward, so a replay-safe commit costs exactly a plain one
    val table = seeded()
    assert(opsOf(table)(ManifestTable.commitIdempotent(
      Seq((201L, "v201")).toDF("id", "v"), table, "batch-0",
      statsCols = Seq("id"))) == onePublish)
  }

  test("uncontended mergeCommit issues one publish's store ops") {
    val table = seeded()
    assert(opsOf(table)(ManifestTable.mergeCommit(spark, table,
      Seq((150L, "u150"), (300L, "v300")).toDF("id", "v"),
      keyCols = Seq("id"))) == onePublish)
  }

  test("uncontended compactClustered issues one publish's store ops") {
    val table = seeded()
    assert(opsOf(table)(ManifestTable.compactClustered(spark, table, "id",
      buckets = 2)) == onePublish)
  }
}
