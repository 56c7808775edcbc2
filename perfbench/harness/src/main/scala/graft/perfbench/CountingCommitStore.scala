package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.sources.{CommitStore, RenameCommitStore}

/** A counting delegate over the default rename store, selected through
  * `spark.graft.commit.store` in traced runs only: while the traced phase
  * is on it counts every table-protocol operation, the time spent
  * publishing (create-if-absent and overwrite) and the create-if-absent
  * races lost. Calls the benchmark makes for its own bookkeeping run
  * inside [[CountingCommitStore.uncounted]].
  */
final class CountingCommitStore extends CommitStore {
  private lazy val inner =
    new RenameCommitStore(SparkSession.active.sparkContext.hadoopConfiguration)

  private def counted[T](publish: Boolean)(body: => T): T = {
    if (!CountingCommitStore.counting) body
    else if (!publish) { CountingCommitStore.ops.incrementAndGet(); body }
    else {
      CountingCommitStore.ops.incrementAndGet()
      val t0 = System.nanoTime()
      try body finally CountingCommitStore.publishNs.addAndGet(System.nanoTime() - t0)
    }
  }

  def putIfAbsent(path: Path, content: String): Boolean = counted(publish = true) {
    val won = inner.putIfAbsent(path, content)
    if (!won && CountingCommitStore.counting) CountingCommitStore.casLosses.incrementAndGet()
    won
  }
  def putOverwrite(path: Path, content: String): Boolean =
    counted(publish = true)(inner.putOverwrite(path, content))
  def read(path: Path): String = counted(publish = false)(inner.read(path))
  def exists(path: Path): Boolean = counted(publish = false)(inner.exists(path))
  def listFiles(dir: Path): Seq[(String, Long)] = counted(publish = false)(inner.listFiles(dir))
  def delete(path: Path): Unit = counted(publish = false)(inner.delete(path))
}

object CountingCommitStore {
  val ops = new AtomicLong()
  val publishNs = new AtomicLong()
  val casLosses = new AtomicLong()
  /** Set while the traced phase runs. */
  @volatile var active = false
  private val paused = new ThreadLocal[Boolean] { override def initialValue() = false }

  private def counting: Boolean = active && !paused.get

  /** Run `body` on this thread without counting its store operations. */
  def uncounted[T](body: => T): T = {
    paused.set(true)
    try body finally paused.set(false)
  }
}
