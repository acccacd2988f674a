package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one registry for state shared ACROSS queries in one process: the
  * curation kernel, trained quantizers and codebooks, the co-purchase edge
  * list, the table profile and the other build-once/read-many values that
  * several lanes derive identically.
  *
  * Two rules hold for every entry, because reused state is only sound under
  * them: the key checks the INPUT's identity (a caller folds in the input
  * frame's [[planFingerprint]] next to its corpus key and parameters), and
  * entries are scoped per `SparkSession` (compared by reference), so a
  * second session never sees state built in another.
  *
  * Pinning: the bench unpersists every persistent RDD between queries so one
  * query's cache can't tax the next — but a memoized frame's localCheckpoint
  * has a TRUNCATED lineage, so dropping its blocks is unrecoverable. Every
  * DataFrame inside a stored value gets its checkpoint blocks named
  * [[PinnedRddName]], which that cleanup skips; [[reset]] releases them.
  * Values held only in the JVM (centroid literals, merge lists) pin nothing.
  * Whether a frame is checkpointed eagerly or lazily is up to its build. */
object SharedState {

  /** RDD name marking a memoized frame's checkpoint blocks. */
  val PinnedRddName = "graft_memo_pinned"

  // SparkSession does not override equals/hashCode, so the key compares
  // sessions by reference
  private final case class Key(name: String, spark: SparkSession,
                               parts: Seq[Any])

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[Key, AnyRef]()

  /** The value stored under (name, session, keyParts), built and pinned on a
    * miss. get/putIfAbsent, NOT computeIfAbsent: builds nest (the curation
    * manifest's build reads the memoized kernel), which computeIfAbsent on
    * one map rejects as a "Recursive update", and a build is a Spark job
    * that must not run under a map lock. Racing builds of one key are
    * benign (builds are deterministic): the loser's blocks are unpinned and
    * the winner's value is returned to both. */
  def memo[T <: AnyRef](name: String, spark: SparkSession, keyParts: Any*)
                       (build: => T): T = {
    val key = Key(name, spark, keyParts.toList)
    val hit = entries.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val built = build
      frames(built).foreach(pin)
      val prev = entries.putIfAbsent(key, built)
      if (prev == null) built
      else { frames(built).foreach(unpin); prev.asInstanceOf[T] }
    }
  }

  /** Drop memo `name`'s entries for one session and release their blocks;
    * other memos and other sessions' entries stay. */
  def reset(spark: SparkSession, name: String): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.name == name && (e.getKey.spark eq spark)) {
        frames(e.getValue).foreach(unpin)
        it.remove()
      }
    }
  }

  /** Cheap identity for a memo's INPUT relation: the analyzed plan's
    * semantic hash (no job runs). A caller reusing a corpus key with a
    * DIFFERENT input frame misses and rebuilds instead of being served state
    * built on someone else's data. Two frames built by the same DataFrame
    * code over the same paths hash equal (semanticHash ignores cosmetic
    * differences like expression ids), so owner → consumer sharing hits. */
  def planFingerprint(df: DataFrame): Int =
    df.queryExecution.analyzed.semanticHash()

  /** Every DataFrame inside a stored value (a frame, a tuple, a sequence). */
  private def frames(v: Any): Iterator[Dataset[_]] = v match {
    case df: Dataset[_] => Iterator(df)
    case xs: Iterable[_] => xs.iterator.flatMap(frames)
    case p: Product => p.productIterator.flatMap(frames)
    case _ => Iterator.empty
  }

  private def pin(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.setName(PinnedRddName)
      case _ => ()
    }

  private def unpin(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
}
