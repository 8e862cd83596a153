package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The family memo registry — "an index is built once and served by
  * its family" (the overlap-pair index consumed by q23/q134, the
  * MinHash signature table consumed by q22/q62/q136/q140, the trained
  * centroids behind the IVF cells). Every memo is declared once, as a
  * [[Memo]] value holding its name, the fixture tables its fingerprint
  * covers, its kind and its build; `memo(spark, sfDir)` serves it.
  *
  * Two kinds:
  *  - [[relation]]: a DataFrame the registry persists at
  *    MEMORY_AND_DISK and counts eagerly before serving. A staged
  *    build that frees its intermediates once the result is counted
  *    (the overlap engine's bucket cache, the CC edge list) persists
  *    and counts the result itself; an already persisted frame is
  *    accepted as is. These persists are deliberately NOT
  *    CacheScope-registered: their lifetime is the family's, not one
  *    query's (see the CacheScope scaladoc's contract note).
  *  - [[value]]: a plain driver value (trained centroids, PQ
  *    codebooks, the BPE merge table — O(k·d) doubles or O(k) rows),
  *    which survives `clearCache()` and never pins executor memory.
  *
  * Contract, shared by both kinds:
  *  - one LIVE entry per (name, session): keyed by the SparkSession
  *    OBJECT (reference equality — collision-free, unlike an identity
  *    hash code, and a served plan is always bound to the asking
  *    session) plus the corpus fingerprint
  *    ([[graft.sources.Tables.fingerprint]] — path, file sizes and
  *    mtimes). A clone session, or one that alternates between two
  *    fixtures, builds its own copy;
  *  - supersede-and-release: a changed fingerprint (fixture
  *    regenerated in-session) replaces the entry and unpersists an
  *    old relation's blocks before the new build, so N regenerations
  *    never accumulate N entries;
  *  - self-heal (relations): a harness-level `clearCache()` (Verify's
  *    per-query isolation backstop) unpersists the blocks out from
  *    under the memo; serving the now-uncached plan would recompute
  *    its subtree once per consumer branch, so the entry is rebuilt —
  *    an unpersisted index is never served;
  *  - stopped sessions are purged on every access, so the registry is
  *    O(live sessions × memos) and never pins a dead session.
  *
  * Synchronization is a single coarse lock held across builds: a
  * build is seconds of Spark jobs, but the alternative (lock-free
  * computeIfAbsent) holds a map-bin lock just the same, and two
  * concurrent queries of one family SHOULD serialize on the one
  * index build rather than race two copies. The lock is reentrant, so
  * a build may serve the memos it derives from. */
object FamilyIndex {

  /** A declared memo; build with [[relation]] or [[value]]. */
  final class Memo[T] private[FamilyIndex] (val name: String, tables: Seq[String],
      make: (SparkSession, String) => (T, Option[DataFrame])) {
    def apply(spark: SparkSession, sfDir: String): T = {
      val fingerprint = graft.sources.Tables.fingerprint(sfDir, tables)
      FamilyIndex.synchronized {
        entries.filterInPlace { case ((_, s), _) => !s.sparkContext.isStopped }
        val key = (name, spark)
        entries.get(key) match {
          case Some(e) if e.fingerprint == fingerprint && e.live => e.value.asInstanceOf[T]
          case stale =>
            // superseded fingerprint → release the old blocks; NONE
            // storage level (self-heal) → old reference is already free
            stale.foreach(_.free())
            val (value, blocks) = make(spark, sfDir)
            entries(key) = Entry(fingerprint, value, blocks)
            value
        }
      }
    }
  }

  /** A relation memo over `tables`; see the object scaladoc. */
  def relation(name: String, tables: String*)
      (build: (SparkSession, String) => DataFrame): Memo[DataFrame] =
    new Memo(name, tables, (spark, sfDir) => {
      val df = build(spark, sfDir)
      if (df.storageLevel == StorageLevel.NONE) {
        df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
      }
      (df, Some(df))
    })

  /** A driver-value memo over `tables`; see the object scaladoc. */
  def value[T](name: String, tables: String*)
      (build: (SparkSession, String) => T): Memo[T] =
    new Memo(name, tables, (spark, sfDir) => (build(spark, sfDir), None))

  /** Serve every memo in order for `sfDir` — building or healing the
    * missing ones — and return their names: the bench's prebuild hook,
    * so timed cells measure serving. */
  private[graft] def prebuild(spark: SparkSession, sfDir: String)(memos: Memo[_]*): Seq[String] =
    memos.map { m => m(spark, sfDir); m.name }

  /** `blocks` is a relation's persisted frame; None for a value. */
  private final case class Entry(fingerprint: String, value: Any,
      blocks: Option[DataFrame]) {
    def live: Boolean = blocks.forall(_.storageLevel != StorageLevel.NONE)
    def free(): Unit = blocks.foreach(_.unpersist(false))
  }

  private val entries = scala.collection.mutable.Map.empty[(String, SparkSession), Entry]

  /** Live entry count, both kinds — spec observability. */
  private[graft] def liveCount: Int = synchronized(entries.size)

  /** Names of the entries `spark` owns, both kinds — spec observability. */
  private[graft] def liveNames(spark: SparkSession): Set[String] =
    synchronized(entries.keys.collect { case (n, s) if s eq spark => n }.toSet)

  /** Relation entries for `spark` whose blocks are actually persisted
    * — the set that can occupy executor storage (Bench's isolation
    * audit compares this against the persistent-RDD registry). */
  private[graft] def liveMaterializedCount(spark: SparkSession): Int =
    synchronized(entries.count { case ((_, s), e) =>
      (s eq spark) && e.blocks.exists(_.storageLevel != StorageLevel.NONE)
    })

  /** Retire every memo owned by `spark`, both kinds: unpersist the
    * relation blocks and drop the entries. The isStopped purge only
    * fires when the shared SparkContext stops, but session CLONES
    * (`spark.newSession()`) share one context — a long-lived JVM that
    * churns clone sessions (one per lane/tenant) would otherwise pin
    * each abandoned clone's SparkSession object, trained values and
    * persisted blocks until the whole context dies. A lane that
    * retires its session calls this; the single-session harnesses
    * (Verify/Bench/specs) never need to. Returns the number of
    * entries released. */
  def release(spark: SparkSession): Int = synchronized {
    val owned = entries.collect { case (k @ (_, s), e) if s eq spark => (k, e) }
    owned.foreach { case (k, e) =>
      try e.free()
      catch { case _: IllegalStateException => () /* context already stopped */ }
      entries.remove(k)
    }
    owned.size
  }
}
