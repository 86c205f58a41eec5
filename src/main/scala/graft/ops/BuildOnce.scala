package graft.ops

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** The build-once ARTIFACT CATALOG: every deterministic derived
  * artifact — a materialized layout, index or store dir, a trained
  * centroid/codebook sketch, a resolved relation — is built the first
  * time a query needs it and served thereafter (the "build once,
  * probe many" semantics of a serving process). One rule each for:
  *
  *   - KEY: (kind, params, [[Fs.signature]] of every source path).
  *     Rewriting a source in place changes its signature, so the next
  *     lookup rebuilds rather than serving the stale artifact. A value
  *     that holds DataFrames names its SparkSession among the params:
  *     a resolved relation belongs to the session that resolved it.
  *   - BOUND: at most [[MemoMaxEntries]] entries per kind. A build
  *     that would exceed it drops the whole kind first — entries are
  *     deterministic and cheap to rebuild, so clear-on-overflow is as
  *     correct as LRU and simpler.
  *   - OWNERSHIP: a [[dir]] artifact lives in a temp dir the catalog
  *     creates and deletes whenever it drops the entry — on overflow,
  *     on a changed source signature and on [[clearAll]]. Callers never
  *     create, name or delete an artifact dir, and an artifact dir is
  *     never written again once its build returns.
  *
  * Each kind counts builds, hits and build time ([[stats]]).
  * Invariance tests MUST [[clearAll]] between runs — otherwise the
  * second run reuses the first run's artifact and the test silently
  * compares one build against itself.
  */
object BuildOnce {

  /** Hard cap on entries per kind. */
  val MemoMaxEntries = 32

  private final case class Entry(sig: Seq[Seq[(String, Long, Long)]],
      value: Any, dir: Option[String])

  /** Builds, hits and total build wall time of one artifact kind. */
  final case class KindStats(kind: String, builds: Long, hits: Long,
      buildMs: Long)

  private final class Counters {
    val builds, hits, buildNanos = new AtomicLong
  }

  private val catalog =
    TrieMap.empty[String, TrieMap[(Seq[Any], Seq[String]), Entry]]
  private val counters = TrieMap.empty[String, Counters]

  /** The artifact value of `kind` for `sources` and `params`: built by
    * `build` on a miss, served on a hit. */
  def value[V](kind: String, spark: SparkSession, sources: Seq[String],
      params: Any*)(build: => V): V =
    lookup(kind, spark, sources, params)(() => (build, None))
      .asInstanceOf[V]

  /** The artifact dir of `kind` for `sources` and `params`: on a miss a
    * fresh catalog-owned temp dir is passed to `build`, which fills
    * it; a build that throws leaves no dir behind. */
  def dir(kind: String, spark: SparkSession, sources: Seq[String],
      params: Any*)(build: String => Unit): String =
    lookup(kind, spark, sources, params) { () =>
      val d = java.nio.file.Files.createTempDirectory(s"graft_$kind")
        .toString
      try build(d)
      catch { case e: Throwable => delete(d); throw e }
      (d, Some(d))
    }.asInstanceOf[String]

  private def lookup(kind: String, spark: SparkSession,
      sources: Seq[String], params: Seq[Any])(
      build: () => (Any, Option[String])): Any = {
    // the signature is taken BEFORE the build: a source that changes
    // mid-build is rebuilt on the next lookup, never served stale
    val sig = sources.map(Fs.signature(spark, _))
    val slot = (params.toList, sources.toList)
    val entries = catalog.getOrElseUpdate(kind, TrieMap.empty)
    val c = counters.getOrElseUpdate(kind, new Counters)
    entries.get(slot) match {
      case Some(e) if e.sig == sig =>
        c.hits.incrementAndGet()
        e.value
      case _ =>
        val t0 = System.nanoTime()
        val (v, d) = build()
        c.buildNanos.addAndGet(System.nanoTime() - t0)
        c.builds.incrementAndGet()
        synchronized {
          entries.get(slot) match {
            // a concurrent lookup published the same artifact first
            case Some(e) if e.sig == sig => d.foreach(delete); e.value
            case stale =>
              stale.foreach(release)
              if (entries.size >= MemoMaxEntries) drop(entries)
              entries.put(slot, Entry(sig, v, d))
              v
          }
        }
    }
  }

  private def delete(d: String): Unit = Fs.deleteRecursively(new java.io.File(d))

  private def release(e: Entry): Unit = e.dir.foreach(delete)

  private def drop(entries: TrieMap[_, Entry]): Unit = {
    entries.values.foreach(release)
    entries.clear()
  }

  /** Dirs the catalog currently owns. */
  private[graft] def ownedDirs: Seq[String] =
    catalog.values.flatMap(_.values.flatMap(_.dir)).toSeq

  /** Per-kind build/hit counters since process start, by kind. */
  def stats: Seq[KindStats] =
    counters.toSeq.sortBy(_._1).map { case (k, c) =>
      KindStats(k, c.builds.get, c.hits.get, c.buildNanos.get / 1000000L)
    }

  private val registry = new java.util.concurrent.CopyOnWriteArrayList[TrieMap[_, _]]

  /** A bounded, registered map for the optimizer-rule registries
    * (served views, zone-mapped tables): registrations, not builds —
    * they own no dir and key on no source. Cleared by [[clearAll]]. */
  def memo[K, V](): TrieMap[K, V] = {
    val m = TrieMap.empty[K, V]
    registry.add(m)
    m
  }

  private val clearHooks =
    new java.util.concurrent.CopyOnWriteArrayList[() => Unit]

  /** Register extra cleanup to run on [[clearAll]] — for caches that
    * need RELEASE logic a bare map clear can't express (e.g. the BPE
    * trained-stream cache, which must unpersist its frames). */
  def registerClearHook(f: () => Unit): Unit = clearHooks.add(f)

  /** Drop every catalog entry (deleting every dir it owns), every
    * registry and every hooked cache — the test hook that forces the
    * next query to rebuild its artifacts under the current config. */
  def clearAll(): Unit = {
    synchronized(catalog.values.foreach(drop))
    val it = registry.iterator()
    while (it.hasNext) it.next().clear()
    val hooks = clearHooks.iterator()
    while (hooks.hasNext) hooks.next().apply()
  }

  private val swapRefs = new java.util.concurrent.CopyOnWriteArrayList[
    java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame]]

  /** Create a REGISTERED one-slot swap ref (see [[swapPersist]]).
    * Every query-held persisted frame must live in one of these — the
    * registry is what lets [[releaseSwapped]] (and the cache-hygiene
    * sweep spec built on it) prove that nothing in the codebase pins
    * executor memory outside an owned, releasable slot. */
  def swapRef(): java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.DataFrame] = {
    val r = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.DataFrame]()
    swapRefs.add(r)
    r
  }

  /** Live (currently-persisted) swap slots. */
  def liveSwapCount: Int = {
    var n = 0
    val it = swapRefs.iterator()
    while (it.hasNext) if (it.next().get() != null) n += 1
    n
  }

  /** Deterministic frame release: unpersist, PLUS the LogicalRDD
    * reach-through for localCheckpoint'ed frames — those hold their
    * data as RDD-level persistence that `Dataset.unpersist()` does NOT
    * touch; without the reach-through the copy sits in storage until
    * the weak-ref ContextCleaner happens to collect it. */
  def releaseFrame(df: org.apache.spark.sql.DataFrame,
      blocking: Boolean = false): Unit = {
    df.unpersist(blocking)
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking)
      case _ => ()
    }
  }

  /** Release EVERY swap slot (blocking unpersist) — the test hook that
    * makes cache hygiene checkable: after queries run, releaseSwapped()
    * + clearAll() must leave zero persisted RDDs, or some code path
    * persisted outside an owned slot (the leak class this registry
    * exists to kill). */
  def releaseSwapped(): Unit = {
    val it = swapRefs.iterator()
    while (it.hasNext) {
      Option(it.next().getAndSet(null)).foreach(releaseFrame(_, blocking = true))
    }
  }

  /** One-slot persisted-frame cache: release the PREVIOUS invocation's
    * copy FIRST, then persist the new one. The reverse order
    * (persist-then-release) self-defeats whenever consecutive
    * invocations build the same canonical plan: CacheManager dedups
    * entries by canonicalized plan, so the new persist is a no-op
    * against the old entry and the follow-up unpersist drops that
    * shared entry — leaving the new invocation uncached and every
    * downstream read recomputing. Returns the (persisted) frame. */
  def swapPersist(
      ref: java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.sql.DataFrame],
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    Option(ref.getAndSet(df)).foreach(_.unpersist())
    df.persist()
  }
}
