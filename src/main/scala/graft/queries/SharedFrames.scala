package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Session-scoped memo of persisted intermediate frames shared across
 * registry queries — the batch analogue of the reference's sharing edges
 * (the STATEMENT SET's shared scan+join, flink/flink_job.sql:74-120, and
 * the ctr_results topic, flink/anomaly_job.sql:21).
 *
 * Concurrency: the global monitor guards only the MAP; each entry is a
 * cell that builds its frame under its own lock. Heavy builders (the
 * cluster-contraction loop, the IVF k-means fit — both run Spark actions
 * at build time) therefore never serialize unrelated queries behind the
 * object monitor; two threads demanding the same key race to the cell
 * and the loser blocks on that cell alone. Nested memoization (a builder
 * memoizing its own inputs) re-enters the map lock briefly and then
 * builds in a DIFFERENT cell — no deadlock as long as builder
 * dependencies form a DAG, which registry builders do. (This is also why
 * not ConcurrentHashMap.computeIfAbsent: nested computeIfAbsent on one
 * CHM throws "Recursive update" when keys share a bin.)
 *
 * Lifecycle: entries for stopped sessions are swept on every access so a
 * long-lived JVM that cycles sessions (test suites, notebooks) does not
 * pin dead sessions or their cached lineage forever. For BOUNDED cache
 * population across a long query sequence (the bench's 47-query run,
 * where keeping every memo alive to the end invites eviction-and-
 * recompute cascades on a memory-squeezed driver), consumers can
 * [[traced]]-record which tags each query touches and [[release]] a tag
 * after its last consumer — see graft.Bench.
 */
object SharedFrames {

  /** Double-checked-locked build cell: `df` builds once under the cell's
    * own monitor. `discard()` unpersists whatever the cell built — if a
    * build is in flight it blocks on the cell monitor until the build
    * completes, and a cell discarded BEFORE its build finishes unpersists
    * its own result on completion (ADVICE r6: a cell removed from the map
    * mid-build used to finish building a persisted frame that nothing
    * could ever unpersist). Never-demanded cells stay unbuilt — discard
    * must not run builders just to drop their caches.
    *
    * Auxiliary caches: builders like the LSH pair pipeline or the LM
    * scorers persist INTERNAL frames (band indexes, model tables) that
    * the returned plan references but the memo result itself is not —
    * the historic reason `clear()` had to be chased with `clearCache()`.
    * Builders register those through [[SharedFrames.aux]], which pins
    * them to the cell being built on the current thread; `discard()`
    * unpersists them along with the result, through the CacheManager
    * (never raw-RDD unpersist, which would poison a still-registered
    * InMemoryRelation into silent never-cache-again recompute). */
  private final class Cell(mk: () => DataFrame) {
    @volatile private var value: DataFrame = _
    private[SharedFrames] var auxFrames: List[DataFrame] = Nil
    private var discarded = false
    def isBuilt: Boolean = value != null
    def df: DataFrame = dfBuilt._1
    /** The frame plus whether THIS call performed the build — the flag
      * build attribution needs (ADVICE r19): a pre-check of isBuilt
      * would also tag a thread that merely BLOCKED on another thread's
      * in-flight build, double-attributing the cost under concurrent
      * demand. */
    def dfBuilt: (DataFrame, Boolean) = {
      var didBuild = false
      if (value == null) synchronized {
        if (value == null) {
          val outer = building.get()
          building.set(this)
          try { value = mk(); didBuild = true }
          finally building.set(outer)
          if (discarded) doUnpersist()
        }
      }
      (value, didBuild)
    }
    def discard(): Unit = synchronized {
      discarded = true
      if (value != null) doUnpersist()
    }
    private def doUnpersist(): Unit = {
      value.unpersist()
      auxFrames.foreach(_.unpersist())
      auxFrames = Nil
    }
  }

  /** The cell currently building on this thread (innermost when memo
    * builds nest), so [[aux]] knows which cell owns a new cache. */
  private val building = new ThreadLocal[Cell]

  /** Persist `df` as an AUXILIARY cache owned by the memo cell currently
    * building on this thread: when that cell is [[release]]d/cleared,
    * the aux frame is unpersisted with it. Nested memo builds register
    * with the INNERMOST cell — an outer composite must not free a frame
    * a shared inner memo still serves. Outside any memo build this is a
    * plain persist and the caller manages the lifetime (tests, ad-hoc
    * use). */
  def aux(df: DataFrame,
          level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val p = df.persist(level)
    val cell = building.get()
    if (cell != null) cell.auxFrames ::= p
    p
  }

  private val frames =
    scala.collection.mutable.HashMap.empty[(SparkSession, String, String), Cell]

  /** Tag tracer for lifecycle-aware callers (see [[traced]]). */
  private val tracer =
    new ThreadLocal[scala.collection.mutable.LinkedHashSet[String]]

  /** BUILD tracer (see [[tracedBuilds]]): records only tags whose cell
    * was not yet built when this thread demanded it — i.e. whose build
    * cost lands inside the traced wall. */
  private val buildTracer =
    new ThreadLocal[scala.collection.mutable.LinkedHashSet[String]]

  def memo(spark: SparkSession, sfDir: String, tag: String,
           persist: Boolean = true)
          (build: => DataFrame): DataFrame = {
    val t = tracer.get()
    if (t != null) t += tag
    val cell = synchronized {
      frames.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
      frames.getOrElseUpdate((spark, sfDir, tag), new Cell(() =>
        if (persist) build.persist(StorageLevel.MEMORY_AND_DISK) else build))
    }
    // attribute the build to the thread that PERFORMED it (ADVICE r19:
    // a pre-check would also tag a thread that just blocked on another
    // thread's in-flight build)
    val (df, didBuild) = cell.dfBuilt
    val bt = buildTracer.get()
    if (bt != null && didBuild) bt += tag
    df
  }

  /** Per-key build cell for [[memoValue]]: `lazy val` gives the cell its
    * own monitor, so two threads demanding the same key race to ONE build
    * (the loser blocks on that cell alone, never on the global map
    * lock — the same contract as [[Cell]]). */
  private final class ValCell(mk: () => AnyRef) {
    @volatile private var value: AnyRef = _
    def isBuilt: Boolean = value != null
    /** Value plus whether THIS call performed the build — see
      * [[Cell.dfBuilt]]. Builders return non-null models (the codebook
      * contract), so the null sentinel is safe. */
    def vBuilt: (AnyRef, Boolean) = {
      var didBuild = false
      if (value == null) synchronized {
        if (value == null) { value = mk(); didBuild = true }
      }
      (value, didBuild)
    }
    def v: AnyRef = vBuilt._1
  }

  private val values =
    scala.collection.mutable.HashMap.empty[(SparkSession, String, String), ValCell]

  /** Session-scoped memo for DRIVER-SIDE values (index models, trained
    * codebooks — bounded by the codebook contract, O(k·dim) doubles):
    * the value sibling of [[memo]], for builders whose product is not a
    * frame. A production index trains its codebook ONCE and serves every
    * search from it; without this each registry query re-collects and
    * re-trains per run. No persist lifecycle — values are driver memory,
    * freed when the session's entries are swept. */
  def memoValue[T <: AnyRef](spark: SparkSession, sfDir: String, tag: String)
                            (build: => T): T = {
    val cell = synchronized {
      values.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
      values.getOrElseUpdate((spark, sfDir, tag), new ValCell(() => build))
    }
    val (v, didBuild) = cell.vBuilt
    val bt = buildTracer.get()
    if (bt != null && didBuild) bt += tag
    v.asInstanceOf[T]
  }

  /** Run `body` recording the set of memo tags it touches on this thread
    * (cache hits and builds alike, nested builders included). Used by
    * Bench's warmup pass to learn each query's tag footprint so the timed
    * loop can [[release]] a tag once its last consumer has run. Nestable;
    * the inner trace's tags also land in the outer trace. */
  def traced[T](body: => T): (T, Set[String]) = {
    val buf = scala.collection.mutable.LinkedHashSet.empty[String]
    val outer = tracer.get()
    tracer.set(buf)
    try {
      val r = body
      if (outer != null) outer ++= buf
      (r, buf.toList.toSet)
    } finally tracer.set(outer)
  }

  /** Run `body` recording which memo tags it BUILT (frame or value
    * cells not yet built when this thread demanded them — a cache hit
    * records nothing). This is the bench's outlier adjudicator (r18
    * verdict): a timed query's wall either names the memos it paid to
    * build, or — with an empty build set — convicts the box for an
    * anomalous row. Nestable like [[traced]]; inner builds also land in
    * the outer record. */
  def tracedBuilds[T](body: => T): (T, Set[String]) = {
    val buf = scala.collection.mutable.LinkedHashSet.empty[String]
    val outer = buildTracer.get()
    buildTracer.set(buf)
    try {
      val r = body
      if (outer != null) outer ++= buf
      (r, buf.toList.toSet)
    } finally buildTracer.set(outer)
  }

  /** Drop the given tags' memos for (spark, sfDir): unpersist built
    * frames (and their [[aux]] caches) and remove the cells, so a later
    * demand rebuilds from scratch. Releasing a never-built or absent tag
    * is a no-op. */
  def release(spark: SparkSession, sfDir: String, tags: Set[String]): Unit = {
    val dropped = synchronized {
      val hit = frames.collect {
        case (k @ (s, d, t), c) if (s eq spark) && d == sfDir && tags(t) => (k, c)
      }.toList
      hit.foreach { case (k, _) => frames.remove(k) }
      values.filterInPlace { case ((s, d, t), _) =>
        !((s eq spark) && d == sfDir && tags(t)) }
      hit.map(_._2)
    }
    dropped.foreach(_.discard())
  }

  /** Drop every memo for `spark`, unpersisting the frames (and [[aux]]
    * caches) that were actually built. Used by Bench between the warmup
    * pass and the timed loop so warm-dir caches don't occupy executor
    * storage while the timed dir is measured. */
  def clear(spark: SparkSession): Unit = {
    // Collect-then-discard: cell monitors are taken OUTSIDE the map lock.
    // An in-flight builder holds its cell monitor and may re-enter memo()
    // (nested memoization) which takes the map lock — discarding under
    // the map lock would deadlock against exactly that pair.
    val dropped = synchronized {
      val cells = frames.collect { case ((s, _, _), c) if s eq spark => c }.toList
      frames.filterInPlace { case ((s, _, _), _) => !(s eq spark) }
      // value memos go with the session's frames: a clear() between a
      // warm and a timed/concurrent pass must cold-start the codebook
      // builds too (the ConcurrentBench cold-pass contract)
      values.filterInPlace { case ((s, _, _), _) => !(s eq spark) }
      cells
    }
    dropped.foreach(_.discard())
  }
}
