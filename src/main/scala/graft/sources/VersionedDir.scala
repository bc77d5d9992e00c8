package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/**
 * The on-disk version protocol shared by every store that publishes
 * immutable trees ([[graft.streaming.FrozenModelStore]]'s model
 * versions, [[graft.similarity.AnnLifecycle]]'s index generations) and
 * by [[TableLayout]]'s partition swaps — the commit discipline
 * Structured Streaming uses for its offset and sink logs:
 *
 *  - a version root holds immutable `v<N>/` trees and a `MANIFEST`
 *    naming the current one. [[publish]] stages the tree, then flips the
 *    manifest by writing `.MANIFEST.tmp.<N>` and `ATOMIC_MOVE`-ing it
 *    over — a reader resolves the old version or the new one, never a
 *    torn read;
 *  - a directory leaves a layout by [[retire]]: a rename to the hidden
 *    `.<name>.retired-<uuid>` sibling, then a delete. The rename is the
 *    commit point, the UUID means a survivor of a crashed pass can never
 *    collide with a later retire (ADVICE r10);
 *  - [[heal]] runs at every maintenance entry and undoes whatever a
 *    crash left between a retire and its delete.
 *
 * [[crashHook]] is the one fault-injection seam for all of it.
 */
object VersionedDir {

  /** Test-only fault-injection seam (MaintenanceCrashSpec,
    * AnnLifecycleGcSpec, FrozenModelSwapSpec): invoked with a point
    * name at every maintenance step boundary. The points are
    * "staged" (all layout partitions staged, no swap yet), "retired" (a
    * live partition moved aside, its replacement not yet in), "swapped"
    * (replacement in, old copy not yet dropped), "swaps-done" (all swaps
    * in, empty survivors not yet retired), "merge-touched-written" (LSM
    * merge: touched cells written, untouched not yet copied),
    * "gen-retired" (a `v<k>` tree retired by [[prune]], not yet deleted)
    * and "live-gen-retired" (a dead ANN live partition retired, not yet
    * deleted). Production leaves it a no-op; a test hook throws to
    * simulate dying at exactly that boundary. */
  @volatile private[graft] var crashHook: String => Unit = _ => ()

  /** Directory-name pattern of a published version tree. */
  val VersionName: String = "v\\d+"

  /** A `.MANIFEST.tmp.*` file younger than this is an in-flight flip in
    * another thread or process (the window between its write and its
    * ATOMIC_MOVE), not debris; [[heal]] sweeps only older ones (ADVICE
    * r17). 60 s is orders of magnitude beyond a live flip's gap. */
  private[graft] val tmpSweepAgeMs: Long = 60000L

  private def manifest(dir: String): Path = Paths.get(dir, "MANIFEST")

  /** The version the manifest names, or None before the first publish. */
  def currentVersion(dir: String): Option[Int] = {
    val p = manifest(dir)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p)).trim.toInt)
    else None
  }

  /** [[currentVersion]], or an error naming what `dir` should hold. */
  def current(dir: String, what: String): Int =
    currentVersion(dir).getOrElse(sys.error(s"no published $what under $dir"))

  /**
   * Stage version `version` with `stage` (which writes `<dir>/v<version>`
   * and may throw to abort), then flip the manifest to it. The one
   * publish guard: `version` must be greater than the current manifest.
   * A version that took effect is immutable — rows or serves stamped
   * with it must stay attributable to exactly one tree — while a newer
   * one that was staged but never flipped (a crashed publish) is simply
   * staged again; `stage` writes with overwrite semantics.
   */
  def publish[A](dir: String, version: Int)(stage: => A): A = {
    currentVersion(dir).foreach { cur =>
      require(version > cur,
        s"v$version is not newer than the current v$cur under $dir — " +
          s"published trees are immutable (a stamp of v$version would name " +
          s"two trees); publish v${cur + 1}")
    }
    val out = stage
    val tmp = Paths.get(dir, s".MANIFEST.tmp.$version")
    Files.createDirectories(Paths.get(dir))
    Files.write(tmp, version.toString.getBytes)
    Files.move(tmp, manifest(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    out
  }

  /** Versions whose `v<k>` tree exists under `dir`, ascending. */
  def publishedVersions(dir: String): Seq[Int] =
    entries(Paths.get(dir)).map(_.getFileName.toString)
      .filter(_.matches(VersionName)).map(_.drop(1).toInt).sorted

  /**
   * Retire old `v<k>` trees, keeping the newest `keep` (the current
   * version is never pruned, nor anything newer than it, e.g. a staged
   * but unflipped tree). Heals first, so a prune that crashed at
   * "gen-retired" is re-decided under this `keep`. Returns the pruned
   * versions.
   */
  def prune(dir: String, keep: Int, what: String): Seq[Int] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val cur = current(dir, what)
    heal(Paths.get(dir), VersionName)
    val dead = publishedVersions(dir).filter(_ <= cur - keep)
    dead.foreach(k => delete(retire(Paths.get(dir, s"v$k"), "gen-retired")))
    dead
  }

  /** Move `target` to its hidden `.<name>.retired-<uuid>` sibling (hidden
    * names are invisible to Spark readers), fire [[crashHook]] at
    * `point`, and return the retired path. */
  def retire(target: Path, point: String): Path = {
    val retired = target.resolveSibling(
      s".${target.getFileName}.retired-${java.util.UUID.randomUUID()}")
    Files.move(target, retired)
    crashHook(point)
    retired
  }

  /** Delete a directory tree (a retired one, or debris). */
  def delete(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  /** Swap `staged` in as `dst`: retire the live `dst` (if any), move the
    * staged directory in, drop the retired copy. A crash between the two
    * moves leaves `dst` absent and its retired copy restorable by
    * [[heal]]; a crash after them leaves post-swap garbage it drops. */
  def swapIn(staged: Path, dst: Path): Unit = {
    val retired = Option.when(Files.exists(dst))(retire(dst, "retired"))
    Files.move(staged, dst)
    crashHook("swapped")
    retired.foreach(delete)
  }

  /**
   * Crash recovery under `dir`, for directories whose names match the
   * regex `orig`: a `.<orig>.retired*` survivor WITH a live sibling is
   * post-swap garbage — dropped; one WITHOUT means the directory
   * vanished mid-retire — restored, so readers see it again and the
   * interrupted pass is re-decided by its retry. Also sweeps abandoned
   * `.MANIFEST.tmp.*` files older than [[tmpSweepAgeMs]] (the atomic
   * move never happened; the manifest is whichever version last flipped).
   */
  def heal(dir: Path, orig: String): Unit = {
    val retiredRe = s"^\\.($orig)\\.retired(-[0-9a-fA-F-]+)?$$".r
    val staleBefore = System.currentTimeMillis() - tmpSweepAgeMs
    entries(dir).foreach { p =>
      val name = p.getFileName.toString
      name match {
        case retiredRe(live, _) =>
          if (Files.exists(dir.resolve(live))) delete(p)
          else Files.move(p, dir.resolve(live))
        case _ if name.startsWith(".MANIFEST.tmp.") &&
          Files.getLastModifiedTime(p).toMillis < staleBefore =>
          Files.deleteIfExists(p)
        case _ => ()
      }
    }
  }

  /** The entries directly under `dir` (empty when it is not a directory). */
  private[graft] def entries(dir: Path): List[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path]).toList
      finally s.close()
    }
}
