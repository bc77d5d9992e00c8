package graft

import graft.sources.{TableLayout, VersionedDir}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/**
 * Crash-injection sweep over ALL maintenance passes (r13): r12 tested
 * swap-crash recovery for one pass; here a fault hook
 * ([[VersionedDir.crashHook]]) kills each pass at EVERY step boundary —
 * "staged" (everything staged, nothing swapped), "retired" (a live
 * partition moved aside, replacement not yet in — the partition is
 * transiently ABSENT), "swapped" (replacement in, old hidden copy not
 * yet dropped), "swaps-done" (all swapped, empty survivors not yet
 * retired) — and asserts the two recovery invariants:
 *
 *  1. BETWEEN crash and recovery, a plain read never double-counts:
 *     every partition reads as its old state, its new state, or (in
 *     the "retired" window only) absent — the retired copy is hidden
 *     (dot-prefixed) from readers;
 *  2. RETRYING the same pass (every maintenance entry heals first)
 *     converges to exactly the no-crash final state, with no retired
 *     or staging debris left behind.
 *
 * The LSM cell merge writes to a NEW directory (rebuild-and-repoint),
 * so its invariant is different: a crashed merge leaves base and
 * segments byte-untouched, and the recovery is discard-partial +
 * re-merge fresh.
 */
class MaintenanceCrashSpec extends SparkSpec {
  import spark.implicits._

  private final class CrashInjected extends RuntimeException("injected crash")

  /** Arm the hook to throw at the FIRST occurrence of `point`, run
    * `pass`, assert it crashed, disarm. First-occurrence-only leaves a
    * partially-advanced multi-partition layout — the worst state. */
  private def crashAt(point: String)(pass: => Unit): Unit = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    VersionedDir.crashHook =
      p => if (p == point && fired.compareAndSet(false, true))
        throw new CrashInjected
    try {
      intercept[CrashInjected](pass)
      assert(fired.get(), s"crash point $point never fired")
    } finally VersionedDir.crashHook = _ => ()
  }

  private def rowsOf(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("user_id").cast("long"), col("value").cast("long"),
        unix_millis(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** 3 dates × 4 users of synthetic events in the date layout. */
  private def freshEventsLayout(): (String, DataFrame) = {
    val rows = for (d <- 0 until 3; u <- 0 until 4) yield
      (u.toLong, (d * 4 + u).toLong,
        java.sql.Timestamp.valueOf(s"2026-01-0${d + 1} 0$u:00:00"))
    val df = rows.toDF("user_id", "value", "ts")
    val dir = Files.createTempDirectory("crash_events").toString + "/layout"
    TableLayout.writeDatePartitioned(df, dir)
    (dir, df)
  }

  private def noDebris(dir: String): Unit = {
    val left = Paths.get(dir).toFile.listFiles()
      .map(_.getName).filter(n => n.contains(".retired") || n.contains(".staging"))
    assert(left.isEmpty, s"maintenance debris left in $dir: ${left.toSeq}")
    // staging dirs are SIBLINGS of the layout (resolveSibling) — a
    // crashed pass abandons a full copy of every touched partition
    // there, and only the entry-heal reclaims it (r13 review finding);
    // checking inside the layout alone would miss it entirely
    val p = Paths.get(dir).toAbsolutePath
    val siblings = p.getParent.toFile.listFiles()
      .map(_.getName).filter(_.startsWith(s"${p.getFileName}.staging-"))
    assert(siblings.isEmpty,
      s"orphaned staging debris beside $dir: ${siblings.toSeq}")
  }

  /** Invariant 1: between crash and heal, each date partition reads as
    * old, new, or (retired window) absent — never a mix or a double. */
  private def assertPartitionAtomic(dir: String,
                                    old: Map[String, Set[(Long, Long, Long)]],
                                    fresh: Map[String, Set[(Long, Long, Long)]],
                                    allowAbsent: Boolean): Unit = {
    val dates = (old.keySet ++ fresh.keySet).toSeq.sorted
    val now = rowsOf(spark.read.parquet(dir).withColumn("ts", col("ts")))
    val byDate = now.groupBy(t =>
      new java.sql.Timestamp(t._3).toString.substring(0, 10))
    dates.foreach { d =>
      val got = byDate.getOrElse(d, Set.empty)
      val ok = got == old.getOrElse(d, Set.empty) ||
        got == fresh.getOrElse(d, Set.empty) ||
        (allowAbsent && got.isEmpty)
      assert(ok, s"partition $d read a mixed/doubled state: $got")
    }
  }

  private def byDate(rows: Set[(Long, Long, Long)]): Map[String, Set[(Long, Long, Long)]] =
    rows.groupBy(t => new java.sql.Timestamp(t._3).toString.substring(0, 10))

  test("upsert crashed at every step boundary: reads stay per-partition " +
    "atomic and a retry converges to the exact no-crash state") {
    // updates replace user 1 everywhere and MOVE user 2's day-1 row to a
    // new date — exercising both the rewrite and retire-empty paths
    def updates = Seq(
      (1L, 100L, java.sql.Timestamp.valueOf("2026-01-02 09:00:00")),
      (2L, 200L, java.sql.Timestamp.valueOf("2026-01-05 09:00:00")))
      .toDF("user_id", "value", "ts")
    for (point <- Seq("staged", "retired", "swapped", "swaps-done")) {
      val (dir, df) = freshEventsLayout()
      val oldRows = rowsOf(df)
      val want = rowsOf(df.filter(!col("user_id").isin(1L, 2L))
        .unionByName(updates))
      crashAt(point) {
        TableLayout.upsertDatePartitions(spark, dir, updates,
          keyCols = Seq("user_id"))
      }
      if (point == "staged") {
        // kill-9 fidelity: the crash abandons the staging sibling; the
        // retry's entry-heal is what must reclaim it (noDebris below)
        val p = Paths.get(dir).toAbsolutePath
        assert(p.getParent.toFile.listFiles()
          .exists(_.getName.startsWith(s"${p.getFileName}.staging-")),
          "a staged-boundary crash should leave its staging dir behind")
      }
      assertPartitionAtomic(dir, byDate(oldRows), byDate(want),
        allowAbsent = point == "retired")
      TableLayout.upsertDatePartitions(spark, dir, updates,
        keyCols = Seq("user_id"))
      assert(rowsOf(spark.read.parquet(dir)) == want,
        s"[$point] retry did not converge")
      noDebris(dir)
    }
  }

  test("delete crashed at every step boundary: retry converges, no " +
    "debris, no resurrections") {
    def doomed = Seq(0L, 3L).toDF("user_id")
    for (point <- Seq("staged", "retired", "swapped", "swaps-done")) {
      val (dir, df) = freshEventsLayout()
      val oldRows = rowsOf(df)
      val want = rowsOf(df.filter(!col("user_id").isin(0L, 3L)))
      crashAt(point) {
        TableLayout.deleteDateKeys(spark, dir, doomed, Seq("user_id"))
      }
      assertPartitionAtomic(dir, byDate(oldRows), byDate(want),
        allowAbsent = point == "retired")
      TableLayout.deleteDateKeys(spark, dir, doomed, Seq("user_id"))
      assert(rowsOf(spark.read.parquet(dir)) == want,
        s"[$point] retry did not converge")
      noDebris(dir)
    }
  }

  test("compaction crashed at every step boundary: rows are NEVER lost " +
    "or doubled, retry completes") {
    for (point <- Seq("staged", "retired", "swapped", "swaps-done")) {
      val (dir, df) = freshEventsLayout()
      val want = rowsOf(df) // compaction must preserve rows exactly
      crashAt(point) {
        TableLayout.compactDatePartitions(spark, dir,
          col(TableLayout.dateCol) >= lit("2026-01-01"))
      }
      assertPartitionAtomic(dir, byDate(want), byDate(want),
        allowAbsent = point == "retired")
      TableLayout.compactDatePartitions(spark, dir,
        col(TableLayout.dateCol) >= lit("2026-01-01"))
      assert(rowsOf(spark.read.parquet(dir)) == want,
        s"[$point] rows drifted across crashed compaction")
      noDebris(dir)
    }
  }

  test("documents takedown crashed at every step boundary: retry " +
    "converges, a fully-purged source still retires") {
    val docs = Seq(
      (1L, "a", "en", "srcA", 10L), (2L, "b", "en", "srcA", 20L),
      (3L, "c", "en", "srcB", 30L), (4L, "d", "en", "srcB", 40L),
      (5L, "e", "en", "srcC", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // kills srcA partially and srcB entirely
    def doomed = Seq(1L, 3L, 4L).toDF("doc_id")
    for (point <- Seq("staged", "retired", "swapped", "swaps-done")) {
      val work = Files.createTempDirectory("crash_docs").toString
      val dir = s"$work/layout"
      TableLayout.writeDocumentsSourcePartitioned(spark, docs, dir,
        filesPerSource = 1)
      crashAt(point) {
        TableLayout.deleteDocIds(spark, dir, doomed)
      }
      // between crash and heal: no doubles ever (retired dirs hidden)
      val mid = spark.read.parquet(dir).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSeq
      assert(mid.distinct.size == mid.size, s"[$point] doubled rows: $mid")
      TableLayout.deleteDocIds(spark, dir, doomed)
      val after = spark.read.parquet(dir)
      assert(after.select(col("doc_id")).collect().map(_.getLong(0)).toSet
        == Set(2L, 5L), s"[$point] takedown retry did not converge")
      assert(!Files.isDirectory(Paths.get(dir).resolve("source=srcB")),
        s"[$point] fully-purged source survived the crashed takedown")
      noDebris(dir)
    }
  }

  test("LSM cell merge crashed after the touched-cell write: base and " +
    "segments stay byte-untouched, discard + re-merge equals the " +
    "no-crash merge") {
    def cellFrame(ids: Seq[Long], cellOf: Long => Long): DataFrame =
      ids.map(i => (i, Seq(i.toDouble, 1.0), 1.0, cellOf(i)))
        .toDF("vec_id", "v", "nrm", "cell")
    val work = Files.createTempDirectory("crash_merge").toString
    val base = s"$work/base"
    val seg = s"$work/seg"
    cellFrame(0L until 12L, _ % 4).repartition(col("cell"))
      .write.partitionBy("cell").parquet(base)
    cellFrame(100L until 106L, _ % 2).repartition(col("cell"))
      .write.partitionBy("cell").parquet(seg)
    import scala.jdk.CollectionConverters._
    def hashes(dir: String) = {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
    val baseBefore = hashes(base)
    val segBefore = hashes(seg)
    crashAt("merge-touched-written") {
      TableLayout.mergeCellSegments(spark, base, Seq(seg),
        s"$work/out_crashed", touchedOnly = true)
    }
    // sources untouched by the crashed merge
    assert(hashes(base) == baseBefore && hashes(seg) == segBefore,
      "a crashed merge mutated its sources")
    // recovery: discard the partial output, re-merge fresh
    org.apache.commons.io.FileUtils.deleteDirectory(
      Paths.get(s"$work/out_crashed").toFile)
    TableLayout.mergeCellSegments(spark, base, Seq(seg), s"$work/out",
      touchedOnly = true)
    val got = spark.read.parquet(s"$work/out")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(got == ((0L until 12L) ++ (100L until 106L)).toSet,
      "re-merge after a crashed merge lost rows")
  }
}
