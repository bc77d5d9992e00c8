package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/**
 * Streaming state-backend selection. The reference deployment runs its
 * job state on RocksDB (reference `docker-compose.yml:76-78`, SURVEY T6);
 * Spark's equivalent is the `RocksDBStateStoreProvider`, selected via the
 * session conf `spark.sql.streaming.stateStore.providerClass`. The
 * default HDFS-backed provider keeps every key's state on the JVM heap —
 * fine for tests, but a 100 TB deployment's join/dedup/session state must
 * spill off-heap, which is exactly what the RocksDB provider gives
 * (memtable + on-disk SST files per state store, changelog-checkpointed).
 *
 * A query captures the provider from the session conf AT START and keeps
 * it for the checkpoint lineage's lifetime (Spark persists state in the
 * provider's own format, so the two backends' checkpoints are not
 * interchangeable — restarts must keep the provider they started with).
 * [[withProvider]] therefore scopes the conf around the `start()` calls
 * and restores the previous value, so concurrently-built jobs in the same
 * session are unaffected.
 *
 * Exercised (not just cited) by StreamingJobsSpec's restart-recovery test
 * running the full main-job topology — interval join + two windowed aggs,
 * stop, restart, exactly-once — under RocksDB.
 *
 * Checkpoint files go through [[start]], which every file-topic, layout
 * and Kafka sink in the engine starts its query with: on a local
 * file system it selects Spark's FileSystem-API checkpoint manager for
 * the query (see the method for why).
 */
object StateBackend {

  /** FQCN of Spark's RocksDB state store provider (spark-sql built-in;
    * the rocksdbjni native library ships in Spark's jars directory). */
  val RocksDb: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val Key = "spark.sql.streaming.stateStore.providerClass"

  /**
   * Runs `body` (typically one or more `writeStream.start()` calls) with
   * the session's state-store provider set to `provider`, restoring the
   * prior conf afterwards. `None` = leave the session default untouched.
   */
  def withProvider[A](spark: SparkSession, provider: Option[String])
                     (body: => A): A = withConf(spark, Key, provider)(body)

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** FQCN of Spark's FileSystem-API checkpoint file manager. */
  private val FileSystemCheckpoints = "org.apache.spark.sql.execution." +
    "streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /**
   * Starts `writer`, whose checkpoint and sink paths are `dirs`. When all
   * of them are on the local file system and the session names no
   * checkpoint manager of its own, the query commits its offset, commit,
   * state and sink-log files through the FileSystem API instead of
   * Spark's default FileContext API. Without Hadoop's native library,
   * the FileContext commit of one local file (create, then rename, with
   * its `.crc` twin) forks `chmod` twice and `readlink` eight times —
   * ten process forks per file; the FileSystem rename is one rename(2)
   * call, atomic on POSIX, so the commit protocol keeps its exactly-once
   * guarantee, and only the two `chmod` forks remain. Both managers
   * write the same files, so a checkpoint restarts under either. A file
   * source's own log (`sources/<n>`) is created when the query thread
   * initializes its sources, after `start()` returns, so it keeps the
   * session's manager.
   */
  def start(spark: SparkSession, writer: DataStreamWriter[_],
            dirs: String*): StreamingQuery = {
    val conf = spark.sparkContext.hadoopConfiguration
    val local = dirs.forall(d => new Path(d).getFileSystem(conf).getScheme == "file")
    val manager =
      if (local && spark.conf.getOption(ManagerKey).isEmpty) Some(FileSystemCheckpoints)
      else None
    withConf(spark, ManagerKey, manager)(writer.start())
  }

  /** Runs `body` with session conf `key` set to `value`, restoring the
    * prior value afterwards; `None` leaves the conf untouched. */
  private def withConf[A](spark: SparkSession, key: String,
                          value: Option[String])(body: => A): A = value match {
    case None => body
    case Some(v) =>
      val old = spark.conf.getOption(key)
      spark.conf.set(key, v)
      try body
      finally old match {
        case Some(o) => spark.conf.set(key, o)
        case None    => spark.conf.unset(key)
      }
  }
}
