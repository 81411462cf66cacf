package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The engine's checkpoint manager: under a `file:` root, Spark's metadata
  * logs (offsets, commits, the file source's and file sink's logs) and the
  * state store's files are written through java.nio; every other root gets
  * exactly the manager Spark picks without this one, so an HDFS or object
  * store checkpoint is untouched.
  *
  * Why: without Hadoop's native library, `RawLocalFileSystem` starts a
  * `chmod` process for every file and dir it creates, and Spark's default
  * FileContext manager adds `readlink`s on every rename: about 10 process
  * starts and 30 ms per metadata-log write on a 4-CPU VM, and three such
  * writes per trigger. Here the temp file, the atomic rename (`rename(2)`)
  * and the dirs are java.nio calls that start no process. Reads, listings,
  * `exists` and deletes stay on Hadoop's `LocalFileSystem`, which verifies
  * any `.crc` sibling it finds; this manager writes none, so a rename
  * deletes the target's stale one (a checkpoint begun under Spark's
  * default manager has them).
  *
  * Spark builds it from the conf [[LocalCheckpointFileManager.install]]
  * sets on a session, which also turns on the RocksDB state store's
  * changelog checkpointing: each state commit is then one changelog file
  * written through this manager, and the snapshot uploads (whose Hadoop
  * copy forks a `chmod` per file) move to Spark's background maintenance.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {
  private[graft] val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isFile(path, conf))
      new LocalCheckpointFileManager.Nio(path, conf)
    else CheckpointFileManager.create(path, LocalCheckpointFileManager.withoutSelf(conf))

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  private val Key = "spark.sql.streaming.checkpointFileManagerClass"
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Every streaming query later started on `spark`, and every source or
    * state store built from its conf, checkpoints through this manager; a
    * RocksDB state store among them commits changelogs. A checkpoint begun
    * with either conf unset resumes under both. */
  def install(spark: SparkSession): Unit = {
    spark.conf.set(Key, classOf[LocalCheckpointFileManager].getName)
    spark.conf.set(ChangelogKey, "true")
  }

  /** A path without a scheme resolves against the default file system. */
  private def isFile(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private def withoutSelf(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.unset(Key)
    c
  }

  /** The `file:` side: Spark's FileSystem manager with every write that
    * Hadoop would fork for done through java.nio. */
  private[graft] class Nio(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    private def local(p: Path): java.nio.file.Path = Paths.get(fs.makeQualified(p).toUri)

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      Files.createDirectories(local(qualified))
      qualified
    }

    override def createTempFile(p: Path): FSDataOutputStream = {
      val f = local(p)
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
    }

    /** Without overwrite, an existing `dst` is left as it was: the temp
      * file is deleted and Hadoop's FileAlreadyExistsException thrown, the
      * one Spark's metadata log reads as "another writer won". */
    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      val (s, d) = (local(src), local(dst))
      if (!overwriteIfPossible && Files.exists(d)) {
        Files.deleteIfExists(s)
        throw new FileAlreadyExistsException(s"$dst exists")
      }
      Files.deleteIfExists(d.resolveSibling(s".${d.getFileName}.crc"))
      Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
    }
  }
}
