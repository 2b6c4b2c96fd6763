package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.DataType

/** One file of a committed write task, as the task saw it: its path
  * under the table root, size, mtime, rows, footer stats (None when the
  * footer could not be read) and bloom sidecar (None for change files,
  * on tables without an index, and where the task could not index it). */
private[lake] final case class WrittenFile(path: String, size: Long, modificationTime: Long,
    rows: Long, stats: Option[FileStats], bloomPath: Option[String])

/** Names each file of the one writer's job at its final place in the
  * table, as Delta's `DelayedCommitProtocol` does: routed change rows
  * (`__is_cdc=true/<dirs>`) go to `_change_data/<identity dirs>/cdc-*`,
  * dropping the synthetic transform and bucket dirs they carry as nulls,
  * and routed data rows lose their `__is_cdc=false/` dir. A task attempt
  * reports its files on commit and deletes them on abort; an aborted job
  * deletes its committed tasks' files and sidecars. The files of an
  * attempt that dies without aborting are orphans that vacuum reaps by
  * mtime. */
private[lake] final class LakeCommitProtocol(root: String, bloom: Option[BloomIndex.Layout])
    extends FileCommitProtocol with Serializable {
  // task side: this attempt's files; driver side: the committed tasks'
  @transient private lazy val files = mutable.ArrayBuffer[String]()

  override def newTaskTempFile(
      ctx: TaskAttemptContext, dir: Option[String], spec: FileNameSpec): String = {
    val name = f"-${ctx.getTaskAttemptID.getTaskID.getId}%05d-${UUID.randomUUID()}${spec.suffix}"
    val dirs = dir.toSeq.flatMap(_.split('/'))
    def synthetic(d: String) =
      d.startsWith(PartitionTransforms.DIR_PREFIX) || d.startsWith(s"${Bucketing.BUCKET_DIR_COL}=")
    val path = (
      if (dirs.headOption.contains(s"${Cdc.KIND_COL}=true"))
        (root +: Cdc.CDC_DIR +: dirs.tail.filterNot(synthetic)) :+ s"cdc$name"
      else (root +: dirs.filterNot(_ == s"${Cdc.KIND_COL}=false")) :+ s"part$name"
    ).mkString("/")
    files += path
    path
  }

  override def newTaskTempFileAbsPath(
      ctx: TaskAttemptContext, absoluteDir: String, spec: FileNameSpec): String =
    throw new UnsupportedOperationException("lake writes have no custom partition locations")

  override def setupJob(job: JobContext): Unit = ()
  override def setupTask(ctx: TaskAttemptContext): Unit = ()

  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    files.foreach(p => Files.deleteIfExists(checksumOf(p)))
    new TaskCommitMessage(files.toSeq)
  }

  override def abortTask(ctx: TaskAttemptContext): Unit = files.foreach(delete)

  override def onTaskCommit(msg: TaskCommitMessage): Unit =
    files ++= msg.obj.asInstanceOf[Seq[String]]

  override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit = ()

  override def abortJob(job: JobContext): Unit = files.foreach { p =>
    delete(p)
    bloom.foreach(l => Files.deleteIfExists(Paths.get(root, l.sidecarFor(p.drop(root.length + 1)))))
  }

  // the local filesystem's `.name.crc` sibling
  private def checksumOf(p: String): Path = {
    val f = Paths.get(p)
    f.resolveSibling(s".${f.getFileName}.crc")
  }

  private def delete(p: String): Unit = {
    Files.deleteIfExists(Paths.get(p))
    Files.deleteIfExists(checksumOf(p))
  }
}

/** The one writer's stats, gathered by the write tasks themselves: each
  * task counts the rows of every file it writes, reads each data file's
  * footer stats once it has committed, and for a bloom table hashes each
  * indexed column of every data row (the `xxhash64` the read-side build
  * projects) and writes the file's sidecar, sized as that build sizes
  * it. A file over [[LakeWriteStats.HASH_CAP]] rows goes unindexed here.
  * The driver ([[written]]) sees only the results of committed task
  * attempts, so a retried task or stage cannot double-count.
  * `hashed`: each indexed column's ordinal in the written data row. */
private[lake] final class LakeWriteStats(root: String, byName: Map[String, DataType],
    conf: graft.util.SerializableHadoopConf,
    bloom: Option[BloomIndex.Layout], hashed: Seq[Int])
  extends WriteJobStatsTracker {
  import LakeWriteStats._

  @transient @volatile private var result = Seq.empty[WrittenFile]

  /** The committed tasks' files, once the job has committed. */
  def written: Seq[WrittenFile] = result

  override def newTaskInstance(): WriteTaskStatsTracker = new TaskSide

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    result = stats.flatMap(_.asInstanceOf[TaskFiles].files)

  private final class TaskSide extends WriteTaskStatsTracker {
    private val ordinals = hashed.toArray
    private val hashes = bloom.toSeq.flatMap(_.fields).zip(hashed).map { case (f, i) =>
      XxHash64(Seq(BoundReference(i, f.dataType, nullable = true)), 42L)
    }.toArray
    private val open = mutable.HashMap[String, FileRows]()
    private val closed = mutable.ArrayBuffer[FileRows]()

    override def newPartition(values: InternalRow): Unit = ()
    override def newFile(path: String): Unit = open(path) = new FileRows(path,
      if (isChange(path)) 0 else hashes.length)
    override def newRow(path: String, row: InternalRow): Unit = open(path).add(row, ordinals, hashes)
    // Spark also closes the files of an aborted attempt: no IO here
    override def closeFile(path: String): Unit = open.remove(path).foreach(closed += _)
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskFiles(closed.map(finish).toSeq)
  }

  private def isChange(path: String) = path.startsWith(s"$root/${Cdc.CDC_DIR}/")

  private def finish(f: FileRows): WrittenFile = {
    val p = Paths.get(f.path)
    val rel = f.path.drop(root.length + 1)
    val change = isChange(f.path)
    val sidecar = for (l <- bloom if !change && f.hashes != null) yield {
      val blooms = f.hashes.map { b =>
        val bf = l.filter(f.rows)
        b.result().foreach(bf.putLong)
        bf
      }
      try {
        BloomIndex.writeSidecar(Paths.get(root), l.sidecarFor(rel), l.colMeta, blooms)
        Some(l.sidecarFor(rel))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    WrittenFile(rel, Files.size(p), Files.getLastModifiedTime(p).toMillis, f.rows,
      if (change) None else Stats.footerStats(f.path, byName, conf.value).map(_._2),
      sidecar.flatten)
  }
}

private[lake] object LakeWriteStats {
  /** Hashes a write task buffers per indexed column of one file
    * (8 bytes each: 4 MB). */
  val HASH_CAP = 524288

  private final case class TaskFiles(files: Seq[WrittenFile]) extends WriteTaskStats

  /** One open file's rows and, for an indexed data file, each indexed
    * column's hashes; `hashes` is null once the file outgrows
    * [[HASH_CAP]]. */
  private final class FileRows(val path: String, nCols: Int) {
    var rows = 0L
    var hashes: Array[mutable.ArrayBuilder.ofLong] =
      Array.fill(nCols)(new mutable.ArrayBuilder.ofLong)

    def add(row: InternalRow, ordinals: Array[Int], exprs: Array[XxHash64]): Unit = {
      rows += 1
      if (hashes != null && rows > HASH_CAP) hashes = null
      if (hashes != null) {
        var c = 0
        while (c < nCols) {
          if (!row.isNullAt(ordinals(c)))
            hashes(c).addOne(exprs(c).eval(row).asInstanceOf[Long])
          c += 1
        }
      }
    }
  }
}
