package graft.etl

import java.io.{BufferedOutputStream, File, OutputStream}
import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution

/** The converter sinks' one output writer: every task streams its
  * partition's files into a staging directory, and the driver publishes
  * the directory when the job has succeeded.
  *
  * Protocol:
  *  - The driver refuses an existing output without `overwrite` (K4) and
  *    makes one job-unique hidden staging directory beside the output,
  *    `.<name>-<job id>.staging`, so that publishing is a rename on one
  *    file system and no reader of the output's parent lists it.
  *  - Each task writes each of its files under an attempt-unique temp name
  *    and renames it onto its final name only after a complete write. Under
  *    task retries or speculative execution two attempts of one partition
  *    may run at once: each streams to its own temp, and whichever renames
  *    last wins whole (a same-directory rename is atomic, and both attempts
  *    render the same rows). A failed attempt deletes its temp; a killed one
  *    can leave a hidden `.tmp`, which no reader lists.
  *  - The job's result is each partition's list of files, with their rows
  *    and bytes, from the one attempt Spark accepted: the driver has the
  *    files in partition order without listing the directory.
  *  - After the job, the driver finishes the stage (a sink that wants one
  *    file joins its parts there) and publishes it: a directory output
  *    takes one rename of the staging directory, a file output one rename
  *    of its file. A failed job deletes the staging directory and leaves
  *    the output path as it was.
  *
  * Local paths only: files are written with java.nio on a file system the
  * driver and every executor see at the same path (tmpfs, local disk, a
  * shared POSIX mount). There is no Hadoop FileSystem on this path, so no
  * `_SUCCESS` marker and no `.crc` sidecars, and the write adds no Hadoop
  * configuration to its tasks. (Hadoop's local file system, without
  * libhadoop, forks a `chmod` for every directory and file it creates.)
  */
object PartFiles {

  /** One file of a write: its name in the output and what it holds. */
  final case class Part(name: String, rows: Long, bytes: Long)

  /** What a write published: data rows, files and their bytes. */
  final case class Written(rows: Long, files: Int, bytes: Long)

  /** A write job's staging directory and id, as its tasks see them. */
  final case class Stage(dir: String, id: String) {
    def path(name: String): Path = Paths.get(dir, name)

    /** Streams one file `name` into the stage under an attempt-unique temp
      * name, then renames it onto `name`; `body` returns the rows it
      * wrote. */
    def commit(name: String)(body: OutputStream => Long): Part = {
      val attempt = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
      val tmp = path(s".$name.a$attempt.tmp")
      var ok = false
      try {
        val out = new BufferedOutputStream(
          Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW), 1 << 16)
        val rows = try body(out) finally out.close()
        val bytes = Files.size(tmp)
        Files.move(tmp, path(name), StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
        ok = true
        Part(name, rows, bytes)
      } finally if (!ok) { tmp.toFile.delete(); () }
    }

    /** Joins `parts`, in order, into the one staged file `name`: `open`,
      * the parts' bytes with `sep` between each two, then `close`. The
      * parts are removed. */
    def join(parts: Seq[Part], name: String, open: Array[Byte] = Array.emptyByteArray,
        sep: Array[Byte] = Array.emptyByteArray,
        close: Array[Byte] = Array.emptyByteArray): Part = {
      val joined = commit(name) { out =>
        out.write(open)
        parts.zipWithIndex.foreach { case (p, i) =>
          if (i > 0) out.write(sep)
          Files.copy(path(p.name), out)
        }
        out.write(close)
        parts.map(_.rows).sum
      }
      parts.filter(_.name != name).foreach(p => Files.delete(path(p.name)))
      joined
    }
  }

  /** Writes `df` — each row rendered already, in the shape `task` reads —
    * to the local path `dest`. `task` writes one partition's files into
    * the stage and returns them in order; `finish` turns the parts of all
    * partitions, in partition order, into the files to publish. With
    * `toFile` the output is the one file `finish` returns, else the stage
    * directory. One job; a frame with no partitions is written as one empty
    * partition, as Spark's writers do.
    *
    * @throws IllegalStateException existing `dest` without `overwrite` (K4). */
  def write(df: DataFrame, dest: String, overwrite: Boolean, toFile: Boolean = false,
      finish: (Stage, Seq[Part]) => Seq[Part] = (_, parts) => parts)(
      task: (Stage, Int, Iterator[InternalRow]) => Seq[Part]): Written = {
    val out = Paths.get(dest).toAbsolutePath.normalize
    if (Files.exists(out, LinkOption.NOFOLLOW_LINKS) && !overwrite)
      throw new IllegalStateException(
        s"Output path exists and overwrite not enabled: $dest") // K4 parity
    Files.createDirectories(out.getParent)
    val id = UUID.randomUUID.toString
    val stage = Stage(Files.createDirectory(
      out.resolveSibling(s".${out.getFileName}-$id.staging")).toString, id)
    try {
      val qe = df.queryExecution
      val sc = df.sparkSession.sparkContext
      val parts = SQLExecution.withNewExecutionId(qe, Some(s"write $dest")) {
        val rows = qe.toRdd
        val rdd =
          if (rows.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1) else rows
        sc.runJob(rdd, (ctx: TaskContext, it: Iterator[InternalRow]) =>
          task(stage, ctx.partitionId(), it)).toSeq.flatten
      }
      val published = finish(stage, parts)
      if (!toFile || Files.isDirectory(out, LinkOption.NOFOLLOW_LINKS))
        ScratchDirs.delete(out.toFile)
      if (toFile) {
        Files.move(stage.path(published.head.name), out,
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
        ScratchDirs.delete(new File(stage.dir))
      } else Files.move(Paths.get(stage.dir), out, StandardCopyOption.ATOMIC_MOVE)
      Written(published.map(_.rows).sum, published.size, published.map(_.bytes).sum)
    } catch {
      case e: Throwable =>
        remove(new File(stage.dir))
        throw e
    }
  }

  /** Deletes a failed job's stage. Tasks the failure cancelled may still
    * be closing a file in it, so the delete is retried for up to 2 s; once
    * the directory is gone no task can create a file in it. */
  private def remove(dir: File): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    ScratchDirs.delete(dir)
    while (dir.exists() && System.nanoTime() < deadline) {
      Thread.sleep(20)
      ScratchDirs.delete(dir)
    }
  }
}
