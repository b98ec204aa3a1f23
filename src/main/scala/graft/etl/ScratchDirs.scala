package graft.etl

import java.io.File

/** Where the engine's scratch lives and when it is deleted. Every directory
  * the engine writes for its own use sits under ONE per-JVM root, and this
  * is the only module that chooses its place, sweeps stale roots and
  * deletes them:
  *
  * {{{
  * <parent>/graft_stage_jvm/      shared base, left in place (empty at rest)
  *   pid<pid>_<uuid8>/            this JVM's root, deleted on exit
  *     local/                     spark.local.dir: shuffle files, spills,
  *                                DISK_ONLY / _SER blocks
  *     warehouse/                 spark.sql.warehouse.dir
  *     out/                       the e2e sink rows' output files (a
  *                                sink stages its parts beside its own
  *                                output, see PartFiles)
  *     stage/                     StageStore entries: batch stages,
  *                                stream-replay sinks, the update-mode
  *                                input stage
  *     ck/                        one fresh checkpoint per stream run,
  *                                deleted when the run ends
  * }}}
  *
  * `<parent>` is /dev/shm when it is a writable directory, else
  * java.io.tmpdir; `SPARK_GRAFT_NO_SHM_LOCAL=1` forces java.io.tmpdir. That
  * is the one placement switch. The one memo switch is StageStore's
  * `SPARK_GRAFT_NO_STAGE`; the memo works wherever the root is placed.
  *
  * Why tmpfs: java.io.tmpdir on this host is disk-backed, and the
  * shuffle/spill files, the streaming state store's many tiny synchronous
  * file ops, the stage writes and the sink rows' write-and-read-back were
  * all timing that disk, not the operator (NOTES: the tmpfs checkpoint and
  * 4 state partitions cut the micro-batch floor).
  *
  * The base name carries `graft_stage_`, so every path under the root that
  * reaches a plan (stages, replay sinks, warehouse tables, sink outputs)
  * renders as one token in plan digests (PlanWalk.digest), stable across
  * JVMs.
  *
  * Lifetime: one shutdown hook deletes the root on a clean exit. A JVM
  * killed before its hook ran leaves its root behind, so the next JVM's
  * first use sweeps sibling roots whose owner pid is no longer alive; a live
  * owner's /proc/<pid> exists, so two live JVMs never touch each other's
  * root (ADVICE r14). The same sweep removes the directories that builds
  * before the per-JVM root left directly under `<parent>` (`graft_upd_*`,
  * `graft_stage_out`, `graft_spark_local`). A root is never shared across JVMs: a stage is only
  * trusted by the JVM that holds the plan it was keyed on.
  *
  * SCALE NOTE: tmpfs here is a single-host stand-in for executor-local
  * NVMe. On a cluster `spark.local.dir` (or `yarn.nodemanager.local-dirs` /
  * the k8s emptyDir) points at each executor's local SSDs, the warehouse
  * and stages at HDFS/object storage, and the cluster manager cleans up
  * dead executors' dirs. The fixture-scale volumes here are orders of
  * magnitude below the 126 GiB mount, and tmpfs pages are reclaimable file
  * cache, so the memory-pressure story is unchanged.
  */
object ScratchDirs {

  /** Recursive delete; best effort (a file that cannot go stays). */
  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(); ()
  }

  private final val Base = "graft_stage_jvm"

  private val PidDir = "pid(\\d+)_.*".r

  /** Scratch names that builds before the per-JVM root wrote directly
    * under `<parent>`; nothing writes them any more. */
  private val PreRoot = "graft_upd_.*|graft_stage_out|graft_spark_local".r

  /** Remove what dead JVMs left under `parent`: roots under its base owned
    * by dead processes, and the pre-root scratch directories. */
  private[etl] def sweep(parent: File): Unit = {
    Option(parent.listFiles()).foreach(_.foreach { f =>
      if (PreRoot.matches(f.getName)) delete(f)
    })
    Option(new File(parent, Base).listFiles()).foreach(_.foreach { f =>
      f.getName match {
        case PidDir(pid) if !new File(s"/proc/$pid").isDirectory => delete(f)
        case _ => ()
      }
    })
  }

  /** This JVM's root; created, with the stale sweep and the shutdown hook,
    * on first use. */
  lazy val root: File = {
    val shm = new File("/dev/shm")
    val parent =
      if (!sys.env.get("SPARK_GRAFT_NO_SHM_LOCAL").contains("1") &&
          shm.isDirectory && shm.canWrite) shm
      else new File(System.getProperty("java.io.tmpdir"))
    val base = new File(parent, Base)
    base.mkdirs()
    try sweep(parent) catch { case _: Throwable => () }
    val d = new File(base, s"pid${ProcessHandle.current().pid()}_" +
      java.util.UUID.randomUUID.toString.take(8))
    d.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(d)))
    d
  }

  /** `root/name`, created if missing. */
  def dir(name: String): File = {
    val d = new File(root, name)
    d.mkdirs()
    d
  }

  /** Run `body` on a fresh empty directory under `root/name`, deleted when
    * `body` returns or throws. */
  def withFreshDir[A](name: String)(body: String => A): A = {
    val d = java.nio.file.Files.createTempDirectory(dir(name).toPath, "run").toFile
    try body(d.getAbsolutePath) finally delete(d)
  }

  /** Point a session builder's local dir and warehouse under the root. Must
    * run before the SparkContext exists: spark.local.dir is read once at
    * DiskBlockManager init. The bucketed-layout row writes two catalog
    * tables per run; on the default `./spark-warehouse` those writes were
    * disk-bound (r17). */
  def withLocalDir(
      b: org.apache.spark.sql.SparkSession.Builder): org.apache.spark.sql.SparkSession.Builder =
    b.config("spark.local.dir", dir("local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", dir("warehouse").getAbsolutePath)

  /** Output files of the e2e sink rows (convert/jsonarray/xlsx/orc/csv
    * roundtrips write a real file and read it back inside one query). */
  lazy val scratchOutputDir: String = dir("out").getAbsolutePath
}
