package graft.etl

/** Spark local-scratch placement for the engine's driver sessions.
  *
  * `spark.local.dir` is where Spark puts shuffle map outputs, DISK_ONLY /
  * _SER block files, and sort/aggregate spills. Left unset it resolves to
  * java.io.tmpdir, which on this host is disk-backed — the same tiny-
  * synchronous-file-ops tax the streaming state store and StageStore
  * already measured and moved off (NOTES: state stores 8→4 partitions +
  * tmpfs checkpoint cut the micro-batch floor; StageStore stages to
  * /dev/shm).
  *
  * SCALE NOTE (what the 100 TB deployment does instead): tmpfs here is a
  * single-host SANDBOX STAND-IN for executor-local NVMe. On a real cluster
  * `spark.local.dir` (or `yarn.nodemanager.local-dirs` / the k8s emptyDir)
  * points at each executor's locally-attached SSD array — never RAM and
  * never network storage: shuffle/spill volume at 100 TB input is far
  * beyond memory, and the whole point of local dirs is to keep
  * shuffle-write + spill I/O off the network until the shuffle fetch.
  * Capacity planning is per-node disk ≳ (shuffle bytes / nodes) × safety
  * factor, and the cluster manager owns cleanup of dead-executor dirs.
  * The fixture-scale shuffles here are orders of magnitude below the
  * 126 GiB mount, and tmpfs pages are reclaimable file cache, so the
  * memory-pressure story is unchanged.
  *
  * Layout: one shared base (`/dev/shm/graft_spark_local`) holding a
  * PER-JVM unique subdirectory (`pid<pid>_<uuid>`), deleted by a shutdown
  * hook — mirroring StageStore.root, so a clean exit leaves nothing behind
  * even when the JVM dies before Spark's own shutdown hooks run. Crashed /
  * SIGKILLed runs can still leak (no hook runs), so startup additionally
  * SWEEPS sibling dirs whose owning pid is no longer alive (ADVICE r14:
  * the previous fixed shared dir leaked blockmgr-* and spark-* files
  * across crashed runs, permanently occupying RAM-backed tmpfs).
  *
  * `SPARK_GRAFT_NO_SHM_LOCAL=1` opts out (A/B adjudication aid, same
  * convention as SPARK_GRAFT_NO_STAGE).
  */
object ScratchDirs {

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(); ()
  }

  private val PidDir = "pid(\\d+)_.*".r

  /** Remove sibling per-JVM dirs owned by dead processes (a crashed run's
    * shutdown hook never fired). Racing two live JVMs is safe: a LIVE
    * owner's /proc/<pid> exists, so its dir is never touched. */
  private def sweepStale(base: java.io.File): Unit =
    Option(base.listFiles()).foreach(_.foreach { f =>
      f.getName match {
        case PidDir(pid) if !new java.io.File(s"/proc/$pid").isDirectory =>
          delete(f)
        case _ => ()
      }
    })

  /** tmpfs-backed per-JVM spark.local.dir, when /dev/shm is usable.
    * Memoized: spark.local.dir is read once at DiskBlockManager init, and
    * every session in this JVM shares one scratch root. */
  lazy val sparkLocalDir: Option[String] =
    if (sys.env.get("SPARK_GRAFT_NO_SHM_LOCAL").contains("1")) None
    else {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) {
        val base = new java.io.File(shm, "graft_spark_local")
        base.mkdirs()
        try sweepStale(base) catch { case _: Throwable => () }
        val pid = java.lang.ProcessHandle.current().pid()
        val d = new java.io.File(base,
          s"pid${pid}_${java.util.UUID.randomUUID.toString.take(8)}")
        d.mkdirs()
        Runtime.getRuntime.addShutdownHook(new Thread(() => delete(d)))
        Some(d.getAbsolutePath)
      } else None
    }

  /** Apply to a session builder (must run before the SparkContext exists —
    * spark.local.dir is read once at DiskBlockManager init). Also points
    * the session WAREHOUSE at the per-JVM tmpfs scratch (r17): the
    * bucketed-layout row writes two catalog tables per run, and on the
    * default `./spark-warehouse` those writes were disk-bound; the
    * `graft_stage_`-prefixed path keeps plan fingerprints normalized
    * (PlanWalk.digest) exactly like the StageStore roots. Cluster
    * deployments point the warehouse at HDFS/object storage as usual —
    * this is the single-host stand-in, same as [[sparkLocalDir]]. */
  def withLocalDir(
      b: org.apache.spark.sql.SparkSession.Builder): org.apache.spark.sql.SparkSession.Builder = {
    val wh = new java.io.File(scratchOutputDir, "spark-warehouse")
    sparkLocalDir.fold(b)(d => b.config("spark.local.dir", d))
      .config("spark.sql.warehouse.dir", wh.getAbsolutePath)
  }

  /** Per-JVM tmpfs scratch for the e2e sink rows' OUTPUT files (the
    * convert/jsonarray/xlsx/orc/csv roundtrips write a real file and read
    * it back inside one query) — the same NVMe stand-in rationale as
    * [[sparkLocalDir]]: java.io.tmpdir on this host is disk-backed, so the
    * write+read-back halves of those rows were timing synchronous disk
    * I/O, not the operator. Falls back to java.io.tmpdir when tmpfs is
    * unavailable. The name carries the `graft_stage_` prefix so plan
    * fingerprints normalize the per-JVM path token exactly like the
    * StageStore roots (PlanWalk.digest), keeping digests cross-JVM
    * stable. Deleted on JVM exit, and stale sibling dirs from crashed
    * runs are swept by owner-pid liveness, mirroring [[sparkLocalDir]]. */
  lazy val scratchOutputDir: String = {
    val shm = new java.io.File("/dev/shm")
    if (sys.env.get("SPARK_GRAFT_NO_SHM_LOCAL").contains("1") ||
        !shm.isDirectory || !shm.canWrite)
      System.getProperty("java.io.tmpdir")
    else {
      val base = new java.io.File(shm, "graft_stage_out")
      base.mkdirs()
      try sweepStale(base) catch { case _: Throwable => () }
      val pid = java.lang.ProcessHandle.current().pid()
      val d = new java.io.File(base,
        s"pid${pid}_${java.util.UUID.randomUUID.toString.take(8)}")
      d.mkdirs()
      Runtime.getRuntime.addShutdownHook(new Thread(() => delete(d)))
      d.getAbsolutePath
    }
  }
}
