package graft

import java.nio.file.{Files, Path}

/** Fixture directories and files for the suite. All of them sit under one
  * per-run directory in java.io.tmpdir, which a shutdown hook deletes when
  * the test JVM exits, so a run leaves nothing behind. */
object TestDirs {
  lazy val root: Path = {
    val d = Files.createTempDirectory("graft-tests-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => graft.etl.ScratchDirs.delete(d.toFile)))
    d
  }

  /** A fresh empty directory under [[root]]. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** A fresh empty file under [[root]]. */
  def file(prefix: String, suffix: String): Path = Files.createTempFile(root, prefix, suffix)
}
