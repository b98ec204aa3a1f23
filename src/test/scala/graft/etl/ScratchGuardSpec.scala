package graft.etl

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Where scratch lives is decided in one module: no other main source names
  * /dev/shm or registers a shutdown hook, and the retired memo/partition
  * switches stay retired. */
class ScratchGuardSpec extends AnyFunSuite {

  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }

  private def read(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("only ScratchDirs places scratch; retired switches appear nowhere") {
    val main = new File("src/main/scala")
    val test = new File("src/test/scala")
    assert(main.isDirectory && test.isDirectory,
      s"run from the project root (cwd ${new File(".").getAbsolutePath})")
    val owner = new File(main, "graft/etl/ScratchDirs.scala").getCanonicalFile
    val placing = for {
      f <- scalaFiles(main) if f.getCanonicalFile != owner
      token <- Seq("/dev/shm", "addShutdownHook") if read(f).contains(token)
    } yield s"${f.getPath}: $token"
    assert(placing.isEmpty, placing.mkString("\n"))
    // spelled in pieces so this file does not match itself
    val retired = Seq("SPARK_GRAFT_NO_" + "STREAM_REPLAY",
      "SPARK_GRAFT_" + "STAGE_LOG", "spark.graft." + "stream.partitions")
    val found = for {
      f <- scalaFiles(main) ++ scalaFiles(test)
      token <- retired if read(f).contains(token)
    } yield s"${f.getPath}: $token"
    assert(found.isEmpty, found.mkString("\n"))
  }
}
