package graft.etl

import java.io.File
import java.nio.file.{Files, StandardWatchEventKinds => K}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.SparkTestSession.{sf0001, spark}
import graft.streaming.EventStreams

/** Every directory the engine writes for itself lies under the one per-JVM
  * root that ScratchDirs owns, and its stale-root sweep removes only dead
  * JVMs' roots. */
class ScratchDirsSpec extends AnyFunSuite {

  private def under(root: File, path: String): Boolean =
    new java.net.URI(path).getPath.startsWith(root.getAbsolutePath + "/")

  test("a stage, a stream replay and the update-mode replay write only under the root") {
    assume(!sys.env.get("SPARK_GRAFT_NO_STAGE").contains("1"), "memo is off")
    // a fixture dir of its own: the memo is per (query, dir), so the sf0.001
    // entries other suites built would make every call here a hit
    val fixture = graft.TestDirs.dir("graft_scratch_fixture").toFile
    Files.copy(new File(sf0001, "events.parquet").toPath,
      new File(fixture, "events.parquet").toPath)
    val dir = fixture.getAbsolutePath
    val root = ScratchDirs.root
    val stageDir = ScratchDirs.dir("stage")
    // engine scratch used to appear beside the base (graft_stage_*,
    // graft_ck_*, graft_upd_*): watch the base's parent and java.io.tmpdir
    // for any entry created while the three run, deleted or not. The test
    // JVM's java.io.tmpdir is its own (build.sbt), so any entry there is
    // this JVM's.
    val watched = Seq(root.getParentFile.getParentFile,
      new File(System.getProperty("java.io.tmpdir"))).map(_.getCanonicalFile).distinct
    // the session's temp dirs and the parquet codec's native library (which
    // snappy-java unpacks into java.io.tmpdir on first use) exist before
    // the watch starts
    StageStore.materialize(spark.range(1).toDF("id"), "scratch_spec_warm").count()
    val ws = watched.head.toPath.getFileSystem.newWatchService()
    try {
      watched.foreach(_.toPath.register(ws, K.ENTRY_CREATE))
      val stagesBefore = stageDir.list().toSet

      val staged = StageStore.materialize(spark.range(17).toDF("id"), "scratch_spec")
      val replay = SparkEntry.queries("events_stream_sliding")(spark, dir)
      assert(replay.count() > 0)
      val upd = EventStreams.tumblingUpdateEmissions(spark, dir)
      assert(upd.rows.nonEmpty)

      Thread.sleep(200) // inotify delivery is asynchronous
      val created = Iterator.continually(ws.poll()).takeWhile(_ != null)
        .flatMap(_.pollEvents().asScala.map(_.context.toString)).toSeq
      assert(created.isEmpty, s"engine wrote beside its root: $created")

      (staged.inputFiles ++ replay.inputFiles).foreach(p =>
        assert(under(stageDir, p), s"$p is not under $stageDir"))
      val newStages = stageDir.list().toSet -- stagesBefore
      assert(newStages.exists(_.startsWith("scratch_spec")), newStages)
      assert(newStages.exists(_.startsWith("stream_stream_sliding_verify")), newStages)
      assert(newStages.exists(n => n.startsWith("upd_") &&
        new File(stageDir, s"$n/events.parquet").isDirectory), newStages)
      // stream checkpoints live under root/ck and go when their run ends
      assert(Option(new File(root, "ck").list()).forall(_.isEmpty))
    } finally {
      ws.close()
      ScratchDirs.delete(fixture)
    }
  }

  test("the sweep deletes a dead pid's root and keeps the live JVM's own") {
    val root = ScratchDirs.root
    val base = root.getParentFile
    // above Linux's largest pid_max (2^22): no process can own it
    val dead = new File(base, "pid999999999_deadbeef")
    assert(new File(dead, "stage/x").mkdirs())
    ScratchDirs.sweep(base.getParentFile)
    assert(!dead.exists(), "a dead pid's root must be swept")
    assert(root.isDirectory, "the live JVM's root must stay")
  }

  test("the sweep deletes the scratch directories older builds left beside the base") {
    val root = ScratchDirs.root
    val parent = root.getParentFile.getParentFile
    val left = Seq("graft_upd__spec_fixture_0123456789abcdef_4", "graft_stage_out",
      "graft_spark_local").map(new File(parent, _))
    left.foreach { d => new File(d, "x").mkdirs(); assert(d.isDirectory, d) }
    ScratchDirs.sweep(parent)
    left.foreach(d => assert(!d.exists(), s"$d must be swept"))
    assert(root.isDirectory, "the live JVM's root must stay")
  }
}
