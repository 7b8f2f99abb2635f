package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.scheduler.SparkListenerApplicationEnd

import graft.pipeline.AnalyticPipeline

/** The one scratch owner: every scratch dir of the program lives under one
  * session root, the root goes when the context ends, and the delete
  * never reaches through a symbolic link. */
class ScratchSpec extends SparkSpec {

  private def tmpEntries(): Set[String] =
    Option(Paths.get(System.getProperty("java.io.tmpdir")).toFile.list())
      .getOrElse(Array.empty[String]).toSet

  test("delete removes a tree holding a link to an outside directory " +
      "and leaves the link's target intact") {
    val outside = Files.createTempDirectory("scratch_spec_target")
    val tree = Files.createTempDirectory("scratch_spec_tree")
    try {
      Files.write(outside.resolve("events.parquet"), Array[Byte](1, 2, 3))
      Files.createDirectories(outside.resolve("part=1"))
      Files.write(outside.resolve("part=1").resolve("f.parquet"),
        Array[Byte](4))
      Files.createDirectories(tree.resolve("src"))
      Files.createSymbolicLink(tree.resolve("src").resolve("link"), outside)
      Files.write(tree.resolve("src").resolve("own"), Array[Byte](5))
      Scratch.delete(tree)
      assert(!Files.exists(tree, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      assert(Files.readAllBytes(outside.resolve("events.parquet")).toSeq ==
        Seq[Byte](1, 2, 3))
      assert(Files.exists(outside.resolve("part=1").resolve("f.parquet")))
    } finally { Scratch.delete(tree); Scratch.delete(outside) }
  }

  test("delete of a missing path does not throw") {
    Scratch.delete(Paths.get(System.getProperty("java.io.tmpdir"),
      "scratch_spec_missing", "x"))
  }

  test("dir hands out fresh subdirs of the one session root") {
    val a = Scratch.dir(spark, "spec")
    val b = Scratch.dir(spark, "spec")
    assert(a != b)
    assert(a.getParent == Scratch.root(spark) &&
      b.getParent == Scratch.root(spark))
    Scratch.delete(a); Scratch.delete(b)
  }

  test("streaming queries, file fixtures and a runner chain create no " +
      "temp dir but the session root, and the root goes when the " +
      "context ends") {
    val before = tmpEntries()
    val streaming = SparkEntry.queries.filter(_._1.contains("_stream"))
    assert(streaming.size == 11, streaming.keys)
    val fixtures = Seq("q57_", "q58_", "q74_", "q201_", "q204_", "q282_",
      "q327_", "q328_", "q330_", "q334_")
      .map(p => SparkEntry.queries.find(_._1.startsWith(p)).get)
    (streaming.toSeq ++ fixtures).foreach { case (name, fn) =>
      withClue(name)(fn(spark, sf).collect())
    }
    val chain = AnalyticPipeline.run(spark, "", Seq(
      AnalyticPipeline.StageDef("t1", Nil, (s, _) => s.range(3).toDF("id"))))
    assert(chain.collect().forall(_.getAs[Int]("pass") == 1))

    val root: Path = Scratch.root(spark)
    val leaked = (tmpEntries() -- before).filter(_.startsWith("graft"))
    assert(leaked subsetOf Set(root.getFileName.toString),
      s"temp dirs outside the session root: $leaked")

    Scratch.owner(spark).onApplicationEnd(
      SparkListenerApplicationEnd(System.currentTimeMillis()))
    assert(!Files.exists(root), s"$root outlived the context end")
  }
}
