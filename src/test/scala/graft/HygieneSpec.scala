package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.sources.Hygiene

/** Workspace hygiene (sources/Hygiene.scala): execution lock + spill-dir
  * lifecycle + stale-temp sweep.
  */
class HygieneSpec extends SparkSpec {

  private def tmpRoot(): Path =
    Files.createTempDirectory("graft_hygiene_spec")

  // --- execution lock -----------------------------------------------------

  test("second concurrent command on one serve root fails fast") {
    val root = tmpRoot()
    val e = intercept[Hygiene.ExecutionBusyException] {
      Hygiene.withExecutionLock(root) {
        Hygiene.withExecutionLock(root) { fail("must not enter") }
      }
    }
    assert(e.getMessage.contains("Another graft command"))
    // released after the block → reacquirable
    assert(Hygiene.withExecutionLock(root) { 42 } == 42)
  }

  test("fixture staging fails fast while another holder has the fixture lock") {
    val data = tmpRoot()
    val out = tmpRoot().resolve("fixture").resolve("docs.parquet")
    Files.createDirectories(out.getParent)
    val ch = java.nio.channels.FileChannel.open(
      out.getParent.resolve("_graft_fixture.lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val held = ch.lock()
    try {
      val e = intercept[Hygiene.ExecutionBusyException] {
        graft.queries.Q.ensureFixture(data.toString, "documents",
          out.toString, "p") { fail("must not build under a held lock") }
      }
      assert(e.getMessage.contains(out.toString), e.getMessage)
    } finally { held.release(); ch.close() }
  }

  test("execution lock is released when the body throws") {
    val root = tmpRoot()
    intercept[RuntimeException] {
      Hygiene.withExecutionLock(root) { throw new RuntimeException("boom") }
    }
    assert(Hygiene.withExecutionLock(root) { "ok" } == "ok")
  }

  test("distinct serve roots lock independently") {
    val a = tmpRoot(); val b = tmpRoot()
    val r = Hygiene.withExecutionLock(a) {
      Hygiene.withExecutionLock(b) { 7 }
    }
    assert(r == 7)
  }

  test("cli materialize fails fast while another command holds the root") {
    val root = tmpRoot()
    val config = root.resolve("p.yaml")
    Files.writeString(config,
      """sources:
        |  - id: ev
        |    loader: { transport: fs, path: events.parquet, reader: { format: parquet } }
        |streams:
        |  - id: s
        |    from: { source: ev }
        |    map: { time: ts, fields: [user_id, value] }
        |    partition_by: [user_id]
        |dataset:
        |  sample: { cadence: 1h, keys: [user_id] }
        |  features: [ { id: v, stream: s, field: value } ]
        |""".stripMargin)
    val serveRoot = root.resolve("serve")
    Hygiene.withExecutionLock(serveRoot) {
      intercept[Hygiene.ExecutionBusyException] {
        Cli.materialize(spark, config.toString, "/root/testdata/sf0.001",
          serveRoot.toString, out = new java.io.PrintStream(
            java.io.OutputStream.nullOutputStream()))
      }
    }
    // the busy command must not have created a run
    assert(!Files.exists(serveRoot.resolve("runs")))
    // and once free, the same materialize succeeds
    val paths = Cli.materialize(spark, config.toString,
      "/root/testdata/sf0.001", serveRoot.toString,
      out = new java.io.PrintStream(java.io.OutputStream.nullOutputStream()))
    assert(Files.exists(paths.datasetDir))
  }

  test("cli run honors a profile's cmd, format, preview, and run_root") {
    val root = tmpRoot()
    val config = root.resolve("p.yaml")
    Files.writeString(config,
      s"""sources:
         |  - id: ev
         |    loader: { transport: fs, path: events.parquet, reader: { format: parquet } }
         |streams:
         |  - id: s
         |    from: { source: ev }
         |    map: { time: ts, fields: [user_id, value] }
         |    partition_by: [user_id]
         |dataset:
         |  sample: { cadence: 1h, keys: [user_id] }
         |  features: [ { id: v, stream: s, field: value } ]
         |profiles:
         |  - { id: quick, cmd: materialize, preview: 3, format: csv,
         |      run_root: ${root.resolve("serve")} }
         |  - { id: peek, cmd: stream, stream: s, preview: 2 }
         |""".stripMargin)
    val buf = new java.io.ByteArrayOutputStream()
    Cli.runProfile(spark, config.toString, "quick", "/root/testdata/sf0.001",
      out = new java.io.PrintStream(buf))
    val printed = buf.toString
    assert(printed.linesIterator.next().startsWith("run "), printed)
    // profile's run_root was honored and the format is csv (header files)
    val datasetDir = Files.list(root.resolve("serve").resolve("runs"))
      .iterator().next().resolve("dataset")
    assert(Files.list(datasetDir).iterator().asScala
      .exists(_.getFileName.toString.endsWith(".csv")))
    // 3 preview rows after the run line
    assert(printed.linesIterator.drop(1).size == 3, printed)
    // stream profile: bounded preview, no run dir needed
    val buf2 = new java.io.ByteArrayOutputStream()
    Cli.runProfile(spark, config.toString, "peek", "/root/testdata/sf0.001",
      out = new java.io.PrintStream(buf2))
    assert(buf2.toString.linesIterator.size == 2, buf2.toString)
    // unknown profile → named config error
    val e = intercept[IllegalArgumentException] {
      Cli.runProfile(spark, config.toString, "nope", "/root/testdata/sf0.001")
    }
    assert(e.getMessage.contains("unknown profile"))
  }

  // --- spill dirs + sweep -------------------------------------------------

  test("spill directory exists during the body and is removed after") {
    val root = tmpRoot()
    var seen: Path = null
    Hygiene.withSpillDirectory(root) { dir =>
      seen = dir
      assert(Files.isDirectory(dir))
      assert(dir.getFileName.toString.startsWith(Hygiene.SpillDirPrefix))
      Files.writeString(dir.resolve("chunk"), "x")
    }
    assert(!Files.exists(seen))
    assert(Hygiene.findTempDirs(root).isEmpty)
  }

  test("sweep removes orphans but never an ACTIVE spill dir") {
    val root = tmpRoot()
    // orphan: a dir with the prefix and no held lock (owner died)
    val orphan = root.resolve(s"${Hygiene.SpillDirPrefix}deadbeef")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("chunk"), "stale data")
    Hygiene.withSpillDirectory(root) { active =>
      val result = Hygiene.cleanTempDirs(root)
      assert(result.removed == Seq(orphan), result.toString)
      assert(Files.exists(active), "active spill dir must survive the sweep")
      assert(!Files.exists(orphan))
    }
  }

  test("dry run reports candidates with sizes without removing") {
    val root = tmpRoot()
    val orphan = root.resolve(s"${Hygiene.SpillDirPrefix}cafe")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("chunk"), "1234567890")
    val result = Hygiene.cleanTempDirs(root, yes = false)
    assert(result.dryRun && result.removed.isEmpty)
    assert(result.candidates.map(_.path) == Seq(orphan))
    assert(result.totalBytes == 10L)
    assert(Files.exists(orphan))
  }

  test("age cutoff skips young dirs; non-spill dirs are never touched") {
    val root = tmpRoot()
    val young = root.resolve(s"${Hygiene.SpillDirPrefix}young")
    val other = root.resolve("user-data")
    Files.createDirectories(young); Files.createDirectories(other)
    val result = Hygiene.cleanTempDirs(root, olderThanMs = 3600000L)
    assert(result.candidates.isEmpty)
    assert(Files.exists(young) && Files.exists(other))
    // with no cutoff the young orphan IS swept, the foreign dir is not
    assert(Hygiene.cleanTempDirs(root).removed == Seq(young))
    assert(Files.exists(other))
  }

  test("parseAgeMs accepts the reference grammar") {
    assert(Hygiene.parseAgeMs(None) == 0L)
    assert(Hygiene.parseAgeMs(Some("")) == 0L)
    assert(Hygiene.parseAgeMs(Some("30m")) == 30L * 60000L)
    assert(Hygiene.parseAgeMs(Some("2h")) == 2L * 3600000L)
    assert(Hygiene.parseAgeMs(Some("1.5d")) == (1.5 * 86400000L).toLong)
    assert(Hygiene.parseAgeMs(Some("4")) == 4L * 3600000L) // default hours
    intercept[IllegalArgumentException](Hygiene.parseAgeMs(Some("soon")))
    intercept[IllegalArgumentException](Hygiene.parseAgeMs(Some("-1h")))
  }
}
