package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.operators.Assembly
import graft.pipeline.{Config, ConfigRuntime}

/** The one-pass sample assembly (`ConfigRuntime.assembleSamples`) against
  * its pivot + join twin ([[AssemblyTwin]]): the same schema and the same
  * rows for every assembly shape, and the plan it was built for — a single
  * suffix-free stream assembles inside its own window pass.
  */
class SampleAssemblySpec extends SparkSpec {

  /** Three users, ticks every 30 minutes, two zones; `value` carries a NULL
    * and a NaN, `vol` is complete. u3 has two ticks only.
    */
  private lazy val dataDir: String = {
    val dir = Files.createTempDirectory("graft_sample_assembly").toString
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    val rows = for {
      (user, n) <- Seq("u1" -> 10, "u2" -> 9, "u3" -> 2)
      i <- 0 until n
    } yield {
      val value: java.lang.Double =
        if (user == "u1" && i == 3) null
        else if (user == "u2" && i == 4) Double.NaN
        else (i * 7 % 11).toDouble + (if (user == "u2") 0.5 else 0.0)
      (user, if (i % 2 == 0) "a" else "b", t(i * 30), i.toLong, value,
        (i % 4).toDouble)
    }
    spark.createDataFrame(rows).toDF("user_id", "zone", "ts", "seq", "value", "vol")
      .write.parquet(s"$dir/ticks.parquet")
    dir
  }

  private val Streams =
    """sources:
      |  - id: ticks
      |    loader: { transport: fs, path: ticks.parquet, reader: { format: parquet } }
      |streams:
      |  - id: s
      |    from: { source: ticks }
      |    map: { time: ts }
      |    partition_by: [user_id]
      |    tiebreak: [seq]
      |    transforms:
      |      - { operation: rolling, field: vol, window: 2, statistic: mean, to: vol2 }
      |  - id: hi
      |    from: { stream: s }
      |    transforms:
      |      - { operation: where, field: vol, operator: ge, comparand: 2.0 }
      |  - id: none
      |    from: { stream: s }
      |    transforms:
      |      - { operation: where, field: vol, operator: gt, comparand: 99.0 }
      |  - id: zoned
      |    from: { source: ticks }
      |    map: { time: ts }
      |    partition_by: [user_id, zone]
      |    tiebreak: [seq]
      |  - id: zoned_none
      |    from: { stream: zoned }
      |    transforms:
      |      - { operation: where, field: vol, operator: gt, comparand: 99.0 }
      |""".stripMargin

  private def project(cadence: String, vectors: String): Config.Project =
    Config.parseProject(Streams +
      s"""dataset:
         |  sample: { cadence: $cadence, keys: [user_id] }
         |  features:
         |$vectors""".stripMargin)

  private def seqVec(id: String, stream: String, field: String, size: Int,
                     stride: Int) =
    s"    - { id: $id, stream: $stream, field: $field, " +
      s"sequence: { size: $size, stride: $stride } }\n"
  private def scalarVec(id: String, stream: String, field: String) =
    s"    - { id: $id, stream: $stream, field: $field }\n"

  private def assemblies(p: Config.Project): (DataFrame, DataFrame) = {
    val res = ConfigRuntime.resolver(spark, dataDir, p)
    (ConfigRuntime.assembleSamples(res, p.dataset.get),
      AssemblyTwin.assemble(res, p.dataset.get))
  }

  private def assertSameAssembly(p: Config.Project, minRows: Int = 1): Unit = {
    val (got, twin) = assemblies(p)
    assert(got.schema.map(f => f.name -> f.dataType) ==
      twin.schema.map(f => f.name -> f.dataType))
    val gotRows = got.collect().map(_.toString).sorted.toSeq
    assert(gotRows == twin.collect().map(_.toString).sorted.toSeq)
    assert(gotRows.size >= minRows, s"only ${gotRows.size} samples")
  }

  private val shapes: Seq[(String, Config.Project)] = Seq(
    "one stream, scalar + sequence, stride 1" -> project("30m",
      scalarVec("v", "s", "value") + seqVec("w", "s", "value", 3, 1) +
        scalarVec("r", "s", "vol2")),
    "one stream, scalar + sequence, stride 2" -> project("30m",
      seqVec("w", "s", "vol", 2, 2) + scalarVec("v", "s", "value")),
    "a stream with only sequence vectors" -> project("30m",
      seqVec("w3", "s", "value", 3, 2) + seqVec("w2", "s", "vol", 2, 1)),
    "two streams, one with a sequence vector" -> project("30m",
      scalarVec("v", "s", "value") + seqVec("h", "hi", "value", 2, 1)),
    "a suffixed stream beside a suffix-free one" -> project("30m",
      scalarVec("v", "s", "value") + scalarVec("z", "zoned", "vol") +
        seqVec("w", "s", "vol", 2, 1)),
    "a cadence coarser than the ticks: the max merge decides" -> project("2h",
      scalarVec("v", "s", "value") + seqVec("w", "s", "value", 2, 1) +
        seqVec("h", "hi", "vol", 2, 1)))

  shapes.foreach { case (name, p) =>
    test(s"one-pass assembly == pivot + join twin: $name") {
      assertSameAssembly(p, minRows = 5)
    }
  }

  test("one-pass assembly == pivot + join twin: NULL and NaN values") {
    val p = project("30m",
      scalarVec("v", "s", "value") + seqVec("w", "s", "value", 2, 1))
    assertSameAssembly(p, minRows = 5)
    val w = ConfigRuntime.assembleSamples(
      ConfigRuntime.resolver(spark, dataDir, p), p.dataset.get)
      .select("w").collect().flatMap(r => Option(r.getSeq[Any](0)))
    assert(w.exists(_.contains(null)), "a NULL value keeps its window position")
    assert(w.exists(_.exists(x => x != null && x.asInstanceOf[Double].isNaN)))
  }

  test("one-pass assembly == pivot + join twin: an empty stream") {
    assertSameAssembly(project("30m",
      scalarVec("v", "s", "value") + scalarVec("e", "none", "value") +
        seqVec("ew", "none", "value", 2, 1)), minRows = 5)
    assertSameAssembly(project("30m",
      seqVec("ew", "none", "value", 2, 1)), minRows = 0)
    assertSameAssembly(project("30m",
      scalarVec("e", "none", "value") + seqVec("ew", "none", "vol", 2, 1)),
      minRows = 0)
    // beside a suffixed stream, a vector whose stream is empty has no column
    assertSameAssembly(project("30m",
      scalarVec("v", "s", "value") + scalarVec("e", "none", "value") +
        scalarVec("z", "zoned", "vol")), minRows = 5)
    assertSameAssembly(project("30m",
      scalarVec("v", "s", "value") + scalarVec("ze", "zoned_none", "vol")),
      minRows = 5)
    assertSameAssembly(project("30m",
      scalarVec("ze", "zoned_none", "vol")), minRows = 0)
  }

  test("a single suffix-free stream assembles in its own window pass") {
    val p = project("1h",
      scalarVec("v", "s", "value") + seqVec("w", "s", "vol", 3, 1))
    val (got, twin) = assemblies(p)
    val (n, plans) = SqlExecutions.recorded(spark)(got.collect().length)
    assert(n > 0)
    val exchanges = plans.flatMap(SqlExecutions.exchanges)
    assert(exchanges.nonEmpty && exchanges.forall(_.records > 0))
    assert(!exchanges.exists(_.keys.contains("sample_time")),
      s"no exchange on the sample key: $exchanges")
    assert(plans.flatMap(SqlExecutions.joins).isEmpty)
    // positive control: the same recorder sees the twin's join and the
    // exchanges it plans on (sample_time, keys)
    val (_, twinPlans) = SqlExecutions.recorded(spark)(twin.collect())
    assert(twinPlans.flatMap(SqlExecutions.joins).contains("SortMergeJoin"))
    val twinKeyed = twinPlans.flatMap(SqlExecutions.exchanges)
      .filter(_.keys.contains("sample_time"))
    assert(twinKeyed.nonEmpty && twinKeyed.forall(_.bytes > 0),
      s"twin exchanges: ${twinPlans.flatMap(SqlExecutions.exchanges)}")
  }

  test("a collapsed stream assembles with one exchange and no aggregate") {
    // floored to the sample cadence and collapsed, each (sample_time, user)
    // holds one row: the samples are a projection of the stream's one scan
    val p = Config.parseProject(
      """sources:
        |  - id: ticks
        |    loader: { transport: fs, path: ticks.parquet, reader: { format: parquet } }
        |streams:
        |  - id: c
        |    from: { source: ticks }
        |    map: { time: ts }
        |    partition_by: [user_id]
        |    tiebreak: [seq]
        |    preprocess:
        |      - { operation: floor_time, cadence: 1h }
        |    transforms:
        |      - { operation: collapse, keep: last }
        |      - { operation: forward_fill, field: value, to: ff }
        |      - { operation: rolling, field: ff, window: 2, statistic: mean, to: r2 }
        |dataset:
        |  sample: { cadence: 1h, keys: [user_id] }
        |  features:
        |    - { id: ff, stream: c, field: ff }
        |    - { id: r2, stream: c, field: r2 }
        |    - { id: w, stream: c, field: vol, sequence: { size: 2, stride: 1 } }
        |""".stripMargin)
    val res = ConfigRuntime.resolver(spark, dataDir, p)
    assert(res.oneRowPerSample("c", "1h") && res.oneRowPerSample("c", "30m"))
    assert(!res.oneRowPerSample("c", "2h"), "a coarser cadence merges hours")
    val got = ConfigRuntime.assembleSamples(res, p.dataset.get)
    val (rows, plans) = SqlExecutions.recorded(spark)(got.collect())
    val nodes = plans.flatMap(SqlExecutions.nodeNames)
    assert(!nodes.exists(n => n == "SortAggregate" || n == "Window" ||
      n.contains("HashAggregate")), nodes)
    // the scan's sort, and the local one under its map-side collapse
    assert(nodes.count(_ == "Sort") == 2, nodes)
    assert(nodes.count(_ == "OrderedScan") == 1, nodes)
    assert(nodes.count(_ == "OrderedScanPartial") == 1, nodes)
    assert(plans.flatMap(SqlExecutions.exchanges).map(_.keys) == Seq(Seq("user_id")))
    val twin = AssemblyTwin.assemble(res, p.dataset.get).collect()
    assert(rows.map(_.toString).sorted.toSeq == twin.map(_.toString).sorted.toSeq)
    assert(rows.length >= 5)
  }

  test("column selection measures features and targets in one coverage job") {
    val p = Config.parseProject(Streams +
      """dataset:
        |  sample: { cadence: 30m, keys: [user_id] }
        |  features:
        |    - { id: v, stream: s, field: value }
        |    - { id: e, stream: none, field: value }
        |    - { id: w, stream: s, field: vol, sequence: { size: 4, stride: 1 } }
        |  targets:
        |    - { id: t, stream: s, field: vol }
        |    - { id: th, stream: hi, field: vol }
        |  postprocess:
        |    columns: { features: { threshold: 0.5 }, targets: { threshold: 0.9 } }
        |""".stripMargin)
    val (post, plans) = SqlExecutions.recorded(spark)(
      ConfigRuntime.previewStage(spark, dataDir, p, "postprocess"))
    // the plan build runs the checkpointed assembly and one coverage job
    val coverageJobs = plans.filter(_.treeString.contains("__non_null"))
    assert(coverageJobs.size == 1, s"coverage jobs: ${coverageJobs.size}")
    // the same columns per-side coverage jobs retain
    val samples = ConfigRuntime.previewStage(spark, dataDir, p, "samples")
    def retained(ids: Seq[String], thr: Double): Seq[String] = {
      val cov = Assembly.coverageStats(samples, ids).collect()
        .map(r => r.getString(0) -> r.getDouble(3)).toMap
      ids.filter(cov(_) >= thr)
    }
    val expected = Seq("sample_time", "user_id") ++
      retained(Seq("v", "e", "w"), 0.5) ++ retained(Seq("t", "th"), 0.9)
    assert(post.columns.toSeq == expected)
    assert(expected.contains("v") && !expected.contains("e") &&
      expected.contains("t") && !expected.contains("th"),
      s"both thresholds must bite: $expected")
  }
}
