package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Shared helpers for the driver-facing query inventory.
  *
  * Cross-engine determinism rules (Spark result must hash-match the DuckDB
  * oracle):
  *  - timestamps are emitted as epoch-microsecond BIGINTs (`eu`), never as
  *    native timestamp types (parquet µs vs ns physical types would differ);
  *  - big aggregates over doubles go through exact DECIMAL accumulation and
  *    are cast back to DOUBLE (`sumDec`) — double summation order differs
  *    between engines, decimal sums do not;
  *  - engine-internal numerics (stddev, regr_slope, interpolated median,
  *    windowed sums via segment trees) are rounded to 6 decimals on BOTH
  *    sides.
  */
object Q {
  type QueryFn = (SparkSession, String) => DataFrame

  /** epoch microseconds of a timestamp column (lossless for Spark µs). */
  def eu(c: Column): Column = unix_micros(c)

  /** Per-process fixture-staging telemetry: outPath -> whether any call
    * this process BUILT it (vs every call hitting the marker). The bench
    * serializes this so a pass that paid a fixture write inside its timed
    * region is distinguishable from a warm pass (r16 verdict ask #5).
    */
  val fixtureBuilds =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()

  /** Marker-gated staging of a deterministic INPUT fixture (a benchmark
    * suite to decontaminate against, a previous-crawl snapshot to diff
    * against): `build` writes the fixture only when the marker tag — an
    * ArtifactCache.pathState fingerprint of the source table, the shaping
    * params, and a format version — doesn't match what's on disk. The
    * sink_compacted fixture discipline (r15 advice) applied to every head
    * whose setup stages a derived input under /tmp/graft_scratch: fixture
    * staging is test-INPUT construction, not part of the measured
    * operator, and re-deriving an identical fixture on every bench pass
    * timed the harness, not the plan. A data regen in place, a param
    * change, or a version bump refits; the fixture itself is always
    * computed from the parquet inputs.
    */
  def ensureFixture(d: String, table: String, outPath: String,
                    params: String)(build: => Unit): String = {
    val state = graft.pipeline.ArtifactCache.pathState(
      java.nio.file.Paths.get(d, s"$table.parquet"))
    val sha = graft.pipeline.ArtifactCache.sha256Hex(state).take(16)
    val tag =
      s"""{"src": "$d/$table", "state": "$sha", "params": "$params", "v": 1}"""
    val out = java.nio.file.Paths.get(outPath)
    val dir = out.getParent
    java.nio.file.Files.createDirectories(dir)
    // Serialize the check-build-write sequence across processes (r16
    // advice): without the lock, a concurrent builder could read a marker
    // another process is mid-way through re-earning.
    val marker = dir.resolve("_graft_fixture.json")
    graft.sources.Hygiene.withFileLock(dir.resolve("_graft_fixture.lock"),
      s"Another graft process is staging fixture '$outPath'.") {
      // the marker alone is not proof: a deleted/half-written fixture with
      // a surviving marker must rebuild, not skip (r16 advice)
      val fresh = java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker) == tag &&
        java.nio.file.Files.exists(out)
      if (!fresh) {
        java.nio.file.Files.deleteIfExists(marker)
        build
        // atomic marker write: temp file + move, so a crash mid-write
        // can't leave a marker that matches the tag over a broken fixture
        val tmp = java.nio.file.Files.createTempFile(dir, "_graft_fixture", ".tmp")
        java.nio.file.Files.writeString(tmp, tag)
        java.nio.file.Files.move(tmp, marker,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      fixtureBuilds.merge(outPath, !fresh, (a, b) => a || b)
    }
    outPath
  }

  /** Exact decimal sum of a double column, returned as double.
    * Both engines round the per-row double→decimal cast identically and the
    * decimal sum is exact, so the final double is bit-identical.
    */
  def sumDec(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(30,$scale)")).cast("double")

  /** SQL twin of [[sumDec]]. */
  def sumDecSql(expr: String, scale: Int = 4): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(30,$scale))) AS DOUBLE)"

  val HourUs: Long = 3600L * 1000000L

  // --- table access -------------------------------------------------------
  def lineitem(s: SparkSession, d: String): DataFrame = Tables.lineitem(s, d)
  def orders(s: SparkSession, d: String): DataFrame = Tables.orders(s, d)
  def customer(s: SparkSession, d: String): DataFrame = Tables.customer(s, d)
  def supplier(s: SparkSession, d: String): DataFrame = Tables.supplier(s, d)
  def nation(s: SparkSession, d: String): DataFrame = Tables.nation(s, d)
  def region(s: SparkSession, d: String): DataFrame = Tables.region(s, d)
  def part(s: SparkSession, d: String): DataFrame = Tables.part(s, d)
  def events(s: SparkSession, d: String): DataFrame = Tables.events(s, d)
  def documents(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)
  def embeddings(s: SparkSession, d: String): DataFrame = Tables.embeddings(s, d)
}
