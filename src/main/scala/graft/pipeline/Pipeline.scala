package graft.pipeline

import org.apache.spark.sql.DataFrame

import graft.functions.TimeFns
import graft.operators.{Ordered, StreamKey}

/** Declarative transform pipeline — the graft twin of the reference's
  * validated `transforms:` config list (docs/transforms/index.md: one flat
  * mapping per operation, e.g. `operation: rolling, field: close, window: 20,
  * statistic: mean, to: close_mean_20`).
  *
  * A reference user's YAML pipeline maps 1:1 onto a `Seq[Op]`; `Pipeline.run`
  * folds it into ONE DataFrame plan. Each ordered op (collapse, lag, lead,
  * rolling, rolling_slope, forward_sum, fill, forward_fill, sessionize) is
  * a step of an [[graft.operators.OrderedScan]], and consecutive steps on
  * the stream key fuse into one scan: a chain of k ordered transforms costs
  * one exchange on the partition key, one sort on (partition, time,
  * tiebreak) and one pass (the reference runs k sequential per-record
  * passes). A record-wise op between two ordered ones (where, derive, log,
  * a plugin, …) splits the chain into two scans; the second needs no new
  * exchange or sort, since a scan keeps its input's partitioning and order.
  */
object Pipeline {

  sealed trait Op

  // §2.2 preprocess (record-wise)
  final case class Where(field: String, operator: String, value: Any) extends Op
  final case class FloorTime(by: String) extends Op
  final case class ShiftTime(by: String) extends Op

  // §2.3 ordered (per-partition history)
  final case class Dedupe() extends Op
  final case class Collapse(keep: String) extends Op
  final case class Lag(field: String, periods: Int, to: String) extends Op
  final case class Lead(field: String, periods: Int, to: String) extends Op
  final case class Rolling(field: String, statistic: String, window: Int,
                           to: String, minSamples: Option[Int] = None) extends Op
  final case class RollingSlope(x: String, y: String, window: Int, to: String) extends Op
  final case class ForwardSum(field: String, window: Int, to: String) extends Op
  final case class Fill(field: String, window: Int, statistic: String,
                        to: String, minSamples: Int = 1) extends Op
  final case class ForwardFill(field: String, to: String) extends Op
  final case class Derive(left: String, operator: String, to: String,
                          rightField: Option[String] = None,
                          rightValue: Option[Double] = None) extends Op
  final case class Log(field: String, to: String) extends Op
  final case class Log1p(field: String, to: String) extends Op
  final case class EnsureCadence(cadence: String) extends Op
  final case class EncodeTime(mode: String, to: String) extends Op
  final case class Sessionize(gap: String, to: String = "session_id") extends Op
  /** A plugin-contributed stage (graft.plugins.GraftPlugin#transforms),
    * resolved at config-parse time and run at its declared position.
    */
  final case class PluginStage(name: String, op: graft.plugins.PluginOp) extends Op

  /** The column `op` writes, if it writes one. */
  def writes(op: Op): Option[String] = op match {
    case Lag(_, _, to)             => Some(to)
    case Lead(_, _, to)            => Some(to)
    case Rolling(_, _, _, to, _)   => Some(to)
    case RollingSlope(_, _, _, to) => Some(to)
    case ForwardSum(_, _, to)      => Some(to)
    case Fill(_, _, _, to, _)      => Some(to)
    case ForwardFill(_, to)        => Some(to)
    case Derive(_, _, to, _, _)    => Some(to)
    case Log(_, to)                => Some(to)
    case Log1p(_, to)              => Some(to)
    case EncodeTime(_, to)         => Some(to)
    case Sessionize(_, to)         => Some(to)
    case _                         => None
  }

  /** Fold the op list into one plan. */
  def run(df: DataFrame, key: StreamKey, ops: Seq[Op]): DataFrame =
    ops.foldLeft(df) { (d, op) =>
      op match {
        case Where(f, o, v)       => Ordered.where(d, f, o, v)
        case FloorTime(by)        => d.withColumn(key.timeCol,
          TimeFns.floorTime(org.apache.spark.sql.functions.col(key.timeCol), by))
        case ShiftTime(by)        => d.withColumn(key.timeCol,
          TimeFns.shiftTime(org.apache.spark.sql.functions.col(key.timeCol), by))
        case Dedupe()             => Ordered.dedupe(d)
        case Collapse(keep)       => Ordered.collapse(d, key, keep)
        case Lag(f, n, to)        => Ordered.lagPeriods(d, key, f, n, to)
        case Lead(f, n, to)       => Ordered.leadPeriods(d, key, f, n, to)
        case Rolling(f, s, w, to, m) => Ordered.rolling(d, key, f, w, s, to, m)
        case RollingSlope(x, y, w, to) => Ordered.rollingSlope(d, key, x, y, w, to)
        case ForwardSum(f, w, to) => Ordered.forwardSum(d, key, f, w, to)
        case Fill(f, w, s, to, m) => Ordered.fill(d, key, f, w, s, to, m)
        case ForwardFill(f, to)   => Ordered.forwardFill(d, key, f, to)
        case Derive(l, o, to, rf, rv) => Ordered.derive(d, l, o, to, rf, rv)
        case Log(f, to)           => Ordered.logNatural(d, f, to)
        case Log1p(f, to)         => Ordered.log1pField(d, f, to)
        case EnsureCadence(c)     => Ordered.ensureCadence(d, key, c)
        case EncodeTime(m, to)    =>
          d.withColumn(to, graft.functions.TimeFns.encodeTime(
            org.apache.spark.sql.functions.col(key.timeCol), m))
        case Sessionize(g, to)    => Ordered.sessionize(d, key, g, to)
        case PluginStage(_, op)   => op(d, key)
      }
    }
}
