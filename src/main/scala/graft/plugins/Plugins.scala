package graft.plugins

import java.util.ServiceLoader

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.StreamKey

/** Third-party extension SPI (reference: the entry-point plugin system —
  * datapipeline/plugins.py groups LOADERS_EP/PARSERS_EP/MAPPERS_EP plus
  * the services/scaffold package). The JVM's entry-point mechanism is
  * [[java.util.ServiceLoader]]: a plugin jar ships a
  * `META-INF/services/graft.plugins.GraftPlugin` file naming its impl, drops
  * onto the classpath, and its formats/transforms/functions become YAML- and
  * SQL-addressable with no code change in graft — the same "install the
  * package, reference it from config" contract as the reference.
  *
  * A plugin contributes any of:
  *  - loaders: reader formats for `source.loader.reader.format` (the
  *    reference's loaders/parsers entry points collapse into one hook —
  *    Spark readers parse; there is no separate iterator-parser stage)
  *  - transforms: named ordered ops usable as
  *    `{ operation: plugin, name: <op>, options: {...} }` in a stream's
  *    transform chain (the reference's mappers)
  *  - registerFunctions: session-level SQL function registration (custom
  *    Catalyst expressions stay codegen-compatible)
  */
trait GraftPlugin {
  def name: String

  /** format id → (session, resolved path, reader options) → frame. */
  def loaders: Map[String, (SparkSession, String, Map[String, String]) => DataFrame] =
    Map.empty

  /** transform name → (options tree) → op. Factories run at config-parse
    * time, so bad options fail the parse like any builtin op's would.
    */
  def transforms: Map[String, Map[String, Any] => PluginOp] = Map.empty

  def registerFunctions(spark: SparkSession): Unit = ()
}

/** A plugin-contributed ordered transform: one pure DataFrame stage at its
  * declared position in the stream pipeline. Window-based stages on the
  * stream's own key keep the chain's single-shuffle property; anything else
  * costs what it declares.
  */
trait PluginOp {
  def apply(df: DataFrame, key: StreamKey): DataFrame
}

/** Discovery + lookup. ServiceLoader finds classpath plugins; `register`
  * adds programmatic ones (embedding apps, tests). First contributor of a
  * format/name wins, in (discovered, then registered) order.
  */
object Plugins {

  @volatile private var registered: List[GraftPlugin] = Nil

  private lazy val discovered: Seq[GraftPlugin] =
    ServiceLoader.load(classOf[GraftPlugin]).iterator().asScala.toSeq

  def register(p: GraftPlugin): Unit = synchronized {
    registered = registered :+ p
  }

  def all: Seq[GraftPlugin] = discovered ++ registered

  def loader(format: String): Option[(SparkSession, String, Map[String, String]) => DataFrame] =
    all.iterator.flatMap(_.loaders.get(format)).nextOption()

  def transform(name: String): Option[Map[String, Any] => PluginOp] =
    all.iterator.flatMap(_.transforms.get(name)).nextOption()

  def loaderFormats: Set[String] = all.flatMap(_.loaders.keys).toSet
  def transformNames: Set[String] = all.flatMap(_.transforms.keys).toSet

  def registerAllFunctions(spark: SparkSession): Unit =
    all.foreach(_.registerFunctions(spark))

  /** One line per plugin for `graft.Cli plugins` (reference list_.py). */
  def describe: Seq[String] = all.map { p =>
    val parts = Seq(
      if (p.loaders.nonEmpty) Some(s"loaders: ${p.loaders.keys.toSeq.sorted.mkString(", ")}") else None,
      if (p.transforms.nonEmpty) Some(s"transforms: ${p.transforms.keys.toSeq.sorted.mkString(", ")}") else None
    ).flatten
    s"${p.name}" + (if (parts.isEmpty) "" else parts.mkString(" (", "; ", ")"))
  }
}
