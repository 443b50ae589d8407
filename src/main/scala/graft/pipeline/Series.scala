package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Series projection: fan a record stream out into identified series streams.
  *
  * Capability reference: /root/reference/src/datapipeline/pipelines/series/
  * projector.py:17-40 (SeriesProjector) and domain/series_id.py (the
  * `base__@field:value|@field:value` suffix encoding). The partition fields
  * that are NOT sample keys become part of the series identity; sample keys
  * stay as entity-key columns.
  *
  * Scale posture: pure narrow projection + explode (one output row per
  * (record, config)) — no shuffle of its own. The dataset assembly uses it
  * only for streams with partition fields beyond the sample keys, whose
  * suffixed series ids it pivots; a stream partitioned by the sample keys
  * only is assembled without the long rows (`ConfigRuntime.assembleSamples`).
  */
object Series {

  val IdSeparator = "__"
  val ComponentSeparator = "|"

  /** One projected series per record: `id` names the series, `field` is the
    * source column for its value (reference SeriesConfig).
    */
  final case class SeriesConfig(id: String, field: String)

  /** Percent-encode like Python's `urllib.parse.quote(s, safe="")`:
    * Spark's url_encode is form-encoding (space→'+', '*' kept, '~' escaped);
    * patch the three divergent classes afterwards.
    */
  private def quote(c: Column): Column = {
    val formEncoded = url_encode(c)
    regexp_replace(
      regexp_replace(
        regexp_replace(formEncoded, lit("\\+"), lit("%20")),
        lit("%7E"), lit("~")),
      lit("\\*"), lit("%2A"))
  }

  /** Encode one identity component `@field:value` per domain/series_id.py:
    * null → !n, bool → !b:0|1, integral → !i:v, string → percent-encoded.
    * Fractional identity fields are rejected: the reference encodes them via
    * Python float.hex(), which has no engine-portable SQL expression — cast
    * categorical floats to string or int upstream instead.
    */
  private[graft] def encodeComponent(field: String, dt: DataType): Column = {
    val encodedField = java.net.URLEncoder.encode(field, "UTF-8")
      .replace("+", "%20").replace("%7E", "~").replace("*", "%2A")
    val v = col(field)
    val encodedValue: Column = dt match {
      case StringType => quote(v)
      case BooleanType => concat(lit("!b:"), v.cast("int").cast("string"))
      case ByteType | ShortType | IntegerType | LongType =>
        concat(lit("!i:"), v.cast("string"))
      case other @ (DoubleType | FloatType | _: DecimalType) =>
        throw new UnsupportedOperationException(
          s"Series identity field '$field' is ${other.catalogString}: the " +
            "reference encodes floats as float.hex() which is not portable " +
            "across engines — cast to string or integer first.")
      case other =>
        throw new UnsupportedOperationException(
          s"Series identity field '$field' must be string, integer, boolean " +
            s"or null; got ${other.catalogString}.")
    }
    concat(lit("@" + encodedField + ":"), coalesce(encodedValue, lit("!n")))
  }

  // ----------------------------------------------------------- id decoding
  // The inverse of the encoder (reference domain/series_id.py base_id /
  // partition_suffix / series_id_components) — driver-side metadata
  // utilities for artifact and catalog handling, not a data path.

  /** Base id before the `__` separator; errors on malformed ids. */
  def baseId(seriesId: String): String = {
    val i = seriesId.indexOf(IdSeparator)
    if (i < 0) seriesId
    else if (i == 0 || i + IdSeparator.length == seriesId.length)
      throw new IllegalArgumentException(s"Invalid partitioned series id '$seriesId'")
    else seriesId.substring(0, i)
  }

  /** Suffix after the `__` separator ("" for unpartitioned ids). */
  def partitionSuffix(seriesId: String): String = {
    val i = seriesId.indexOf(IdSeparator)
    if (i < 0) ""
    else {
      val s = seriesId.substring(i + IdSeparator.length)
      if (s.isEmpty)
        throw new IllegalArgumentException(s"Invalid partitioned series id '$seriesId'")
      s
    }
  }

  /** Percent-decode (%XX only — Python `unquote`, NOT form decoding:
    * '+' stays a literal plus). Like `unquote`, a malformed escape such as
    * '%zz' or a trailing '%' passes through literally, and literal chars are
    * appended whole (never per-char-to-bytes, which would mangle surrogate
    * pairs); only %XX runs go through UTF-8 byte decoding.
    */
  private def percentDecode(s: String): String = {
    // ASCII-only: Character.digit also accepts non-ASCII Unicode digits
    // (e.g. Arabic-Indic), which Python's unquote passes through literally.
    def isHex(c: Char): Boolean =
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    val sb = new StringBuilder
    val bytes = new java.io.ByteArrayOutputStream()
    def flushBytes(): Unit = if (bytes.size() > 0) {
      sb.append(new String(bytes.toByteArray, "UTF-8")); bytes.reset()
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length &&
          isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        bytes.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else { flushBytes(); sb.append(c); i += 1 }
    }
    flushBytes()
    sb.toString
  }

  /** Typed (field, value) components of a partitioned series id — the
    * reference's full value grammar: `!n` null, `!b:` boolean, `!i:` long,
    * `!f:` hex float (accepted on decode for reference-produced ids even
    * though [[encodeComponent]] refuses to emit it), else a quoted string.
    */
  def components(seriesId: String): Seq[(String, Any)] = {
    val suffix = partitionSuffix(seriesId)
    if (suffix.isEmpty) return Seq.empty
    suffix.split(java.util.regex.Pattern.quote(ComponentSeparator), -1).toSeq.map { enc =>
      if (!enc.startsWith("@"))
        throw new IllegalArgumentException(s"Invalid series identity component '$enc'")
      val body = enc.substring(1)
      val sep = body.indexOf(':')
      if (sep <= 0)
        throw new IllegalArgumentException(s"Invalid series identity component '$enc'")
      val field = percentDecode(body.substring(0, sep))
      val ev = body.substring(sep + 1)
      val value: Any =
        if (ev == "!n") null
        else if (ev.startsWith("!b:")) ev.substring(3) match {
          case "0" => false
          case "1" => true
          case other => throw new IllegalArgumentException(
            s"Invalid boolean series identity value '!b:$other'")
        }
        else if (ev.startsWith("!i:")) ev.substring(3).toLong
        else if (ev.startsWith("!f:")) java.lang.Double.parseDouble(ev.substring(3))
        else if (ev.startsWith("!"))
          throw new IllegalArgumentException(s"Invalid series identity value '$ev'")
        else percentDecode(ev)
      field -> value
    }
  }

  /** Project records into per-config series rows:
    * (series_id, time, value, sampleKeys…). series_id = config.id, suffixed
    * with `__@f:v|…` over the partition fields that are not sample keys
    * (reference make_partitioned_series_id).
    */
  def project(df: DataFrame, partitionBy: Seq[String], sampleKeys: Seq[String],
              timeCol: String, configs: Seq[SeriesConfig]): DataFrame = {
    require(configs.nonEmpty, "series projection needs at least one config")
    configs.foreach { c =>
      require(!c.id.contains(IdSeparator),
        s"Series base id must not contain reserved separator '$IdSeparator'")
    }
    val idFields = partitionBy.filterNot(sampleKeys.contains)
    val suffix: Option[Column] =
      if (idFields.isEmpty) None
      else Some(concat_ws(ComponentSeparator,
        idFields.map(f => encodeComponent(f, df.schema(f).dataType)): _*))
    val entries = configs.map { c =>
      val seriesId = suffix match {
        case None      => lit(c.id): Column
        case Some(sfx) => concat(lit(c.id + IdSeparator), sfx)
      }
      struct(seriesId.as("series_id"),
        col(c.field).cast("double").as("value"))
    }
    df.select(sampleKeys.map(col) :+ col(timeCol).as("time") :+
        explode(array(entries: _*)).as("s"): _*)
      .select(col("s.series_id") +: col("time") +: col("s.value") +:
        sampleKeys.map(col): _*)
  }
}
