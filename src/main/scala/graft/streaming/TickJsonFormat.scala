package graft.streaming

import java.time.{ZoneId, ZonedDateTime}

import com.fasterxml.jackson.core.JsonFactory
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.Text
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JSONOptionsInRead, JacksonParser}
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DoubleType, StringType, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Spark's JSON file format with a one-pass decoder for the producer's
  * flat tick line ([[TickSource.fileJson]] reads through it).
  *
  * Why: the scan is most of a reference drain's executor CPU, and most of
  * the scan is Spark's generic JSON path: a Jackson token stream, a field
  * lookup per key, and a `DateTimeFormatter` parse plus `Parsed.resolve`
  * per timestamp, for 3 fields kept out of 8. The decoder reads each line's
  * bytes once and writes the 3 declared columns directly.
  *
  * Fallback contract: the decoder accepts only a flat object of ASCII keys
  * and scalar values without escapes, JSON-grammar numbers, `true`, `false`
  * and `null`, and `utc` in the exact 23-character form of the configured
  * `timestampFormat` with calendar and range checks. It converts `utc` in
  * the options' zone through `ZonedDateTime.of`, the call Spark's formatter
  * makes. Every other line (escapes, non-ASCII, single quotes, nested
  * values, duplicate or case-variant required keys, a required key holding
  * another token type, other fraction widths, invalid dates, trailing
  * bytes, blank lines, root arrays) goes to a per-file `FailureSafeParser` over Spark's
  * `JacksonParser`, built with the same parsed options and mode: the code
  * `format("json")` runs. Rows, nulls and PERMISSIVE / DROPMALFORMED /
  * FAILFAST behaviour are therefore Spark's. A scan goes to Spark's reader
  * whole unless every required column is one of [[Tick.schema]]'s, no
  * filter is pushed, there are no partition columns, `multiLine`,
  * `encoding`, `lineSep` and the Jackson length/depth limits are unset, the
  * time parser policy is not `LEGACY`, and a required `utc` is read with
  * [[Tick.TsFormatSql]] or [[Tick.TsFormatIso]].
  *
  * Measured cost (perfbench ticks_drain, shared 4-CPU host, traced pair):
  * scan-stage CPU per drain round fell from 944 to 490 ms, and task CPU
  * from 1233 to 812 ms. Throughput rose from 136.4k to 160.9k ticks/s in
  * the median of 10 alternating pairs (10/10 won). A variant that wrote
  * unsafe rows itself and converted numbers and dates by arithmetic won
  * only 3 of 10 pairs against this form, so it was not kept. Every run is
  * in `PERF_tick_decoder.json`.
  *
  * Equality: `JsonFileFormat` is a case class, so without the overrides
  * below a `TickJsonFormat` would compare equal to it, and a relation over
  * one format could stand in for the other in plan comparisons.
  */
class TickJsonFormat extends JsonFileFormat {

  override def toString: String = "TickJSON"
  override def canEqual(other: Any): Boolean = other.isInstanceOf[TickJsonFormat]
  override def equals(other: Any): Boolean = other.isInstanceOf[TickJsonFormat]
  override def hashCode(): Int = classOf[TickJsonFormat].getName.hashCode

  /** Spark's reader unless the decoder may serve this scan. */
  override def buildReader(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val parsed = new JSONOptionsInRead(options,
      sparkSession.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key),
      sparkSession.conf.get(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD.key))
    val legacy = sparkSession.conf.get(SQLConf.LEGACY_TIME_PARSER_POLICY.key)
      .equalsIgnoreCase("LEGACY")
    TickJsonFormat.timestampSeparator(requiredSchema, partitionSchema, filters, parsed, legacy) match {
      case None =>
        super.buildReader(sparkSession, dataSchema, partitionSchema,
          requiredSchema, filters, options, hadoopConf)
      case Some(sep) =>
        val conf = Bridge.broadcastHadoopConf(sparkSession.sparkContext, hadoopConf)
        (file: PartitionedFile) => {
          val lines = new HadoopFileLinesReader(file, None, conf())
          Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
          val decoder = new TickLineDecoder(requiredSchema, sep, parsed.zoneId)
          lazy val fallback = TickJsonFormat.sparkReader(requiredSchema, parsed)
          lines.flatMap { line =>
            if (decoder.decode(line.getBytes, line.getLength)) Iterator.single(decoder.row)
            else fallback(line)
          }
        }
    }
  }
}

object TickJsonFormat {

  /** Options that only make Jackson stricter than the decoder. */
  private val jacksonLimits = Seq("maxNumLen", "maxStringLen", "maxNestingDepth")

  /** `Some(separator)` when the decoder may serve this scan: the byte
    * between date and time in the configured `timestampFormat` (0 when
    * `utc` is not required); `None` hands the scan to Spark's reader.
    */
  private[streaming] def timestampSeparator(
      required: StructType,
      partitionSchema: StructType,
      filters: Seq[Filter],
      opts: JSONOptions,
      legacyTimeParser: Boolean): Option[Byte] = {
    val eligible = required.nonEmpty && required.forall(Tick.schema.contains) &&
      !required.fieldNames.contains(opts.columnNameOfCorruptRecord) &&
      partitionSchema.isEmpty && filters.isEmpty &&
      !opts.multiLine && opts.encoding.isEmpty && opts.lineSeparator.isEmpty &&
      !jacksonLimits.exists(opts.parameters.contains) && !legacyTimeParser
    if (!eligible) None
    else if (!required.fieldNames.contains("utc")) Some(0: Byte)
    else opts.timestampFormatInRead.collect {
      case Tick.TsFormatSql => ' '.toByte
      case Tick.TsFormatIso => 'T'.toByte
    }
  }

  /** Spark's per-line JSON reader, as `format("json")` builds it. */
  private def sparkReader(schema: StructType, opts: JSONOptions): Text => Iterator[InternalRow] = {
    val parser = new JacksonParser(schema, opts, allowArrayAsStructs = true)
    val safe = new FailureSafeParser[Text](
      line => parser.parse(line, CreateJacksonParser.text(_: JsonFactory, _: Text),
        (t: Text) => UTF8String.fromBytes(t.getBytes, 0, t.getLength)),
      opts.parseMode, schema, opts.columnNameOfCorruptRecord)
    safe.parse
  }
}

/** The one-pass decoder behind [[TickJsonFormat]]. `decode` writes `row`
  * (columns of `schema`, a subset of [[Tick.schema]]) and returns true, or
  * returns false for any line outside the shape it accepts, leaving that
  * line to Spark's parser. `row` is reused by the next `decode`.
  */
private[streaming] final class TickLineDecoder(schema: StructType, tsSep: Byte, zone: ZoneId) {
  private val names: Array[Array[Byte]] = schema.fieldNames.map(_.getBytes("US-ASCII"))
  private val kinds: Array[Int] = schema.fields.map(_.dataType match {
    case StringType => TickLineDecoder.Str
    case DoubleType => TickLineDecoder.Dbl
    case TimestampType => TickLineDecoder.Ts
  })
  val row = new SpecificInternalRow(schema.fields.map(_.dataType).toIndexedSeq)

  private var b: Array[Byte] = Array.emptyByteArray
  private var end = 0
  private var pos = 0
  // bounds of the last scanned string or number
  private var s0 = 0
  private var s1 = 0
  // whether the last scanned number has a fraction or an exponent
  private var floatToken = false
  // bit f set once field f holds a value
  private var valued = 0

  def decode(bytes: Array[Byte], len: Int): Boolean = {
    b = bytes; end = len; pos = 0; valued = 0
    ws()
    if (!take('{')) return false
    ws()
    if (!take('}')) {
      var seen = 0
      var more = true
      while (more) {
        if (!string()) return false
        val f = field(s0, s1)
        if (f == TickLineDecoder.CaseVariant) return false
        if (f >= 0) {
          if ((seen & (1 << f)) != 0) return false
          seen |= 1 << f
        }
        ws()
        if (!take(':')) return false
        ws()
        if (!value(f)) return false
        ws()
        if (take('}')) more = false
        else if (take(',')) ws()
        else return false
      }
    }
    ws()
    if (pos != end) return false
    var f = 0
    while (f < names.length) { if ((valued & (1 << f)) == 0) row.setNullAt(f); f += 1 }
    true
  }

  private def take(c: Char): Boolean =
    if (pos < end && b(pos) == c) { pos += 1; true } else false

  private def ws(): Unit = {
    var p = pos
    while (p < end && (b(p) == ' ' || b(p) == '\t' || b(p) == '\r' || b(p) == '\n')) p += 1
    pos = p
  }

  private def isDigit(i: Int): Boolean = i < end && b(i) >= '0' && b(i) <= '9'

  /** A double-quoted ASCII string without escapes or control bytes; sets
    * `s0`/`s1` to its contents.
    */
  private def string(): Boolean = {
    if (!take('"')) return false
    // locals, not fields, in the loop: it scans most of a line's bytes
    val bytes = b
    val e = end
    var p = pos
    while (p < e && bytes(p) != '"') {
      val c = bytes(p)
      if (c < 0x20 || c == '\\') return false // also every non-ASCII byte (negative)
      p += 1
    }
    s0 = pos
    s1 = p
    pos = p
    take('"')
  }

  /** Index in `schema` of the key `[from, until)`, -1 for a key outside
    * it, [[TickLineDecoder.CaseVariant]] for a key matching a required name
    * only when case is ignored.
    */
  private def field(from: Int, until: Int): Int = {
    var f = 0
    while (f < names.length) {
      val n = names(f)
      if (n.length == until - from) {
        var exact = true
        var folded = true
        var i = 0
        while (i < n.length && folded) {
          val c = b(from + i)
          if (c != n(i)) {
            exact = false
            folded = (c | 0x20) == n(i) // names are lowercase ASCII letters
          }
          i += 1
        }
        if (exact) return f
        if (folded) return TickLineDecoder.CaseVariant
      }
      f += 1
    }
    -1
  }

  private def value(f: Int): Boolean = {
    val kind = if (f >= 0) kinds(f) else TickLineDecoder.Skip
    if (pos >= end) false
    else b(pos).toChar match {
      case '"' =>
        string() && (kind match {
          case TickLineDecoder.Skip => true
          case TickLineDecoder.Str =>
            row.update(f, UTF8String.fromBytes(b, s0, s1 - s0)); valued |= 1 << f; true
          case TickLineDecoder.Ts => timestamp(f)
          case _ => false
        })
      case c if c == '-' || (c >= '0' && c <= '9') =>
        number() && (kind match {
          case TickLineDecoder.Skip => true
          case TickLineDecoder.Dbl => toDouble(f)
          case _ => false
        })
      case 'n' => literal("null") // a required key stays null
      case 't' => kind == TickLineDecoder.Skip && literal("true")
      case 'f' => kind == TickLineDecoder.Skip && literal("false")
      case _ => false
    }
  }

  private def literal(word: String): Boolean = {
    if (end - pos < word.length) return false
    var i = 0
    while (i < word.length) { if (b(pos + i) != word.charAt(i)) return false; i += 1 }
    pos += word.length
    true
  }

  /** A JSON-grammar number, at most [[TickLineDecoder.MaxNumberBytes]]
    * long; sets `s0`/`s1` to it.
    */
  private def number(): Boolean = {
    s0 = pos
    floatToken = false
    take('-')
    if (take('0')) ()
    else if (isDigit(pos)) while (isDigit(pos)) pos += 1
    else return false
    if (take('.')) {
      floatToken = true
      if (!isDigit(pos)) return false
      while (isDigit(pos)) pos += 1
    }
    if (pos < end && (b(pos) == 'e' || b(pos) == 'E')) {
      pos += 1
      floatToken = true
      if (!take('+')) take('-')
      if (!isDigit(pos)) return false
      while (isDigit(pos)) pos += 1
    }
    s1 = pos
    s1 - s0 <= TickLineDecoder.MaxNumberBytes
  }

  /** Jackson's value for the number at `[s0, s1)`: an integer token goes
    * through `long` (so `-0` is 0.0), a float token through `parseDouble`.
    */
  private def toDouble(f: Int): Boolean = {
    val text = new String(b, s0, s1 - s0, "US-ASCII")
    val v =
      if (floatToken) java.lang.Double.parseDouble(text)
      else if (s1 - s0 <= 18) text.toLong.toDouble
      else return false
    if (v.isInfinite) return false
    row.setDouble(f, v)
    valued |= 1 << f
    true
  }

  /** `[s0, s1)` in the configured 23-character form, e.g.
    * `2024-01-01 00:00:10.500`; false for any other width, a calendar
    * date that does not exist, or a field out of range.
    */
  private def timestamp(f: Int): Boolean = {
    val s = s0
    if (s1 - s != 23 || b(s + 4) != '-' || b(s + 7) != '-' || b(s + 10) != tsSep ||
      b(s + 13) != ':' || b(s + 16) != ':' || b(s + 19) != '.') return false
    val year = digits(s, 4)
    val month = digits(s + 5, 2)
    val day = digits(s + 8, 2)
    val hour = digits(s + 11, 2)
    val minute = digits(s + 14, 2)
    val second = digits(s + 17, 2)
    val milli = digits(s + 20, 3)
    if (year < 1 || month < 1 || month > 12 || day < 1 || hour < 0 || hour > 23 ||
      minute < 0 || minute > 59 || second < 0 || second > 59 || milli < 0) return false
    val leap = year % 4 == 0 && (year % 100 != 0 || year % 400 == 0)
    if (day > TickLineDecoder.monthLength(month, leap)) return false
    val epochSecond =
      ZonedDateTime.of(year, month, day, hour, minute, second, milli * 1000000, zone).toEpochSecond
    row.setLong(f, epochSecond * 1000000L + milli * 1000L)
    valued |= 1 << f
    true
  }

  /** The `n` ASCII digits at `from` as a number, -1 if any is not a digit. */
  private def digits(from: Int, n: Int): Int = {
    var v = 0
    var i = from
    while (i < from + n) {
      val d = b(i) - '0'
      if (d < 0 || d > 9) return -1
      v = v * 10 + d
      i += 1
    }
    v
  }
}

private[streaming] object TickLineDecoder {
  private final val Skip = 0
  private final val Str = 1
  private final val Dbl = 2
  private final val Ts = 3
  private final val CaseVariant = -2
  private final val MaxNumberBytes = 64
  private def monthLength(month: Int, leap: Boolean): Int = month match {
    case 2 => if (leap) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }
}
