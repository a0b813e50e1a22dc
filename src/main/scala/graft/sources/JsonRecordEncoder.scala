package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, UnsafeArrayData, UnsafeRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A growable byte array: the encoder's output, one or more records. */
final class ByteBuf(initial: Int) {
  var bytes: Array[Byte] = new Array[Byte](initial)
  var size: Int = 0

  def reserve(n: Int): Unit =
    if (size + n > bytes.length)
      bytes = java.util.Arrays.copyOf(bytes,
        math.max(bytes.length * 2, size + n))

  def put(b: Int): Unit = { reserve(1); bytes(size) = b.toByte; size += 1 }

  def put(b: Array[Byte]): Unit = {
    reserve(b.length)
    System.arraycopy(b, 0, bytes, size, b.length)
    size += b.length
  }

  /** An ASCII string, one byte per char. */
  def putAscii(s: String): Unit = {
    reserve(s.length)
    var i = 0
    while (i < s.length) { bytes(size + i) = s.charAt(i).toByte; i += 1 }
    size += s.length
  }

  /** A decimal integer. */
  def putInt(v: Int): Unit = {
    reserve(11)
    var x = math.abs(v.toLong)
    if (v < 0) { bytes(size) = '-'; size += 1 }
    var digits = 1
    var t = x / 10
    while (t > 0) { digits += 1; t /= 10 }
    var i = size + digits - 1
    while (i >= size) { bytes(i) = ('0' + (x % 10)).toByte; x /= 10; i -= 1 }
    size += digits
  }
}

/** Writes one value of a column or an array element. */
private[sources] abstract class ValueWriter {
  /** The non-null value at ordinal `i` of `g`, as JSON. */
  def write(g: SpecializedGetters, i: Int, out: ByteBuf): Unit
}

/** Spark's JSON writer (`df.write.json`, Jackson underneath), as bytes:
  * one record per row, encoded straight from the row's internal values
  * to UTF-8 by writers built once from the schema, with no Jackson
  * generator, no `java.lang.String` per value and no character encoder.
  * The output follows Spark's byte for byte:
  *  - fields in schema order, no whitespace; a null field is left out
  *    when `ignoreNullFields` (`spark.sql.jsonGenerator.ignoreNullFields`,
  *    on by default) and written as `null` otherwise; a null array
  *    element is always `null`;
  *  - strings escape as Jackson does: `\"`, `\\`, `\b` `\t` `\n` `\f`
  *    `\r`, and `\u00XX` (upper-case hex) for every other character
  *    below U+0020; 0x7F, `/` and non-ASCII text are copied. A string
  *    that is not well-formed UTF-8 goes through `UTF8String.toString`
  *    as Spark's writer does, so each malformed sequence becomes U+FFFD;
  *  - doubles print as `Double.toString`, with NaN and the infinities
  *    quoted; integers in decimal.
  * Supported types, those of the tagged union: string, int, double,
  * struct and array; any other type fails at plan time.
  */
object JsonRecordEncoder {

  /** The escape of each ASCII byte: 0 copies it, a letter is its
    * two-byte escape (`\n`), 'u' the six-byte `\u00XX`. */
  private val escapes: Array[Byte] = {
    val e = new Array[Byte](128)
    (0 until 0x20).foreach(c => e(c) = 'u')
    Seq('\b' -> 'b', '\t' -> 't', '\n' -> 'n', '\f' -> 'f', '\r' -> 'r',
      '"' -> '"', '\\' -> '\\').foreach { case (c, x) => e(c) = x.toByte }
    e
  }
  private val hex = "0123456789ABCDEF".getBytes(UTF_8)

  /** Length of the well-formed UTF-8 sequence at `i` (lead byte ≥ 0x80),
    * or 0 if it is malformed: an overlong form, an encoded surrogate, a
    * code point above U+10FFFF, a lone or missing continuation byte.
    * These are exactly the sequences the JDK's decoder accepts.
    */
  private def sequenceLength(base: AnyRef, off: Long, i: Int, n: Int): Int = {
    def at(k: Int) = Platform.getByte(base, off + k) & 0xFF
    def cont(k: Int) = k < n && (at(k) & 0xC0) == 0x80
    def within(k: Int, lo: Int, hi: Int) = k < n && at(k) >= lo && at(k) <= hi
    val b = at(i)
    if (b >= 0xC2 && b <= 0xDF) { if (cont(i + 1)) 2 else 0 }
    else if (b >= 0xE0 && b <= 0xEF) {
      val second =
        if (b == 0xE0) within(i + 1, 0xA0, 0xBF)
        else if (b == 0xED) within(i + 1, 0x80, 0x9F)
        else cont(i + 1)
      if (second && cont(i + 2)) 3 else 0
    } else if (b >= 0xF0 && b <= 0xF4) {
      val second =
        if (b == 0xF0) within(i + 1, 0x90, 0xBF)
        else if (b == 0xF4) within(i + 1, 0x80, 0x8F)
        else cont(i + 1)
      if (second && cont(i + 2) && cont(i + 3)) 4 else 0
    } else 0
  }

  private def putEscape(c: Int, e: Byte, out: ByteBuf): Unit = {
    val b = out.bytes
    val s = out.size
    b(s) = '\\'
    if (e == 'u') {
      b(s + 1) = 'u'; b(s + 2) = '0'; b(s + 3) = '0'
      b(s + 4) = hex(c >> 4); b(s + 5) = hex(c & 0xF)
      out.size = s + 6
    } else {
      b(s + 1) = e
      out.size = s + 2
    }
  }

  private final val Ones = 0x0101010101010101L
  private final val Highs = 0x8080808080808080L

  /** Whether one of the eight bytes of `w` is more than a plain copy: a
    * byte below 0x20, `"`, `\` or a non-ASCII byte. Exact as a yes/no,
    * though not as to which byte (the zero-byte test of Hacker's Delight
    * 6-1). */
  private def special(w: Long): Boolean = {
    val quote = w ^ 0x2222222222222222L
    val backslash = w ^ 0x5C5C5C5C5C5C5C5CL
    ((w | ((w - 0x2020202020202020L) & ~w) | ((quote - Ones) & ~quote) |
      ((backslash - Ones) & ~backslash)) & Highs) != 0
  }

  /** The `n` bytes at `base + off` as a JSON string, with its quotes or
    * (`quoted` false) only its content: runs that need no escape are
    * found eight bytes at a time and copied whole. */
  private def putString(base: AnyRef, off: Long, n: Int, out: ByteBuf,
                        quoted: Boolean): Unit = {
    val start = out.size
    out.reserve(6 * n + 2) // an escape is at most six bytes
    if (quoted) { out.bytes(out.size) = '"'; out.size += 1 }
    var run = 0 // start of the bytes not yet copied
    var i = 0
    while (i < n) {
      if (i + 8 <= n && !special(Platform.getLong(base, off + i))) i += 8
      else {
        val c = Platform.getByte(base, off + i)
        if (c >= 0) {
          val e = escapes(c)
          if (e != 0) {
            copyRun(base, off + run, i - run, out)
            putEscape(c, e, out)
            run = i + 1
          }
          i += 1
        } else {
          val len = sequenceLength(base, off, i, n)
          if (len == 0) {
            out.size = start
            putDecoded(new String(copy(base, off, n), UTF_8), out, quoted)
            return
          }
          i += len
        }
      }
    }
    copyRun(base, off + run, n - run, out)
    if (quoted) { out.bytes(out.size) = '"'; out.size += 1 }
  }

  private def copyRun(base: AnyRef, at: Long, len: Int, out: ByteBuf): Unit =
    if (len > 0) {
      base match {
        // on-heap rows: the JIT's array copy is quicker on short runs
        case a: Array[Byte] => System.arraycopy(a,
          (at - Platform.BYTE_ARRAY_OFFSET).toInt, out.bytes, out.size, len)
        case _ => Platform.copyMemory(base, at, out.bytes,
          Platform.BYTE_ARRAY_OFFSET + out.size, len)
      }
      out.size += len
    }

  private def copy(base: AnyRef, off: Long, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    Platform.copyMemory(base, off, b, Platform.BYTE_ARRAY_OFFSET, n)
    b
  }

  /** A decoded string as a quoted JSON string: what Jackson and the
    * writer's UTF-8 encoder make of it. */
  private def putDecoded(s: String, out: ByteBuf, quoted: Boolean): Unit = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    if (quoted) sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val e = if (c < 128) escapes(c) else 0
      if (e == 0) sb.append(c)
      else if (e == 'u') sb.append("\\u00").append(hex(c >> 4).toChar)
        .append(hex(c & 0xF).toChar)
      else sb.append('\\').append(e.toChar)
      i += 1
    }
    if (quoted) sb.append('"')
    out.put(sb.toString.getBytes(UTF_8))
  }

  def putString(s: UTF8String, out: ByteBuf): Unit =
    putString(s.getBaseObject, s.getBaseOffset, s.numBytes, out, quoted = true)

  /** The bytes held in `text` escaped as the content of a JSON string,
    * without its quotes. */
  def putStringContent(text: ByteBuf, out: ByteBuf): Unit =
    putString(text.bytes, Platform.BYTE_ARRAY_OFFSET, text.size, out,
      quoted = false)

  /** The string at ordinal `i` of `g`, read in place from an unsafe row
    * or array rather than through a `UTF8String` view. */
  private def putString(g: SpecializedGetters, i: Int, out: ByteBuf): Unit =
    g match {
      case r: UnsafeRow =>
        val offsetAndSize = r.getLong(i)
        putString(r.getBaseObject, r.getBaseOffset + (offsetAndSize >>> 32),
          offsetAndSize.toInt, out, quoted = true)
      case a: UnsafeArrayData =>
        val offsetAndSize = a.getLong(i)
        putString(a.getBaseObject, a.getBaseOffset + (offsetAndSize >>> 32),
          offsetAndSize.toInt, out, quoted = true)
      case _ => putString(g.getUTF8String(i), out)
    }

  private def putDouble(d: Double, out: ByteBuf): Unit =
    if (java.lang.Double.isFinite(d)) out.putAscii(java.lang.Double.toString(d))
    else { out.put('"'); out.putAscii(java.lang.Double.toString(d)); out.put('"') }

  /** A double as it reads inside a JSON string holding JSON text: NaN and
    * the infinities quoted with escaped quotes. */
  def putDoubleInString(d: Double, out: ByteBuf): Unit =
    if (java.lang.Double.isFinite(d)) out.putAscii(java.lang.Double.toString(d))
    else {
      out.put('\\'); out.put('"'); out.putAscii(java.lang.Double.toString(d))
      out.put('\\'); out.put('"')
    }

  /** `"name":` as bytes, the name escaped like a string value. */
  private def fieldName(name: String): Array[Byte] = {
    val b = new ByteBuf(name.length + 8)
    putString(UTF8String.fromString(name), b)
    b.put(':')
    java.util.Arrays.copyOf(b.bytes, b.size)
  }

  private[sources] val Null = "null".getBytes(UTF_8)

  /** The writer of one value of type `t`. */
  private def writer(t: DataType, ignoreNullFields: Boolean): ValueWriter = t match {
    case StringType => (g, i, out) => putString(g, i, out)
    case IntegerType => (g, i, out) => out.putInt(g.getInt(i))
    case DoubleType => (g, i, out) => putDouble(g.getDouble(i), out)
    case s: StructType =>
      val fields = new StructWriter(s.fields.indices.map(k =>
        (k, s.fields(k).name, s.fields(k).dataType)), ignoreNullFields)
      (g, i, out) => fields.write(g.getStruct(i, s.length), out)
    case ArrayType(e, _) =>
      val element = writer(e, ignoreNullFields)
      (g, i, out) => {
        val a = g.getArray(i)
        out.put('[')
        var k = 0
        while (k < a.numElements()) {
          if (k > 0) out.put(',')
          if (a.isNullAt(k)) out.put(Null) else element.write(a, k, out)
          k += 1
        }
        out.put(']')
      }
    case other => throw new IllegalArgumentException(
      s"the JSON record encoder does not write ${other.simpleString}")
  }

  /** The writer of a struct's fields, or of a row's chosen columns:
    * `(ordinal, name, type)` in output order, with a custom writer for
    * some ordinals. */
  private[sources] final class StructWriter(
      fields: Seq[(Int, String, DataType)], ignoreNullFields: Boolean,
      custom: Map[Int, ValueWriter] = Map.empty) {
    private val ordinals = fields.map(_._1).toArray
    // `"name":`, and `,"name":` for a field after the first one written
    private val names = fields.map(f => fieldName(f._2)).toArray
    private val laterNames = names.map(n => ','.toByte +: n)
    private val writers = fields.map { case (k, _, t) =>
      custom.getOrElse(k, writer(t, ignoreNullFields)) }.toArray

    /** `{…}` of `row`'s fields. */
    def write(row: InternalRow, out: ByteBuf): Unit = {
      out.put('{')
      val start = out.size
      var k = 0
      while (k < ordinals.length) {
        val o = ordinals(k)
        val isNull = row.isNullAt(o)
        if (!isNull || !ignoreNullFields) {
          out.put(if (out.size == start) names(k) else laterNames(k))
          if (isNull) out.put(Null) else writers(k).write(row, o, out)
        }
        k += 1
      }
      out.put('}')
    }
  }
}
