package graft.geocode

import graft.model._
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The exact geocoder's broadcast value: the dimension's results, one per
  * normalized key, packed into a few primitive arrays and probed through
  * an open-addressing hash table.
  *
  * Why not a `Map[String, GeoResult]`: `SparkContext.broadcast` sizes its
  * value with `SizeEstimator`, which walks every object of the graph
  * (about twenty per entry for a map of case classes), and then Java
  * serialization walks the same graph again, both on the driver before
  * the first task can start. Primitive arrays are sized in constant time
  * and serialized as bulk copies. A hit is written from the arrays, so a
  * lookup allocates only what it returns.
  *
  * Layout, for entries `e` in `0 until size`:
  *  - keys: entry `e`'s normalized key is `keyChars[keyOff(e),
  *    keyOff(e + 1))`;
  *  - strings: slot `e * Fields + f` for the fields address id, address
  *    name, street id, street name and geometry type, stored as UTF-8
  *    (offset, length) into `utf8`, so a hit hands Spark its strings
  *    without encoding them; length -1 is a null string;
  *  - coordinates: entry `e`'s points are `pointLen(e)` consecutive
  *    points from `pointOff(e)`, length -1 for null coordinates and -2
  *    for a null geometry; point `p`'s values are `coordLen(p)` doubles
  *    from `coordOff(p)` in `coords`, length -1 for a null point;
  *  - `slots` (a power of two, at most half full) holds `e + 1` at the
  *    probe position of entry `e`'s key, 0 where empty; `hashes(e)` is
  *    the key's `hashCode`, compared before the key's characters.
  */
final class GeoIndex private (
    slots: Array[Int], hashes: Array[Int],
    keyChars: Array[Char], keyOff: Array[Int],
    utf8: Array[Byte], strOff: Array[Int], strLen: Array[Int],
    pointOff: Array[Int], pointLen: Array[Int],
    coordOff: Array[Int], coordLen: Array[Int], coords: Array[Double])
    extends Serializable {
  import GeoIndex._

  /** Number of distinct normalized keys. */
  def size: Int = hashes.length

  /** The result for a normalized key, if the dimension has it. */
  def get(key: String): Option[GeoResult] = {
    val e = find(key)
    if (e < 0) None else Some(result(e))
  }

  /** The `geocoded` value of one line (the kernel of the `geocode`
    * expression): for each location value, in order, a hit
    * `{found: true, result}` or a miss `{found: false, error: "Address
    * not found: <value>"}`, as Spark internal rows of
    * `Geocoder.geocodedType`. Null values yield an empty array; a null
    * value is a miss whose error reads `Address not found: null`.
    */
  def geocoded(values: ArrayData): ArrayData = {
    if (values == null) return Empty
    val n = values.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val value = if (values.isNullAt(i)) null else values.getUTF8String(i)
      val e =
        if (value == null) -1 else find(Geocoder.normalizeAddress(value.toString))
      out(i) =
        if (e >= 0) new GenericInternalRow(Array[Any](true, resultRow(e), null))
        else new GenericInternalRow(Array[Any](false, null,
          if (value == null) NotFoundNull else UTF8String.concat(NotFound, value)))
      i += 1
    }
    new GenericArrayData(out)
  }

  private def find(key: String): Int = {
    val h = key.hashCode
    val mask = slots.length - 1
    var i = spread(h) & mask
    while (slots(i) != 0) {
      val e = slots(i) - 1
      if (hashes(e) == h && keyIs(e, key)) return e
      i = (i + 1) & mask
    }
    -1
  }

  private def keyIs(e: Int, key: String): Boolean = {
    val off = keyOff(e)
    val n = keyOff(e + 1) - off
    if (n != key.length) return false
    var i = 0
    while (i < n) {
      if (keyChars(off + i) != key.charAt(i)) return false
      i += 1
    }
    true
  }

  private def string(e: Int, field: Int): String = {
    val s = e * Fields + field
    if (strLen(s) < 0) null else new String(utf8, strOff(s), strLen(s), UTF_8)
  }

  private def utf8String(e: Int, field: Int): UTF8String = {
    val s = e * Fields + field
    if (strLen(s) < 0) null else UTF8String.fromBytes(utf8, strOff(s), strLen(s))
  }

  private def result(e: Int): GeoResult = GeoResult(
    GeoProperties(
      address = GeoRef(string(e, AddressId), string(e, AddressName)),
      street = GeoRef(string(e, StreetId), string(e, StreetName))),
    geometry(e))

  private def geometry(e: Int): Geometry = pointLen(e) match {
    case NullGeometry => null
    case NullSeq => Geometry(string(e, GeometryType), null)
    case n => Geometry(string(e, GeometryType),
      Vector.tabulate(n) { i =>
        val p = pointOff(e) + i
        if (coordLen(p) < 0) null
        else Vector.tabulate(coordLen(p))(j => coords(coordOff(p) + j))
      })
  }

  /** `result(e)` as a row of `struct<properties, geometry>`; the strings
    * are views of `utf8`, which no one writes after the build. */
  private def resultRow(e: Int): InternalRow = new GenericInternalRow(Array[Any](
    new GenericInternalRow(Array[Any](
      new GenericInternalRow(Array[Any](
        utf8String(e, AddressId), utf8String(e, AddressName))),
      new GenericInternalRow(Array[Any](
        utf8String(e, StreetId), utf8String(e, StreetName))))),
    geometryRow(e)))

  private def geometryRow(e: Int): InternalRow = pointLen(e) match {
    case NullGeometry => null
    case NullSeq => new GenericInternalRow(Array[Any](
      utf8String(e, GeometryType), null))
    case n =>
      val points = new Array[Any](n)
      var i = 0
      while (i < n) {
        val p = pointOff(e) + i
        if (coordLen(p) >= 0) points(i) = UnsafeArrayData.fromPrimitiveArray(
          coords, Platform.DOUBLE_ARRAY_OFFSET + 8 * coordOff(p), coordLen(p), 8)
        i += 1
      }
      new GenericInternalRow(Array[Any](
        utf8String(e, GeometryType), new GenericArrayData(points)))
  }
}

object GeoIndex {

  private val Fields = 5
  private val AddressId = 0
  private val AddressName = 1
  private val StreetId = 2
  private val StreetName = 3
  private val GeometryType = 4
  private val NullSeq = -1
  private val NullGeometry = -2

  private val Empty = new GenericArrayData(Array.empty[Any])
  private val NotFound = UTF8String.fromString("Address not found: ")
  private val NotFoundNull = UTF8String.fromString("Address not found: null")

  /** Mixes the high bits of a `hashCode` into the low bits the table's
    * mask keeps (as `java.util.HashMap` does). */
  private def spread(h: Int): Int = h ^ (h >>> 16)

  /** Packs one entry per normalized key. A key that several rows share
    * resolves to the row with the minimum `addressId`, the same rule the
    * join-based geocoder applies.
    */
  def build(rows: Iterable[GeoAddress]): GeoIndex = {
    // a null key can never equal a normalized address
    val entries = Geocoder.minAddressPerKey(rows)
      .filter(_.normalizedKey != null).toArray
    val n = entries.length
    var cap = 2
    while (cap < 2 * n) cap <<= 1
    val slots = new Array[Int](cap)
    val hashes = new Array[Int](n)
    val keys = new java.lang.StringBuilder
    val keyOff = new Array[Int](n + 1)
    val text = new java.io.ByteArrayOutputStream
    val strOff = new Array[Int](n * Fields)
    val strLen = new Array[Int](n * Fields)
    val pointOff = new Array[Int](n)
    val pointLen = new Array[Int](n)
    val coordOff = Array.newBuilder[Int]
    val coordLen = Array.newBuilder[Int]
    val coords = Array.newBuilder[Double]
    var points = 0
    var doubles = 0
    var e = 0
    def putString(field: Int, s: String): Unit = {
      val bytes = if (s == null) null else s.getBytes(UTF_8)
      strOff(e * Fields + field) = text.size
      strLen(e * Fields + field) = if (bytes == null) -1 else bytes.length
      if (bytes != null) text.write(bytes)
    }
    while (e < n) {
      val a = entries(e)
      val g = a.geometry
      keyOff(e) = keys.length
      keys.append(a.normalizedKey)
      putString(AddressId, a.addressId)
      putString(AddressName, a.addressName)
      putString(StreetId, a.streetId)
      putString(StreetName, a.streetName)
      putString(GeometryType, if (g == null) null else g.`type`)
      pointOff(e) = points
      pointLen(e) =
        if (g == null) NullGeometry
        else if (g.coordinates == null) NullSeq
        else g.coordinates.size
      if (pointLen(e) > 0) g.coordinates.foreach { p =>
        coordOff += doubles
        coordLen += (if (p == null) -1 else p.size)
        if (p != null) { coords ++= p; doubles += p.size }
        points += 1
      }
      val h = a.normalizedKey.hashCode
      hashes(e) = h
      var i = spread(h) & (cap - 1)
      while (slots(i) != 0) i = (i + 1) & (cap - 1)
      slots(i) = e + 1
      e += 1
    }
    keyOff(n) = keys.length
    val keyChars = new Array[Char](keys.length)
    keys.getChars(0, keys.length, keyChars, 0)
    new GeoIndex(slots, hashes, keyChars, keyOff, text.toByteArray, strOff,
      strLen, pointOff, pointLen, coordOff.result(), coordLen.result(),
      coords.result())
  }
}
