package graft.geocode

import graft.model._

/** The exact geocoder's broadcast value: the dimension's results, one per
  * normalized key, packed into a few primitive arrays and probed through
  * an open-addressing hash table.
  *
  * Why not a `Map[String, GeoResult]`: `SparkContext.broadcast` sizes its
  * value with `SizeEstimator`, which walks every object of the graph
  * (about twenty per entry for a map of case classes), and then Java
  * serialization walks the same graph again, both on the driver before
  * the first task can start. Primitive arrays are sized in constant time
  * and serialized as bulk copies. A hit decodes its `GeoResult` from the
  * arrays, so a lookup allocates only what it returns.
  *
  * Layout, for entries `e` in `0 until size`:
  *  - strings: slot `e * Fields + f` for the fields key, address id,
  *    address name, street id, street name and geometry type, stored as
  *    (offset, length) into `chars`; length -1 is a null string;
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
    chars: Array[Char], strOff: Array[Int], strLen: Array[Int],
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
    val s = e * Fields + Key
    val off = strOff(s)
    val n = strLen(s)
    if (n != key.length) return false
    var i = 0
    while (i < n) {
      if (chars(off + i) != key.charAt(i)) return false
      i += 1
    }
    true
  }

  private def string(e: Int, field: Int): String = {
    val s = e * Fields + field
    if (strLen(s) < 0) null else new String(chars, strOff(s), strLen(s))
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
}

object GeoIndex {

  private val Fields = 6
  private val Key = 0
  private val AddressId = 1
  private val AddressName = 2
  private val StreetId = 3
  private val StreetName = 4
  private val GeometryType = 5
  private val NullSeq = -1
  private val NullGeometry = -2

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
    val text = new java.lang.StringBuilder
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
      strOff(e * Fields + field) = text.length
      strLen(e * Fields + field) = if (s == null) -1 else s.length
      if (s != null) text.append(s)
    }
    while (e < n) {
      val a = entries(e)
      val g = a.geometry
      putString(Key, a.normalizedKey)
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
    val chars = new Array[Char](text.length)
    text.getChars(0, text.length, chars, 0)
    new GeoIndex(slots, hashes, chars, strOff, strLen, pointOff, pointLen,
      coordOff.result(), coordLen.result(), coords.result())
  }
}
