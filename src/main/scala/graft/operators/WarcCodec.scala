package graft.operators

/** Parsed facts from a WARC container walk: record census by type,
  * total payload octets, and the md5 of the response payloads in
  * file order (the content digest a dedup pipeline banks). */
case class WarcProfile(nRecords: Int, nWarcinfo: Int, nRequest: Int,
                       nResponse: Int, nMetadata: Int, nOther: Int,
                       payloadBytes: Long, responseMd5: String)

/** Pure-JVM WARC (ISO 28500) record walker + deterministic writer —
  * the wire format of web crawls, the single most common source shape
  * a 100-TB pretraining ingest reads. The container is a sequence of
  * records, each:
  *
  *   WARC/1.0␍␊
  *   <header-name>: <value>␍␊   (... repeated)
  *   ␍␊
  *   <Content-Length payload octets>
  *   ␍␊␍␊
  *
  * The walk is O(records) byte arithmetic over the header chain — the
  * version line, the named headers up to the blank line, and a
  * Content-Length hop over the payload (never parsed; HTTP message
  * payloads are opaque here, exactly the tar scan's entry discipline
  * in `HocrArchive.readArchive` and the MP3/ADTS frame hop). The one
  * payload read is the md5 update on response records, which is the
  * point of the profile.
  *
  * Corrupt taxonomy IN-BAND (None, never thrown), the shared codec
  * discipline: alien/unsupported version line (only WARC/1.0 and
  * WARC/1.1 parse), a header line without a colon, a record with no
  * or non-numeric Content-Length, payload running past EOF, missing
  * ␍␊␍␊ record terminator, zero records.
  *
  * Gzip note: real crawl WARCs are usually per-record gzip members
  * (warc.gz). Decompression is a CODEC-INDEPENDENT envelope handled
  * at scan time (Hadoop's codec factory splits .gz members before
  * bytes reach a walker); this walker owns the record grammar only.
  */
object WarcCodec {

  private val CRLF = "\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  private def lineEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** Shared record loop: calls `onRecord(recType, payloadOff,
    * payloadLen)` per record in file order; false on any structural
    * violation (including zero records). */
  private def walkRecords(bytes: Array[Byte])
      (onRecord: (String, Int, Int) => Unit): Boolean = {
    if (bytes == null || bytes.length < 12) return false
    var off = 0
    var nRecords = 0
    while (off < bytes.length) {
      val vEnd = lineEnd(bytes, off)
      if (vEnd < 0) return false // torn version line
      val version = new String(bytes, off, vEnd - off,
        java.nio.charset.StandardCharsets.US_ASCII)
      if (version != "WARC/1.0" && version != "WARC/1.1")
        return false // alien / unsupported version
      off = vEnd + 2
      var recType: String = null
      var contentLength = -1L
      var inHeaders = true
      while (inHeaders) {
        val hEnd = lineEnd(bytes, off)
        if (hEnd < 0) return false // headers never terminate
        if (hEnd == off) { inHeaders = false; off += 2 } // blank line
        else {
          val line = new String(bytes, off, hEnd - off,
            java.nio.charset.StandardCharsets.US_ASCII)
          val colon = line.indexOf(':')
          if (colon <= 0) return false // torn header line
          val name = line.substring(0, colon).trim
          val value = line.substring(colon + 1).trim
          if (name.equalsIgnoreCase("WARC-Type")) recType = value
          else if (name.equalsIgnoreCase("Content-Length")) {
            if (value.isEmpty || !value.forall(c => c >= '0' && c <= '9'))
              return false // non-numeric length
            contentLength = value.toLong
          }
          off = hEnd + 2
        }
      }
      if (contentLength < 0) return false // no Content-Length
      if (off + contentLength + 4 > bytes.length)
        return false // payload or terminator past EOF
      val pOff = off
      off += contentLength.toInt
      if (!(bytes(off) == '\r' && bytes(off + 1) == '\n' &&
          bytes(off + 2) == '\r' && bytes(off + 3) == '\n'))
        return false // missing record terminator
      off += 4
      nRecords += 1
      onRecord(recType, pOff, contentLength.toInt)
    }
    nRecords > 0
  }

  /** Walk the whole record chain. None on any structural violation. */
  def warcWalk(bytes: Array[Byte]): Option[WarcProfile] = {
    var nRecords = 0
    var nWarcinfo = 0; var nRequest = 0; var nResponse = 0
    var nMetadata = 0; var nOther = 0
    var payloadBytes = 0L
    var md: java.security.MessageDigest = null
    val ok = walkRecords(bytes) { (recType, pOff, pLen) =>
      nRecords += 1
      payloadBytes += pLen
      recType match {
        case "warcinfo" => nWarcinfo += 1
        case "request"  => nRequest += 1
        case "response" =>
          nResponse += 1
          if (md == null) md = java.security.MessageDigest.getInstance("MD5")
          md.update(bytes, pOff, pLen)
        case "metadata" => nMetadata += 1
        case _          => nOther += 1 // incl. absent WARC-Type
      }
    }
    if (!ok) None
    else Some(WarcProfile(nRecords, nWarcinfo, nRequest, nResponse,
      nMetadata, nOther, payloadBytes,
      if (md == null) null
      else md.digest().map(b => f"${b & 0xff}%02x").mkString))
  }

  /** Response-record payload bytes in file order; None on the same
    * structural violations as [[warcWalk]]. The hand-off from the
    * container walk to content processing. */
  def responsePayloads(bytes: Array[Byte]): Option[Seq[Array[Byte]]] = {
    val out = scala.collection.mutable.Buffer[Array[Byte]]()
    val ok = walkRecords(bytes) { (recType, pOff, pLen) =>
      if (recType == "response")
        out += java.util.Arrays.copyOfRange(bytes, pOff, pOff + pLen)
    }
    if (ok) Some(out.toSeq) else None
  }

  /** Deterministic WARC writer for the synthetic corpus: one record
    * per (type, targetUri, payload) triple, ids and dates fixed
    * functions of the record index. */
  def encodeWarc(records: Seq[(String, String, Array[Byte])])
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def line(s: String): Unit = {
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.write(CRLF)
    }
    records.zipWithIndex.foreach { case ((recType, uri, payload), i) =>
      line("WARC/1.0")
      line(s"WARC-Type: $recType")
      line(s"WARC-Record-ID: <urn:uuid:rec-$i>")
      line("WARC-Date: 2020-01-01T00:00:00Z")
      if (uri != null && uri.nonEmpty) line(s"WARC-Target-URI: $uri")
      line(s"Content-Length: ${payload.length}")
      line("")
      out.write(payload)
      out.write(CRLF); out.write(CRLF)
    }
    out.toByteArray
  }
}
