package graft.llm

/** WARC (Web ARChive, ISO 28500) ingestion — the container format web
  * crawls (Common Crawl among them) ship in, and therefore the first
  * operator of a real pretraining-corpus pipeline: WARC → HTTP response
  * bodies → HTML text extraction ([[TextFunctions.htmlToText]]) →
  * language-ID / quality / dedup, all of which this engine already has.
  *
  * Format walked (same record grammar the public ISO spec and
  * warcio-family readers implement): each record is a `WARC/1.x`
  * version line, CRLF header lines (`Name: value`) to a blank line,
  * exactly `Content-Length` payload bytes, and a CRLF CRLF trailer.
  * `response` records carry an HTTP message as payload; the HTTP
  * status line and headers are split off and the entity body exposed.
  *
  * Scale shape: WARC members are per-file sequential (and `.gz`
  * archives are multi-member gzip — not block-splittable), so the unit
  * of parallelism is the FILE, exactly how crawl corpora are shipped:
  * one sequential streaming walk per file ([[parseWarcStream]]),
  * constant memory per record, no shuffle.
  */
object Warc {

  /** One parsed record. `body` is the PAYLOAD for non-response records
    * and the HTTP entity body for `response` records (status/headers
    * split off into `http_status`/`content_type`).
    */
  final case class Record(
      warc_file: String,
      record_idx: Long,
      warc_type: String,
      target_uri: String,
      warc_date: String,
      content_type: String,
      http_status: Int,
      body: Array[Byte])

  /** The record walk over any stream — also the in-memory entry
    * ([[parseWarcBytes]]) the roundtrip oracle uses. Closes the stream
    * at EOF.
    */
  def parseWarcStream(file: String, raw: java.io.InputStream,
                      gunzip: Boolean): Iterator[Record] = {
    val in = new java.io.BufferedInputStream(
      if (gunzip) new java.util.zip.GZIPInputStream(raw) // multi-member capable
      else raw)
    new Iterator[Record] {
      private var idx = 0L
      private var nextRec: Record = advance()
      private def advance(): Record = {
        val rec = parseRecord(file, idx, in)
        if (rec == null) { in.close(); null } else { idx += 1; rec }
      }
      override def hasNext: Boolean = nextRec != null
      override def next(): Record = {
        val r = nextRec; nextRec = advance(); r
      }
    }
  }

  /** Parse a whole WARC file image held in memory (gzipped iff
    * `gunzip`) — the `q_warc_roundtrip` / fixture entry.
    */
  def parseWarcBytes(file: String, bytes: Array[Byte],
                     gunzip: Boolean): Iterator[Record] =
    parseWarcStream(file, new java.io.ByteArrayInputStream(bytes), gunzip)

  /** Serialize one record: version line, headers (Content-Length
    * appended), blank line, payload, CRLF CRLF trailer — the writer
    * half of the reader above (re-sharding crawl segments, building
    * fixtures). Header VALUES are taken as-is; the caller owns
    * `WARC-Type` etc.
    */
  def warcRecordBytes(headers: Seq[(String, String)],
                      payload: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder("WARC/1.0\r\n")
    headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
    val head = sb.toString.getBytes("UTF-8")
    val trailer = "\r\n\r\n".getBytes("UTF-8")
    val out = new Array[Byte](head.length + payload.length + trailer.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(payload, 0, out, head.length, payload.length)
    System.arraycopy(trailer, 0, out, head.length + payload.length, trailer.length)
    out
  }

  /** One gzip MEMBER over `bytes`: concatenating member outputs yields
    * the multi-member archives crawls ship (each member independently
    * decompressible — the property [[parseWarcStream]]'s
    * GZIPInputStream walk depends on).
    */
  def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes); gz.finish(); gz.close()
    bos.toByteArray
  }

  // ---- sequential record walk ----

  /** Read one CRLF- (or LF-) terminated header line; null at EOF. */
  private def readLine(in: java.io.InputStream): String = {
    val sb = new java.lang.StringBuilder()
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  private def readFully(in: java.io.InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(buf, off, n - off)
      if (k < 0) throw new IllegalStateException(
        s"WARC payload truncated: expected $n bytes, got $off")
      off += k
    }
    buf
  }

  /** Parse one record at the stream cursor; null at clean EOF. */
  private def parseRecord(file: String, idx: Long,
                          in: java.io.InputStream): Record = {
    // skip inter-record blank lines, find the version line
    var line = readLine(in)
    while (line != null && line.isEmpty) line = readLine(in)
    if (line == null) return null
    if (!line.startsWith("WARC/"))
      throw new IllegalStateException(
        s"$file record $idx: expected WARC version line, got '$line'")
    val headers = scala.collection.mutable.Map.empty[String, String]
    line = readLine(in)
    while (line != null && line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0)
        headers.update(
          line.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT),
          line.substring(i + 1).trim)
      line = readLine(in)
    }
    val len = headers.getOrElse("content-length",
      throw new IllegalStateException(
        s"$file record $idx: missing Content-Length")).toInt
    val payload = readFully(in, len)
    val warcType = headers.getOrElse("warc-type", "")
    val (status, cType, body) =
      if (warcType == "response") splitHttp(payload, headers)
      else (0, headers.getOrElse("content-type", ""), payload)
    Record(file, idx, warcType,
      headers.getOrElse("warc-target-uri", ""),
      headers.getOrElse("warc-date", ""),
      cType, status, body)
  }

  /** Split an HTTP message payload into (status, content-type, body). */
  private def splitHttp(payload: Array[Byte],
                        warcHeaders: scala.collection.Map[String, String])
      : (Int, String, Array[Byte]) = {
    // find the header/body boundary (CRLFCRLF, tolerate LFLF)
    var i = 0
    var bound = -1
    var boundLen = 0
    while (bound < 0 && i < payload.length - 1) {
      if (payload(i) == '\n' &&
          (payload(i + 1) == '\n' ||
            (payload(i + 1) == '\r' && i + 2 < payload.length &&
              payload(i + 2) == '\n'))) {
        bound = i + 1
        boundLen = if (payload(i + 1) == '\n') 1 else 2
      }
      i += 1
    }
    if (bound < 0) return (0, warcHeaders.getOrElse("content-type", ""), payload)
    val head = new String(payload, 0, bound, "ISO-8859-1")
    val lines = head.split("\r?\n")
    val status = lines.headOption
      .flatMap(_.split(" ").lift(1)).flatMap(_.toIntOption).getOrElse(0)
    val cType = lines.drop(1)
      .find(_.toLowerCase(java.util.Locale.ROOT).startsWith("content-type:"))
      .map(_.substring("content-type:".length).trim).getOrElse("")
    (status, cType,
      java.util.Arrays.copyOfRange(payload, bound + boundLen, payload.length))
  }
}
