package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, FilterInputStream}
import java.net.{HttpURLConnection, Socket, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import graft.formats.{ChCompression, NativeCodec}
import graft.server.{NativeServer => P}

/** What a client got back for one statement. `rows` holds decoded
  * native rows; `body` the raw HTTP response. `wireBytes` counts every
  * byte the client read for the statement. */
final case class Reply(
    error: Option[String],
    body: Array[Byte] = Array.emptyByteArray,
    rows: Seq[Seq[Any]] = Nil,
    totals: Option[Seq[Any]] = None,
    wireBytes: Long = 0L)

/** ClickHouse HTTP client over keep-alive connections (one per thread,
  * as HttpURLConnection pools them). */
final class HttpClient(port: Int) {
  private val base = s"http://127.0.0.1:$port/"

  /** POST `body`; `query` goes in the URL (bulk binary inserts). */
  def post(body: Array[Byte], query: Option[String] = None): Reply = {
    val q = query.map(s => "&query=" + URLEncoder.encode(s, UTF_8)).getOrElse("")
    val conn = URI.create(s"$base?default_format=TabSeparated$q").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setFixedLengthStreamingMode(body.length)
    val os = conn.getOutputStream
    os.write(body); os.close()
    val code = conn.getResponseCode
    val in = if (code == 200) conn.getInputStream else conn.getErrorStream
    val bytes = if (in == null) Array.emptyByteArray else in.readAllBytes()
    if (in != null) in.close()
    if (code == 200) Reply(None, bytes, wireBytes = bytes.length)
    else Reply(Some(s"HTTP $code: ${new String(bytes, UTF_8).take(300)}"),
      bytes, wireBytes = bytes.length)
  }

  def query(sql: String): Reply = post(sql.getBytes(UTF_8))
}

/** Native-protocol client: one TCP connection, LZ4-framed data blocks
  * (compression negotiated the way clickhouse-driver does it). */
final class NativeClient(port: Int) extends AutoCloseable {
  private val Revision = 54468L
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private var read = 0L
  private val in = new BufferedInputStream(new FilterInputStream(sock.getInputStream) {
    override def read(): Int = { val b = super.read(); if (b >= 0) NativeClient.this.read += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(b, off, len); if (n > 0) NativeClient.this.read += n; n
    }
  }, 1 << 16)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)

  hello()

  private def hello(): Unit = {
    P.writeVarint(out, P.ClientHello)
    P.writeStr(out, "perfbench")
    P.writeVarint(out, 25); P.writeVarint(out, 5); P.writeVarint(out, Revision)
    P.writeStr(out, "default"); P.writeStr(out, "default"); P.writeStr(out, "")
    P.writeStr(out, "") // quota key (negotiated revision >= 54458)
    out.flush()
    require(P.readVarint(in) == P.ServerHello, "no server hello")
    P.readStr(in); P.readVarint(in); P.readVarint(in)
    val rev = P.readVarint(in)
    if (rev >= 54058) P.readStr(in)
    if (rev >= 54372) P.readStr(in)
    if (rev >= 54401) P.readVarint(in)
    if (rev >= 54461) P.readVarint(in)
    if (rev >= 54462) P.readFixed(in, 8)
  }

  private val emptyBlock: Array[Byte] = {
    val b = new ByteArrayOutputStream()
    b.write(P.BlockInfoBytes); b.write(0); b.write(0)
    ChCompression.compressFrame(b.toByteArray)
  }

  def query(sql: String): Reply = {
    val start = read
    P.writeVarint(out, P.ClientQuery)
    P.writeStr(out, "")
    out.write(1) // client info: initial query
    P.writeStr(out, "default"); P.writeStr(out, ""); P.writeStr(out, "127.0.0.1:0")
    P.writeFixed(out, 8)(_.putLong(0L))
    out.write(1) // interface TCP
    P.writeStr(out, "bench"); P.writeStr(out, "localhost"); P.writeStr(out, "perfbench")
    P.writeVarint(out, 25); P.writeVarint(out, 5); P.writeVarint(out, Revision)
    P.writeStr(out, "") // quota key
    P.writeVarint(out, 0) // distributed depth
    P.writeVarint(out, 2) // version patch
    out.write(0) // no OpenTelemetry context
    P.writeVarint(out, 0); P.writeVarint(out, 0); P.writeVarint(out, 0)
    P.writeStr(out, "") // end of settings
    P.writeStr(out, "") // inter-server secret
    P.writeVarint(out, 2) // stage: complete
    P.writeVarint(out, 1) // compression on: LZ4-framed blocks
    P.writeStr(out, sql)
    P.writeStr(out, "") // end of parameters
    // external-tables terminator, framed like every block under compression
    P.writeVarint(out, P.ClientData)
    P.writeStr(out, "")
    out.write(emptyBlock)
    out.flush()
    val rows = Vector.newBuilder[Seq[Any]]
    var totals: Option[Seq[Any]] = None
    var err: Option[String] = None
    var done = false
    def block(): Seq[(String, String, Vector[Any])] = {
      val bin = ChCompression.frameStream(in)
      var f = P.readVarint(bin)
      while (f != 0) { if (f == 1) bin.read() else P.readFixed(bin, 4); f = P.readVarint(bin) }
      NativeCodec.decode(bin, customSerFlag = true)
    }
    def rowsOf(cols: Seq[(String, String, Vector[Any])]): Seq[Seq[Any]] = {
      val n = cols.headOption.map(_._3.length).getOrElse(0)
      (0 until n).map(r => cols.map(_._3(r)))
    }
    while (!done) {
      P.readVarint(in) match {
        case P.ServerData => P.readStr(in); rows ++= rowsOf(block())
        case P.ServerTotals => P.readStr(in); totals = rowsOf(block()).headOption
        case P.ServerExtremes => P.readStr(in); block()
        case P.ServerProgress =>
          P.readVarint(in); P.readVarint(in); P.readVarint(in); P.readVarint(in)
          P.readVarint(in); P.readVarint(in); P.readVarint(in)
        case P.ServerProfileInfo =>
          P.readVarint(in); P.readVarint(in); P.readVarint(in)
          in.read(); P.readVarint(in); in.read()
        case P.ServerException =>
          P.readFixed(in, 4); P.readStr(in)
          err = Some(P.readStr(in).take(300))
          P.readStr(in); in.read()
        case P.ServerEndOfStream => done = true
        case other => throw new IllegalStateException(s"unexpected packet $other")
      }
    }
    Reply(err, rows = rows.result(), totals = totals, wireBytes = read - start)
  }

  def close(): Unit = sock.close()
}
