package migbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.channels.{Channels, SocketChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.LinkedBlockingQueue

/** Where the target PostgreSQL listens: a unix socket directory (`host`
  * starting with '/') or a TCP host. */
final case class PgEndpoint(host: String, port: Int, user: String, database: String)

/** Raised for an ErrorResponse; the connection stays usable. */
final class PgError(msg: String) extends RuntimeException(msg)

/** A minimal PostgreSQL v3 frontend: trust authentication, simple query,
  * and the COPY-in sub-protocol (the same CopyData/CopyDone/CopyFail
  * messages pgjdbc's CopyManager sends). One connection is used by one
  * thread at a time; [[PgPool]] hands them out. */
final class PgConn(ep: PgEndpoint) extends AutoCloseable {
  private val ch: SocketChannel =
    if (ep.host.startsWith("/")) {
      val c = SocketChannel.open(StandardProtocolFamily.UNIX)
      c.connect(UnixDomainSocketAddress.of(s"${ep.host}/.s.PGSQL.${ep.port}")); c
    } else SocketChannel.open(new InetSocketAddress(ep.host, ep.port))
  private val in = new DataInputStream(new BufferedInputStream(Channels.newInputStream(ch), 1 << 16))
  private val out = new DataOutputStream(new BufferedOutputStream(Channels.newOutputStream(ch), 1 << 16))
  /** False once the stream is out of step with the server; the pool
    * drops such a connection instead of reusing it. */
  @volatile var healthy = true

  startup()

  private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

  private def startup(): Unit = {
    val body = Seq("user", ep.user, "database", ep.database, "client_encoding", "UTF8")
      .flatMap(s => cstr(s).toSeq).toArray :+ 0.toByte
    out.writeInt(8 + body.length); out.writeInt(196608); out.write(body); out.flush()
    val err = drain(_ => ())
    err.foreach(e => throw new PgError(s"startup: $e"))
  }

  /** Reads messages up to ReadyForQuery; returns the first error text.
    * `onRow` receives each DataRow's text fields. */
  private def drain(onRow: Array[String] => Unit): Option[String] = {
    var err: Option[String] = None
    var done = false
    while (!done) {
      val t = in.readByte().toChar
      val len = in.readInt() - 4
      t match {
        case 'D' =>
          val n = in.readShort()
          val row = Array.fill[String](n) {
            val l = in.readInt()
            if (l < 0) null else { val b = new Array[Byte](l); in.readFully(b); new String(b, UTF_8) }
          }
          onRow(row)
        case 'E' =>
          val b = new Array[Byte](len); in.readFully(b)
          if (err.isEmpty) err = Some(errorText(b))
        case 'R' =>
          val b = new Array[Byte](len); in.readFully(b)
          if (java.nio.ByteBuffer.wrap(b).getInt != 0)
            throw new PgError("only trust authentication is supported")
        case 'Z' => in.skipNBytes(len); done = true
        case 'G' => // CopyInResponse: the caller's COPY started
          in.skipNBytes(len); done = true
        case _ => in.skipNBytes(len) // notices, parameter status, tags, row descriptions
      }
    }
    err
  }

  private def errorText(b: Array[Byte]): String = {
    val fields = new String(b, UTF_8).split('\u0000').filter(_.nonEmpty)
    fields.find(_.head == 'M').map(_.tail).getOrElse(fields.mkString(" "))
  }

  private def sendQuery(sql: String): Unit = {
    val b = cstr(sql)
    out.writeByte('Q'); out.writeInt(4 + b.length); out.write(b); out.flush()
  }

  /** Runs one simple query; returns its rows as text, throws on error. */
  def query(sql: String): Vector[Array[String]] = {
    val rows = Vector.newBuilder[Array[String]]
    sendQuery(sql)
    drain(rows += _).foreach(e => throw new PgError(e))
    rows.result()
  }

  /** Starts `COPY … FROM STDIN`; after this only copyData/copyEnd/copyFail. */
  def copyBegin(copySql: String): Unit = {
    sendQuery(copySql)
    // an error here arrives as E then Z; success stops at G
    drain(_ => ()).foreach(e => throw new PgError(e))
  }

  def copyData(bytes: Array[Byte], off: Int, len: Int): Unit = {
    out.writeByte('d'); out.writeInt(4 + len); out.write(bytes, off, len)
  }

  /** Ends the COPY stream; throws if the server rejected any row. */
  def copyEnd(): Unit = {
    out.writeByte('c'); out.writeInt(4); out.flush()
    drain(_ => ()).foreach(e => throw new PgError(e))
  }

  /** Aborts the COPY stream; the server answers with an error, expected. */
  def copyFail(reason: String): Unit = {
    val b = cstr(reason)
    out.writeByte('f'); out.writeInt(4 + b.length); out.write(b); out.flush()
    drain(_ => ())
  }

  override def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: Throwable => () }
    ch.close()
  }
}

/** At most `size` connections to one endpoint, shared by the DDL channel
  * and the per-partition COPY transports. */
final class PgPool(val ep: PgEndpoint, size: Int) extends AutoCloseable {
  private val idle = new LinkedBlockingQueue[PgConn]()
  private val permits = new java.util.concurrent.Semaphore(size)

  def borrow(): PgConn = {
    permits.acquire()
    val c = idle.poll()
    if (c != null) c
    else try new PgConn(ep) catch { case e: Throwable => permits.release(); throw e }
  }

  def release(c: PgConn): Unit = {
    if (c.healthy) idle.put(c) else try c.close() catch { case _: Throwable => () }
    permits.release()
  }

  def withConn[A](f: PgConn => A): A = {
    val c = borrow()
    try f(c)
    catch { case e: PgError => throw e
            case e: Throwable => c.healthy = false; throw e }
    finally release(c)
  }

  override def close(): Unit = {
    var c = idle.poll()
    while (c != null) { c.close(); c = idle.poll() }
  }
}

/** Pools live in the JVM, not in serialized closures: a task deserializes
  * its transport factory and finds the pool here by endpoint. */
object PgPool {
  private val pools = new java.util.concurrent.ConcurrentHashMap[PgEndpoint, PgPool]()
  def register(p: PgPool): PgPool = { pools.put(p.ep, p); p }
  def of(ep: PgEndpoint): PgPool =
    Option(pools.get(ep)).getOrElse(throw new IllegalStateException(s"no pool for $ep"))
}
