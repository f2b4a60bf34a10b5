package graft.sink

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.model.{ChColumn, ChTable, ChType}

/** Loopback ClickHouse HTTP endpoint — the in-sandbox stand-in for the
  * server the reference's sink speaks to (`src/main.rs:238-277` pooled
  * hyper client over the PUBLIC ClickHouse HTTP interface; a live server
  * is sandbox-blocked, `docker-compose.yml:1-13`). It actually SPEAKS the
  * protocol rather than stubbing it:
  *
  *  - `POST /?query=<sql>&decompress=1` with a native-LZ4-framed body:
  *    frames are checksum-verified (CityHash128 v1.0.2) and decompressed
  *    ([[ChNativeCodec]]) — a flipped bit 500s the request;
  *  - `INSERT INTO <t> (cols…) FORMAT RowBinary`: the body is decoded
  *    positionally with the REAL decoder ([[RowBinary.decodeRows]]) against
  *    the table's registered column types — a wrong byte fails the insert,
  *    it never becomes a silently-wrong row;
  *  - `CREATE TABLE` DDL registers the schema (types via
  *    [[graft.model.ChType.parse]], the same parser the discovery path
  *    uses); `ReplacingMergeTree(ver) ORDER BY (k)` is honored on READ,
  *    like ClickHouse's eventual collapse: duplicates live in storage, a
  *    SELECT sees latest-by-version per key once `FINAL`-style dedup is
  *    applied — the cursor-table semantics the reference leans on
  *    (`README.md:9-11`);
  *  - `SELECT … FORMAT RowBinary` over the supported recovery/readback
  *    shapes answers in RowBinary (frame-compressed when `compress=1`);
  *  - auth is the ClickHouse HTTP contract: `X-ClickHouse-User` /
  *    `X-ClickHouse-Key` headers, 403 on mismatch.
  *
  * Thread-safe; counters expose wire-level facts for spec assertions.
  */
final class ClickHouseHttpServer(
    user: String = "default",
    password: String = "") extends AutoCloseable {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
  val port: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$port"

  /** table → registered schema (insertion-time column types). */
  val tables = new ConcurrentHashMap[String, ChTable]()
  /** table → engine spec, e.g. ("ReplacingMergeTree", ver, orderKey). */
  private val engines = new ConcurrentHashMap[String, (String, String, Seq[String])]()
  /** table → rows as canonical strings in the TABLE's declared column
    * order (re-ordered from each insert's explicit column list). */
  private val store = new ConcurrentHashMap[String, java.util.List[Array[String]]]()

  val insertRequests = new AtomicInteger(0)
  val compressedRequests = new AtomicInteger(0)
  val ddlRequests = new AtomicInteger(0)
  val authFailures = new AtomicInteger(0)
  val badRequests = new AtomicInteger(0)
  /** Statements that took effect, in order: `CREATE <t>` per DDL request,
    * `INSERT <t>` per insert whose rows landed. */
  val applied = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def rowCount(table: String): Int =
    Option(store.get(table)).map(_.size).getOrElse(0)

  /** Rows AFTER engine semantics (ReplacingMergeTree collapse when
    * declared) — what a SELECT sees. */
  def select(table: String): Seq[Array[String]] = {
    val t = tables.get(table)
    require(t != null, s"unknown table $table")
    // copy under the list's monitor (advice r14): iterating a
    // synchronizedList without holding it races a concurrent INSERT
    val raw = Option(store.get(table))
      .map(l => l.synchronized(new java.util.ArrayList(l)).asScala.toSeq)
      .getOrElse(Seq.empty)
    engines.get(table) match {
      case ("ReplacingMergeTree", ver, orderKey) if ver.nonEmpty =>
        val names = t.columns.map(_.name)
        val keyIdx = orderKey.map(names.indexOf)
        val verIdx = names.indexOf(ver)
        raw.groupBy(r => keyIdx.map(r(_)).toSeq)
          .values.map(_.maxBy(r => BigInt(r(verIdx)))).toSeq
      case _ => raw
    }
  }

  private def param(q: String, key: String): Option[String] =
    Option(q).toSeq.flatMap(_.split("&").toSeq).flatMap { p =>
      p.split("=", 2) match {
        case Array(k, v) if k == key =>
          Some(java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
        case Array(k) if k == key => Some("1")
        case _ => None
      }
    }.headOption

  private val InsertRe =
    """(?is)^\s*INSERT\s+INTO\s+`?(\w+)`?\s*(?:\(([^)]*)\))?\s*FORMAT\s+RowBinary\s*$""".r
  private val CreateRe =
    """(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s*\((.*)\)\s*ENGINE\s*=\s*(\w+)(?:\(([^)]*)\))?\s*(?:ORDER\s+BY\s*\(?([^)]*?)\)?)?\s*$""".r
  private val SelectRe =
    """(?is)^\s*SELECT\s+(.*?)\s+FROM\s+`?(\w+)`?\s*(?:WHERE\s+`?(\w+)`?\s*=\s*'([^']*)')?\s*(?:ORDER\s+BY\s+`?(\w+)`?\s+DESC)?\s*(?:LIMIT\s+(\d+))?\s*FORMAT\s+RowBinary\s*$""".r

  server.createContext("/", (ex: HttpExchange) => handle(ex))
  // pool is shut down in close() — a bench sweep constructs a fixture per
  // lane rep, and leaked daemon threads would accumulate across the run
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
    (r: Runnable) => { val t = new Thread(r, "ch-http-fixture"); t.setDaemon(true); t })
  server.setExecutor(pool)
  server.start()

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) { val os = ex.getResponseBody; os.write(body); os.close() }
    ex.close()
  }

  private def fail(ex: HttpExchange, code: Int, msg: String): Unit = {
    badRequests.incrementAndGet()
    respond(ex, code, msg.getBytes(StandardCharsets.UTF_8))
  }

  private def handle(ex: HttpExchange): Unit = try {
    val q = ex.getRequestURI.getRawQuery
    val hdrs = ex.getRequestHeaders
    val gotUser = Option(hdrs.getFirst("X-ClickHouse-User")).getOrElse("default")
    val gotKey = Option(hdrs.getFirst("X-ClickHouse-Key")).getOrElse("")
    if (gotUser != user || gotKey != password) {
      authFailures.incrementAndGet()
      respond(ex, 403, "Code: 516. Authentication failed".getBytes(StandardCharsets.UTF_8))
      return
    }
    val rawBody = ex.getRequestBody.readAllBytes()
    val decompress = param(q, "decompress").contains("1")
    if (decompress) compressedRequests.incrementAndGet()
    val body =
      if (decompress)
        ChNativeCodec.readFrames(new java.io.ByteArrayInputStream(rawBody))
      else rawBody
    // the statement travels in the query param (reference client shape);
    // DDL/queries without param arrive as the body text
    val sql = param(q, "query")
      .getOrElse(new String(body, StandardCharsets.UTF_8))
    sql match {
      case InsertRe(table, colList) =>
        insertRequests.incrementAndGet()
        val t = tables.get(table)
        if (t == null) { fail(ex, 404, s"Code: 60. Table $table doesn't exist"); return }
        val byName = t.columns.map(c => c.name -> c).toMap
        val cols: Seq[ChColumn] =
          if (colList == null || colList.trim.isEmpty) t.sortedColumns
          else colList.split(",").toSeq.map(_.trim.stripPrefix("`").stripSuffix("`"))
            .map(n => byName.getOrElse(n,
              throw new IllegalArgumentException(s"no column $n in $table")))
        val insertBody = if (param(q, "query").isDefined) body else Array.empty[Byte]
        val rows = RowBinary.decodeRows(cols.map(_.chType), insertBody)
        // re-order to the table's declared column order for storage
        val destIdx = cols.map(c => t.columns.indexWhere(_.name == c.name))
        val list = store.computeIfAbsent(table,
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Array[String]]()))
        rows.foreach { r =>
          val full = new Array[String](t.columns.size)
          destIdx.zipWithIndex.foreach { case (di, si) => full(di) = r(si) }
          list.add(full)
        }
        applied.add(s"INSERT $table")
        respond(ex, 200, Array.emptyByteArray)

      case CreateRe(table, colsSpec, engine, engineArgs, orderBy) =>
        ddlRequests.incrementAndGet()
        if (!tables.containsKey(table)) {
          val cols = splitTopLevel(colsSpec).map { c =>
            val trimmed = c.trim
            val sp = trimmed.indexOf(' ')
            val name = trimmed.substring(0, sp).stripPrefix("`").stripSuffix("`")
            ChColumn(name, ChType.parse(trimmed.substring(sp + 1).trim))
          }
          tables.put(table, ChTable(table, cols))
          val ver = Option(engineArgs).map(_.trim.stripPrefix("`").stripSuffix("`")).getOrElse("")
          val key = Option(orderBy).map(_.split(",").toSeq
            .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty))
            .getOrElse(Seq.empty)
          engines.put(table, (engine, ver, key))
        }
        applied.add(s"CREATE $table")
        respond(ex, 200, Array.emptyByteArray)

      case SelectRe(proj, table, whereCol, whereVal, orderCol, limit) =>
        val t = tables.get(table)
        if (t == null) { fail(ex, 404, s"Code: 60. Table $table doesn't exist"); return }
        val names = t.columns.map(_.name)
        val projCols: Seq[Int] =
          if (proj.trim == "*") names.indices
          else proj.split(",").toSeq.map(_.trim.stripPrefix("`").stripSuffix("`"))
            .map(n => names.indexOf(n))
        if (projCols.contains(-1)) { fail(ex, 400, s"unknown column in '$proj'"); return }
        var rows = select(table)
        if (whereCol != null) {
          val wi = names.indexOf(whereCol)
          rows = rows.filter(r => r(wi) == whereVal)
        }
        if (orderCol != null) {
          val oi = names.indexOf(orderCol)
          rows = rows.sortBy(r => BigInt(r(oi))).reverse
        }
        if (limit != null) rows = rows.take(limit.toInt)
        val out = new RowBinary.Buf(1024)
        rows.foreach { r =>
          projCols.foreach(i => RowBinary.writeValue(out, t.columns(i).chType, r(i)))
        }
        val payload = out.toBytes
        val compressed = param(q, "compress").contains("1")
        val resp =
          if (compressed) {
            val bos = new ByteArrayOutputStream()
            ChNativeCodec.writeFrames(bos, payload)
            bos.toByteArray
          } else payload
        respond(ex, 200, resp)

      case s if s.trim.toUpperCase.startsWith("SET ") =>
        respond(ex, 200, Array.emptyByteArray)

      case other =>
        fail(ex, 400, s"Code: 62. Syntax error (unsupported by fixture): $other")
    }
  } catch {
    case e: Exception =>
      fail(ex, 500, s"Code: 33. ${e.getClass.getSimpleName}: ${e.getMessage}")
  }

  /** Split a DDL column list on top-level commas (Decimal(38, 10) safe). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq.filter(_.trim.nonEmpty)
  }

  override def close(): Unit = {
    server.stop(0)
    pool.shutdown()
  }
}
