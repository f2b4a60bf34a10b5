package graft.sink

import java.net.{HttpURLConnection, InetSocketAddress, URI}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Dataset

import graft.SparkSpec
import graft.model._

/** The sink's bound plan against its per-batch DataFrame path
  * ([[ClickHouseSinkReference]]): on a multi-table catalog that covers
  * every ChType, in permissive and strict mode, with missing and malformed
  * values, both send the same DDL text and the same RowBinary insert bodies,
  * and land the same rows and cursor. */
class ClickHouseSinkIdentitySpec extends SparkSpec {
  import graft.model.ChType._
  import ClickHouseSinkIdentitySpec._

  private val catalog = Seq(
    ChTable("ints", Seq(
      ChColumn("u8", ChUInt8), ChColumn("u16", ChUInt16), ChColumn("u32", ChUInt32),
      ChColumn("u64", ChUInt64), ChColumn("u128", ChUInt128), ChColumn("u256", ChUInt256),
      ChColumn("i8", ChInt8), ChColumn("i16", ChInt16), ChColumn("i32", ChInt32),
      ChColumn("i64", ChInt64), ChColumn("i128", ChInt128), ChColumn("i256", ChInt256))),
    ChTable("misc", Seq(
      ChColumn("s", ChString), ChColumn("f32", ChFloat32), ChColumn("f64", ChFloat64),
      ChColumn("ok", ChBool), ChColumn("at", ChDateTime), ChColumn("day", ChDate),
      ChColumn("d9", ChDecimal(9, 2)), ChColumn("d18", ChDecimal(18, 4)),
      ChColumn("d38", ChDecimal(38, 10)), ChColumn("lc", ChLowCardinality(ChString)),
      ChColumn("lc_n", ChLowCardinality(ChNullable(ChString))))),
    ChTable("nulls", Seq(
      ChColumn("n_u8", ChNullable(ChUInt8)), ChColumn("n_u64", ChNullable(ChUInt64)),
      ChColumn("n_u256", ChNullable(ChUInt256)), ChColumn("n_i32", ChNullable(ChInt32)),
      ChColumn("n_i128", ChNullable(ChInt128)), ChColumn("n_f64", ChNullable(ChFloat64)),
      ChColumn("n_ok", ChNullable(ChBool)), ChColumn("n_at", ChNullable(ChDateTime)),
      ChColumn("n_day", ChNullable(ChDate)), ChColumn("n_d18", ChNullable(ChDecimal(18, 4))),
      ChColumn("n_s", ChNullable(ChString)))))

  private val ts = Timestamp.valueOf("2023-01-01 00:00:00")

  private def change(table: String, fields: (String, String)*): ChangeRec =
    ChangeRec(table, "", Map.empty, fields.map { case (k, v) => FieldKV(k, v, "") })

  private def block(n: Long, changes: ChangeRec*): BlockScoped =
    BlockScoped(Clock(s"b$n", n, ts), s"c$n", n, changes)

  private val intsMax = change("ints", "u8" -> "255", "u16" -> "65535", "u32" -> "4294967295",
    "u64" -> "18446744073709551615", "u128" -> "340282366920938463463374607431768211455",
    "u256" -> ("115792089237316195423570985008687907853269984665640564039457584007913129639935"),
    "i8" -> "-128", "i16" -> "-32768", "i32" -> "-2147483648", "i64" -> "-9223372036854775808",
    "i128" -> "-170141183460469231731687303715884105728",
    "i256" -> ("-57896044618658097711785492504343953926634992332820282019728792003956564819968"))
  private val intsSmall = change("ints", "u8" -> "0", "u16" -> "7", "u32" -> "42", "u64" -> "0",
    "u128" -> "1", "u256" -> "2", "i8" -> "127", "i16" -> "32767", "i32" -> "2147483647",
    "i64" -> "9223372036854775807", "i128" -> "-1", "i256" -> "0")
  private val misc = change("misc", "s" -> "héllo, \"world\"", "f32" -> "1e-3", "f64" -> "-2.5",
    "ok" -> "1", "at" -> "2023-06-01T12:34:56.789+02:00", "day" -> "2024-02-29",
    "d9" -> "1234567.8", "d18" -> "-12345678901234.5678",
    "d38" -> "1234567890123456789012345678.0123456789", "lc" -> "") // lc_n missing
  private val nullsFull = change("nulls", "n_u8" -> "200", "n_u64" -> "18446744073709551615",
    "n_u256" -> "12345678901234567890123456789", "n_i32" -> "-5", "n_i128" -> "99",
    "n_f64" -> "3.25", "n_ok" -> "false", "n_at" -> "1970-01-01T00:00:01Z",
    "n_day" -> "1970-01-02", "n_d18" -> "0.5", "n_s" -> "x")
  /** Missing fields: every column NULL. */
  private val nullsMissing = change("nulls")
  /** Malformed or out-of-range values: permissive casts turn them NULL. */
  private val nullsMalformed = change("nulls", "n_u8" -> "256", "n_u64" -> "-1",
    "n_u256" -> "abc", "n_i32" -> "1.5", "n_i128" -> "0x10", "n_f64" -> "pi",
    "n_ok" -> "maybe", "n_at" -> "yesterday", "n_day" -> "2023-02-30", "n_d18" -> "1e400")

  /** Two batches, each over three partitions (one empty): the first sends
    * the DDL; blocks without changes and changes to an unknown table count
    * toward the cursor; a duplicated field takes its latest value and a
    * composite key wins over the fields. */
  private def batches(strict: Boolean): Seq[Dataset[BlockScoped]] = {
    val dup = ChangeRec("misc", "", Map("s" -> "from-pk"), misc.fields :+ FieldKV("f64", "7", ""))
    val nullsOdd = if (strict) nullsMissing else nullsMalformed
    Seq(
      partitioned(Seq(block(1, intsMax, misc, nullsFull), block(2)), Seq.empty,
        Seq(block(3, nullsMissing, change("zzz", "a" -> "1")), block(4, intsSmall, dup))),
      partitioned(Seq(block(5, nullsOdd, intsSmall)), Seq(block(6)), Seq(block(7, misc, nullsFull))))
  }

  private def partitioned(parts: Seq[BlockScoped]*): Dataset[BlockScoped] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(parts, parts.size).flatMap(identity))
  }

  /** Runs `write` over `batches` against a fresh endpoint behind a
    * recording proxy; returns what each batch sent and what landed. */
  private def sent(batches: Seq[Dataset[BlockScoped]])(
      write: String => (Dataset[BlockScoped], Long) => Unit): Seq[Sent] = {
    val server = new ClickHouseHttpServer()
    val proxy = new RecordingProxy(server.url)
    try {
      val w = write(proxy.url)
      batches.zipWithIndex.map { case (b, id) =>
        w(b, id.toLong)
        val applied = server.applied.asScala.toSeq
        server.applied.clear()
        Sent(proxy.drain(), applied.sorted, applied.lastOption,
          catalog.map(_.name).filter(server.tables.containsKey)
            .map(t => t -> server.select(t).map(_.toSeq).sortBy(_.mkString("\u0000"))),
          if (server.tables.containsKey("graft_cursors"))
            server.select("graft_cursors").map(_.toSeq) else Nil)
      }
    } finally { proxy.close(); server.close() }
  }

  for (strict <- Seq(false, true)) {
    val mode = if (strict) "strict" else "permissive"
    test(s"$mode: the bound plan sends the reference's DDL and insert bodies byte for byte") {
      val bs = batches(strict)
      val bound = sent(bs)(url => new ClickHouseHttpSink(catalog, url, "chainId", strict = strict).writeBatch)
      val reference = sent(bs)(url =>
        new ClickHouseSinkReference(catalog, url, "chainId", strict = strict).writeBatch)
      assert(bound === reference)
      val first = bound.head
      assert(first.requests.count(_._1.startsWith("CREATE")) === 2 * 4,
        "each non-empty partition sends the DDL of the 3 tables and the cursor table")
      assert(first.requests.count(_._1.startsWith("INSERT INTO `ints`")) === 2)
      assert(first.last === Some("INSERT graft_cursors"))
      assert(bound(1).requests.forall(!_._1.startsWith("CREATE")), "DDL only until a batch went through")
      assert(bound.last.cursor === Seq(Seq("chainId", "c7", "7", "b7")))
      val nulls = bound.flatMap(_.rows.toMap.getOrElse("nulls", Nil))
      assert(nulls.exists(_.count(_ == null) == 11), "missing values travel as NULL")
      val miscRows = bound.flatMap(_.rows.toMap.getOrElse("misc", Nil))
      assert(miscRows.nonEmpty && miscRows.forall(_.count(_ == null) == 1),
        "a missing LowCardinality(Nullable(String)) value lands as NULL")
    }

    test(s"$mode: a row that cannot be encoded fails both paths alike; none of its task's rows lands") {
      val bad = if (strict) intsSmall.copy(fields = intsSmall.fields.map(f =>
        if (f.name == "i32") FieldKV("i32", "x13", "") else f))
        else change("ints", "u8" -> "1")
      val expected = if (strict) "graft strict cast: column 'i32' (ChInt32) rejected value 'x13'"
        else "NULL value for non-Nullable"
      val bs = Seq(partitioned(Seq(block(1, intsSmall, misc), block(2, bad))))
      def failure(write: String => (Dataset[BlockScoped], Long) => Unit): Seq[Sent] =
        sent(bs)(url => { (b, id) =>
          val e = intercept[Exception](write(url)(b, id))
          assert(e.getMessage.contains(expected), e.getMessage)
        })
      val bound = failure(url => new ClickHouseHttpSink(catalog, url, "chainF", strict = strict).writeBatch)
      val reference = failure(url =>
        new ClickHouseSinkReference(catalog, url, "chainF", strict = strict).writeBatch)
      assert(bound === reference)
      assert(bound.head.rows.forall(_._2.isEmpty) && bound.head.cursor.isEmpty)
    }
  }

  test("a FixedString target is refused alike on the first batch, before anything is sent") {
    val cat = Seq(ChTable("fx", Seq(ChColumn("raw", ChFixedString(4)))))
    val bs = Seq(partitioned(Seq(block(1, change("fx", "raw" -> "ab")))))
    def refusal(write: String => (Dataset[BlockScoped], Long) => Unit): (String, Seq[Sent]) = {
      var message = ""
      val s = sent(bs)(url => { (b, id) =>
        message = intercept[IllegalArgumentException](write(url)(b, id)).getMessage
      })
      (message, s)
    }
    val bound = refusal(url => new ClickHouseHttpSink(cat, url, "chainFx").writeBatch)
    val reference = refusal(url => new ClickHouseSinkReference(cat, url, "chainFx").writeBatch)
    assert(bound === reference)
    assert(bound._1.contains("FixedString(4)"), bound._1)
    assert(bound._2.head.requests.isEmpty, "nothing sent")
  }
}

object ClickHouseSinkIdentitySpec {
  /** One batch's traffic: each request's statement and uncompressed body
    * (sorted: tasks run concurrently), the applied log (sorted) and its last
    * entry, each table's rows and the cursor table. */
  final case class Sent(requests: Seq[(String, String)], applied: Seq[String],
      last: Option[String], rows: Seq[(String, Seq[Seq[String]])], cursor: Seq[Seq[String]]) {
    def landed: (Seq[(String, Seq[Seq[String]])], Seq[Seq[String]]) = (rows, cursor)
  }

  /** A loopback HTTP proxy in front of a [[ClickHouseHttpServer]] that
    * records every request it forwards: the `query` parameter and the body,
    * LZ4 frames decoded. */
  final class RecordingProxy(target: String,
      onForward: String => Unit = _ => ()) extends AutoCloseable {
    private val seen = new ConcurrentLinkedQueue[(String, String)]()
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
    private val pool = Executors.newFixedThreadPool(8)
    server.createContext("/", (ex: HttpExchange) => forward(ex))
    server.setExecutor(pool)
    server.start()

    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

    def drain(): Seq[(String, String)] =
      Iterator.continually(seen.poll()).takeWhile(_ != null).toSeq.sorted

    private def forward(ex: HttpExchange): Unit = try {
      val query = ex.getRequestURI.getRawQuery
      val body = ex.getRequestBody.readAllBytes()
      val conn = URI.create(s"$target/?$query").toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      Seq("X-ClickHouse-User", "X-ClickHouse-Key").foreach { h =>
        Option(ex.getRequestHeaders.getFirst(h)).foreach(conn.setRequestProperty(h, _))
      }
      conn.setDoOutput(true)
      conn.getOutputStream.write(body)
      conn.getOutputStream.close()
      val code = conn.getResponseCode
      val reply = Option(if (code / 100 == 2) conn.getInputStream else conn.getErrorStream)
        .map(_.readAllBytes()).getOrElse(Array.emptyByteArray)
      val params = query.split("&").map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      val sql = java.net.URLDecoder.decode(params("query"), StandardCharsets.UTF_8)
      onForward(sql)
      val plain = if (params.get("decompress").contains("1") && body.nonEmpty)
        ChNativeCodec.readFrames(new java.io.ByteArrayInputStream(body)) else body
      seen.add(sql -> plain.map(b => f"${b & 0xFF}%02x").mkString)
      ex.sendResponseHeaders(code, if (reply.isEmpty) -1 else reply.length.toLong)
      if (reply.nonEmpty) ex.getResponseBody.write(reply)
    } catch {
      // an aborted insert: the body never completed, so nothing is forwarded
      case _: java.io.IOException => ()
    } finally ex.close()

    override def close(): Unit = { server.stop(0); pool.shutdown() }
  }
}
