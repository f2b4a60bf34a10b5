package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.Snapshot

/** WARC (Web ARChive, ISO 28500) record ingestion — the format web-scale
  * text corpora actually arrive in (Common Crawl ships response captures as
  * concatenated WARC records). This is the record-splitting layer between
  * the opaque-bytes front door ([[graft.ext.BinaryIngest]]) and the
  * documents table: one binary file in, one row PER RECORD out.
  *
  * Scale shape: `binaryFile` lists and splits BY FILE (parallelism = file
  * count; crawl deliveries are ~1 GiB per WARC, thousands of files), the
  * driver never sees a payload byte, and the splitter is ONE codegen'd
  * Catalyst expression per file row — no per-record UDF, no shuffle until
  * the caller aggregates. This mirrors how production WARC pipelines run
  * Spark over Common Crawl: per-file tasks, records exploded inside the
  * task. Real crawl deliveries frame each record as its own GZIP MEMBER
  * (concatenated members per file — what makes a .warc.gz seekable by
  * offset); [[parseRecordsGz]] walks the member stream and parses each
  * inflated record, so both the plain and the delivered container shape
  * are first-class.
  *
  * STRICT parser: a malformed version line, a missing Content-Length, or a
  * torn record boundary throws with the byte offset — an ingest that
  * silently resynchronizes would hide data loss. Error-budget ingestion
  * belongs to a permissive wrapper, not to the splitter.
  */
object Warc {

  /** One parsed record: raw header values + payload + the record's byte
    * offset in its file — offsets are the audit trail (a CDX-style index
    * is exactly (file, offset, length) rows). */
  val recordType: StructType = StructType(Seq(
    StructField("warc_type", StringType, nullable = true),
    StructField("record_id", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  private val Crlf = "\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Split concatenated WARC records. Strict ISO 28500 framing: version
    * line `WARC/1.0|1.1`, CRLF-terminated `Name: value` headers, blank
    * line, `Content-Length` payload bytes, then exactly CRLF CRLF. */
  def parseRecords(bytes: Array[Byte]): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var pos = 0
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"WARC parse error at byte $pos: $msg")
    def readLine(): String = {
      val start = pos
      while (pos < bytes.length - 1 &&
        !(bytes(pos) == '\r' && bytes(pos + 1) == '\n')) pos += 1
      if (pos >= bytes.length - 1) fail("unterminated header line")
      val s = new String(bytes, start, pos - start,
        java.nio.charset.StandardCharsets.UTF_8)
      pos += 2
      s
    }
    while (pos < bytes.length) {
      val offset = pos
      val version = readLine()
      if (version != "WARC/1.0" && version != "WARC/1.1")
        fail(s"expected WARC version line, got '${version.take(32)}'")
      var warcType: UTF8String = null
      var recordId: UTF8String = null
      var warcDate: UTF8String = null
      var targetUri: UTF8String = null
      var contentLength = -1L
      var line = readLine()
      while (line.nonEmpty) {
        val i = line.indexOf(':')
        if (i < 0) fail(s"malformed header '${line.take(32)}'")
        val name = line.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(i + 1).trim
        name match {
          case "warc-type" => warcType = UTF8String.fromString(value)
          case "warc-record-id" => recordId = UTF8String.fromString(value)
          case "warc-date" => warcDate = UTF8String.fromString(value)
          case "warc-target-uri" => targetUri = UTF8String.fromString(value)
          case "content-length" =>
            contentLength = try value.toLong
            catch { case _: NumberFormatException => fail(s"bad Content-Length '$value'") }
          case _ => () // Content-Type etc.: framing doesn't need them
        }
        line = readLine()
      }
      if (contentLength < 0) fail("record without Content-Length")
      if (pos + contentLength + 4 > bytes.length)
        fail(s"payload of $contentLength bytes overruns the file")
      val payload = java.util.Arrays.copyOfRange(bytes, pos, pos + contentLength.toInt)
      pos += contentLength.toInt
      if (!(bytes(pos) == Crlf(0) && bytes(pos + 1) == Crlf(1) &&
            bytes(pos + 2) == Crlf(0) && bytes(pos + 3) == Crlf(1)))
        fail("record not terminated by CRLF CRLF")
      pos += 4
      out += new GenericInternalRow(Array[Any](
        warcType, recordId, warcDate, targetUri, contentLength,
        offset.toLong, payload))
    }
    new GenericArrayData(out.toArray)
  }

  /** Inflate a concatenated-gzip-member stream (the .warc.gz container:
    * one member per record) and split the records. Offsets are positions
    * in the DECOMPRESSED stream — identical to the plain-file geometry,
    * which is what makes the gz lane share the plain lane's oracle; a
    * CDX-style compressed-offset index would track member boundaries in
    * the writer instead. */
  def parseRecordsGz(bytes: Array[Byte]): GenericArrayData = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val inflated = try in.readAllBytes() finally in.close()
    parseRecords(inflated)
  }

  def warc_records(content: Column): Column =
    ColumnBridge.column(WarcParse(ColumnBridge.expression(content)))

  def warc_records_gz(content: Column): Column =
    ColumnBridge.column(WarcParse(ColumnBridge.expression(content), gz = true))

  /** Directory of `*.warc` files → one row per record (+ source path and
    * in-file record index). Per-file parallelism; nothing driver-side. */
  def records(spark: SparkSession, dir: String): DataFrame =
    recordsWith(spark, dir, "*.warc", warc_records)

  /** The same over `*.warc.gz` deliveries (per-record gzip members). */
  def recordsGz(spark: SparkSession, dir: String): DataFrame =
    recordsWith(spark, dir, "*.warc.gz", warc_records_gz)

  private def recordsWith(spark: SparkSession, dir: String, glob: String,
      parse: Column => Column): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"),
        posexplode(parse(col("content"))).as(Seq("rec_idx", "r")))
      .select(col("path"), col("rec_idx"), col("r.*"))

  // ---- deterministic fixture ------------------------------------------

  /** Fixture epoch: 2026-01-01T00:00:00Z; record i is stamped epoch+i s. */
  val FixtureEpoch: Long = 1767225600L

  private val DateFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  /** The exact bytes of one fixture response record — shared by the writer
    * and WarcSpec, and replayed ARITHMETICALLY by the lane's oracle (the
    * record geometry is a pure function of (doc_id, text)). */
  def fixtureRecord(docId: Long, text: String): Array[Byte] =
    fixtureRecordWith(docId,
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8), "text/plain")

  /** The crawl-shaped variant: the payload is a full HTTP/1.1 response
    * (status line + headers + HTML body — [[HttpPayload]]'s fixture), the
    * record Content-Type the standard `application/http; msgtype=response`.
    * Still a pure function of (doc_id, text), so the WARC→HTTP→HTML lanes
    * rebuild every byte in SQL. */
  def fixtureRecordHttp(docId: Long, text: String): Array[Byte] =
    fixtureRecordWith(docId, HttpPayload.httpResponsePayload(docId, text),
      "application/http; msgtype=response")

  private def fixtureRecordWith(docId: Long, payload: Array[Byte],
      contentType: String): Array[Byte] = {
    val header =
      s"WARC/1.0\r\n" +
        s"WARC-Type: response\r\n" +
        s"WARC-Record-ID: <urn:graft:doc:$docId>\r\n" +
        s"WARC-Date: ${DateFmt.format(java.time.Instant.ofEpochSecond(FixtureEpoch + docId))}\r\n" +
        s"WARC-Target-URI: https://example.org/doc/$docId\r\n" +
        s"Content-Type: $contentType\r\n" +
        s"Content-Length: ${payload.length}\r\n" +
        "\r\n"
    val hb = header.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val outBytes = new Array[Byte](hb.length + payload.length + 4)
    System.arraycopy(hb, 0, outBytes, 0, hb.length)
    System.arraycopy(payload, 0, outBytes, hb.length, payload.length)
    System.arraycopy("\r\n\r\n".getBytes, 0, outBytes, hb.length + payload.length, 4)
    outBytes
  }

  /** Content-keyed cached fixture ([[graft.Snapshot]]): documents
    * with doc_id < `maxDocs` become response records, grouped into
    * `nFiles` WARC files by doc_id % nFiles (hash-partitioned so each
    * group lands whole in one task; groups sharing a task still write
    * their own file), records in doc_id order within a file — the layout
    * the oracle's per-group running-sum offset replay assumes. Written on
    * executors, atomically published. */
  def fixtureCached(docs: DataFrame, sfDir: String, maxDocs: Int = 500,
      nFiles: Int = 4, gzMembers: Boolean = false,
      http: Boolean = false): String = {
    val suffix = (if (http) "_http" else "") +
      (if (gzMembers) "_gz_v1" else "_v1")
    val ext = if (gzMembers) ".warc.gz" else ".warc"
    Snapshot.cached(Snapshot.path("graft_warc_", sfDir,
        s"${maxDocs}_$nFiles$suffix", "documents.parquet")) { tmp =>
      docs.filter(col("doc_id") < maxDocs)
        .select(col("doc_id").cast("long"), col("text"),
          pmod(col("doc_id"), lit(nFiles)).cast("int").as("g"))
        .repartition(nFiles, col("g"))
        .sortWithinPartitions(col("g"), col("doc_id"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          var cur = -1
          var os: java.io.OutputStream = null
          rows.foreach { r =>
            val g = r.getInt(2)
            if (g != cur) {
              if (os != null) os.close()
              cur = g
              os = java.nio.file.Files.newOutputStream(
                java.nio.file.Paths.get(tmp, f"part-$g%03d$ext"))
            }
            val rec = if (http) fixtureRecordHttp(r.getLong(0), r.getString(1))
              else fixtureRecord(r.getLong(0), r.getString(1))
            if (gzMembers) {
              // one gzip MEMBER per record — the Common Crawl container.
              // close() through a close-shield so each member's native
              // Deflater is released eagerly (advice r16: finish() alone
              // leaves it to the finalizer) while the file stream stays open
              val shield = new java.io.FilterOutputStream(os) {
                override def close(): Unit = flush()
              }
              val gzo = new java.util.zip.GZIPOutputStream(shield)
              gzo.write(rec)
              gzo.close() // finishes the member trailer + ends the Deflater
            } else os.write(rec)
          }
          if (os != null) os.close()
        }
    }
  }
}

/** BINARY (one WARC file's bytes) → ARRAY<STRUCT> of its records. Codegen
  * via a static call, like the protobuf codec — the record loop runs
  * inside whole-stage codegen, one invocation per FILE row. `gz` inflates
  * the concatenated gzip members first (the .warc.gz delivery container). */
case class WarcParse(child: Expression, gz: Boolean = false)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(Warc.recordType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    if (gz) Warc.parseRecordsGz(input.asInstanceOf[Array[Byte]])
    else Warc.parseRecords(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (gz) "parseRecordsGz" else "parseRecords"
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.sources.Warc.$fn($b);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
