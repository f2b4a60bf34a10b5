package graft.sources

import java.util.{Map => JMap}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Custom streaming source implementing the reference's source contract
  * (operators O1-O5, SURVEY §2.1) as a Spark DataSource V2
  * `MicroBatchStream` with **position-as-offset** semantics
  * (`src/substreams_stream.rs:53-149`: the stream resumes from
  * `latest_cursor`; here the checkpointed offset is the client's
  * POSITIONAL count of consumed messages, so a restarted query resumes
  * exactly where it stopped — reference O3's reconnect-resume loop,
  * minus the network). The SERVER-MINTED OPAQUE cursor string travels
  * in the data (`data.cursor`, stored verbatim by the sinks) and is what
  * the TRANSPORT layer returns on reconnect for resume-AFTER
  * ([[EnvelopeWire.mintCursor]], seam closed r14); the offset log never
  * parses it.
  *
  * The in-sandbox "server" is a deterministic synthetic chain generator,
  * served in-process ([[SyntheticBlockFetcher]]) or over gRPC by the
  * fixture server ([[GrpcChainServer]]): block numbers advance
  * monotonically; every `reorgEvery`-th message is a `BlockUndoSignal`
  * rolling back `reorgDepth` blocks, after which the rolled-back heights
  * are re-delivered with new block ids — exactly the envelope stream shape of
  * `BlockResponse::New | Undo` (`src/substreams_stream.rs:21-24`). Finality
  * trails the head by `finalityLag` blocks (`final_block_height`).
  *
  * Scale: every read, batch or streaming, serves its range (a batch read's
  * whole `[startBlock, stopBound)`, or one micro-batch) in ONE input
  * partition, from a fetcher that a per-executor pool ([[FetcherPool]])
  * keeps across micro-batches, so a query holds one long-lived call and
  * reopens it only on error — the reference's one stream per run
  * (`src/substreams_stream.rs:53-149`). The call runs open-ended to the
  * stop bound; messages not yet read wait in the HTTP/2 flow-control
  * window, which is the read-ahead. The chain is one ordered stream that
  * every consumer folds under one key, so parallel readers would only add
  * an exchange; the finality fold runs in the reader's task
  * ([[graft.streaming.GraftStream.startWith]]). Rate limiting =
  * `blocksPerTrigger` (the maxOffsetsPerTrigger analog; reference
  * backpressure is the async await, O3/§4).
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.ChainSource")
  *     .option("blocksPerTrigger", 10)   // msgs admitted per micro-batch
  *     .option("totalBlocks", 1000)      // stop advancing after this many msgs
  *     .option("reorgEvery", 50)         // undo message cadence (0 = never)
  *     .option("reorgDepth", 3)
  *     .option("finalityLag", 12)
  *     .option("token", "…")             // O2: bearer token (env wins)
  *     .option("requireAuth", true)      // synthetic server demands a token
  *     .option("failEvery", 50)          // O3: transient fault injection
  *     .option("maxRetries", 5)
  *     .option("fetcherClass", "…")      // O1: swap in a real transport
  *     .option("endpoint", "host:port")  // O1: where that transport connects
  *     .option("startBlock", 100)        // cursorless start (cursor wins on restart)
  *     .option("endBlock", 500)          // exclusive stop bound — stream completes
  *     .load()                           // schema = BlockMsg
  * }}}
  *
  * Transport seam: every message fetch goes through [[BlockFetcher]]
  * — the synthetic generator is one implementation; the substreams gRPC
  * client ([[GrpcBlockFetcher]]) is the other, selected by the
  * `fetcherClass` option and built executor-side from this same Config
  * (token, connectTimeoutMs, keepaliveMs). Both return the row
  * [[EnvelopeWire.decodeResponse]] builds from a `Response`.
  *
  * Auth (O2) + resilience (O3): the resolved token (env
  * `SUBSTREAMS_API_TOKEN` over the `token` option, reference
  * `src/main.rs:128-131`) is checked on every fetch like the per-request
  * `authorization` header (`src/substreams.rs:56-71`); a missing token under
  * `requireAuth` raises `Unauthenticated`, which [[Backoff]] treats as fatal
  * (no retry). Transient fetch errors (injectable via `failEvery`) retry on
  * the exponential 10 ms → 45 s schedule with reset-on-success.
  */
class ChainSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ChainSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ChainTable(new CaseInsensitiveStringMap(properties))
  override def supportsExternalMetadata(): Boolean = false
}

object ChainSource {
  /** BlockMsg as a Catalyst schema (kept in sync with graft.model.BlockMsg). */
  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("data", StructType(Seq(
      StructField("clock", StructType(Seq(
        StructField("id", StringType),
        StructField("number", LongType),
        StructField("ts", TimestampType)))),
      StructField("cursor", StringType),
      StructField("finalBlockHeight", LongType),
      StructField("changes", ArrayType(StructType(Seq(
        StructField("table", StringType),
        StructField("pk", StringType),
        StructField("compositePk", MapType(StringType, StringType)),
        StructField("fields", ArrayType(StructType(Seq(
          StructField("name", StringType),
          StructField("newValue", StringType),
          StructField("oldValue", StringType))))))))))), nullable = true),
    StructField("undo", StructType(Seq(
      StructField("lastValidBlock", LongType),
      StructField("lastValidCursor", StringType))), nullable = true)))

  final case class Config(blocksPerTrigger: Long, totalBlocks: Long,
      reorgEvery: Long, reorgDepth: Long, finalityLag: Long,
      token: String, requireAuth: Boolean, failEvery: Long, maxRetries: Int,
      connectTimeoutMs: Long, keepaliveMs: Long, fetcherClass: String,
      startBlock: Long, endBlock: Long, endpoint: String,
      tls: Boolean = false, readTimeoutMs: Long = 0L,
      tlsTrustCertPath: String = "", tlsInsecure: Boolean = false) {
    /** The exclusive stop position: the stream completes when the cursor
      * reaches it (reference `end_block`, `src/main.rs:63-66`; `totalBlocks`
      * is the legacy cap and still binds). */
    def stopBound: Long = math.min(totalBlocks, endBlock)
    /** Per-message read deadline: `readTimeoutMs` when set, else the connect
      * timeout (advice r12 — a deployment waiting at chain head must size
      * this above the expected inter-block gap). */
    def readTimeout: Long = if (readTimeoutMs > 0L) readTimeoutMs else connectTimeoutMs
  }

  /** O2 parity: the env token wins over the option, like the reference's
    * SUBSTREAMS_API_TOKEN over the CLI flag (`src/main.rs:128-131`); the
    * resolved token is injected per request (`src/substreams.rs:56-71`). */
  def resolveToken(o: CaseInsensitiveStringMap): String =
    sys.env.getOrElse("SUBSTREAMS_API_TOKEN", o.getOrDefault("token", ""))

  def config(o: CaseInsensitiveStringMap): Config = Config(
    blocksPerTrigger = o.getLong("blocksPerTrigger", 10L),
    totalBlocks = o.getLong("totalBlocks", 1000L),
    reorgEvery = o.getLong("reorgEvery", 0L),
    reorgDepth = o.getLong("reorgDepth", 2L),
    finalityLag = o.getLong("finalityLag", 12L),
    token = resolveToken(o),
    // the synthetic server's stance: demand a bearer token like the real one
    requireAuth = o.getBoolean("requireAuth", false),
    // fault injection: first fetch of every failEvery-th message throws a
    // transient error, exercising the O3 retry path (0 = never)
    failEvery = o.getLong("failEvery", 0L),
    maxRetries = o.getInt("maxRetries", 5),
    // transport knobs, part of the connector contract so a real gRPC channel
    // drops in without an option-surface change; defaults mirror the
    // reference's channel (connect_timeout 10 s, tcp_keepalive 30 s,
    // src/substreams.rs:40-41). The synthetic generator has nothing to time out.
    connectTimeoutMs = o.getLong("connectTimeoutMs", 10000L),
    keepaliveMs = o.getLong("keepaliveMs", 30000L),
    // transport seam (O1): fully-qualified BlockFetcher implementation,
    // instantiated reflectively ON THE EXECUTOR with this Config — a real
    // substreams gRPC client drops in via this one option, no code change
    fetcherClass = o.getOrDefault("fetcherClass", ""),
    // range parity with the reference CLI (`src/main.rs:63-66`): the stream
    // STARTS at startBlock only when no checkpoint cursor exists (cursor
    // wins on recovery, exactly the reference's resume-from-latest_cursor),
    // and COMPLETES when the cursor reaches endBlock (exclusive). Both are
    // positions on the message sequence — the cursor's own coordinate —
    // not chain heights (heights lag seq by reorgDepth+1 per undo; the
    // reference streams by height because its cursor is opaque).
    startBlock = o.getLong("startBlock", 0L),
    endBlock = o.getLong("endBlock", Long.MaxValue),
    endpoint = o.getOrDefault("endpoint", ""),
    // TLS + ALPN h2 on the gRPC transport (the reference's
    // ClientTlsConfig::new(), src/substreams.rs:33-50)
    tls = o.getBoolean("tls", false),
    // separate per-message read deadline; 0 = fall back to connectTimeoutMs
    readTimeoutMs = o.getLong("readTimeoutMs", 0L),
    // trust posture (review r13): default = JVM system roots + hostname
    // verification (tonic's stance); a PEM path trusts that cert instead
    // (the fixture's path); insecure is an EXPLICIT opt-out only
    tlsTrustCertPath = o.getOrDefault("tlsTrustCertPath", ""),
    tlsInsecure = o.getBoolean("tlsInsecure", false))

  /** The synthetic server's model of one message: what the fixture server
    * ([[GrpcChainServer]]) and the in-process generator put on the wire
    * through [[EnvelopeWire.encodeResponse]]. Clients never decode back into
    * it — [[EnvelopeWire.decodeResponse]] builds the source row straight
    * from the `Response` — so a data message's payload is one `blocks`
    * change with `height`/`fork` fields only because this model says so.
    *
    * `cursor` (data) / `lastValidCursor` (undo) are SERVER-MINTED OPAQUE
    * tokens (`EnvelopeWire.mintCursor`) that the client stores verbatim and
    * returns unmodified on resume — the server resumes AFTER them
    * (reference `src/substreams_stream.rs:98-110`; seam closed in r14). */
  final case class Envelope(seq: Long, isUndo: Boolean, height: Long,
      fork: Long, lastValid: Long, finalHeight: Long, tsMicros: Long,
      cursor: String = "", lastValidCursor: String = "")

  /** Deterministic envelope at sequence `seq`: chain state is a pure function
    * of the sequence number, so any reader (or retry) regenerates the exact
    * same envelope — the property that makes offset-resume exactly-once.
    * This is the SERVER role (the gRPC fixture server and the in-process
    * generator all serve from it), so it also mints the opaque cursor:
    * for data, the message's own position; for undo, the undo message's
    * position — resuming after it continues with the replacement fork,
    * exactly the reference's "cursor to continue from" contract. */
  def envelopeAt(seq: Long, cfg: Config): Envelope = {
    val reorg = cfg.reorgEvery > 0 && seq > 0 && seq % cfg.reorgEvery == 0
    // block height delivered at seq: heights replay reorgDepth back after
    // each undo; closed form = seq - (undosBefore * (reorgDepth + 1))
    val undosBefore = if (cfg.reorgEvery > 0) (seq - 1).max(0) / cfg.reorgEvery else 0L
    val height = seq - undosBefore * (cfg.reorgDepth + 1)
    Envelope(seq, isUndo = reorg, height = height, fork = undosBefore,
      lastValid = if (reorg) height - 1 - cfg.reorgDepth else -1L,
      finalHeight = (height - cfg.finalityLag).max(0),
      tsMicros = 1672531200000000L + height * 1000000L, // 2023-01-01 + 1s/block
      cursor = if (reorg) "" else EnvelopeWire.mintCursor(seq),
      lastValidCursor = if (reorg) EnvelopeWire.mintCursor(seq) else "")
  }
}

class ChainTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = "graft_chain"
  override def schema(): StructType = ChainSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ChainScan(ChainSource.config(options))
    }
}

class ChainScan(cfg: ChainSource.Config) extends Scan {
  override def readSchema(): StructType = ChainSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChainMicroBatchStream(cfg)
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      ChainMicroBatchStream.partitions(cfg.startBlock, cfg.stopBound, cfg)
    override def createReaderFactory(): PartitionReaderFactory = new ChainReaderFactory(cfg)
  }
}

/** Offset = count of messages delivered (the cursor). */
case class ChainOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

/** Messages `[start, end)`: a batch read's whole range or one micro-batch.
  * Its reader borrows its fetcher from [[FetcherPool]] and gives it back at
  * `end` when the stream goes on past it. */
case class ChainInputPartition(start: Long, end: Long, cfg: ChainSource.Config)
  extends InputPartition

object ChainMicroBatchStream {
  /** The one reader over `[start, end)`, or none for an empty range (see
    * "Scale:" on [[ChainSource]]). */
  def partitions(start: Long, end: Long, cfg: ChainSource.Config): Array[InputPartition] =
    if (start < end) Array(ChainInputPartition(start, end, cfg)) else Array.empty
}

class ChainMicroBatchStream(cfg: ChainSource.Config)
    extends MicroBatchStream with SupportsAdmissionControl {
  /** Called by Spark ONLY when the checkpoint has no committed offset —
    * which makes `startBlock` exactly the reference's cursorless start
    * (`src/main.rs:63-66`: "start_block if cursor is None"). On recovery
    * the checkpointed cursor wins and startBlock is ignored, even if the
    * restarted query was configured with a different value. */
  override def initialOffset(): Offset = ChainOffset(cfg.startBlock)
  /** admission control = the maxOffsetsPerTrigger analog: each micro-batch
    * admits at most blocksPerTrigger messages past the committed cursor —
    * nothing is skipped, the offset log stays exact. The stream COMPLETES
    * (offset stops advancing) at `stopBound` = min(totalBlocks, endBlock),
    * the reference's stop-at-end_block contract. The clamp to the
    * committed cursor matters: a restart configured with a stopBound BELOW
    * the checkpointed cursor must hold position, never move the offset
    * BACKWARD — a regressed offset would re-deliver the [newBound, cursor)
    * range as duplicates if a later restart widens the bound again. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[ChainOffset].seq
    ChainOffset(math.max(cur,
      math.min(cfg.stopBound, cur + cfg.blocksPerTrigger)))
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-control latestOffset is used")
  override def reportLatestOffset(): Offset = ChainOffset(cfg.stopBound)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def deserializeOffset(json: String): Offset = ChainOffset(json.toLong)
  override def commit(end: Offset): Unit = () // nothing external to ack
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    ChainMicroBatchStream.partitions(
      start.asInstanceOf[ChainOffset].seq, end.asInstanceOf[ChainOffset].seq, cfg)
  override def createReaderFactory(): PartitionReaderFactory = new ChainReaderFactory(cfg)
}

/** Signals the reference's fatal `Unauthenticated` gRPC status — [[Backoff]]
  * treats it as non-retryable (`src/substreams_stream.rs:116-118`). */
final class UnauthenticatedException(msg: String) extends RuntimeException(msg)
  with FatalSourceError

class ChainReaderFactory(cfg: ChainSource.Config) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChainInputPartition]
    new PartitionReader[InternalRow] {
      private var seq = p.start - 1
      private var current: InternalRow = _
      // the transport seam: synthetic generator by default, a real gRPC
      // client via the fetcherClass option — borrowed or built HERE,
      // executor-side
      private val fetcher = FetcherPool.borrow(p.cfg, p.start)

      override def next(): Boolean = {
        seq += 1
        if (seq >= p.end) false
        else {
          current = Backoff.retry(p.cfg.maxRetries,
            isFatal = _.isInstanceOf[FatalSourceError])(() => fetcher.fetch(seq))
          true
        }
      }
      override def get(): InternalRow = current
      /** Only a reader that served its whole range gives its fetcher back,
        * and only if the stream goes on past it (a batch read ends at the
        * stop bound); after a failure or an early stop the fetcher's
        * position is unknown, so it is closed and a retry opens a new call. */
      override def close(): Unit =
        if (seq >= p.end && p.end < p.cfg.stopBound)
          FetcherPool.giveBack(p.cfg, p.end, fetcher)
        else fetcher.close()
    }
  }
}

/** The per-executor pool of chain fetchers, so that one call serves
  * consecutive micro-batches — the way Spark's Kafka source pools its
  * consumers. One slot per [[ChainSource.Config]], holding the fetcher whose
  * call stands at the next seq to read; a reader that starts there takes it
  * and continues the call, any other start closes it and builds a new one.
  * A fetcher idle longer than `cfg.readTimeout` is closed at the next
  * borrow or give-back, so a stopped query does not hold its call. */
private[sources] object FetcherPool {
  private final case class Idle(next: Long, fetcher: BlockFetcher, sinceNanos: Long)
  private val slots = new ConcurrentHashMap[ChainSource.Config, Idle]()

  /** The fetcher whose call already stands at `seq`, or a new one. */
  def borrow(cfg: ChainSource.Config, seq: Long): BlockFetcher = {
    closeIdle()
    val idle = slots.remove(cfg)
    if (idle != null && idle.next == seq) idle.fetcher
    else {
      if (idle != null) idle.fetcher.close() // stale: its call stands elsewhere
      BlockFetcher.create(cfg)
    }
  }

  /** Park `fetcher`, whose call stands at `next`, in `cfg`'s slot. */
  def giveBack(cfg: ChainSource.Config, next: Long, fetcher: BlockFetcher): Unit = {
    val prev = slots.put(cfg, Idle(next, fetcher, System.nanoTime()))
    if (prev != null) prev.fetcher.close()
    closeIdle()
  }

  private def closeIdle(): Unit = {
    val now = System.nanoTime()
    slots.forEach { (cfg, idle) =>
      if (now - idle.sinceNanos > TimeUnit.MILLISECONDS.toNanos(cfg.readTimeout) &&
          slots.remove(cfg, idle))
        idle.fetcher.close()
    }
  }
}
