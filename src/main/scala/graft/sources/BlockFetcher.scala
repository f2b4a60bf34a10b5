package graft.sources

import org.apache.spark.sql.catalyst.InternalRow

/** Transport seam for the chain source (O1).
  *
  * Everything between "a cursor position" and "the message at it" goes
  * through this trait, so the deterministic in-sandbox generator
  * ([[SyntheticBlockFetcher]]) and the substreams gRPC client
  * ([[GrpcBlockFetcher]], one `sf.substreams.rpc.v2.Stream/Blocks` call per
  * batch read or per streaming query, `src/substreams.rs:26-50`) are
  * interchangeable readers. Both return the BlockMsg row that
  * [[EnvelopeWire.decodeResponse]] builds from a `Response`. Every
  * implementation honors the contract:
  *
  *  - construction happens ON THE EXECUTOR with the full [[ChainSource.Config]]
  *    — `token` (O2 auth header), `connectTimeoutMs`/`keepaliveMs` (channel
  *    options), and the partition's own retry budget all travel in it;
  *  - `fetch(seq)` returns the message at that exact cursor position and
  *    must be REPLAYABLE: a retried or restarted reader re-requests the same
  *    seq (the reference resumes from `latest_cursor`,
  *    `src/substreams_stream.rs:53-149`);
  *  - errors a replay would meet again are [[FatalSourceError]]s, auth
  *    failures [[UnauthenticatedException]] among them ([[Backoff]] will
  *    not retry them); transient transport errors throw anything else
  *    (retried on the exponential schedule);
  *  - one fetcher serves a whole read, from its first seq to the stop
  *    bound: a batch read is one reader, and a streaming reader that served
  *    its whole micro-batch gives its fetcher back to [[FetcherPool]], so
  *    the next micro-batch's reader continues with `fetch` at the following
  *    seq. A call should stay open between fetches;
  *  - `close()` releases the channel: at the end of a batch read, after a
  *    failed or stopped reader, or when the pool drops it.
  *
  * CURSOR SEMANTICS at this seam (advice r12; seam CLOSED in r14): the
  * SERVER mints an OPAQUE token per delivered message
  * ([[EnvelopeWire.mintCursor]] — obfuscated + checksummed, clients that
  * try to parse it fail loudly), the client stores the token of the last
  * message it CONSUMED verbatim, returns it unmodified in
  * `Request.start_cursor` on reopen, and the server resumes AFTER it —
  * exactly the reference's replay-verbatim contract
  * (`src/substreams_stream.rs:98-110`). With nothing consumed yet the open
  * is cursorless via `start_block_num`. The `seq` coordinate used by
  * `fetch` and the Spark offset log is the client's own POSITIONAL count
  * of consumed messages, independent of the token — which is why replay
  * stays exact without ever interpreting the cursor.
  *
  * Select an implementation with `.option("fetcherClass", "fqcn")` — the
  * class needs a single-argument `(ChainSource.Config)` constructor. The
  * default (empty or `"synthetic"`) is [[SyntheticBlockFetcher]].
  */
trait BlockFetcher extends AutoCloseable {
  /** The BlockMsg row of the message at cursor position `seq` (blocking). */
  def fetch(seq: Long): InternalRow
  /** Never called: every read runs its call to the stop bound. Kept so
    * that fetchers written against it still compile. */
  def hintRange(start: Long, end: Long): Unit = ()
  override def close(): Unit = ()
}

object BlockFetcher {
  /** Executor-side factory: reflectively instantiate `cfg.fetcherClass`
    * (single `Config` constructor), or the synthetic generator. */
  def create(cfg: ChainSource.Config): BlockFetcher = cfg.fetcherClass match {
    case "" | "synthetic" => new SyntheticBlockFetcher(cfg)
    case cls =>
      Class.forName(cls)
        .getDeclaredConstructor(classOf[ChainSource.Config])
        .newInstance(cfg)
        .asInstanceOf[BlockFetcher]
  }
}

/** The in-sandbox implementation: deterministic synthetic chain (state is a
  * pure function of the sequence number — see [[ChainSource.envelopeAt]]),
  * plus the same auth stance and transient-fault surface the real transport
  * has, so the retry/auth paths are exercised end-to-end without a network.
  * Each message is encoded as the fixture server would send it and decoded
  * by the gRPC client's decoder, so this serves exactly what the wire
  * carries. */
class SyntheticBlockFetcher(cfg: ChainSource.Config) extends BlockFetcher {
  // transient faults fire once per seq (first attempt), so a retried fetch
  // succeeds — the reconnect-and-resume shape of O3
  private val failedOnce = scala.collection.mutable.Set.empty[Long]

  override def fetch(seq: Long): InternalRow = {
    if (cfg.requireAuth && cfg.token.isEmpty)
      throw new UnauthenticatedException(
        "missing bearer token (set the token option or SUBSTREAMS_API_TOKEN)")
    if (cfg.failEvery > 0 && seq > 0 && seq % cfg.failEvery == 0 && failedOnce.add(seq))
      throw new java.io.IOException(s"transient chain error at seq $seq")
    val EnvelopeWire.RowArm(row, _) = EnvelopeWire.decodeResponse(seq,
      EnvelopeWire.encodeResponse(ChainSource.envelopeAt(seq, cfg)))
    row
  }
}
