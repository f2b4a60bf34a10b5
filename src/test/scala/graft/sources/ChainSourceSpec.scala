package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.BlockMsg
import graft.streaming.StreamingFinality

class ChainSourceSpec extends SparkSpec {

  private def read(totalBlocks: Long, reorgEvery: Long = 0L, extra: Map[String, String] = Map.empty) = {
    var r = spark.readStream.format("graft.sources.ChainSource")
      .option("totalBlocks", totalBlocks)
      .option("reorgEvery", reorgEvery)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  private def readBatch(opts: Map[String, String]) = {
    var r = spark.read.format("graft.sources.ChainSource")
    opts.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  test("batch read: deterministic envelope stream with reorg undo messages") {
    val df = spark.read.format("graft.sources.ChainSource")
      .option("totalBlocks", 25).option("reorgEvery", 10).option("reorgDepth", 2)
      .load()
    assert(df.count() === 25)
    val kinds = df.groupBy("kind").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds("undo") === 2L) // seq 10 and 20
    assert(kinds("data") === 23L)
    // redelivered heights carry a new fork id
    val forked = df.filter(col("data.clock.id").like("%-f1")).count()
    assert(forked > 0, "post-reorg blocks should have fork-1 ids")
    // undo points just below the pre-reorg head
    val undos = df.filter(col("kind") === "undo")
      .select("seq", "undo.lastValidBlock").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(undos(10L) === 7L)
    assert(undos(20L) === 14L)
  }

  test("streaming: admission control paces batches; offsets resume across restart") {
    val root = Files.createTempDirectory("chainsrc").toString
    val ckpt = s"$root/ckpt"; val out = s"$root/out"

    def runQuery(): Unit = {
      val q = read(40, reorgEvery = 0, extra = Map("blocksPerTrigger" -> "7"))
        .select(col("seq"), col("kind"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    runQuery()
    val seqs1 = spark.read.parquet(out).select("seq").collect().map(_.getLong(0)).sorted
    assert(seqs1.toSeq === (0L until 40L), s"all messages delivered exactly once, got ${seqs1.length}")
    // restart against the same checkpoint: committed offsets mean NO re-delivery
    runQuery()
    val seqs2 = spark.read.parquet(out).select("seq").collect().map(_.getLong(0)).sorted
    assert(seqs2.toSeq === (0L until 40L), "restart must not re-deliver the committed range")
  }

  test("O3: transient faults are retried on the backoff schedule; nothing is lost") {
    val df = spark.read.format("graft.sources.ChainSource")
      .option("totalBlocks", 30).option("failEvery", 7).option("maxRetries", 3)
      .load()
    // every 7th fetch throws once; retry must regenerate the identical message
    assert(df.count() === 30)
    assert(df.select("seq").collect().map(_.getLong(0)).sorted.toSeq === (0L until 30L))
  }

  test("O2: missing token under requireAuth is fatal — no retry, query aborts") {
    // env wins over the option (reference parity), so an exported token
    // would legitimately satisfy requireAuth — skip rather than misreport
    assume(!sys.env.contains("SUBSTREAMS_API_TOKEN"),
      "SUBSTREAMS_API_TOKEN exported in this shell; missing-token case not testable")
    val df = spark.read.format("graft.sources.ChainSource")
      .option("totalBlocks", 5).option("requireAuth", "true")
      .load()
    val e = intercept[Exception] { df.count() }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(_.isInstanceOf[Backoff.FatalException]),
      s"expected fatal-auth short circuit, got $e")
    assert(chain(e).exists(_.isInstanceOf[UnauthenticatedException]))
  }

  test("O2: a provided bearer token satisfies requireAuth") {
    val df = spark.read.format("graft.sources.ChainSource")
      .option("totalBlocks", 5).option("requireAuth", "true").option("token", "tok-123")
      .load()
    assert(df.count() === 5)
  }

  test("O1 transport seam: a custom BlockFetcher class drops in via one option") {
    CountingTestFetcher.reset()
    val df = spark.read.format("graft.sources.ChainSource")
      .option("totalBlocks", 12)
      .option("fetcherClass", "graft.sources.CountingTestFetcher")
      .load()
    assert(df.count() === 12)
    assert(CountingTestFetcher.created.get() === 1, "one fetcher for the read")
    assert(CountingTestFetcher.fetches.get() === 12, "every seq goes through the seam")
    assert(CountingTestFetcher.closes.get() === 1, "channel released at the stop bound")
    // the default (no option) routes through the synthetic implementation
    assert(BlockFetcher.create(ChainSource.config(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of())))
      .isInstanceOf[SyntheticBlockFetcher])
  }

  test("pooled fetcher: one fetcher serves every micro-batch of a stream") {
    CountingTestFetcher.reset()
    val root = Files.createTempDirectory("chainpool").toString
    // a read timeout far past the suite, so this fetcher stays parked
    val q = read(50, extra = Map("blocksPerTrigger" -> "8",
        "readTimeoutMs" -> "3600000", "fetcherClass" -> "graft.sources.CountingTestFetcher"))
      .select(col("seq"))
      .writeStream.format("parquet").option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) === 7)
    val seqs = spark.read.parquet(s"$root/out").collect().map(_.getLong(0)).sorted
    assert(seqs.toSeq === (0L until 50L))
    assert(CountingTestFetcher.created.get() === 1, "one fetcher for the whole stream")
    assert(CountingTestFetcher.fetches.get() === 50)
  }

  test("pooled fetcher: a fetcher idle longer than readTimeout is closed, a stale position replaced") {
    CountingTestFetcher.reset()
    val cfg = ChainSource.config(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("totalBlocks", "31", "readTimeoutMs", "1000",
        "fetcherClass", "graft.sources.CountingTestFetcher")))
    def read(start: Long, end: Long): Unit = {
      val r = new ChainReaderFactory(cfg)
        .createReader(ChainInputPartition(start, end, cfg))
      try while (r.next()) r.get() finally r.close()
    }
    read(0, 5); read(5, 10)
    assert((CountingTestFetcher.created.get(), CountingTestFetcher.closes.get()) === ((1, 0)),
      "the second reader continued the parked fetcher")
    Thread.sleep(1500)
    read(10, 15)
    assert((CountingTestFetcher.created.get(), CountingTestFetcher.closes.get()) === ((2, 1)),
      "the idle fetcher was closed and a new one built")
    read(20, 25) // not where the parked fetcher stands
    assert((CountingTestFetcher.created.get(), CountingTestFetcher.closes.get()) === ((3, 2)))
    assert(CountingTestFetcher.fetches.get() === 20)
  }

  test("end-to-end: chain source through finality buffer releases canonical chain only") {
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.product[BlockMsg]
    val msgs = read(60, reorgEvery = 15, extra = Map("finalityLag" -> "5")).as[BlockMsg]
    val ckpt = Files.createTempDirectory("chainfin").toString
    val q = StreamingFinality.released(msgs)
      .writeStream.format("memory").queryName("canonical")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val released = spark.table("canonical")
      .select(col("clock.number"), col("clock.id")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // no height released twice: undone forks must have been dropped in-buffer
    val byHeight = released.groupBy(_._1)
    assert(byHeight.values.forall(_.length === 1),
      s"double-released heights: ${byHeight.filter(_._2.length > 1).keys}")
    // heights are contiguous from 0
    val hs = released.map(_._1).sorted
    assert(hs.headOption.contains(0L))
    assert(hs.toSeq === (hs.head to hs.last))
  }

  test("a batch read plans ONE input partition over its whole range, an empty range none") {
    def cfg(start: Long, end: Long) = ChainSource.config(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("startBlock", start.toString, "endBlock", end.toString)))
    def planned(start: Long, end: Long) =
      new ChainScan(cfg(start, end)).toBatch.planInputPartitions().toSeq
    assert(planned(35, 150) === Seq(ChainInputPartition(35, 150, cfg(35, 150))))
    assert(planned(150, 150).isEmpty && planned(150, 35).isEmpty)
    val df = readBatch(Map("startBlock" -> "35", "endBlock" -> "150"))
    assert(df.rdd.getNumPartitions === 1)
    assert(df.select("seq").collect().map(_.getLong(0)).toSeq === (35L until 150L))
  }

  test("startBlock/endBlock: batch read covers exactly [startBlock, endBlock)") {
    val df = readBatch(Map("totalBlocks" -> "1000",
      "startBlock" -> "10", "endBlock" -> "20"))
    assert(df.select("seq").collect().map(_.getLong(0)).sorted.toSeq === (10L until 20L))
    // totalBlocks still binds when it is the tighter cap
    val capped = readBatch(Map("totalBlocks" -> "15",
      "startBlock" -> "10", "endBlock" -> "100"))
    assert(capped.select("seq").collect().map(_.getLong(0)).sorted.toSeq === (10L until 15L))
  }

  test("startBlock applies only when cursorless; the checkpoint cursor wins on restart") {
    val root = Files.createTempDirectory("chainrange").toString
    val ckpt = s"$root/ckpt"; val out = s"$root/out"

    def run(opts: Map[String, String]): Unit = {
      var r = spark.readStream.format("graft.sources.ChainSource")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load().select(col("seq"), col("kind"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    // cursorless: starts at 5, completes at the exclusive bound 15
    run(Map("totalBlocks" -> "1000", "startBlock" -> "5", "endBlock" -> "15",
      "blocksPerTrigger" -> "4"))
    val first = spark.read.parquet(out).select("seq").collect().map(_.getLong(0)).sorted
    assert(first.toSeq === (5L until 15L), "cursorless start must honor startBlock and stop at endBlock")
    // restart with a DIFFERENT startBlock and a wider bound: the committed
    // cursor (15) wins — no re-delivery, no backfill below it
    run(Map("totalBlocks" -> "1000", "startBlock" -> "0", "endBlock" -> "25",
      "blocksPerTrigger" -> "4"))
    val second = spark.read.parquet(out).select("seq").collect().map(_.getLong(0)).sorted
    assert(second.toSeq === (5L until 25L).toSeq,
      "restart must resume from the cursor, ignoring the new startBlock")
  }

  test("endBlock below the checkpointed cursor never moves the offset backward") {
    val root = Files.createTempDirectory("chainshrink").toString
    val ckpt = s"$root/ckpt"; val out = s"$root/out"
    def run(opts: Map[String, String]): Unit = {
      var r = spark.readStream.format("graft.sources.ChainSource")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load().select(col("seq"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    run(Map("totalBlocks" -> "1000", "endBlock" -> "30", "blocksPerTrigger" -> "10"))
    // restart with the bound BELOW the committed cursor (30): must hold
    // position and deliver nothing — never regress the offset
    run(Map("totalBlocks" -> "1000", "endBlock" -> "10", "blocksPerTrigger" -> "10"))
    // widen again: only [30, 40) may arrive; a regressed offset would
    // re-deliver [10, 30) here as duplicates
    run(Map("totalBlocks" -> "1000", "endBlock" -> "40", "blocksPerTrigger" -> "10"))
    val seqs = spark.read.parquet(out).select("seq").collect().map(_.getLong(0)).sorted
    assert(seqs.toSeq === (0L until 40L),
      s"shrink-then-widen must deliver each seq exactly once, got ${seqs.length} rows")
  }
}

/** Reflectively-loaded test transport: counts lifecycle events and delegates
  * to the synthetic generator — proves a custom `fetcherClass` (the real
  * gRPC client's seat) is a drop-in with no code change. Top-level class:
  * [[BlockFetcher.create]] needs the single-Config constructor. */
class CountingTestFetcher(cfg: ChainSource.Config) extends BlockFetcher {
  CountingTestFetcher.created.incrementAndGet()
  private val inner = new SyntheticBlockFetcher(cfg)
  override def fetch(seq: Long): org.apache.spark.sql.catalyst.InternalRow = {
    CountingTestFetcher.fetches.incrementAndGet()
    inner.fetch(seq)
  }
  override def close(): Unit = { CountingTestFetcher.closes.incrementAndGet(); () }
}

object CountingTestFetcher {
  val created = new java.util.concurrent.atomic.AtomicInteger
  val fetches = new java.util.concurrent.atomic.AtomicInteger
  val closes = new java.util.concurrent.atomic.AtomicInteger
  def reset(): Unit = { created.set(0); fetches.set(0); closes.set(0) }
}
