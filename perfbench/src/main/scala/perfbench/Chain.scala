package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.{BlockMsg, BlockScoped, ChColumn, ChTable, ChType, UndoSignal}
import graft.model.{Clock => ChainClock}
import graft.pipeline.ChangePipeline
import graft.sink.{ClickHouseHttpServer, ClickHouseHttpSink}
import graft.sources.{ChainSource, GrpcChainServer}
import graft.state.FinalityBuffer
import graft.streaming.{GraftStream, StreamingFinality}

/** Workload `chain` — the loader's own job in its two operating modes: gRPC
  * h2 → finality/undo fold → route/cast → RowBinary/LZ4 → ClickHouse HTTP +
  * cursor, with reorgs on and one tiny row per block, so per-message and
  * per-batch costs dominate.
  *
  *  - catch-up: closed loop, every message already available, large batches;
  *  - tip: restart from the same checkpoint (cursor resume), open loop —
  *    [[MeteredFetcher]] releases seq `s` at a fixed rate below capacity,
  *    and each released block is timed from the due time of the message
  *    that released it to the return of the `writeBatch` that carried it.
  *
  * Why: it is the path the system exists for, and the only workload that
  * runs the `sources` and `state` layers. */
object Chain {
  val catalog = Seq(ChTable("blocks", Seq(
    ChColumn("height", ChType.ChUInt64),
    ChColumn("fork", ChType.ChUInt32))))

  final case class Plan(start: Long, catchup: Long, tip: Long, reorgEvery: Long,
      reorgDepth: Long, finalityLag: Long, catchupPerBatch: Long,
      tipPerBatch: Long, tipRate: Double, warmup: Long) {
    def catchupEnd: Long = start + catchup
    def tipEnd: Long = catchupEnd + tip
    /** Options of the generator the server serves and the replay reads. */
    def gen: Map[String, String] = Map(
      "reorgEvery" -> reorgEvery.toString, "reorgDepth" -> reorgDepth.toString,
      "finalityLag" -> finalityLag.toString, "numPartitions" -> "4",
      "totalBlocks" -> Long.MaxValue.toString, "maxRetries" -> "5")
  }

  /** Inputs from the seed: where on the sequence the run starts and the
    * reorg cadence and depth; sizes from the run length. */
  def plan(seed: Long, seconds: Int): Plan = {
    val rnd = new scala.util.Random(seed)
    Plan(
      start = 1000L * (1 + rnd.nextInt(1000)),
      catchup = 500L * math.max(2, seconds / 5),
      tip = math.max(120L, (seconds * 5).toLong + 20L),
      reorgEvery = 90L + rnd.nextInt(21),
      reorgDepth = 2L + rnd.nextInt(3),
      finalityLag = 12L,
      catchupPerBatch = 500L,
      tipPerBatch = 40L,
      tipRate = 20.0,
      warmup = 20L)
  }

  def cfgOf(opts: Map[String, String]): ChainSource.Config =
    ChainSource.config(new CaseInsensitiveStringMap(opts.asJava))

  /** The message at `seq` as the source delivers it (payload elided: the
    * release schedule depends only on heights, ids and finality). */
  def msgAt(seq: Long, cfg: ChainSource.Config): BlockMsg = {
    val e = ChainSource.envelopeAt(seq, cfg)
    if (e.isUndo) BlockMsg.undo(seq, UndoSignal(e.lastValid, e.lastValidCursor))
    else BlockMsg.data(seq, BlockScoped(
      ChainClock(s"b${e.height}-f${e.fork}", e.height, new Timestamp(e.tsMicros / 1000)),
      e.cursor, e.finalHeight, Seq.empty))
  }

  /** For every seq in [from, until): the numbers of the blocks its arrival
    * released, folding the finality buffer from `from`. */
  def releasesBySeq(from: Long, until: Long, cfg: ChainSource.Config): Map[Long, Seq[Long]] = {
    var st = FinalityBuffer.empty
    (from until until).map { s =>
      val (st2, rel) = FinalityBuffer.step(st, msgAt(s, cfg))
      st = st2
      s -> rel.map(_.clock.number)
    }.toMap
  }

  final class Servers(val grpc: GrpcChainServer, val ch: ClickHouseHttpServer) {
    def close(): Unit = { grpc.close(); ch.close() }
  }

  def stream(spark: SparkSession, opts: Map[String, String], ckpt: String)(
      write: (Dataset[BlockScoped], Long) => Unit) = {
    implicit val enc = Encoders.product[BlockMsg]
    var r = spark.readStream.format("graft.sources.ChainSource")
    opts.foreach { case (k, v) => r = r.option(k, v) }
    GraftStream.startWith(r.load().as[BlockMsg], ckpt)(write)
  }

  def sourceOpts(p: Plan, grpcPort: Int, perBatch: Long, from: Long, until: Long): Map[String, String] =
    p.gen ++ Map("fetcherClass" -> "perfbench.MeteredFetcher",
      "endpoint" -> s"127.0.0.1:$grpcPort", "blocksPerTrigger" -> perBatch.toString,
      "startBlock" -> from.toString, "endBlock" -> until.toString)

  /** One set-up: both servers, plus a short untimed stream over a disjoint
    * seq range into a scratch endpoint, so codegen and connection paths are
    * warm before anything is timed. */
  def setUp(spark: SparkSession, p: Plan, work: String, rep: Int): Servers = {
    Meter.reset()
    val servers = new Servers(new GrpcChainServer(cfgOf(p.gen)), new ClickHouseHttpServer())
    val scratch = new ClickHouseHttpServer()
    try {
      val sink = new ClickHouseHttpSink(catalog, scratch.url, "warmup")
      val from = p.start + 100000000L
      val q = stream(spark, sourceOpts(p, servers.grpc.port, p.warmup, from, from + p.warmup),
        s"$work/warmup-$rep-${System.nanoTime}")(sink.writeBatch)
      q.processAllAvailable(); q.stop()
    } finally scratch.close()
    Meter.reset()
    servers
  }

  def run(spark: SparkSession, ctx: Run, reps: Int, tipPhase: Boolean = true): Map[String, Any] = {
    val p = plan(ctx.seed, ctx.seconds)
    val servers = ctx.setUpRepeated(rep => setUp(spark, p, ctx.work, rep))(_.close(), reps)
    try measure(spark, ctx, p, servers, tipPhase)
    finally servers.close()
  }

  /** Catch-up then tip, on one checkpoint and one endpoint. */
  def measure(spark: SparkSession, ctx: Run, p: Plan, servers: Servers,
      tipPhase: Boolean = true): Map[String, Any] = {
    val rec = ctx.rec
    val ckpt = s"${ctx.work}/ckpt-${ctx.tag}"
    val callsBefore = servers.grpc.calls.get()
    val proxy = if (rec.tracing) Some(new ByteProxy(servers.ch.port)) else None
    val sink = new ClickHouseHttpSink(catalog, proxy.map(_.url).getOrElse(servers.ch.url), "bench")
    val writes = new ConcurrentLinkedQueue[Map[String, Any]]()
    def probe(phase: String)(ds: Dataset[BlockScoped], id: Long): Unit = {
      val t0 = Wall.nowMs
      sink.writeBatch(ds, id)
      writes.add(Map("phase" -> phase, "batch" -> id, "start" -> t0, "end" -> Wall.nowMs))
    }

    rec.attach(spark)
    val t0 = Wall.nowMs
    val q1 = stream(spark, sourceOpts(p, servers.grpc.port, p.catchupPerBatch, p.start, p.catchupEnd),
      ckpt)(probe("catchup"))
    q1.processAllAvailable()
    val catchupWall = (Wall.nowMs - t0) / 1000.0
    q1.stop()
    val progress = q1.recentProgress.toSeq.map(Recorder.progressJson(_, "catchup"))
    val t1 = Wall.nowMs

    val (tipProgress, end) = if (!tipPhase) (Seq.empty, p.catchupEnd) else {
      Meter.pace(p.catchupEnd, p.tipRate)
      val q2 = stream(spark, sourceOpts(p, servers.grpc.port, p.tipPerBatch, p.catchupEnd, p.tipEnd),
        ckpt)(probe("tip"))
      q2.processAllAvailable()
      q2.stop()
      (q2.recentProgress.toSeq.map(Recorder.progressJson(_, "tip")), p.tipEnd)
    }
    val tipWall = (Wall.nowMs - t1) / 1000.0
    rec.detach(spark)
    val bytesSent = proxy.map(_.bytesUp.get).getOrElse(0L)

    // tip latency: released block ← releasing seq ← its batch's writeBatch
    // end. A batch admits its whole offset range at once and its fetches
    // wait for the last seq of it to be due, so part of each latency is the
    // schedule's pacing: due(last seq of the batch) - due(releasing seq).
    val cfg = cfgOf(p.gen)
    val releases = releasesBySeq(p.start, end, cfg)
    val writeEnd = writes.asScala.filter(_("phase") == "tip")
      .map(w => w("batch").asInstanceOf[Long] -> w("end").asInstanceOf[Double]).toMap
    val samples = tipProgress.filter(_("rows").asInstanceOf[Long] > 0).flatMap { pr =>
      val b = pr("batch").asInstanceOf[Long]
      val (s, e) = (pr("start_offset").toString.toLong, pr("end_offset").toString.toLong)
      (s until e).flatMap(seq => releases(seq).map(_ =>
        (writeEnd(b) - Meter.dueMs(seq), Meter.dueMs(e - 1) - Meter.dueMs(seq))))
    }
    Meter.unpace()

    val served = (p.start until end)
      .map(s => Option(servers.grpc.served.get(s)).map(_.intValue).getOrElse(0)).sum
    val report = try verify(spark, p, end, servers.ch, sink) finally proxy.foreach(_.close())
    val released = releases.values.map(_.size).sum
    Map(
      "parity" -> report,
      "catchup_msgs" -> p.catchup, "catchup_wall_s" -> catchupWall,
      "tip_msgs" -> (end - p.catchupEnd), "tip_rate" -> p.tipRate, "tip_wall_s" -> tipWall,
      "measured_wall_s" -> (catchupWall + tipWall),
      "tip_latency_ms" -> samples.map(_._1),
      "tip_pacing_ms" -> samples.map(_._2),
      "progress" -> (progress ++ tipProgress),
      "write_batches" -> writes.asScala.toSeq,
      "fetches" -> Meter.fetches.asScala.toSeq.map(f =>
        Seq(f(0), if (f(1).isNaN) None else Some(f(1)), f(2), f(3), f(4))),
      "counters" -> Map(
        "fetch_calls" -> Meter.calls.get, "fetch_failed" -> Meter.failed.get,
        "calls_opened" -> (servers.grpc.calls.get() - callsBefore),
        "served" -> served, "committed_msgs" -> (end - p.start),
        "blocks_released" -> released,
        "undos" -> (p.start until end).count(s => ChainSource.envelopeAt(s, cfg).isUndo),
        "insert_requests" -> servers.ch.insertRequests.get(), "bytes_sent" -> bytesSent,
        "rows_landed" -> servers.ch.rowCount("blocks")),
      "inputs" -> Map("start" -> p.start, "reorg_every" -> p.reorgEvery,
        "reorg_depth" -> p.reorgDepth, "finality_lag" -> p.finalityLag,
        "catchup_per_batch" -> p.catchupPerBatch, "tip_per_batch" -> p.tipPerBatch))
  }

  /** Sink table and recovered cursor against a batch replay of the same
    * messages (`StreamingFinality.released` then `ChangePipeline.process`). */
  def verify(spark: SparkSession, p: Plan, end: Long, ch: ClickHouseHttpServer,
      sink: ClickHouseHttpSink): Parity.Report = {
    implicit val enc = Encoders.product[BlockMsg]
    var r = spark.read.format("graft.sources.ChainSource")
    (p.gen ++ Map("startBlock" -> p.start.toString, "endBlock" -> end.toString))
      .foreach { case (k, v) => r = r.option(k, v) }
    val released = StreamingFinality.released(r.load().as[BlockMsg]).cache()
    try {
      val cols = Seq("height", "fork")
      val expected = Parity.replayRows("blocks",
        ChangePipeline.process(released, catalog)("blocks"), cols)
      val t = ch.tables.get("blocks")
      val idx = ("block_num" +: "block_id" +: cols).map(c => t.columns.indexWhere(_.name == c))
      val landed = ch.select("blocks").map(row =>
        Parity.BlockRow("blocks", row(idx(0)).toLong, row(idx(1)), idx.drop(2).map(row(_))))
      val top = released.toDF().orderBy(col("clock.number").desc).limit(1)
        .select(col("clock.number"), col("cursor")).collect().headOption
        .map(r => (r.getLong(0), r.getString(1)))
      val cursor = sink.loadCursor(spark).map(c => (c.blockNum, c.cursor))
      Parity.check(expected, landed, top, cursor)
    } finally released.unpersist()
  }
}
