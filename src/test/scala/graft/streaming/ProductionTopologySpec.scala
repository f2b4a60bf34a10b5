package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec
import graft.ext.{Ranking, Similarity}
import graft.model.{BlockMsg, ChColumn, ChTable, ChType}
import graft.sink.MultiTableSink
import graft.sources.{ChainSource, GrpcChainServer}

/** The composed production topology (VERDICT r12 #5): gRPC source →
  * finality/undo → per-table sink + cursor AND streaming index maintenance
  * on the derived document table — one job, killed mid-run twice (an
  * injected TCP connection drop inside a batch, and an operator
  * stop/restart between runs), then verified: table rows match a batch
  * replay exactly, the sink cursor points at the top released block, and
  * both retrieval indexes probe identically to batch-built equivalents. */
class ProductionTopologySpec extends SparkSpec {

  private val catalog = Seq(ChTable("blocks", Seq(
    ChColumn("height", ChType.ChUInt64),
    ChColumn("fork", ChType.ChUInt32))))

  private val gen = Map(
    "totalBlocks" -> "1000", "reorgEvery" -> "10", "reorgDepth" -> "2",
    "finalityLag" -> "5", "blocksPerTrigger" -> "9",
    "maxRetries" -> "4", "startBlock" -> "0")

  private def cfgOf(opts: Map[String, String]): ChainSource.Config = {
    val jm = new java.util.HashMap[String, String]()
    opts.foreach { case (k, v) => jm.put(k, v) }
    ChainSource.config(new CaseInsensitiveStringMap(jm))
  }

  private def batchMsgs(opts: Map[String, String]) = {
    implicit val enc = Encoders.product[BlockMsg]
    var r = spark.read.format("graft.sources.ChainSource")
    opts.foreach { case (k, v) => r = r.option(k, v) }
    r.load().as[BlockMsg]
  }

  /** Batch replay of the released corpus over [0, end) — the parity oracle
    * for both the table rows and the document derivation. */
  private def releasedReplay(end: Long) =
    StreamingFinality.released(batchMsgs(gen ++ Map("endBlock" -> end.toString)))

  test("MultiTableSink: a re-delivered uncommitted batch overwrites its own generation — zero duplicate rows (r13 review)") {
    val base = Files.createTempDirectory("graft_sink_idem").toString
    val sink = new MultiTableSink(catalog, base, "idem")
    val blocks = releasedReplay(12L)
    val n = blocks.count()
    sink.writeBatch(blocks, 3L)
    sink.writeBatch(blocks, 3L) // crash-replay of the SAME uncommitted batch
    assert(spark.read.parquet(s"$base/data/blocks").count() === n,
      "a replayed batch must replace its own files, not append duplicates")
    // the duplicate cursor row is benign by design: latest-wins recovery
    val cur = sink.loadCursor(spark)
    assert(cur.nonEmpty)
    sink.writeBatch(blocks, 4L) // a DIFFERENT batch id publishes beside it
    assert(spark.read.parquet(s"$base/data/blocks").count() === 2 * n,
      "distinct batch ids accumulate, same ids replace")
  }

  test("composed topology over BOTH wires (r14): gRPC-TLS in, ClickHouse HTTP out — kill + restart converge to replay-exact tables") {
    val base = Files.createTempDirectory("graft_prod_http").toString
    val (ckpt, idxRoot) = (s"$base/ckpt", s"$base/idx")
    val tlsOpts = Map("tls" -> "true",
      "tlsTrustCertPath" -> graft.sources.GrpcChain.serverCertPem.getAbsolutePath)

    val seedDocs = ProductionTopology.docsOf(
      StreamingFinality.released(
        batchMsgs(gen ++ Map("startBlock" -> "900", "endBlock" -> "930"))))
    StreamingIndexMaintenance.initStores(seedDocs, idxRoot,
      "doc_id", "text", "embedding", nCells = 3)

    val server = new GrpcChainServer(cfgOf(gen ++ tlsOpts), failOnceAtSeqs = Set(13L))
    val ch = new graft.sink.ClickHouseHttpServer()
    try {
      def run(endBlock: Long): Unit = {
        implicit val enc = Encoders.product[BlockMsg]
        var r = spark.readStream.format("graft.sources.ChainSource")
        (gen ++ tlsOpts ++ Map("endBlock" -> endBlock.toString,
          "fetcherClass" -> "graft.sources.GrpcBlockFetcher",
          "endpoint" -> s"127.0.0.1:${server.port}"))
          .foreach { case (k, v) => r = r.option(k, v) }
        val q = ProductionTopology.startOverHttp(r.load().as[BlockMsg], catalog,
          ch.url, ckpt, "prod-http", idxRoot)
        q.processAllAvailable(); q.stop()
      }

      run(20) // survives the injected TLS connection kill at seq 13
      assert(server.served.get(13L) === 2,
        "the killed seq must have been re-served after the TLS reconnect")
      run(30) // operator restart: committed batches never replay

      // table parity: rows decoded server-side from the LZ4 RowBinary wire
      // must equal the batch replay exactly
      val replay = graft.pipeline.ChangePipeline.process(
        releasedReplay(30L), catalog)("blocks")
        .select(col("height").cast("string"), col("fork").cast("string"))
        .collect().map(r => Seq(r.getString(0), r.getString(1))).sortBy(_.toString())
      val t = ch.tables.get("blocks")
      val hi = t.columns.indexWhere(_.name == "height")
      val fi = t.columns.indexWhere(_.name == "fork")
      val landed = ch.select("blocks").map(r => Seq(r(hi), r(fi))).sortBy(_.toString())
      assert(landed === replay,
        "blocks table decoded at the HTTP endpoint diverged from the batch replay")
      assert(ch.compressedRequests.get() > 0, "inserts must have traveled LZ4-framed")
      // sink cursor: recovered over the HTTP wire, at the replay's top block
      val sink = new graft.sink.ClickHouseHttpSink(catalog, ch.url, "prod-http")
      val topReplay = releasedReplay(30L).toDF()
        .agg(max(col("clock.number"))).collect().head.getLong(0)
      assert(sink.loadCursor(spark).map(_.blockNum) === Some(topReplay))
      // the index half kept its generations across the same restarts
      assert(StreamingIndexMaintenance.readCursor(idxRoot) >= 1L)
    } finally { server.close(); ch.close() }
  }

  test("composed topology: TCP kill + stop/restart converge to replay-exact tables and indexes") {
    val base = Files.createTempDirectory("graft_prod_topo").toString
    val (outDir, ckpt, idxRoot) = (s"$base/out", s"$base/ckpt", s"$base/idx")

    // seed corpus: a DISJOINT seq range of the same generator (heights
    // ~860+, far from the streamed heights <= 40) — fixes the centroids
    val seedDocs = ProductionTopology.docsOf(
      StreamingFinality.released(
        batchMsgs(gen ++ Map("startBlock" -> "900", "endBlock" -> "930"))))
    StreamingIndexMaintenance.initStores(seedDocs, idxRoot,
      "doc_id", "text", "embedding", nCells = 3)

    // the server kills the TCP connection the first time seq 22 is served
    val server = new GrpcChainServer(cfgOf(gen), failOnceAtSeqs = Set(22L))
    try {
      def run(endBlock: Long): Unit = {
        implicit val enc = Encoders.product[BlockMsg]
        var r = spark.readStream.format("graft.sources.ChainSource")
        (gen ++ Map("endBlock" -> endBlock.toString,
          "fetcherClass" -> "graft.sources.GrpcBlockFetcher",
          "endpoint" -> s"127.0.0.1:${server.port}"))
          .foreach { case (k, v) => r = r.option(k, v) }
        val q = ProductionTopology.start(r.load().as[BlockMsg], catalog,
          outDir, ckpt, "prod", idxRoot)
        q.processAllAvailable(); q.stop()
      }

      run(25) // first run: survives the injected kill, then the operator stops it
      assert(server.served.get(22L) === 2,
        "the killed seq must have been re-served by the reconnected call")
      val sinkMid = new MultiTableSink(catalog, outDir, "prod")
      val midCursor = sinkMid.loadCursor(spark)
      assert(midCursor.nonEmpty, "first run must have persisted a sink cursor")

      run(40) // restart: the checkpoint resumes; committed batches never replay

      // ---- 1. table rows: exact set parity with the batch replay
      val replayBlocks = graft.pipeline.ChangePipeline.process(
        releasedReplay(40L), catalog)("blocks")
        .select(col("height").cast("string"), col("fork").cast("string"))
        .collect().map(_.toSeq).sortBy(_.toString)
      val streamedBlocks = spark.read.parquet(s"$outDir/data/blocks")
        .select(col("height").cast("string"), col("fork").cast("string"))
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(streamedBlocks.length === replayBlocks.length,
        s"row count: streamed ${streamedBlocks.length} vs replay ${replayBlocks.length}")
      assert(streamedBlocks.toSeq === replayBlocks.toSeq,
        "streamed blocks table diverged from the batch replay")

      // ---- 2. sink cursor: the top released block, advanced past run 1
      val sink = new MultiTableSink(catalog, outDir, "prod")
      val cur = sink.loadCursor(spark).get
      val topReplay = releasedReplay(40L).toDF()
        .agg(max(col("clock.number"))).collect().head.getLong(0)
      assert(cur.blockNum === topReplay,
        s"sink cursor at ${cur.blockNum}, replay top block $topReplay")
      assert(cur.blockNum > midCursor.get.blockNum,
        "the restart must have advanced the cursor beyond run 1")

      // ---- 3. index stores: probe parity with batch-built equivalents
      // over the full corpus (seed + streamed docs)
      val streamedDocs = ProductionTopology.docsOf(releasedReplay(40L))
      val corpus: DataFrame = seedDocs.unionAll(streamedDocs)
      val nCorpus = corpus.count()
      assert(StreamingIndexMaintenance.readCursor(idxRoot) >= 1L,
        "the index cursor must have advanced across micro-batches")
      val idx = Similarity.ivfRead(spark, s"$idxRoot/ivf")
      assert(idx.assigned.count() === nCorpus,
        "assigned rows must equal seed + streamed docs — no loss, no dups")
      val qvec = Similarity.queryVector(corpus, "doc_id", "embedding",
        corpus.select(min("doc_id")).collect().head.getLong(0))
      def probe(assigned: DataFrame) =
        Similarity.ivfProbe(assigned, idx.centroids, "doc_id", "embedding",
          qvec, k = 5, nprobe = 2).collect().map(_.toSeq).toSeq
      assert(probe(idx.assigned) ===
        probe(Similarity.ivfAssign(corpus, "doc_id", "embedding", idx.centroids)),
        "IVF probe diverged from a one-shot batch assignment")
      val terms = Seq("alpha", "gamma", "theta")
      assert(Ranking.bm25TopKIndexed(spark, s"$idxRoot/bm25", terms)
          .collect().map(_.toSeq).toSeq ===
        Ranking.bm25TopK(corpus, "text", "doc_id", terms)
          .collect().map(_.toSeq).toSeq,
        "BM25 store diverged from direct full-corpus scoring")
    } finally server.close()
  }

  test("CDC over the real wire (r17): gRPC-TLS chain -> versioned stores, kill + restart, probes match the fresh build bit-for-bit") {
    val base = Files.createTempDirectory("graft_prod_cdc").toString
    val (ckpt, idxRoot) = (s"$base/ckpt", s"$base/idx")
    val tlsOpts = Map("tls" -> "true",
      "tlsTrustCertPath" -> graft.sources.GrpcChain.serverCertPem.getAbsolutePath)

    val seedDocs = ProductionTopology.docsOf(
      StreamingFinality.released(
        batchMsgs(gen ++ Map("startBlock" -> "900", "endBlock" -> "930"))))
    StreamingIndexMaintenance.initStoresVersioned(seedDocs, idxRoot,
      "doc_id", "text", "embedding", nCells = 3)

    // the server kills the TLS connection the first time seq 17 is served
    val server = new GrpcChainServer(cfgOf(gen ++ tlsOpts), failOnceAtSeqs = Set(17L))
    try {
      def run(endBlock: Long): Unit = {
        implicit val enc = Encoders.product[BlockMsg]
        var r = spark.readStream.format("graft.sources.ChainSource")
        (gen ++ tlsOpts ++ Map("endBlock" -> endBlock.toString,
          "fetcherClass" -> "graft.sources.GrpcBlockFetcher",
          "endpoint" -> s"127.0.0.1:${server.port}"))
          .foreach { case (k, v) => r = r.option(k, v) }
        val q = ProductionTopology.startCdc(r.load().as[BlockMsg], ckpt, idxRoot)
        q.processAllAvailable(); q.stop()
      }

      run(22) // survives the injected TLS kill mid-batch
      assert(server.served.get(17L) === 2,
        "the killed seq must have been re-served after the TLS reconnect")
      run(35) // operator restart: cursor resume, committed batches never replay

      // parity oracle: seed corpus (stream deletes never target its id
      // range) + the CDC rule's global last-op survivors over the replay
      val live: DataFrame =
        seedDocs.unionAll(ProductionTopology.cdcLive(releasedReplay(35L)))
      val nLive = live.count()
      val nAllUpserts = seedDocs.count() +
        ProductionTopology.docsOf(releasedReplay(35L)).count()
      assert(nLive < nAllUpserts,
        "the takedown rule must have retired at least one streamed doc")

      val terms = Seq("alpha", "gamma", "theta")
      assert(Ranking.bm25TopKVersionedStore(spark, s"$idxRoot/bm25", terms)
          .collect().map(_.toSeq).toSeq ===
        Ranking.bm25TopK(live, "text", "doc_id", terms)
          .collect().map(_.toSeq).toSeq,
        "versioned BM25 store diverged from a fresh live-corpus index")

      val idx = Similarity.ivfRead(spark, s"$idxRoot/ivf")
      val alive = graft.ext.DeltaStore.alive(spark, idx.assigned,
        s"$idxRoot/ivf/tomb", "doc_id")
      assert(alive.count() === nLive,
        "live assignment rows must equal the live corpus — no loss, no dups")
      val qvec = Similarity.queryVector(live, "doc_id", "embedding",
        live.select(min("doc_id")).collect().head.getLong(0))
      def probe(assigned: DataFrame) =
        Similarity.ivfProbe(assigned, idx.centroids, "doc_id", "embedding",
          qvec, k = 5, nprobe = 2).collect().map(_.toSeq).toSeq
      assert(probe(alive) ===
        probe(Similarity.ivfAssign(live, "doc_id", "embedding", idx.centroids)),
        "IVF probe diverged from a fresh assignment under the stored centroids")
      assert(StreamingIndexMaintenance.readCursor(idxRoot) >= 1L)
    } finally server.close()
  }
}
