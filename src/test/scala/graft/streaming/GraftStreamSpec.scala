package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery,
  StreamingQueryListener}

import graft.SparkSpec
import graft.model._
import graft.sink.{ClickHouseHttpServer, MultiTableSink}
import graft.sink.ClickHouseSinkIdentitySpec.RecordingProxy
import graft.state.FinalityBuffer
import graft.state.FinalityBuffer.BufferState

class GraftStreamSpec extends SparkSpec {
  import GraftStreamSpec._
  import graft.model.ChType._

  private val catalog = Seq(ChTable("t", Seq(ChColumn("v", ChInt32))))

  private def blk(n: Long, finalHeight: Long): BlockScoped =
    BlockScoped(Clock(s"b$n", n, Timestamp.valueOf("2023-01-01 00:00:00")), s"c$n", finalHeight,
      Seq(ChangeRec("t", "", Map.empty, Seq(FieldKV("v", n.toString, "")))))

  private def writeMsgs(dir: String, name: String, msgs: Seq[BlockMsg]): Unit = {
    import spark.implicits._
    Seq(msgs).flatten.toDS()
      .coalesce(1).write.mode("append").parquet(s"$dir/tmp_$name")
    // move the part file in as one atomic-ish unit so each file = one batch
    val src = new java.io.File(s"$dir/tmp_$name").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    Files.move(src.toPath, new java.io.File(s"$dir/$name.parquet").toPath)
  }

  test("stream -> buffer -> route/cast -> sink -> cursor; exactly-once across restart") {
    val root = Files.createTempDirectory("graftstream").toString
    val srcDir = s"$root/src"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(srcDir).mkdirs()

    // phase 1: blocks 1..5, finality trailing by 2 -> releases 1,2,3
    writeMsgs(srcDir, "batch1", (1L to 5L).map(n => BlockMsg.data(n, blk(n, n - 2))))
    val q1 = GraftStream.start(GraftStream.fileSource(spark, srcDir), catalog, outDir, ckpt, "chainA")
    q1.processAllAvailable(); q1.stop()

    val sink = new MultiTableSink(catalog, outDir, "chainA")
    val afterPhase1 = spark.read.parquet(sink.dataPath("t")).select("v").collect().map(_.getInt(0)).sorted
    assert(afterPhase1.toSeq === Seq(1, 2, 3))
    assert(sink.loadCursor(spark).map(_.blockNum) === Some(3L))

    // phase 2: RESTART from checkpoint (new query, same dirs); blocks 6..8
    // -> releases 4,5,6; blocks 1..3 must NOT be re-delivered or re-written
    writeMsgs(srcDir, "batch2", (6L to 8L).map(n => BlockMsg.data(n, blk(n, n - 2))))
    val q2 = GraftStream.start(GraftStream.fileSource(spark, srcDir), catalog, outDir, ckpt, "chainA")
    q2.processAllAvailable(); q2.stop()

    val rows = spark.read.parquet(sink.dataPath("t")).select("v").collect().map(_.getInt(0)).sorted
    assert(rows.toSeq === Seq(1, 2, 3, 4, 5, 6), "each released block written exactly once")
    val cur = sink.loadCursor(spark)
    assert(cur.map(_.blockNum) === Some(6L))
    assert(cur.map(_.cursor) === Some("c6"))
    assert(spark.read.parquet(sink.dataPath("t")).columns.toSeq ===
      Seq("block_num", "block_id", "cursor", "v"))
  }

  test("the finality fold runs in ONE state store; the caller's session conf is untouched") {
    val root = Files.createTempDirectory("graftstores").toString
    val srcDir = s"$root/src"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(srcDir).mkdirs()
    writeMsgs(srcDir, "batch1", (1L to 5L).map(n => BlockMsg.data(n, blk(n, n - 2))))

    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val mgrKey = SessionBridge.CheckpointManagerKey
    val isoKey = SessionBridge.ArtifactIsolationKey
    assert(spark.conf.getOption(mgrKey).isEmpty)
    assert(!spark.conf.getAll.contains(isoKey))
    val progressOf = new ConcurrentLinkedQueue[UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progressOf.add(e.progress.id)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val sink = new MultiTableSink(catalog, outDir, "chainA")
      val inBatch = new ConcurrentLinkedQueue[(String, String)]()
      val mgrInBatch = new ConcurrentLinkedQueue[(Option[String], Option[String])]()
      val isoInBatch = new ConcurrentLinkedQueue[(Boolean, String)]()
      val q = GraftStream.startWith(GraftStream.fileSource(spark, srcDir), ckpt) { (blocks, id) =>
        inBatch.add((spark.conf.get(key), blocks.sparkSession.conf.get(key)))
        mgrInBatch.add((spark.conf.getOption(mgrKey), blocks.sparkSession.conf.getOption(mgrKey)))
        isoInBatch.add((spark.conf.getAll.contains(isoKey), blocks.sparkSession.conf.get(isoKey)))
        sink.writeBatch(blocks, id)
      }
      q.processAllAvailable()
      val during = spark.conf.get(key)
      val mgrDuring = spark.conf.getOption(mgrKey)
      val isoDuring = spark.conf.getAll.contains(isoKey)
      q.stop()

      val data = q.recentProgress.filter(_.numInputRows > 0)
      assert(data.nonEmpty)
      assert(data.forall(_.stateOperators.head.numShufflePartitions == 1L),
        "a fresh checkpoint folds the single-keyed buffer in one state store")
      assert(Seq(during, spark.conf.get(key)) === Seq(before, before))
      // shuffles inside writeBatch keep the caller's width
      assert(inBatch.asScala.toSeq.distinct === Seq((before, before)))
      // the checkpoint manager is named on the query's clone only
      assert(mgrInBatch.asScala.toSeq.distinct ===
        Seq((None, Some(classOf[LocalCheckpointFiles].getName))))
      assert(Seq(mgrDuring, spark.conf.getOption(mgrKey)) === Seq(None, None))
      // artifact isolation is off on the query's clone only
      assert(isoInBatch.asScala.toSeq.distinct === Seq((false, "false")))
      assert(!isoDuring && !spark.conf.getAll.contains(isoKey))
      assert(sink.loadCursor(spark).map(_.blockNum) === Some(3L))

      // listener delivery is async
      val deadline = System.currentTimeMillis() + 10000
      while (!progressOf.contains(q.id) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(progressOf.contains(q.id),
        "a listener on the caller's session receives the query's progress")
    } finally spark.streams.removeListener(listener)
  }

  test("restart from a checkpoint of the plain finality plan keeps its recorded store count") {
    val root = Files.createTempDirectory("graftoldckpt").toString
    val srcDir = s"$root/src"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(srcDir).mkdirs()
    val sink = new MultiTableSink(catalog, outDir, "chainA")
    def stores(q: StreamingQuery): Seq[Long] =
      q.recentProgress.filter(_.numInputRows > 0).map(_.stateOperators.head.numShufflePartitions).toSeq

    // phase 1: the finality plan started directly on the caller's session
    // (4 shuffle partitions) — blocks 1..5 release 1,2,3 and buffer 4,5
    writeMsgs(srcDir, "batch1", (1L to 5L).map(n => BlockMsg.data(n, blk(n, n - 2))))
    val write: (Dataset[BlockScoped], Long) => Unit = sink.writeBatch
    val q1 = StreamingFinality.released(GraftStream.fileSource(spark, srcDir))
      .writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .foreachBatch(write).start()
    q1.processAllAvailable(); q1.stop()
    assert(stores(q1).distinct === Seq(4L))

    // phase 2: restart through startWith; blocks 6..8 release 4,5,6 from the
    // restored buffer
    writeMsgs(srcDir, "batch2", (6L to 8L).map(n => BlockMsg.data(n, blk(n, n - 2))))
    val q2 = GraftStream.start(GraftStream.fileSource(spark, srcDir), catalog, outDir, ckpt, "chainA")
    q2.processAllAvailable(); q2.stop()
    assert(stores(q2).distinct === Seq(4L), "the offset log's recorded count wins on restart")

    val rows = spark.read.parquet(sink.dataPath("t")).select("v").collect().map(_.getInt(0)).sorted
    assert(rows.toSeq === Seq(1, 2, 3, 4, 5, 6), "each released block written exactly once")
    val cur = sink.loadCursor(spark)
    assert(cur.map(c => (c.blockNum, c.cursor)) === Some((6L, "c6")))
  }

  test("a startWith micro-batch over the chain runs in one stage: no exchange before the fold") {
    implicit val enc = org.apache.spark.sql.Encoders.product[BlockMsg]
    val msgs = spark.readStream.format("graft.sources.ChainSource")
      .option("blocksPerTrigger", 10).option("totalBlocks", 50)
      .option("finalityLag", 2)
      .load().as[BlockMsg]
    val stages = new ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        stages.add((Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull,
          e.stageInfos.size))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val released = new ConcurrentLinkedQueue[Long]()
      val q = GraftStream.startWith(msgs,
          Files.createTempDirectory("graftonestage").resolve("ckpt").toString) { (blocks, _) =>
        blocks.collect().foreach(b => released.add(b.clock.number))
      }
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      q.stop()
      // a job posted after the query: once the listener has seen it, it has
      // seen all of the query's (one queue, in order)
      sc.setJobGroup("marker", "marker")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!stages.asScala.exists(_._1 == "marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(stages.asScala.exists(_._1 == "marker"))

      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length === 5)
      assert(batches.forall(_.stateOperators.head.numShufflePartitions == 1L))
      val ofQuery = stages.asScala.toSeq.filter(_._1 == q.runId.toString).map(_._2)
      assert(ofQuery === Seq.fill(5)(1), "one job of one stage per micro-batch")
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan.treeString)
      assert(released.size > 40 && released.asScala.toSeq.distinct.size === released.size)
    } finally sc.removeSparkListener(listener)
  }

  test("no process is forked for checkpoint files after the first micro-batch") {
    // the synthetic chain source and an in-memory sink write no files, so
    // every file the query writes is a checkpoint file
    val ckpt = Files.createTempDirectory("graftforks").resolve("ckpt").toString
    implicit val enc = org.apache.spark.sql.Encoders.product[BlockMsg]
    val msgs = spark.readStream.format("graft.sources.ChainSource")
      .option("blocksPerTrigger", 10).option("totalBlocks", 30)
      .option("finalityLag", 2)
      .load().as[BlockMsg]
    val released = new ConcurrentLinkedQueue[Long]()

    // Hadoop starts its helper processes through org.apache.hadoop.util.Shell
    def fromShell(e: RecordedEvent): Boolean = Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
    // (start, "thread: command"); the stream reuses its event objects, so
    // each handler copies out what it needs
    val forks = new ConcurrentLinkedQueue[(Instant, String)]()
    val marks = new ConcurrentHashMap[String, Instant]()
    val ended = new CountDownLatch(1)
    def mark(point: String): Unit = { val m = new ForkProbeMark; m.point = point; m.commit() }
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[ForkProbeMark])
      rs.onEvent("jdk.ProcessStart", e => if (fromShell(e))
        forks.add((e.getStartTime, s"${e.getThread.getJavaName}: ${e.getString("command")}")))
      rs.onEvent(classOf[ForkProbeMark].getName, { e =>
        marks.putIfAbsent(e.getString("point"), e.getStartTime)
        if (e.getString("point") == "end") ended.countDown()
      })
      rs.startAsync()

      val q = GraftStream.startWith(msgs, ckpt) { (blocks, id) =>
        blocks.collect().foreach(b => released.add(b.clock.number))
        // batch 0's commit-log entry and everything of batches 1 and 2 follow
        if (id == 0) mark("first")
      }
      q.processAllAvailable(); q.stop()
      mark("end")
      assert(ended.await(30, TimeUnit.SECONDS), "the recording delivered the end mark")
      assert(marks.keySet.asScala === Set("first", "end"))

      assert(q.recentProgress.count(_.numInputRows > 0) === 3)
      assert(released.size > 10 && released.asScala.toSeq.distinct.size === released.size)
      val late = forks.asScala.toSeq.filter(_._1.isAfter(marks.get("first"))).sorted.map(_._2)
      assert(late.isEmpty, late.mkString(s"${late.size} forks after the first batch:\n", "\n", ""))
    } finally rs.close()
  }

  test("a checkpoint written through startWith restarts under plain Spark; same files minus Hadoop sidecars") {
    val root = Files.createTempDirectory("graftnewckpt").toString
    val srcDir = s"$root/src"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(srcDir).mkdirs()
    val sink = new MultiTableSink(catalog, outDir, "chainA")
    val write: (Dataset[BlockScoped], Long) => Unit = sink.writeBatch
    def files(dir: String): Seq[String] = {
      val base = new java.io.File(dir).toPath
      Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
        .map(base.relativize(_).toString).toSeq.sorted
    }
    def hadoopSidecar(rel: String): Boolean = {
      val name = rel.split('/').last
      name.startsWith(".") && name.endsWith(".crc")
    }

    // phase 1 through startWith: blocks 1..5 release 1,2,3 and buffer 4,5
    writeMsgs(srcDir, "batch1", (1L to 5L).map(n => BlockMsg.data(n, blk(n, n - 2))))
    val q1 = GraftStream.start(GraftStream.fileSource(spark, srcDir), catalog, outDir, ckpt, "chainA")
    q1.processAllAvailable(); q1.stop()

    // the same plan and store count through Spark's default manager
    val refCkpt = s"$root/ref"
    val refWrite: (Dataset[BlockScoped], Long) => Unit =
      new MultiTableSink(catalog, s"$root/refout", "chainA").writeBatch
    val ref = SessionBridge.withConf(StreamingFinality.released(GraftStream.fileSource(spark, srcDir)),
        Map(SessionBridge.StateStoresKey -> "1"))
      .writeStream.outputMode("append").option("checkpointLocation", refCkpt)
      .foreachBatch(refWrite).start()
    ref.processAllAvailable(); ref.stop()
    val written = files(ckpt)
    // the file source keeps its own log through the session that built the
    // source (the caller's), so only sources/ may carry Hadoop sidecars
    assert(written.nonEmpty && !written.exists(f => hadoopSidecar(f) && !f.startsWith("sources/")))
    assert(written.filterNot(hadoopSidecar) === files(refCkpt).filterNot(hadoopSidecar))
    assert(written.exists(f => f.startsWith("state/") && f.endsWith(".delta.crc")),
      "Spark's state checksum files are still written")

    // phase 2: the plain finality plan on the caller's session (Spark's
    // default manager); blocks 6..8 release 4,5,6 from the restored buffer
    writeMsgs(srcDir, "batch2", (6L to 8L).map(n => BlockMsg.data(n, blk(n, n - 2))))
    val q2 = StreamingFinality.released(GraftStream.fileSource(spark, srcDir))
      .writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .foreachBatch(write).start()
    q2.processAllAvailable(); q2.stop()
    assert(q2.recentProgress.filter(_.numInputRows > 0)
      .map(_.stateOperators.head.numShufflePartitions).distinct.toSeq === Seq(1L))
    assert(files(ckpt).contains("commits/.1.crc"), "phase 2 wrote through Hadoop's filesystem")

    val rows = spark.read.parquet(sink.dataPath("t")).select("v").collect().map(_.getInt(0)).sorted
    assert(rows.toSeq === Seq(1, 2, 3, 4, 5, 6), "each released block written exactly once")
    assert(sink.loadCursor(spark).map(c => (c.blockNum, c.cursor)) === Some((6L, "c6")))
  }

  test("stream queries share one codegen cache: a later query's first micro-batch compiles nothing") {
    implicit val enc = org.apache.spark.sql.Encoders.product[BlockMsg]
    def chain(totalBlocks: Int): Dataset[BlockMsg] =
      spark.readStream.format("graft.sources.ChainSource")
        .option("blocksPerTrigger", 10).option("totalBlocks", totalBlocks)
        .option("finalityLag", 2)
        .load().as[BlockMsg]
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // (class loaders of the batch's tasks, classes compiled from the
    // query's start to the end of its first micro-batch)
    def run(msgs: Dataset[BlockMsg], ckpt: String): (Seq[ClassLoader], Long) = {
      val before = compiles
      var firstBatch = -1L
      val q = GraftStream.startWith(msgs, ckpt) { (blocks, _) =>
        val released = blocks.mapPartitions { it =>
          TaskLoaders.record(); Iterator(it.size)
        }(org.apache.spark.sql.Encoders.scalaInt).collect().sum
        assert(released > 0)
        if (firstBatch < 0) firstBatch = compiles - before
      }
      q.processAllAvailable(); q.stop()
      assert(firstBatch >= 0)
      (TaskLoaders.drain().distinct, firstBatch)
    }

    val root = Files.createTempDirectory("graftcodegen")
    val (firstLoaders, _) = run(chain(30), root.resolve("a").toString)
    val (secondLoaders, secondCompiles) = run(chain(30), root.resolve("b").toString)
    assert(firstLoaders.size === 1)
    assert(secondLoaders === firstLoaders, "both queries' tasks ran under the same class loader")
    assert(secondCompiles === 0L, "the second query's first micro-batch reuses every generated class")
    // a restart reads the buffered state back: its deserializer is the one
    // class the state operator builds anew for each batch
    val (restartLoaders, restartCompiles) = run(chain(60), root.resolve("a").toString)
    assert(restartLoaders === firstLoaders)
    assert(restartCompiles <= 1L, s"$restartCompiles classes compiled in the restart's first batch")
  }

  test("ClickHouse stream: one SQL execution per micro-batch; steady batches compile no sink class") {
    implicit val enc = org.apache.spark.sql.Encoders.product[BlockMsg]
    def chain: Dataset[BlockMsg] = spark.readStream.format("graft.sources.ChainSource")
      .option("blocksPerTrigger", 10).option("totalBlocks", 50)
      .option("finalityLag", 2)
      .load().as[BlockMsg]
    val chainCatalog = Seq(ChTable("blocks", Seq(ChColumn("height", ChUInt64), ChColumn("fork", ChUInt32))))
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def perBatch(marks: Seq[Long]): Seq[Long] = marks.sliding(2).map { case Seq(a, b) => b - a }.toSeq
    val executions = new ConcurrentLinkedQueue[(Option[String], Long)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.add((s.jobGroupId, s.executionId))
        case _ => ()
      }
    }
    val root = Files.createTempDirectory("graftsteady")
    val server = new ClickHouseHttpServer()
    // classes compiled so far, taken as each batch sends its cursor row: the
    // batch's planning and its one job are done, the next batch not begun
    val atCursor = new ConcurrentLinkedQueue[Long]()
    val proxy = new RecordingProxy(server.url,
      sql => if (sql.startsWith("INSERT INTO `graft_cursors`")) atCursor.add(compiles))
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val before = compiles
      val q = GraftStream.startClickHouse(chain, chainCatalog, proxy.url,
        root.resolve("ch").toString, "steady")
      q.processAllAvailable(); q.stop()
      // a job posted after the query: once the listener has seen its
      // execution, it has seen all of the query's (one queue, in order)
      sc.setJobGroup("marker", "marker")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!executions.asScala.exists(_._1.contains("marker")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(executions.asScala.exists(_._1.contains("marker")))

      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches === 5)
      assert(server.rowCount("blocks") > 40)
      val ofQuery = executions.asScala.toSeq.filter(_._1.contains(q.runId.toString))
      assert(ofQuery.size === batches, s"SQL executions: $ofQuery")

      // the same stream with no sink: each batch only runs its rows
      val bareMarks = new ConcurrentLinkedQueue[Long]()
      val bareBefore = compiles
      val bare = GraftStream.startWith(chain, root.resolve("bare").toString) { (blocks, _) =>
        blocks.toDF().queryExecution.toRdd.count()
        bareMarks.add(compiles)
      }
      bare.processAllAvailable(); bare.stop()
      val sink = perBatch(before +: atCursor.asScala.toSeq)
      val plain = perBatch(bareBefore +: bareMarks.asScala.toSeq)
      assert(sink.size === batches && plain.size === batches)
      // the finality operator generates its state deserializer anew for
      // every batch that reads state; the sink adds no class of its own
      assert(sink.tail === plain.tail, s"classes compiled per batch: $sink, without the sink $plain")
      assert(sink.tail.forall(_ <= 1L), s"classes compiled per batch: $sink")
    } finally { sc.removeSparkListener(listener); proxy.close(); server.close() }
  }

  test("a caller session with session-scoped artifacts keeps artifact isolation") {
    val caller = spark.newSession()
    val probe = classOf[ForkProbeMark]
    val bytes = probe.getResourceAsStream(probe.getSimpleName + ".class").readAllBytes()
    caller.addArtifact(bytes, s"classes/${probe.getName.replace('.', '/')}.class")

    val root = Files.createTempDirectory("graftartifacts").toString
    val srcDir = s"$root/src"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(srcDir).mkdirs()
    val sink = new MultiTableSink(catalog, outDir, "chainA")
    val isoInBatch = new ConcurrentLinkedQueue[String]()
    val write: (Dataset[BlockScoped], Long) => Unit = { (blocks, id) =>
      isoInBatch.add(blocks.sparkSession.conf.get(SessionBridge.ArtifactIsolationKey))
      sink.writeBatch(blocks, id)
    }

    // blocks 1..5 release 1,2,3; the restart's 6..8 release 4,5,6
    writeMsgs(srcDir, "batch1", (1L to 5L).map(n => BlockMsg.data(n, blk(n, n - 2))))
    val q1 = GraftStream.startWith(GraftStream.fileSource(caller, srcDir), ckpt)(write)
    q1.processAllAvailable(); q1.stop()
    writeMsgs(srcDir, "batch2", (6L to 8L).map(n => BlockMsg.data(n, blk(n, n - 2))))
    val q2 = GraftStream.startWith(GraftStream.fileSource(caller, srcDir), ckpt)(write)
    q2.processAllAvailable(); q2.stop()

    assert(isoInBatch.size === 2 && isoInBatch.asScala.toSet === Set("true"))
    assert(!caller.conf.getAll.contains(SessionBridge.ArtifactIsolationKey))
    val rows = spark.read.parquet(sink.dataPath("t")).select("v").collect().map(_.getInt(0)).sorted
    assert(rows.toSeq === Seq(1, 2, 3, 4, 5, 6), "each released block written exactly once")
    assert(sink.loadCursor(spark).map(c => (c.blockNum, c.cursor)) === Some((6L, "c6")))
  }

  test("ClickHouse stream: every steady micro-batch compiles no class") {
    implicit val enc = org.apache.spark.sql.Encoders.product[BlockMsg]
    def chain = spark.readStream.format("graft.sources.ChainSource")
      .option("blocksPerTrigger", 10).option("totalBlocks", 50)
      .option("finalityLag", 2)
      .load().as[BlockMsg]
    val chainCatalog = Seq(ChTable("blocks", Seq(ChColumn("height", ChUInt64), ChColumn("fork", ChUInt32))))
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val server = new ClickHouseHttpServer()
    // classes compiled so far, taken as each batch sends its cursor row
    val atCursor = new ConcurrentLinkedQueue[Long]()
    val proxy = new RecordingProxy(server.url,
      sql => if (sql.startsWith("INSERT INTO `graft_cursors`")) atCursor.add(compiles))
    // classes compiled in each batch of one query over the chain
    def perBatch(): Seq[Long] = {
      atCursor.clear()
      val before = compiles
      val q = GraftStream.startClickHouse(chain, chainCatalog, proxy.url,
        Files.createTempDirectory("graftzero").resolve("ch").toString, "zero")
      q.processAllAvailable(); q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) === 5)
      (before +: atCursor.asScala.toSeq).sliding(2).map { case Seq(a, b) => b - a }.toSeq
    }
    try {
      // the first batch that reads state may compile the state
      // deserializer (other work in the JVM can evict it from Spark's
      // bounded cache); from then on nothing is new
      val first = perBatch()
      assert(first.size === 5 && first.drop(2).forall(_ == 0L), s"classes compiled per batch: $first")
      val second = perBatch()
      assert(second.size === 5 && second.tail.forall(_ == 0L), s"classes compiled per batch: $second")
    } finally { proxy.close(); server.close() }
  }

  test("a restart from a binary-state checkpoint compiles no class in its first micro-batch") {
    implicit val enc = org.apache.spark.sql.Encoders.product[BlockMsg]
    def chain(totalBlocks: Int): Dataset[BlockMsg] =
      spark.readStream.format("graft.sources.ChainSource")
        .option("blocksPerTrigger", 10).option("totalBlocks", totalBlocks)
        .option("finalityLag", 2)
        .load().as[BlockMsg]
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ckpt = Files.createTempDirectory("graftbinrestart").resolve("ckpt").toString
    def run(totalBlocks: Int): Long = {
      val before = compiles
      var firstBatch = -1L
      val q = GraftStream.startWith(chain(totalBlocks), ckpt) { (blocks, _) =>
        blocks.toDF().queryExecution.toRdd.count()
        if (firstBatch < 0) firstBatch = compiles - before
      }
      q.processAllAvailable(); q.stop()
      firstBatch
    }
    run(30)
    assert(!caseClassState(ckpt), "a new checkpoint holds binary state")
    val restart = run(60)
    assert(restart === 0L, s"$restart classes compiled in the restart's first batch")
  }

  test("a checkpoint of the BufferState operator is refused under startWith; a binary one restarts under plain Spark") {
    val root = Files.createTempDirectory("graftlegacy").toString
    val sink = new MultiTableSink(catalog, s"$root/out", "chainA")
    val write: (Dataset[BlockScoped], Long) => Unit = sink.writeBatch
    def rows(s: MultiTableSink): Seq[Int] =
      spark.read.parquet(s.dataPath("t")).select("v").collect().map(_.getInt(0)).sorted.toSeq

    // case class → startWith: phase 1 is the operator startWith ran before
    // the binary state, on the same session clone (one store, java.nio files)
    val srcDir = s"$root/src"; val ckpt = s"$root/ckpt"
    new java.io.File(srcDir).mkdirs()
    writeMsgs(srcDir, "batch1", (1L to 5L).map(n => BlockMsg.data(n, blk(n, n - 2))))
    val q1 = SessionBridge.withConf(releasedCaseClass(GraftStream.fileSource(spark, srcDir)),
        Map(SessionBridge.StateStoresKey -> "1",
          SessionBridge.CheckpointManagerKey -> classOf[LocalCheckpointFiles].getName))
      .writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .foreachBatch(write).start()
    q1.processAllAvailable(); q1.stop()
    assert(caseClassState(ckpt))
    assert(rows(sink) === Seq(1, 2, 3))
    writeMsgs(srcDir, "batch2", (6L to 8L).map(n => BlockMsg.data(n, blk(n, n - 2))))
    val q2 = GraftStream.start(GraftStream.fileSource(spark, srcDir), catalog, s"$root/out", ckpt, "chainA")
    intercept[Exception](q2.processAllAvailable())
    q2.stop()
    assert(q2.exception.nonEmpty)
    assert(rows(sink) === Seq(1, 2, 3), "the refused restart wrote no row")
    assert(sink.loadCursor(spark).map(c => (c.blockNum, c.cursor)) === Some((3L, "c3")),
      "the refused restart wrote no cursor")

    // binary → plain Spark: a checkpoint written through startWith restarts
    // under the plain binary-state plan; the BufferState operator refuses it
    val src2 = s"$root/src2"; val ckpt2 = s"$root/ckpt2"
    new java.io.File(src2).mkdirs()
    val sink2 = new MultiTableSink(catalog, s"$root/out2", "chainB")
    val write2: (Dataset[BlockScoped], Long) => Unit = sink2.writeBatch
    writeMsgs(src2, "batch1", (1L to 5L).map(n => BlockMsg.data(n, blk(n, n - 2))))
    val q3 = GraftStream.start(GraftStream.fileSource(spark, src2), catalog, s"$root/out2", ckpt2, "chainB")
    q3.processAllAvailable(); q3.stop()
    assert(!caseClassState(ckpt2))
    writeMsgs(src2, "batch2", (6L to 8L).map(n => BlockMsg.data(n, blk(n, n - 2))))
    val refused = releasedCaseClass(GraftStream.fileSource(spark, src2))
      .writeStream.outputMode("append").option("checkpointLocation", ckpt2)
      .foreachBatch(write2).start()
    intercept[Exception](refused.processAllAvailable())
    refused.stop()
    assert(rows(sink2) === Seq(1, 2, 3), "the refused restart wrote nothing")
    val q4 = StreamingFinality.released(GraftStream.fileSource(spark, src2))
      .writeStream.outputMode("append").option("checkpointLocation", ckpt2)
      .foreachBatch(write2).start()
    q4.processAllAvailable(); q4.stop()
    assert(rows(sink2) === Seq(1, 2, 3, 4, 5, 6), "each released block written exactly once")
    assert(sink2.loadCursor(spark).map(c => (c.blockNum, c.cursor)) === Some((6L, "c6")))
  }

  test("loadCursor on empty store -> None (start from start_block)") {
    val root = Files.createTempDirectory("graftcur").toString
    val sink = new MultiTableSink(catalog, root, "nope")
    assert(sink.loadCursor(spark).isEmpty)
  }
}

object GraftStreamSpec {

  /** The finality operator as it was before its state became binary: the
    * `BufferState` case class itself as the state. It writes a checkpoint
    * in the old format, which `startWith` refuses. */
  def releasedCaseClass(msgs: Dataset[BlockMsg]): Dataset[BlockScoped] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    msgs.groupByKey(_ => "chain")
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[BlockMsg], state: GroupState[BufferState]) =>
          val (st, out) = FinalityBuffer.run(it.toSeq.sortBy(_.seq),
            state.getOption.getOrElse(FinalityBuffer.empty))
          state.update(st)
          out.iterator
      }
  }

  /** Whether the finality state schema recorded under `checkpointDir` is
    * the `BufferState` case class: its one field `buffer`, the array of
    * buffered blocks. Spark writes the value schema as JSON text under the
    * operator's `state/0/`, in `0/_metadata/schema` (through Spark 4.1 for
    * this operator) or `_stateSchema/` (Spark's newer layout). */
  def caseClassState(checkpointDir: String): Boolean = {
    val op = Paths.get(checkpointDir, "state", "0")
    Seq("0/_metadata", "_stateSchema").map(op.resolve).filter(Files.isDirectory(_)).exists { dir =>
      val files = Files.walk(dir)
      try files.iterator.asScala.filter(Files.isRegularFile(_)).exists { f =>
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
          .contains("{\"name\":\"buffer\",\"type\":{\"type\":\"array\"")
      } finally files.close()
    }
  }
}

/** The context class loaders that tasks ran under, recorded from inside the
  * tasks (local mode: executors share the driver's JVM). */
object TaskLoaders {
  private val seen = new ConcurrentLinkedQueue[ClassLoader]()
  def record(): Unit = seen.add(Thread.currentThread.getContextClassLoader)
  def drain(): Seq[ClassLoader] = Iterator.continually(seen.poll()).takeWhile(_ != null).toSeq
}

/** A named point in the fork test's JFR recording, on the recording's clock. */
final class ForkProbeMark extends jdk.jfr.Event {
  var point: String = _
}
