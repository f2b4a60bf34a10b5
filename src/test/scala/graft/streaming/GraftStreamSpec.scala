package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.SparkSpec
import graft.model._
import graft.sink.MultiTableSink

class GraftStreamSpec extends SparkSpec {
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

  test("no process is forked for checkpoint files after the first micro-batch") {
    // the synthetic chain source and an in-memory sink write no files, so
    // every file the query writes is a checkpoint file
    val ckpt = Files.createTempDirectory("graftforks").resolve("ckpt").toString
    implicit val enc = org.apache.spark.sql.Encoders.product[BlockMsg]
    val msgs = spark.readStream.format("graft.sources.ChainSource")
      .option("blocksPerTrigger", 10).option("totalBlocks", 30)
      .option("finalityLag", 2).option("numPartitions", 1)
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
        .option("finalityLag", 2).option("numPartitions", 1)
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

  test("loadCursor on empty store -> None (start from start_block)") {
    val root = Files.createTempDirectory("graftcur").toString
    val sink = new MultiTableSink(catalog, root, "nope")
    assert(sink.loadCursor(spark).isEmpty)
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
