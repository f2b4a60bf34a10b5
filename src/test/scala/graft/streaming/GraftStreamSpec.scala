package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
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
      val q = GraftStream.startWith(GraftStream.fileSource(spark, srcDir), ckpt) { (blocks, id) =>
        inBatch.add((spark.conf.get(key), blocks.sparkSession.conf.get(key)))
        sink.writeBatch(blocks, id)
      }
      q.processAllAvailable()
      val during = spark.conf.get(key)
      q.stop()

      val data = q.recentProgress.filter(_.numInputRows > 0)
      assert(data.nonEmpty)
      assert(data.forall(_.stateOperators.head.numShufflePartitions == 1L),
        "a fresh checkpoint folds the single-keyed buffer in one state store")
      assert(Seq(during, spark.conf.get(key)) === Seq(before, before))
      // shuffles inside writeBatch keep the caller's width
      assert(inBatch.asScala.toSeq.distinct === Seq((before, before)))
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

  test("loadCursor on empty store -> None (start from start_block)") {
    val root = Files.createTempDirectory("graftcur").toString
    val sink = new MultiTableSink(catalog, root, "nope")
    assert(sink.loadCursor(spark).isEmpty)
  }
}
