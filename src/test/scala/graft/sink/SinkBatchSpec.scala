package graft.sink

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.model._
import graft.streaming.GraftStream

/** The micro-batch shape of [[SinkBatch]] on the streaming path: one job for
  * the batch summary plus one per present table, and nothing at all sent for
  * a batch that releases no block. */
class SinkBatchSpec extends SparkSpec {
  import graft.model.ChType._

  private val catalog = Seq(
    ChTable("t", Seq(ChColumn("v", ChInt32))),
    ChTable("u", Seq(ChColumn("w", ChInt32))))

  private def blk(n: Long, finalHeight: Long, changes: Boolean): BlockScoped =
    BlockScoped(Clock(s"b$n", n, Timestamp.valueOf("2023-01-01 00:00:00")), s"c$n", finalHeight,
      if (changes) Seq(ChangeRec("t", "", Map.empty, Seq(FieldKV("v", n.toString, ""))))
      else Seq.empty)

  private def writeMsgs(dir: String, name: String, msgs: Seq[BlockMsg]): Unit = {
    import spark.implicits._
    msgs.toDS().coalesce(1).write.mode("append").parquet(s"$dir/tmp_$name")
    val src = new java.io.File(s"$dir/tmp_$name").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    Files.move(src.toPath, new java.io.File(s"$dir/$name.parquet").toPath)
  }

  test("one summary job + one job per present table; empty batches send nothing") {
    val BatchKey = "graft.spec.sinkBatch"
    val jobStarts = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(BatchKey)))
          .foreach(jobStarts.add)
    }
    val server = new ClickHouseHttpServer()
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val root = Files.createTempDirectory("sinkbatch").toString
      val srcDir = s"$root/src"
      new java.io.File(srcDir).mkdirs()
      val sink = new ClickHouseHttpSink(catalog, server.url, "chainA")
      // after each writeBatch: (insert requests, DDL requests)
      val wire = mutable.ArrayBuffer.empty[(Long, Int, Int)]
      val q = GraftStream.startWith(GraftStream.fileSource(spark, srcDir), s"$root/ckpt") {
        (blocks, id) =>
          sc.setLocalProperty(BatchKey, id.toString)
          try sink.writeBatch(blocks, id)
          finally sc.setLocalProperty(BatchKey, null)
          wire.synchronized(wire += ((id, server.insertRequests.get(), server.ddlRequests.get())))
      }
      // batch 0: two non-final blocks, nothing released
      writeMsgs(srcDir, "b0", Seq(1L, 2L).map(n => BlockMsg.data(n, blk(n, 0, changes = true))))
      q.processAllAvailable()
      // batch 1: block 3 finalizes 1..3, all with rows for table t only
      writeMsgs(srcDir, "b1", Seq(BlockMsg.data(3, blk(3, 3, changes = true))))
      q.processAllAvailable()
      // batch 2: blocks 4, 5 released with no changes at all
      writeMsgs(srcDir, "b2", Seq(4L, 5L).map(n => BlockMsg.data(n, blk(n, n, changes = false))))
      q.processAllAvailable()
      q.stop()

      // a marker job posted after every batch job: once the listener has
      // seen it, it has seen all of them (one queue, delivered in order)
      sc.setLocalProperty(BatchKey, "marker")
      try sc.parallelize(Seq(1)).count() finally sc.setLocalProperty(BatchKey, null)
      val deadline = System.currentTimeMillis() + 10000
      while (!jobStarts.contains("marker") && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(jobStarts.contains("marker"))
      val jobs = jobStarts.asScala.toSeq.groupBy(identity).map { case (b, js) => b -> js.size }

      val w = wire.synchronized(wire.toList)
      assert(w.map(_._1) === List(0L, 1L, 2L))
      assert(w.head === ((0L, 0, 0)), "an empty batch sends no DDL, no insert and no cursor row")
      assert(jobs.get("0") === Some(1), "an empty batch costs only the summary job")
      assert(jobs.get("1") === Some(2), "summary + the one present table")
      assert(w(1)._2 === 2, "batch 1: the rows of t, then the cursor row")
      assert(jobs.get("2") === Some(1), "blocks without changes write no table")
      assert(w(2)._2 - w(1)._2 === 1, "batch 2: the cursor row only")
      assert(w(2)._3 === w(1)._3, "DDL is sent once")

      assert(server.rowCount("t") === 3)
      assert(server.rowCount("u") === 0)
      assert(sink.loadCursor(spark).map(c => (c.blockNum, c.cursor)) === Some((5L, "c5")))
    } finally {
      sc.removeSparkListener(listener)
      server.close()
    }
  }
}
