package graft.sink

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import org.apache.spark.sql.Dataset

import graft.SparkSpec
import graft.model._
import graft.streaming.GraftStream

/** The micro-batch shape of the sinks on the streaming path: the
  * ClickHouse HTTP sink runs one job per batch whatever the batch holds;
  * the parquet sink ([[SinkBatch]]) runs a summary job plus its writes; and
  * a batch that releases no block sends and writes nothing. */
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

  /** Streams three batches through `write`: batch 0 releases nothing,
    * batch 1 releases blocks 1..3, all with rows for t only, and batch 2
    * releases blocks 4 and 5 with no changes at all. Returns the number of
    * Spark jobs each batch's `write` started, and `probe` taken after each
    * batch. */
  private def threeBatches[T](write: (Dataset[BlockScoped], Long) => Unit)(
      probe: => T): (Map[String, Int], List[(Long, T)]) = {
    val BatchKey = "graft.spec.sinkBatch"
    val jobStarts = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(BatchKey)))
          .foreach(jobStarts.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val root = Files.createTempDirectory("sinkbatch").toString
      val srcDir = s"$root/src"
      new java.io.File(srcDir).mkdirs()
      val probes = mutable.ArrayBuffer.empty[(Long, T)]
      val q = GraftStream.startWith(GraftStream.fileSource(spark, srcDir), s"$root/ckpt") {
        (blocks, id) =>
          sc.setLocalProperty(BatchKey, id.toString)
          try write(blocks, id)
          finally sc.setLocalProperty(BatchKey, null)
          probes.synchronized(probes += (id -> probe))
      }
      writeMsgs(srcDir, "b0", Seq(1L, 2L).map(n => BlockMsg.data(n, blk(n, 0, changes = true))))
      q.processAllAvailable()
      writeMsgs(srcDir, "b1", Seq(BlockMsg.data(3, blk(3, 3, changes = true))))
      q.processAllAvailable()
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
      val p = probes.synchronized(probes.toList)
      assert(p.map(_._1) === List(0L, 1L, 2L))
      (jobs, p)
    } finally sc.removeSparkListener(listener)
  }

  test("ClickHouse HTTP sink: one job per batch; empty batches send nothing") {
    val server = new ClickHouseHttpServer()
    try {
      val sink = new ClickHouseHttpSink(catalog, server.url, "chainA")
      // after each writeBatch: (insert requests, DDL requests)
      val (jobs, w) = threeBatches(sink.writeBatch)(
        (server.insertRequests.get(), server.ddlRequests.get()))
      assert(w.head._2 === ((0, 0)), "an empty batch sends no DDL, no insert and no cursor row")
      assert(jobs.get("0") === Some(1), "an empty batch: the one job, which finds no rows")
      assert(jobs.get("1") === Some(1), "route, encode and insert in one job")
      assert(w(1)._2._1 === 2, "batch 1: the rows of t, then the cursor row")
      assert(jobs.get("2") === Some(1), "blocks without changes: one job too")
      assert(w(2)._2._1 - w(1)._2._1 === 1, "batch 2: the cursor row only")
      assert(w(2)._2._2 === w(1)._2._2, "DDL is sent once")

      assert(server.rowCount("t") === 3)
      assert(server.rowCount("u") === 0)
      assert(sink.loadCursor(spark).map(c => (c.blockNum, c.cursor)) === Some((5L, "c5")))
    } finally server.close()
  }

  test("parquet sink: a summary job, a job per present table, one for the cursor; empty batches write nothing") {
    val out = Files.createTempDirectory("sinkbatch-parquet").toString
    val sink = new MultiTableSink(catalog, out, "chainA")
    def written(path: String) = new java.io.File(path).exists()
    val (jobs, w) = threeBatches(sink.writeBatch)(
      (written(sink.dataPath("t")), written(sink.dataPath("u")), written(sink.cursorPath)))
    assert(w.head._2 === ((false, false, false)), "an empty batch writes nothing")
    assert(jobs.get("0") === Some(1), "an empty batch costs only the summary job")
    assert(w(1)._2 === ((true, false, true)), "batch 1: table t, then the cursor")
    assert(jobs.get("1") === Some(3), "summary + the one present table + the cursor write")
    assert(jobs.get("2") === Some(2), "blocks without changes: summary + the cursor write")
    assert(spark.read.parquet(sink.dataPath("t")).count() === 3)
    assert(sink.loadCursor(spark).map(c => (c.blockNum, c.cursor)) === Some((5L, "c5")))
  }
}
