package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._

/** Measurement main: a lane's scheduling cost, and what AQE's
  * `parallelismFirst` is worth to it, inside ONE JVM so JIT/codegen/page-cache
  * warmth cancel out.
  *
  *   tools/run_main.sh graft.LaneProbe [--ab] <lane> [<lane> ...]
  *
  * Per lane: one untimed warm-up and three timed noop-sink runs, then a
  * `JOBPROBE` line (median wall; jobs/stages/tasks per run) and the last
  * run's jobs and stages. `--ab` then times the lane with [[AbKey]] true,
  * false, false, true (each a warm-up plus the median of three; the reversed
  * half keeps JIT warmth from faking a win), prints `PROBE` and restores the
  * key (VERDICT r17 #5).
  */
object LaneProbe {
  /** The one conf `--ab` compares. */
  val AbKey = "spark.sql.adaptive.coalescePartitions.parallelismFirst"

  def main(args: Array[String]): Unit = {
    val ab = args.headOption.contains("--ab")
    val lanes = if (ab) args.drop(1) else args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCores)
    spark.sparkContext.setLogLevel("ERROR")
    Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    val events = new ConcurrentLinkedQueue[String]()
    val starts = new ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        starts.put(j.jobId, System.nanoTime())
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val t0 = starts.getOrDefault(j.jobId, 0L)
        val ms = if (t0 == 0) -1.0 else (System.nanoTime() - t0) / 1e6
        events.add(f"  job ${j.jobId}%3d ${fmt(ms, 1)} ms")
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        events.add(s"    stage ${s.stageInfo.stageId} tasks=${s.stageInfo.numTasks} " +
          s.stageInfo.name.take(90))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
      }
    })
    // listener events arrive asynchronously
    def drain(): Unit = Thread.sleep(500)
    def run(lane: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(lane)(spark, sfDir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    lanes.foreach { lane =>
      run(lane) // warm-up
      drain()
      jobs.set(0); stages.set(0); tasks.set(0L)
      val secs = (1 to 3).map { i =>
        if (i == 3) { drain(); events.clear() }
        run(lane)
      }
      drain()
      println(s"JOBPROBE $lane med=${fmt(secs.sorted.apply(1))} " +
        s"jobs=${fmt(jobs.get / 3.0, 1)} stages=${fmt(stages.get / 3.0, 1)} tasks=${fmt(tasks.get / 3.0, 1)}")
      events.forEach(e => println(e))

      if (ab) {
        val prior = spark.conf.getOption(AbKey)
        def med3(value: Boolean): Double = {
          spark.conf.set(AbKey, value)
          run(lane) // warm-up
          Seq.fill(3)(run(lane)).sorted.apply(1)
        }
        val (a1, b1, b2, a2) = (med3(true), med3(false), med3(false), med3(true))
        prior.fold(spark.conf.unset(AbKey))(spark.conf.set(AbKey, _))
        println(s"PROBE $lane $AbKey=true ${fmt(a1)}/${fmt(a2)}  " +
          s"$AbKey=false ${fmt(b1)}/${fmt(b2)}")
      }
    }
    spark.stop()
  }

  private def fmt(v: Double, digits: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
}
