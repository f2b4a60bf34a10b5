package perfbench

import org.apache.spark.sql.SparkSession

/** Context of one measured run. */
final class Run(val seed: Long, val seconds: Int, val work: String,
    val rec: Recorder, val tag: String) {
  /** Wall seconds of each repeated set-up; `setup_s` takes their median. */
  val setupReps = Seq.newBuilder[Double]

  /** Set up `reps` times, keeping the last and closing the others, so the
    * set-up time is a median rather than one sample. */
  def setUpRepeated[T](f: Int => T)(close: T => Unit, reps: Int = 3): T = {
    var kept: Option[T] = None
    (1 to reps).foreach { i =>
      kept.foreach(close)
      val t0 = Wall.nowMs
      kept = Some(f(i))
      setupReps += (Wall.nowMs - t0) / 1000.0
    }
    kept.get
  }
}

/** Harness entry point, started by `run.py` once the build is done:
  *
  *   --workload chain|lanes --seed N --seconds S --trace 0|1
  *   --work DIR --data DIR --manifest FILE --out FILE
  *
  * Runs Spark at `local[Cores]`. Writes one JSON record of raw measurements
  * to `--out`; `run.py` derives the metrics from it. `--write-manifest FILE`
  * instead records the lanes' row counts and digests. */
object Main {
  val Cores = 4

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = o("work")
    val spark = session(Cores, work)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    if (o.contains("write-manifest")) {
      Lanes.writeManifest(spark, o("data"), o("write-manifest"))
      spark.stop()
      return
    }

    val workload = o("workload")
    val tracing = o.getOrElse("trace", "0") == "1"
    val seed = o("seed").toLong
    val seconds = o("seconds").toInt
    def ctx(tag: String, traced: Boolean) = new Run(seed, seconds, work, new Recorder(traced), tag)

    // the untraced run: set up three times, measure, check
    val main = ctx("main", traced = false)
    val result = workload match {
      case "chain" => Chain.run(spark, main, reps = 3)
      case "lanes" => Lanes.run(spark, main, o("data"), o("manifest"))
    }
    val peakRss = Recorder.peakRssMb()

    // a traced run repeats the measurement with the recorders on; the wall
    // difference between the two is the tracing overhead
    val traced = if (!tracing) None else {
      val t = ctx("traced", traced = true)
      val r = workload match {
        case "chain" => Chain.run(spark, t, reps = 1)
        case "lanes" => Lanes.timedPass(spark, t, o("data"), o("manifest"))
      }
      Some(t -> r)
    }
    spark.stop()

    // single-threaded reference of the chain catch-up, traced runs only
    val reference = traced.filter(_ => workload == "chain").map { _ =>
      val one = session(1, work)
      val r = Chain.run(one, ctx("local1", traced = false), reps = 1, tipPhase = false)
      one.stop()
      r
    }

    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "cores" -> Cores, "tracing" -> tracing,
      "setup" -> Map("session_s" -> sessionS, "reps_s" -> main.setupReps.result()),
      "peak_rss_mb" -> peakRss,

      "result" -> result,
      "traced" -> traced.map { case (t, r) => r ++ Map("trace" -> t.rec.traceJson) },
      "reference_local1" -> reference)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("out")), Json.write(record))
  }
}
