package perfbench

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Workload `lanes` — the batch lane inventory (`SparkEntry.queries`) into
  * the noop sink. The lanes are the manifest's, a 1-in-`Stride` sample of
  * the sorted inventory fixed when the manifest was written, so a lane added
  * to or removed from the inventory later does not change what runs. Each
  * lane runs once untimed (its result is collected and checked against the
  * manifest's row count and digest); then rounds over all the lanes are
  * timed, as many as fit the run's seconds. A lane's wall is the fastest of
  * its rounds, its floor with the interference of other work on the
  * machine filtered out. Lanes run in a seeded order.
  *
  * Why: `queries`, `ext` and `functions` are most of the program and
  * run no `sources`, `state` or `sink` code; only this workload sees them. */
object Lanes {
  /** Timed rounds per run: one per this many seconds of the run's length
    * (a round takes 4–6 s at sf0.01 on 4 vCPUs). */
  private val SecondsPerRound = 4
  /** `writeManifest` samples every `Stride`-th lane of the sorted inventory. */
  private val Stride = 40

  final case class Expect(rows: Long, digest: String)

  /** Per lane of the manifest, the expected result. */
  def readManifest(path: String): Map[String, Expect] =
    Json.read(path)("lanes").asInstanceOf[Map[String, Map[String, Any]]].map { case (l, e) =>
      l -> Expect(e("rows").toString.toLong, e("digest").toString)
    }

  /** The manifest's lanes in the seeded order of a run. */
  private def ordered(expect: Map[String, Expect], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(expect.keys.toSeq.sorted)

  /** Row count and digest of one lane's result. */
  def resultOf(spark: SparkSession, lane: String, data: String): Expect = {
    val (n, d) = Parity.digest(SparkEntry.queries(lane)(spark, data).collect().iterator)
    Expect(n, d)
  }

  def writeManifest(spark: SparkSession, data: String, path: String): Unit = {
    val sample = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect {
      case (n, i) if i % Stride == 0 => n
    }
    val lanes = sample.map { l =>
      val e = resultOf(spark, l, data)
      l -> Map("rows" -> e.rows, "digest" -> e.digest)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Json.write(Map("lanes" -> scala.collection.immutable.ListMap(lanes: _*))) + "\n")
  }

  /** Set up, then per lane (seeded order) the checked warm run, then the
    * timed rounds. */
  def run(spark: SparkSession, ctx: Run, data: String, manifest: String): Map[String, Any] = {
    val expect = readManifest(manifest)
    ctx.setUpRepeated(_ => Tables.names.foreach(t => Tables.load(spark, data, t).count()))(_ => ())
    val lanes = ordered(expect, ctx.seed)
    val checks = lanes.map { lane =>
      try {
        val (got, e) = (resultOf(spark, lane, data), expect(lane))
        if (got == e) None
        else Some(s"$lane: rows/digest ${got.rows}/${got.digest} expected ${e.rows}/${e.digest}")
      } catch { case e: Throwable => Some(s"$lane: warm run threw ${e.getClass.getSimpleName}") }
    }
    // a fixed number of rounds rather than a deadline: the lanes are still
    // warming up round by round, so a slow machine that completed fewer
    // rounds would also be measured less warm
    val timed = Seq.fill(math.max(1, ctx.seconds / SecondsPerRound))(
      lanes.map(timedRun(spark, ctx.rec, _, data)))
    val byLane = timed.transpose
    report(ctx, lanes.lazyZip(checks).lazyZip(byLane).map { (lane, check, reps) =>
      (lane, reps.map(_._1).min, check.orElse(reps.flatMap(_._2).headOption))
    }, timed.size) ++ Map("round_wall_s" -> timed.map(_.map(_._1).sum))
  }

  /** One more timed pass over the lanes (one run each), after `run`
    * warmed them. */
  def timedPass(spark: SparkSession, ctx: Run, data: String, manifest: String): Map[String, Any] = {
    val timed = ordered(readManifest(manifest), ctx.seed).map { lane =>
      val (wall, err) = timedRun(spark, ctx.rec, lane, data)
      (lane, wall, err)
    }
    report(ctx, timed, 1)
  }

  /** The lane into the noop sink: full computation of every column. */
  private def timedRun(spark: SparkSession, rec: Recorder, lane: String,
      data: String): (Double, Option[String]) = {
    val sc = spark.sparkContext
    rec.attach(spark)
    sc.setLocalProperty(Recorder.LaneKey, lane)
    val t0 = Wall.nowMs
    val err = try {
      SparkEntry.queries(lane)(spark, data).write.mode("overwrite").format("noop").save()
      None
    } catch { case e: Throwable => Some(s"$lane: timed run threw ${e.getClass.getSimpleName}") }
    val t1 = Wall.nowMs
    sc.setLocalProperty(Recorder.LaneKey, null)
    rec.detach(spark)
    if (rec.tracing) rec.span("queries.lane", t0, t1, lane)
    ((t1 - t0) / 1000.0, err)
  }

  private def report(ctx: Run, results: Seq[(String, Double, Option[String])],
      rounds: Int): Map[String, Any] = {
    val failures = results.flatMap(_._3)
    val walls = results.map(r => r._1 -> r._2)
    Map(
      "parity" -> Parity.Report(results.size, failures.size, failures.take(20)),
      "lane_wall_s" -> scala.collection.immutable.ListMap(walls: _*),
      "measured_wall_s" -> walls.map(_._2).sum,
      "inputs" -> Map("lanes" -> results.size, "inventory" -> SparkEntry.queries.size,
        "timed_rounds" -> rounds))
  }
}
