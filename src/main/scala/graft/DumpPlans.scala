package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for inventory queries into files — the
  * round-17 optimization evidence trail (plans/r17/<query>_{before,after}.txt).
  * The query is MATERIALIZED through the noop sink first (same action as the
  * bench) so AQE finalizes, then the final adaptive plan is written.
  *
  *   sbt "runMain graft.DumpPlans <prefix> <outDir> <suffix>"
  *   e.g. runMain graft.DumpPlans graph_pagerank plans/r17 before
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val prefix = args.headOption.getOrElse("")
    val outDir = if (args.length > 1) args(1) else "plans/r17"
    val suffix = if (args.length > 2) args(2) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCores,
      "spark.sql.debug.maxToStringFields" -> "10000")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(prefix))
      .foreach { case (name, fn) =>
        try {
          spark.sparkContext.setJobDescription(s"plan-dump: $name")
          val df = fn(spark, sfDir)
          df.write.mode("overwrite").format("noop").save()
          val fmt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
            fmt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"WROTE $name -> $outDir/${name}_$suffix.txt")
        } catch {
          case e: Throwable => println(s"FAILED $name: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
