package graft

import org.apache.spark.sql.execution.QueryExecution

/** Plan auditor: prints, for every inventory query, the physical-plan
  * properties that matter at 100 TB — filter pushdown into the parquet scan,
  * column pruning (ReadSchema), broadcast vs shuffle joins, top-k
  * (TakeOrderedAndProject) instead of global sorts, and whole-stage codegen
  * coverage. Run with an optional query-name prefix filter:
  *
  *   sbt "runMain graft.Explain tpch"        # audit the tpch_* queries
  *   sbt "runMain graft.Explain"             # audit everything (summary)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val prefix = args.headOption.getOrElse("")
    val verbose = args.length > 1 && args(1) == "-v"
    // Fixed 4 cores, not SPARK_GRAFT_CPUS: PLANS.md's AQE-final counts are
    // at 4. Wide joins overflow the default 25-field plan-string budget,
    // which silently truncates ReadSchema/codegen markers and garbles the counts.
    val spark = GraftSession.local(4, "spark.sql.debug.maxToStringFields" -> "10000")
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(prefix))
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, d)
          df.collect() // materialize THIS plan so AQE finalizes it (count() would plan separately)
          val qe: QueryExecution = df.queryExecution
          val plan = qe.executedPlan.toString
          def count(pat: String): Int = pat.r.findAllIn(plan).size
          val pushed = count("PushedFilters: \\[[^\\]]")
          val scans = count("FileScan parquet")
          val bhj = count("BroadcastHashJoin")
          val bnlj = count("BroadcastNestedLoopJoin")
          val smj = count("SortMergeJoin")
          val shj = count("ShuffledHashJoin")
          val topk = count("TakeOrderedAndProject")
          val exch = count("Exchange")
          // the tree string drops "*(n)" markers on some AQE-final plans;
          // the formatted rendering's "codegen id : n" tags are reliable,
          // so count codegen spans there
          val fmt = qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          val wsc = Seq(
            "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size,
            "codegen id : (\\d+)".r.findAllMatchIn(fmt).map(_.group(1)).toSet.size).max
          val readSchemas = "ReadSchema: struct<([^>]*)>".r
            .findAllMatchIn(plan).map(_.group(1).split(",").length).toSeq
          println(f"$name%-28s scans=$scans pushed=$pushed cols=${readSchemas.mkString("/")}%-12s " +
            f"bhj=$bhj bnlj=$bnlj smj=$smj shj=$shj topk=$topk exch=$exch codegen=$wsc")
          if (verbose) println(qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        } catch {
          case e: Throwable => println(f"$name%-28s EXPLAIN FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
