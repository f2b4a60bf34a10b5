package graft

import org.apache.spark.sql.SparkSession

import graft.ext.BucketedLayout

/** The one place a SparkSession is built: every main and the test suite
  * start from the same session invariants. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, default 4: the local core count of the mains
    * (Smoke and Explain pin 4). */
  val envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cores]` session with `cores` shuffle partitions, plus `conf`. */
  def local(cores: Int, conf: (String, String)*): SparkSession = {
    val invariants = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // Older testdata generations wrote events.ts as TIMESTAMP(NANOS);
      // Spark has no ns timestamp type, so read those as LONG nanos
      // (Tables.events normalizes either generation). No-op on µs data.
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // Bucketed scans report their sortBy order, so one-file-per-bucket
      // SMJ joins skip both the exchange and the sort (see BucketedLayout).
      BucketedLayout.SortedScanConf -> "true")
    (invariants ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
  }
}
