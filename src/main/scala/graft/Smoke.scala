package graft

/** Smoke-check `SparkEntry.entry` exactly as the driver does (rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4) // fixed: the smoke result must not depend on the machine
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(30, truncate = false)
    println(s"entry rows = ${df.count()}")
    spark.stop()
  }
}
