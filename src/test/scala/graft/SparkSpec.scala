package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per suite; small
  * parallelism + few shuffle partitions keep unit runs fast.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient protected lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  // 4 cores, not GraftSession.envCores: specs pin partition and
  // state-store counts, so the session must not follow the box's size
  lazy val session: SparkSession = GraftSession.local(4,
    "spark.sql.warehouse.dir" -> "/tmp/graft-test-warehouse")
}
