package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Dataset}
import org.apache.spark.sql.internal.SQLConf

/** Run a plan on a private copy of its session's SQL conf.
  *
  * `SparkSession.cloneSession()` and the `(session, plan, encoder)` Dataset
  * constructor are `private[sql]` in Spark 4; this object lives under
  * `org.apache.spark.sql` solely to regain that access — same rationale as
  * [[ColumnBridge]].
  */
object SessionBridge {

  /** The state-store count a query's stateful operators start with. A
    * query that starts without it copies `spark.sql.shuffle.partitions`
    * into it; either way the value is recorded in the offset log (under the
    * shuffle-partitions key) and a restart takes the recorded value. Other
    * shuffles in the query and in its `foreachBatch` keep using
    * `spark.sql.shuffle.partitions`. Spark marks the entry internal, so
    * it is named only here, beside the other Spark-internal bridges. */
  val StateStoresKey: String = SQLConf.STATEFUL_SHUFFLE_PARTITIONS_INTERNAL.key

  /** The `CheckpointFileManager` class a query writes and reads every
    * checkpoint file with: offset and commit logs, query metadata, state
    * store. Spark takes it from the query session's Hadoop conf, which
    * carries the session's SQL conf. Also internal, so named only here. */
  val CheckpointManagerKey: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** `ds` rebound onto a clone of its session with `conf` set on the clone
    * only — the caller's session conf is never written, so queries planned
    * concurrently on it are unaffected.
    *
    * A clone has its own `StreamingQueryManager`, and a query reports only
    * to the manager that started it. The caller's registered
    * `StreamingQueryListener`s (as of this call) are therefore added to the
    * clone's manager, so a stream started from the returned Dataset still
    * reaches them. That manager's listener bus stays registered with the
    * SparkContext after the query ends (Spark gives no public way to remove
    * it): a few hundred bytes and a no-op dispatch per listener event, per
    * call. */
  def withConf[T](ds: Dataset[T], conf: Map[String, String]): Dataset[T] = {
    val caller = ds.sparkSession.asInstanceOf[classic.SparkSession]
    val clone = caller.cloneSession()
    conf.foreach { case (k, v) => clone.conf.set(k, v) }
    caller.streams.listListeners().foreach(clone.streams.addListener)
    new classic.Dataset(clone, ds.asInstanceOf[classic.Dataset[T]].logicalPlan, ds.encoder)
  }
}
