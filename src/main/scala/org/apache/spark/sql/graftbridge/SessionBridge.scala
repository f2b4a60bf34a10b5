package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{classic, Dataset}
import org.apache.spark.sql.artifact.ArtifactManager
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

  /** Whether a session's jobs run on executors under a class loader of
    * their own. When on (Spark's default), every job carries its session's
    * `JobArtifactState`, and each executor builds a separate class loader
    * per session UUID. Spark keys its generated-code cache by the task's
    * context class loader, so each new session recompiles every generated
    * class of its plans. When off, the session's jobs run in the executor's
    * default session and share one cache. Also internal, so named only
    * here. */
  val ArtifactIsolationKey: String = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key

  /** `ds` rebound onto a clone of its session with `conf` set on the clone
    * only — the caller's session conf is never written, so queries planned
    * concurrently on it are unaffected.
    *
    * The clone also turns artifact isolation off ([[ArtifactIsolationKey]]).
    * `cloneSession()` gives the clone a new session UUID, and a streaming
    * query clones its session once more, so every query would otherwise
    * run under new executor class loaders and recompile every generated
    * class on its first micro-batch. With isolation off, its tasks run
    * under the executor's default class loader and reuse the classes that
    * earlier queries compiled. A streaming query's own clone copies the
    * entry. Exception: when the caller's session holds session-scoped
    * artifacts (classes or jars added to that session alone), the clone
    * keeps isolation, so those classes stay visible to its tasks.
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
    if (!holdsSessionArtifacts(caller)) clone.conf.set(ArtifactIsolationKey, "false")
    conf.foreach { case (k, v) => clone.conf.set(k, v) }
    caller.streams.listListeners().foreach(clone.streams.addListener)
    new classic.Dataset(clone, ds.asInstanceOf[classic.Dataset[T]].logicalPlan, ds.encoder)
  }

  /** Whether classes or jars were added to `session` alone: Spark's own
    * `ArtifactManager.sessionArtifactAdded` flag. Scala declares it
    * `protected`, but its accessor is public in bytecode, so it is read
    * by reflection; a Spark that renames it fails here, loudly. */
  private def holdsSessionArtifacts(session: classic.SparkSession): Boolean =
    classOf[ArtifactManager].getMethod("sessionArtifactAdded")
      .invoke(session.artifactManager).asInstanceOf[AtomicBoolean].get
}
