package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables

/** Bucketed-table layout: the "layout IS the index" doctrine applied to
  * relational fact-fact joins.
  *
  * A fact⋈fact join (orders ⋈ lineitem) is the one join class broadcast
  * can't fix — both sides are corpus-sized — so every query pays a full
  * shuffle of both tables on the join key. Bucketing moves that shuffle to
  * INGEST: persist each fact `bucketBy(N, key).sortBy(key)` once, and every
  * subsequent join on that key is a zero-exchange, zero-sort sort-merge
  * join over co-located buckets. At 100 TB this converts the dominant
  * recurring query cost into a one-time write cost, exactly like the
  * signature store's (band, sig_bucket) layout ([[Dedup.signatureStoreWrite]])
  * and the IVF index's `ivf_cell` partitioning ([[Similarity.ivfWrite]]).
  * Reference analog: elric-rs resolves each table's schema/inserter once at
  * startup and never re-plans per row (`/root/reference/src/loader.rs:49-60`);
  * here the join layout is resolved once at write and never re-shuffled
  * per query.
  *
  * The twin is re-partitioned to `nBuckets` on the bucket key BEFORE the
  * write so each task owns exactly one bucket and each bucket gets ONE
  * file — multi-file buckets would force Spark to re-sort below the join,
  * keeping the exchange away but paying the sort back.
  */
object BucketedLayout {

  /** The conf that lets bucketed scans report their sortBy order (off by
    * default since Spark 3.0). With one file per bucket — which the
    * pre-write repartition guarantees — the SMJ then needs no SortExec.
    * This is a DECLARED SESSION INVARIANT, set once for every session in
    * [[graft.GraftSession.local]], never flipped mid-session: the setting
    * only affects bucketed-table scans, but scoping a set/restore around
    * [[ensure]] would be a lie — planning happens later, at action time,
    * long after ensure() returned. */
  val SortedScanConf = "spark.sql.legacy.bucketedTableScan.outputOrdering"

  /** Ensure a bucketed+sorted managed twin of `dir/table.parquet` exists in
    * this session's catalog and return its table name. Content-keyed on the
    * source's data files (aggregate length + max mtime — see
    * [[graft.Snapshot.contentKey]]) so a regenerated fixture gets a fresh
    * twin; idempotent per session (the catalog check), and `overwrite`
    * handles stale warehouse directories left by earlier sessions (the
    * in-memory catalog does not persist across sessions, the files do). Requires [[SortedScanConf]]
    * to be set at session build for the zero-sort plan; an unset session
    * still gets correct results, just with a sort below the join (warned).
    */
  def ensure(s: SparkSession, dir: String, table: String, key: String,
      nBuckets: Int = 8): String = {
    if (s.conf.getOption(SortedScanConf).forall(_ != "true"))
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"$SortedScanConf is not set on this session: the " +
        "bucketed join will keep its exchange-free plan but pay a sort " +
        "below the SMJ — set it in the session builder (session invariant)")
    val src = new java.io.File(s"$dir/$table.parquet")
    val name = (s"graft_bkt_${table}_${nBuckets}_${key}_" +
      s"${dir}_${graft.Snapshot.contentKey(src)}")
      .replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    if (!s.catalog.tableExists(name)) {
      // the in-memory catalog dies with the session but the warehouse files
      // don't: CTAS refuses a pre-existing managed location, so clear any
      // stale twin a previous session left behind before re-creating it
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), name)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      Tables.load(s, dir, table)
        .repartition(nBuckets, col(key))
        .write.mode("overwrite")
        .bucketBy(nBuckets, key).sortBy(key)
        .saveAsTable(name)
    }
    name
  }

  /** The bucketed twin as a DataFrame (building it on first use). */
  def table(s: SparkSession, dir: String, table: String, key: String,
      nBuckets: Int = 8): DataFrame =
    s.table(ensure(s, dir, table, key, nBuckets))
}
