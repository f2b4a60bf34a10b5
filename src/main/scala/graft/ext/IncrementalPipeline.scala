package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generation/tombstone mechanics shared by every versioned store (BM25
  * postings, signature store, IVF assignment): rows carry a `gen` stamp,
  * deletes append an (id, before_gen) manifest, and liveness is
  * gen >= max(before_gen) per id — so a delete composes with a SAME-batch
  * re-add (the changed-document path) and nothing is ever rewritten in
  * place. Tombstone manifests are delta-sized; a compaction pass folds
  * them into the data files exactly like it folds generations
  * ([[StoreCompaction]]). */
object DeltaStore {

  /** Append (id, before_gen, tag) tombstones under `tombDir`. The `tag`
    * names the delete batch: replay-idempotent writers key their files by
    * it ([[graft.ext.Ranking.bm25DeleteVersionedKeyed]]), and the
    * dying-set computation can exclude its OWN tag's rows so a replay
    * recomputes the same set in every crash state. Plain appends (inside
    * an atomically-published single-writer build) leave it empty. */
  def tombstone(ids: DataFrame, beforeGen: Int, tombDir: String,
      tag: String = ""): Unit =
    ids.select(col("id"), lit(beforeGen).as("before_gen"), lit(tag).as("tag"))
      .write.mode("append").parquet(tombDir)

  /** Drop a fully-folded tombstone manifest — call only after EVERY store
    * sharing it ran [[StoreCompaction.foldTombstones]] (deleting first
    * would resurrect dead rows in the not-yet-folded stores). */
  def clear(tombDir: String): Unit = {
    val p = java.nio.file.Paths.get(tombDir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
  }

  /** Liveness filter: drop rows whose gen < the id's greatest before_gen.
    * No-op (and no read) when the store has no tombstones yet. The
    * manifest is aggregated per id before the join, so the join's build
    * side is bounded by deleted-id count, never by row count. */
  /** Replay-idempotent [[tombstone]]: tag-named files via
    * [[StoreCompaction.appendKeyed]] — a replayed batch replaces its own
    * tombstone generation (the streaming-CDC delete for stores without
    * mergeable partials, e.g. the IVF assignment). */
  def tombstoneKeyed(ids: DataFrame, beforeGen: Int, tombDir: String,
      tag: String): Unit =
    StoreCompaction.appendKeyed(
      ids.select(col("id"), lit(beforeGen).as("before_gen"),
        lit(tag).as("tag")),
      tombDir, Nil, tag)

  /** True when `dir` holds at least one visible data file — an existing
    * but EMPTY manifest dir (e.g. a crash right after a keyed replay
    * cleared its own generation) must read as "no tombstones", not as an
    * unreadable parquet source. */
  def hasData(dir: String): Boolean = {
    val fs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    fs.exists(f => f.isFile && !f.getName.startsWith(".") &&
      !f.getName.startsWith("_"))
  }

  def alive(spark: SparkSession, rows: DataFrame, tombDir: String,
      idCol: String): DataFrame =
    if (!hasData(tombDir)) rows
    else aliveAgainst(rows, spark.read.parquet(tombDir), idCol)

  /** [[alive]] against an explicit tombstone frame — lets a
    * replay-idempotent delete exclude its OWN tag's rows. */
  def aliveAgainst(rows: DataFrame, tomb: DataFrame, idCol: String): DataFrame = {
    val bg = tomb.groupBy(col("id").as(idCol))
      .agg(max(col("before_gen")).as("__bg"))
    rows.join(bg, Seq(idCol), "left")
      .filter(col("__bg").isNull || col("gen") >= col("__bg"))
      .drop("__bg")
  }
}

/** The DELTA LOOP (VERDICT r15 #1) — the daily operating mode of a 100 TB
  * pipeline: a new corpus version arrives, `ops_snapshot_diff`'s
  * fingerprint join classifies every doc added/changed/removed, and ONLY
  * the delta is processed against the persisted stores the engine already
  * maintains — the full corpus text is never re-read, re-signed,
  * re-tokenized, or re-embedded. This module composes that loop across
  * the three store families and proves the incremental end-state equals
  * the full v2 recompute:
  *
  *  - BM25 ([[Ranking.bm25WriteVersioned]]/[[Ranking.bm25DeleteVersioned]]):
  *    delta docs append gen-1 postings; changed+removed ids tombstone
  *    (with a negative globals partial); the probe's liveness join yields
  *    exactly the v2 index.
  *  - Near-dup signatures: the store keeps the banded signature stream
  *    (gen-stamped); only DELTA docs are signed; pairs + connected
  *    components re-run over the LIVE SIGNATURES (signature-sized, never
  *    corpus-sized — and removal can SPLIT a component, so the closure is
  *    not expressible as a monotone delta; recomputing it over live
  *    signatures is the correct production shape, persisted as the
  *    auditable component store of the new generation).
  *  - IVF ANN: delta vectors assign under the STORED v1 centroids
  *    (the [[Similarity.ivfAppend]] contract) into gen-1 cell partitions;
  *    dead vectors tombstone; probes liveness-filter.
  *
  * Corpus versions are derived deterministically with the SAME rules as
  * `ops_snapshot_diff` (v1 drops id%17==5; v2 drops id%13==7 and revises
  * id%11==0 — documents get " rev2" appended, embeddings NEGATE, which is
  * exact in IEEE and visible to cosine). The `train_incremental_e2e`
  * oracle replays the full v2 recompute in SQL — BM25 scores, survivor
  * components, and the v1-centroid IVF probe — so a hash match IS the
  * incremental ≡ recompute proof, judged value-for-value in DuckDB.
  */
object IncrementalPipeline {

  val Terms: Seq[String] = Seq("spark", "window", "join")
  val QueryVecId = 1L // 1 % 11 != 0: the query vector is UNCHANGED in v2

  // ---- deterministic corpus versions (the ops_snapshot_diff rules) -------

  def v1Docs(docs: DataFrame): DataFrame = docs.filter(col("doc_id") % 17 =!= 5)

  def v2Docs(docs: DataFrame): DataFrame = docs.filter(col("doc_id") % 13 =!= 7)
    .withColumn("text", when(col("doc_id") % 11 === 0,
      concat(col("text"), lit(" rev2"))).otherwise(col("text")))

  def v1Emb(emb: DataFrame): DataFrame = emb.filter(col("vec_id") % 17 =!= 5)

  def v2Emb(emb: DataFrame): DataFrame = emb.filter(col("vec_id") % 13 =!= 7)
    .withColumn("embedding", when(col("vec_id") % 11 === 0,
      transform(col("embedding"), x => -x)).otherwise(col("embedding")))

  /** The snapshot delta over any keyed frame: (id, status) with status in
    * added/changed/removed/unchanged — the same fingerprint full-outer SMJ
    * as `ops_snapshot_diff`, here over the version predicates directly
    * (both sides keyed, neither broadcast). */
  def delta(v1: DataFrame, v2: DataFrame, idCol: String,
      fpCol: String): DataFrame =
    v1.select(col(idCol), md5(col(fpCol).cast("binary")).as("fp1"))
      .join(v2.select(col(idCol), md5(col(fpCol).cast("binary")).as("fp2")),
        Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("fp1").isNull, lit("added"))
          .when(col("fp2").isNull, lit("removed"))
          .when(col("fp1") =!= col("fp2"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))

  // ---- the cached v1-build + delta-apply end state ------------------------

  private val SigBuckets = 8L

  private[graft] def writeSigGen(docs: DataFrame, path: String, gen: Int): Unit =
    Dedup.lshBandsFromSigs(Dedup.minhashSignatures(docs, "text", "doc_id"))
      .withColumn("sig_bucket", pmod(col("band_hash"), lit(SigBuckets)))
      .withColumn("gen", lit(gen))
      .repartition(col("band"), col("sig_bucket"))
      .write.mode("append").partitionBy("band", "sig_bucket")
      .parquet(path)

  /** Build v1 stores, apply the delta, persist the end state (components
    * included — the auditable artifact of the new generation) — once per
    * corpus snapshot, atomically published; probes are read-only ever
    * after. Returns the store root. */
  def storeCached(s: SparkSession, d: String): String =
    // _v2: globals partials are gen-stamped as of r17 (the as-of probe
    // contract) — the suffix bump regenerates stores cached under the
    // unstamped schema
    graft.Snapshot.cached(graft.Snapshot.path("graft_incr_e2e_", d, "v2",
        "documents.parquet", "embeddings.parquet")) { tmp =>
      val docs = graft.Tables.documents(s, d)
      val emb = graft.Tables.embeddings(s, d)
      val (dv1, dv2) = (v1Docs(docs), v2Docs(docs))

      // the document delta, from fingerprints — ONE full-outer SMJ; the
      // delta manifest is the only thing the rest of the build consumes
      val dd = delta(dv1, dv2, "doc_id", "text").localCheckpoint()
      Dedup.rotateCheckpoints(s"IncrementalPipeline:$d", dd)
      val deadDocs = dd.filter(col("status").isin("removed", "changed"))
        .select(col("doc_id").as("id"))
      // broadcast the delta manifest (r17, found by DeltaScale at x100):
      // an unhinted semi join here shuffles the full corpus TEXT by
      // doc_id — corpus-sized movement inside the pass whose whole point
      // is being delta-sized. The manifest is an id list; broadcast it.
      val upsertDocs = dv2.join(
        broadcast(dd.filter(col("status").isin("added", "changed"))
          .select(col("doc_id"))),
        Seq("doc_id"), "left_semi")

      // BM25: v1 generation, tombstone dead, append the delta's v2 text
      Ranking.bm25WriteVersioned(dv1, "text", "doc_id", tmp + "/bm25", gen = 0)
      Ranking.bm25DeleteVersioned(s, tmp + "/bm25", deadDocs, beforeGen = 1)
      Ranking.bm25WriteVersioned(upsertDocs, "text", "doc_id", tmp + "/bm25", gen = 1)

      // signatures: v1 generation signed once; ONLY delta docs sign again
      writeSigGen(dv1, tmp + "/sig", gen = 0)
      DeltaStore.tombstone(deadDocs, beforeGen = 1, tmp + "/sig_tomb")
      writeSigGen(upsertDocs, tmp + "/sig", gen = 1)
      // pairs + closure over LIVE SIGNATURES (signature-sized work): the
      // persisted component store of the v2 generation. The store keys
      // one row per (id, band); band=0 carries each id's signature exactly
      // once — a partition-PRUNED slice (1/bands of the store), no
      // dropDuplicates shuffle of wide sig arrays (measured 3.5x on the
      // ×100 closure, DeltaScale r16)
      val aliveSigs = DeltaStore
        .alive(s, s.read.parquet(tmp + "/sig").filter(col("band") === 0),
          tmp + "/sig_tomb", "id")
        .select(col("id"), col("sig"))
        .localCheckpoint()
      Dedup.rotateCheckpoints(s"IncrementalPipeline:sigs:$d", aliveSigs)
      val pairs = Dedup.minhashNearDupsFromSigs(aliveSigs)
      val comps = Dedup.connectedComponents(pairs.select(col("id1"), col("id2")))
      comps.write.mode("overwrite").parquet(tmp + "/components")
      Dedup.unpersistCheckpoint(comps)

      // IVF: v1 index (stride seeds + 2 exact-long-mean Lloyd rounds),
      // dead vectors tombstone, delta vectors assign under the STORED
      // centroids into gen-1 cell partitions
      val (ev1, ev2) = (v1Emb(emb), v2Emb(emb))
      val ed = delta(ev1.withColumn("fp", col("embedding").cast("string")),
        ev2.withColumn("fp", col("embedding").cast("string")), "vec_id", "fp")
        .localCheckpoint()
      Dedup.rotateCheckpoints(s"IncrementalPipeline:emb:$d", ed)
      val idx = Similarity.ivfIndex(ev1, "vec_id", "embedding", nCells = 8)
      idx.assigned.withColumn("gen", lit(0))
        .repartition(col("ivf_cell"))
        .write.mode("overwrite").partitionBy("ivf_cell")
        .parquet(tmp + "/ivf/assigned")
      locally {
        import s.implicits._
        idx.centroids.toDF("cid", "cvec").coalesce(1)
          .write.mode("overwrite").parquet(tmp + "/ivf/centroids")
      }
      val deadVecs = ed.filter(col("status").isin("removed", "changed"))
        .select(col("vec_id").as("id"))
      DeltaStore.tombstone(deadVecs, beforeGen = 1, tmp + "/ivf/tomb")
      val upsertVecs = ev2.drop("fp").join(
        broadcast(ed.filter(col("status").isin("added", "changed"))
          .select(col("vec_id"))),
        Seq("vec_id"), "left_semi")
      Similarity.ivfAssign(upsertVecs, "vec_id", "embedding", idx.centroids)
        .withColumn("gen", lit(1))
        .repartition(col("ivf_cell"))
        .write.mode("append").partitionBy("ivf_cell")
        .parquet(tmp + "/ivf/assigned")
    }

  // ---- probes over the end state ------------------------------------------

  /** Per-v2-doc survivor election from the persisted incremental component
    * store: (doc_id, component, kept) — `dedup_neardup_survivors`
    * semantics over the v2 corpus. */
  def survivors(s: SparkSession, d: String, root: String): DataFrame = {
    val comps = s.read.parquet(root + "/components")
      .select(col("id").as("doc_id"), col("label"))
    graft.Tables.documents(s, d).filter(col("doc_id") % 13 =!= 7)
      .select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("component"))
  }

  /** IVF cosine top-k over the live (tombstone-filtered) grown index,
    * probing with the v2 query vector. */
  def ivfProbeLive(s: SparkSession, d: String, root: String,
      k: Int = 10, nprobe: Int = 3): DataFrame = {
    val idx = Similarity.ivfRead(s, root + "/ivf")
    val aliveAssigned = DeltaStore.alive(s, idx.assigned,
      root + "/ivf/tomb", "vec_id")
    val qvec = Similarity.queryVector(
      v2Emb(graft.Tables.embeddings(s, d)), "vec_id", "embedding", QueryVecId)
    Similarity.ivfProbe(aliveAssigned, idx.centroids, "vec_id", "embedding",
      qvec, k = k, nprobe = nprobe, excludeId = Some(QueryVecId))
  }

  /** The lane: one frame uniting the three store probes, every value
    * exactly replayed by the full-v2-recompute DuckDB oracle. */
  def lane(s: SparkSession, d: String): DataFrame = {
    val root = storeCached(s, d)
    val bm25 = Ranking.bm25TopKVersionedStore(s, root + "/bm25", Terms)
      .select(lit("bm25").as("part"), lit(Terms.mkString(" ")).as("k"),
        col("id"), col("score"))
    val surv = survivors(s, d, root)
      .select(lit("survivor").as("part"), lit("").as("k"),
        col("doc_id").as("id"), col("component").cast("double").as("score"))
    val ivf = ivfProbeLive(s, d, root)
      .select(lit("ivf").as("part"), lit("q1").as("k"),
        col("vec_id").as("id"), col("cos").as("score"))
    bm25.unionByName(surv).unionByName(ivf)
      .orderBy(col("part"), col("k"), col("id"))
  }
}
