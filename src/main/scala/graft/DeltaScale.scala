package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, DeltaStore, IncrementalPipeline => IP, Ranking, Similarity}

/** Measurement harness for the delta loop's scale claim (PLANS.md r16):
  * the work of maintaining the stores across a corpus version bump must be
  * DELTA-SIZED, not corpus-sized. Runs the same phases the cached e2e
  * build composes ([[graft.ext.IncrementalPipeline.storeCached]]):
  *
  *  - v1_build: the corpus-sized one-off (BM25 gen-0 + signature gen-0 +
  *    IVF train/assign over v1);
  *  - delta text-pass: the per-version-bump work (fingerprint diff,
  *    tombstones + negative partials, delta-only BM25/signature/IVF
  *    writes);
  *  - delta closure: pairs + components over live signatures (live-SET-
  *    sized in BOTH paths by necessity — removal can split a component);
  *  - v2 recompute (text + closure): what a pipeline WITHOUT the delta
  *    loop pays.
  *
  * Methodology (the bench discipline): every phase runs ONCE UNTIMED into
  * a throwaway twin directory (JIT/codegen/page-cache warm-up — phase
  * ordering would otherwise bias whichever phase runs last), then once
  * timed into the real directory. Prints one JSON line.
  * Usage: runMain graft.DeltaScale <sfDir> [outRoot].
  */
object DeltaScale {

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val root = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_deltascale").toString
    val spark = GraftSession.local(GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, d)
    val emb = Tables.embeddings(spark, d)
    val (dv1, dv2) = (IP.v1Docs(docs), IP.v2Docs(docs))
    val (ev1, ev2) = (IP.v1Emb(emb), IP.v2Emb(emb))

    def v1Build(out: String): Similarity.IvfIndex = {
      Ranking.bm25WriteVersioned(dv1, "text", "doc_id", s"$out/bm25", gen = 0)
      IP.writeSigGen(dv1, s"$out/sig", gen = 0)
      val i = Similarity.ivfIndex(ev1, "vec_id", "embedding", nCells = 8)
      i.assigned.withColumn("gen", lit(0)).repartition(col("ivf_cell"))
        .write.mode("overwrite").partitionBy("ivf_cell")
        .parquet(s"$out/ivf/assigned")
      i
    }

    def deltaText(out: String, idx: Similarity.IvfIndex): Unit = {
      val dd = Dedup.boundedCheckpoint(IP.delta(dv1, dv2, "doc_id", "text"))
      Dedup.rotateCheckpoints(s"DeltaScale:dd", dd)
      val dead = dd.filter(col("status").isin("removed", "changed"))
        .select(col("doc_id").as("id"))
      // BROADCAST the delta manifest (r17): without the hint this semi
      // join shuffled the full corpus TEXT by doc_id — measured at x100 as
      // delta_text 26-41 s vs recompute 28-53 s, i.e. the "delta-sized"
      // pass was paying a corpus-sized shuffle. The manifest is ids-only
      // (delta-sized by construction), exactly what broadcast is for.
      val ups = dv2.join(
        broadcast(dd.filter(col("status").isin("added", "changed"))
          .select(col("doc_id"))),
        Seq("doc_id"), "left_semi")
      Ranking.bm25DeleteVersioned(spark, s"$out/bm25", dead, beforeGen = 1)
      Ranking.bm25WriteVersioned(ups, "text", "doc_id", s"$out/bm25", gen = 1)
      DeltaStore.tombstone(dead, beforeGen = 1, s"$out/sig_tomb")
      IP.writeSigGen(ups, s"$out/sig", gen = 1)
      val ed = Dedup.boundedCheckpoint(
        IP.delta(ev1.withColumn("fp", col("embedding").cast("string")),
          ev2.withColumn("fp", col("embedding").cast("string")), "vec_id", "fp"))
      Dedup.rotateCheckpoints(s"DeltaScale:emb", ed)
      DeltaStore.tombstone(ed.filter(col("status").isin("removed", "changed"))
        .select(col("vec_id").as("id")), beforeGen = 1, s"$out/ivf/tomb")
      val upv = ev2.join(
        broadcast(ed.filter(col("status").isin("added", "changed"))
          .select(col("vec_id"))),
        Seq("vec_id"), "left_semi")
      Similarity.ivfAssign(upv, "vec_id", "embedding", idx.centroids)
        .withColumn("gen", lit(1)).repartition(col("ivf_cell"))
        .write.mode("append").partitionBy("ivf_cell")
        .parquet(s"$out/ivf/assigned")
    }

    def deltaClosure(out: String): Unit = {
      // band=0 slice = one signature row per id, partition-pruned (the
      // storeCached discipline — no wide-array dedup shuffle)
      val aliveSigs = Dedup.boundedCheckpoint(DeltaStore
        .alive(spark,
          spark.read.parquet(s"$out/sig").filter(col("band") === 0),
          s"$out/sig_tomb", "id")
        .select(col("id"), col("sig")))
      Dedup.rotateCheckpoints(s"DeltaScale:sigs", aliveSigs)
      val comps = Dedup.connectedComponents(
        Dedup.minhashNearDupsFromSigs(aliveSigs).select(col("id1"), col("id2")))
      comps.write.mode("overwrite").parquet(s"$out/components")
      Dedup.unpersistCheckpoint(comps)
    }

    def recomputeText(out: String, idx: Similarity.IvfIndex): org.apache.spark.sql.DataFrame = {
      Ranking.bm25WriteVersioned(dv2, "text", "doc_id", s"$out/bm25_full", gen = 0)
      val sigs = Dedup.boundedCheckpoint(Dedup.minhashSignatures(dv2, "text", "doc_id"))
      Dedup.rotateCheckpoints(s"DeltaScale:full", sigs)
      sigs.count() // materialize the signing pass inside the timed block
      Similarity.ivfAssign(ev2, "vec_id", "embedding", idx.centroids)
        .withColumn("gen", lit(0)).repartition(col("ivf_cell"))
        .write.mode("overwrite").partitionBy("ivf_cell")
        .parquet(s"$out/ivf_full/assigned")
      sigs
    }

    def recomputeClosure(out: String, sigs: org.apache.spark.sql.DataFrame): Unit = {
      val comps = Dedup.connectedComponents(
        Dedup.minhashNearDupsFromSigs(sigs).select(col("id1"), col("id2")))
      comps.write.mode("overwrite").parquet(s"$out/components_full")
      Dedup.unpersistCheckpoint(comps)
    }

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val (w, m) = (s"$root/w", s"$root/m") // warm-up twin / measured
    // warm-up pass, untimed, full phase sequence into the twin dirs
    val idxW = v1Build(w)
    deltaText(w, idxW); deltaClosure(w)
    recomputeClosure(w, recomputeText(w, idxW))
    // bounded-memory discipline (VERDICT r16 #4): the warm-up pass retains
    // one checkpoint generation per key — corpus-sized frames at x100 that
    // the measured pass would otherwise carry as dead heap into the
    // closure. Free them all; the measured pass rebuilds its own.
    Dedup.clearRotatedCheckpoints()
    spark.catalog.clearCache()
    // measured pass
    var idx: Similarity.IvfIndex = null
    val tV1 = timed { idx = v1Build(m) }
    val tDeltaText = timed(deltaText(m, idx))
    val tDeltaClosure = timed(deltaClosure(m))
    var sigsFull: org.apache.spark.sql.DataFrame = null
    val tRecText = timed { sigsFull = recomputeText(m, idx) }
    val tRecClosure = timed(recomputeClosure(m, sigsFull))

    val nV1 = dv1.count(); val nV2 = dv2.count()
    val nDelta = IP.delta(dv1, dv2, "doc_id", "text")
      .filter(col("status").isin("added", "changed")).count()
    def f(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"metric":"delta_scale","dir":"$d","v1_docs":$nV1,"v2_docs":$nV2,""" +
      s""""delta_docs":$nDelta,"v1_build_sec":${f(tV1)},""" +
      s""""delta_text_sec":${f(tDeltaText)},"delta_closure_sec":${f(tDeltaClosure)},""" +
      s""""recompute_text_sec":${f(tRecText)},"recompute_closure_sec":${f(tRecClosure)},""" +
      s""""text_speedup":${f(tRecText / tDeltaText)},""" +
      s""""e2e_speedup":${f((tRecText + tRecClosure) / (tDeltaText + tDeltaClosure))}}""")
    spark.stop()
  }
}
