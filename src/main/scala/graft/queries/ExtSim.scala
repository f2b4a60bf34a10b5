package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Snapshot, Tables}
import graft.ext.{Dedup, Hll, Multimodal, Ranking, Similarity, StoreCompaction, TextAnalysis => TA}
import ExtShared._

/** Similarity-search + ranking lanes (ANN brute/LSH/IVF/PQ, BM25, NDCG).
  *
  * Split from the former monolithic Extensions.scala (registry unchanged:
  * [[Extensions.queries]] / [[Extensions.oracles]] concatenate the domain
  * objects). Oracle policy and citations live on [[Extensions]].
  */
private[graft] object ExtSim {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BM25 ranked retrieval for a fixed 3-term query: tf shuffles only
    // query-term rows, dl is a pure projection, df/globals broadcast,
    // fixed-order score sum, TakeOrdered top-k.
    "rank_bm25_topk" -> ((s, d) => {
      Ranking.bm25TopK(Tables.documents(s, d), "text", "doc_id",
        Seq("spark", "window", "join"), k = 20)
        .select(col("id").as("doc_id"), col("score"))
    }),

    // The SAME query over the persisted inverted index: the probe reads
    // only the query terms' postings buckets (partition-pruned), globals
    // from the 1-row sidecar, identical scoring tree -> identical output
    // (and the oracle replays the same math from the raw table).
    "rank_bm25_indexed" -> ((s, d) => {
      val store = Ranking.bm25IndexCached(Tables.documents(s, d), "text", "doc_id", d)
      Ranking.bm25TopKIndexed(s, store, Seq("spark", "window", "join"), k = 20)
        .select(col("id").as("doc_id"), col("score"))
    }),

    // INCREMENTAL index: even docs build the store, odd docs arrive as an
    // append (same bucket partitioning, mergeable (n_part, dl_sum) globals
    // partials — no rescan, no swap). The probe over the grown index must
    // equal the full-corpus ranking exactly; the oracle is the same
    // full-corpus replay as the direct/indexed lanes.
    "rank_bm25_incremental" -> ((s, d) => {
      val store = Ranking.bm25IndexIncrementalCached(
        Tables.documents(s, d), "text", "doc_id", d)
      Ranking.bm25TopKIndexed(s, store, Seq("spark", "window", "join"), k = 20)
        .select(col("id").as("doc_id"), col("score"))
    }),

    // TIME TRAVEL over the versioned store (VERDICT r16 #6): the as-of
    // probe reconstructs generation 0 — the v1 corpus — from the SAME
    // store the delta loop grew to v2 (gen-bounded rows, tombstones and
    // globals partials; identical scoring tree). The oracle recomputes
    // BM25 directly over the v1 predicate, so the hash match proves the
    // store still holds the old view exactly, not approximately.
    "rank_bm25_asof" -> ((s, d) => {
      val root = graft.ext.IncrementalPipeline.storeCached(s, d)
      Ranking.bm25TopKVersionedStoreAsOf(s, root + "/bm25",
        graft.ext.IncrementalPipeline.Terms, asOfGen = 0)
        .select(col("id").as("doc_id"), col("score"))
    }),

    // Retrieval-quality evaluation: NDCG@10 of the BM25 ranking against a
    // deterministic relevance label (#distinct query terms in the doc).
    // The eval-metric lane beside the recall lanes: DCG over the top-10,
    // IDCG from the corpus-wide ideal ordering via TakeOrdered + a 10-row
    // window (never a corpus-wide row_number sort), one summary row out.
    "rank_ndcg_eval" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("spark", "window", "join")
      val docs = Tables.documents(s, d)
      // rel is referenced three times (top-10 join, ideal ordering,
      // n_relevant) — checkpoint the tiny aggregate so the corpus token
      // explode runs ONCE, not per reference
      val rel = docs
        .select(col("doc_id"), explode(TA.tokens(col("text"))).as("t"))
        .filter(col("t").isin(terms: _*))
        .groupBy(col("doc_id")).agg(count_distinct(col("t")).as("rel"))
        .localCheckpoint()
      Dedup.rotateCheckpoints("rank_ndcg_rel", rel)
      def gain(relC: org.apache.spark.sql.Column,
          rankC: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        (pow(lit(2.0), relC) - 1) / log2(rankC + 1)
      val top = Ranking.bm25TopK(docs, "text", "doc_id", terms, k = 10)
        .select(col("id").as("doc_id"), col("score"))
        .join(rel, Seq("doc_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      val dcg = top.agg(sum(gain(col("rel"), col("rnk"))).as("dcg_10"))
      val ideal = rel.orderBy(col("rel").desc, col("doc_id")).limit(10)
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("rel").desc, col("doc_id"))))
      val idcg = ideal.agg(sum(gain(col("rel"), col("rnk"))).as("idcg_10"))
      val rc = rel.agg(count(lit(1)).as("n_relevant"))
      rc.crossJoin(dcg).crossJoin(idcg)
        .select(col("n_relevant"), round(col("dcg_10"), 6).as("dcg_10"),
          round(col("idcg_10"), 6).as("idcg_10"),
          round(col("dcg_10") / col("idcg_10"), 6).as("ndcg_10"))
    }),

    // ---- similarity search (oracle-checked) --------------------------------
    "sim_cosine_topk" -> ((s, d) => {
      Similarity.bruteForceTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, k = 10)
    }),

    "sim_embedding_neardup" -> ((s, d) => {
      Similarity.cosineNearDupPairs(
        Tables.embeddings(s, d).filter(col("vec_id") < 100), "vec_id", "embedding",
        threshold = 0.3)
        .orderBy(col("id1"), col("id2"))
    }),

    // Johnson–Lindenstrauss random projection 64-d -> 8-d (the dim-
    // reduction step before ANN indexing): deterministic seeded Gaussian
    // planes, y_j = dot(v, plane_j)/sqrt(8). Pure projection, zero
    // shuffles; first two components + the squared projected norm are
    // exact-replayed from the plane literals (sequential IEEE arithmetic
    // both engines).
    "sim_random_projection" -> ((s, d) => {
      val proj = Similarity.randomProject(
        Tables.embeddings(s, d), "vec_id", "embedding", outDim = 8)
      val ny2 = (0 until 8).map(j => col(s"y$j") * col(s"y$j")).reduce(_ + _)
      proj.select(col("vec_id"),
        round(col("y0"), 6).as("y0"), round(col("y1"), 6).as("y1"),
        round(ny2, 6).as("ny2"))
        .orderBy(col("vec_id"))
    }),

    // Symmetric int8 vector quantization (the embedding-compression step
    // before ANN indexing at scale: 4x smaller, cache-resident codes).
    // Per vector: the scale (127/max|x|), the mean squared reconstruction
    // error, and how many lanes saturate. floor(x+0.5) is used instead of
    // round() because both engines evaluate it exactly on the binary double
    // (Spark's round stringifies first); every HOF is referenced once.
    "sim_quantize_int8" -> ((s, d) => {
      Tables.embeddings(s, d)
        .withColumn("mx", aggregate(col("embedding"), lit(0.0),
          (acc, x) => greatest(acc, abs(x))))
        .filter(col("mx") > 0.0)
        .withColumn("scale", lit(127.0) / col("mx"))
        .withColumn("sq_err", aggregate(col("embedding"), lit(0.0),
          (acc, x) => {
            // explicit multiply, not pow(): e*e is a single correctly-rounded
            // op in both engines, so the error sums match bit-for-bit
            val e = x - floor(x * col("scale") + 0.5) / col("scale")
            acc + e * e
          }))
        .withColumn("n_sat", size(filter(col("embedding"),
          x => abs(floor(x * col("scale") + 0.5)) >= 127)).cast("long"))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          round(col("sq_err") / size(col("embedding")), 10).as("mse"),
          col("n_sat"))
        .orderBy(col("vec_id"))
    }),

    // ANN queries are oracle-checked: the hyperplanes/centroid rule are
    // deterministic, so the oracle SQL embeds the same plane constants and
    // replays the identical bucket/assign/probe math in DuckDB.
    "sim_ann_lsh_topk" -> ((s, d) => {
      Similarity.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, k = 10, planes = 4, dim = 64)
    }),

    // Production IVF shape: build + PERSIST the index once per corpus
    // snapshot (partitioned by ivf_cell), then every probe — including
    // repeat runs of this query — is a partition-pruned scan of
    // nprobe/nCells of the data, never a rebuild. The cache key includes
    // the source file's size+mtime, so a regenerated corpus (e.g. a rebuilt
    // scale fixture) gets a fresh index instead of stale cells.
    "sim_ann_ivf_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val index = cachedIvfIndex(s, d, emb)
      val qvec = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
      Similarity.ivfProbe(index.assigned, index.centroids, "vec_id", "embedding",
        qvec, k = 10, nprobe = 3, excludeId = Some(0L))
    }),

    // Batch kNN JOIN: every 100th vector probes the SAME persisted IVF
    // layout for its 5 nearest neighbors in one distributed query — the
    // corpus-vs-corpus retrieval shape (single-query ivfProbe collects the
    // query vector on the driver; this never does). Per-probe cell choice
    // and top-k are windows keyed on the probe id, candidates come from
    // the ivf_cell equi-join.
    "sim_knn_join" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val index = cachedIvfIndex(s, d, emb)
      Similarity.ivfKnnJoin(index.assigned, index.centroids,
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        "vec_id", "embedding", k = 5, nprobe = 3)
        .orderBy(col("query_id"), col("rk"))
    }),

    // Similarity-threshold CALIBRATION: the cosine distribution over a
    // deterministic pseudo-random pair sample (FNV step on the id ring,
    // one partner per vector) binned into 10 fixed buckets on [−1,1] —
    // the baseline that tells you where "random pairs" live before
    // choosing a near-dup threshold. One equi-join + one ≤10-group
    // aggregate; no all-pairs anywhere.
    "sim_threshold_calibration" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val n = emb.count() // bounded driver-side scalar (corpus row count)
      val h = graft.functions.Fnv.fnv1a64(
        concat_ws(":", lit("cal"), col("vec_id")))
      val pairs = emb.select(col("vec_id"), col("embedding"))
        .withColumn("pid",
          pmod(col("vec_id") + lit(1L) + pmod(h, lit(n - 1)), lit(n)))
      val partner = emb.select(col("vec_id").as("pid"), col("embedding").as("e2"))
      val binned = pairs.join(partner, "pid")
        // bin the ROUNDED cosine: an unrounded value 1 ulp from a 0.2 bin
        // edge could land in different bins across engines
        .withColumn("cos", round(Similarity.cosine(col("embedding"), col("e2")), 6))
        .withColumn("bin",
          least(lit(9L), floor((col("cos") + 1.0) / 0.2).cast("long")))
        .groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
      val tot = binned.agg(sum(col("n_pairs")).as("__t"))
      binned.crossJoin(broadcast(tot))
        .select(col("bin"), col("n_pairs"),
          round(col("n_pairs").cast("double") / col("__t"), 6).as("share"))
        .orderBy(col("bin"))
    }),

    // IVF index-health report: per cell, member count, mean and worst
    // cosine to the centroid — the balance/compactness numbers that decide
    // when an index needs re-training (a cell whose mean similarity decays
    // after many incremental appends is drifting off its centroid). One
    // partition-pruned-capable scan of the persisted assignment + an
    // 8-row centroid broadcast + one k-group aggregate.
    // Per-DIMENSION embedding profile: mean/std/min/max for every vector
    // dimension — the drift/dead-dimension screen run before trusting an
    // ANN index or a quantizer codebook. One posexplode into one
    // dim-keyed aggregate (64 output rows at any corpus size); stats
    // rounded at 4 dp so the engines' different variance accumulation
    // orders can't surface.
    "sim_embedding_dim_profile" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("x", col("x").cast("double"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("x")), 4).as("mean"),
          round(stddev_samp(col("x")), 4).as("std"),
          round(min(col("x")), 4).as("lo"),
          round(max(col("x")), 4).as("hi"))
        .orderBy(col("dim"))
    }),

    "sim_cell_health" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val index = cachedIvfIndex(s, d, emb)
      val cents = index.centroids.toDF("ivf_cell", "__cvec")
      index.assigned.join(broadcast(cents), "ivf_cell")
        .withColumn("__cos", Similarity.cosine(col("embedding"), col("__cvec")))
        .groupBy(col("ivf_cell"))
        .agg(count(lit(1)).as("n_vectors"),
          round(avg(col("__cos")), 6).as("mean_cos"),
          round(min(col("__cos")), 6).as("min_cos"))
        .orderBy(col("ivf_cell"))
    }),

    // FILTERED vector search — top-k among vectors satisfying a metadata
    // predicate (label = 1), the shape every production vector store
    // serves. The cell prune happens FIRST (partition-prunable scan of
    // the persisted assignment), the label joins in from the corpus
    // table, the predicate filters before the top-k — post-filtering at
    // candidate scale, never corpus scale.
    "sim_ann_filtered_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val index = cachedIvfIndex(s, d, emb)
      val qvec = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
      val cells = Similarity.ivfProbeCells(index.centroids, qvec, nprobe = 3)
      index.assigned.filter(col("ivf_cell").isin(cells: _*))
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
        .filter(col("label") === 1 && col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"),
          round(Similarity.cosine(col("embedding"), typedLit(qvec)), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }),

    // IVF-PQ — the two halves composed into the production ANN shape:
    // the IVF layout prunes the search to nprobe cells (a partition-pruned
    // scan of the persisted index), and WITHIN those cells distance runs
    // over the 8-byte PQ codes via ADC instead of the raw 64 floats. At
    // 100 TB this is cells-on-disk + codes-in-memory: the scan touches
    // nprobe/nCells of the corpus and 1/32 of the bytes.
    "sim_ivfpq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val index = cachedIvfIndex(s, d, emb)
      val (cb, codes) = cachedPq(s, d, emb)
      val qvec = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
      val cells = Similarity.ivfProbeCells(index.centroids, qvec, nprobe = 3)
      val pruned = cachedCodesByCell(s, d, index, codes)
        .filter(col("ivf_cell").isin(cells: _*))
      Similarity.pqAdcTopK(pruned, cb, qvec, m = 8,
        topK = 10, excludeId = Some(0L))
        .select(col("id").as("vec_id"), col("est_d2"))
    }),

    // The COMPLETE production ANN chain: IVF prune → ADC over the 8-byte
    // codes for a WIDE candidate set (C=100 here; C ~ 50·k in production) →
    // exact re-rank of just those C candidates against the raw vectors.
    // ADC quantization error only matters at the top-k boundary, so
    // re-ranking C ≫ k candidates with exact distances recovers near-exact
    // recall while the corpus-wide scan still reads only codes. At 100 TB
    // the exact leg is a broadcast semi-join of C ids against the corpus —
    // C rows of full vectors, constant cost — and the ADC stage bounds
    // everything upstream of it. Re-rank recall ≥ ADC-only recall is
    // pinned in SimilaritySpec.
    "sim_ivfpq_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val index = cachedIvfIndex(s, d, emb)
      val (cb, codes) = cachedPq(s, d, emb)
      val qvec = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
      val cells = Similarity.ivfProbeCells(index.centroids, qvec, nprobe = 3)
      val pruned = cachedCodesByCell(s, d, index, codes)
        .filter(col("ivf_cell").isin(cells: _*))
      val cand = Similarity.pqAdcTopK(pruned, cb, qvec, m = 8,
        topK = 100, excludeId = Some(0L)).select(col("id").as("vec_id"))
      emb.join(broadcast(cand), "vec_id")
        .select(col("vec_id"),
          round(Similarity.l2sq(col("embedding").cast("array<double>"),
            typedLit(qvec)), 6).as("d2"))
        .orderBy(col("d2"), col("vec_id")).limit(10)
    }),

    // INCREMENTAL index growth — the production ANN shape beside
    // dedup_incremental: the base corpus (even vec_ids) builds + persists
    // the index once; the delta (odd vec_ids) is assigned against the
    // STORED centroids and appended into the ivf_cell partitions, no
    // rebuild, no corpus rescan. The probe then runs over the grown index
    // exactly as if the full corpus had been assigned under the base
    // centroids — which is what the oracle replays.
    "sim_ann_ivf_incremental" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // base write, append and compaction all land in one Snapshot: a
      // crash between them publishes nothing, never a base-only index
      val path = Snapshot.cached(snapPath(d, "graft_ivf_", "inc1")) { tmp =>
        val built = Similarity.ivfIndex(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", nCells = 8)
        Similarity.ivfWrite(built, tmp)
        Similarity.ivfAppend(s, tmp,
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
        // base + append = 2 files per touched cell: compact back to one
        // file per cell (probe opens exactly one file per probed cell).
        // Runs once per corpus snapshot, inside the build — repeat
        // probes never pay it.
        StoreCompaction.compact(s, s"$tmp/assigned", maxFiles = 1)
      }
      val index = Similarity.ivfRead(s, path)
      val qvec = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
      Similarity.ivfProbe(index.assigned, index.centroids, "vec_id", "embedding",
        qvec, k = 10, nprobe = 3, excludeId = Some(0L))
    }),

    // PRODUCT QUANTIZATION — the embedding-compression half of IVF-PQ: the
    // corpus is encoded as m=8 one-byte codes per vector (32x smaller than
    // the float32 dims), the query stays exact, and top-k runs over
    // looked-up partial distances (ADC). Codebook training is the same
    // deterministic stride-seed + exact-long-mean Lloyd discipline as the
    // IVF index, so every stage replays in SQL.
    "sim_pq_adc_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (cb, codes) = cachedPq(s, d, emb)
      val qvec = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
      Similarity.pqAdcTopK(codes, cb, qvec, m = 8, topK = 10, excludeId = Some(0L))
        .select(col("id").as("vec_id"), col("est_d2"))
    }),

    // ADC quality: recall@10 of the 8-byte-code scan against the exact
    // full-dimension L2 top-10 (the same order-pinned fold).
    "sim_pq_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (cb, codes) = cachedPq(s, d, emb)
      val qvec = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
      val ann = Similarity.pqAdcTopK(codes, cb, qvec, m = 8, topK = 10,
        excludeId = Some(0L)).select(col("id").as("vec_id"))
      val bf = emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          Similarity.l2sq(col("embedding").cast("array<double>"),
            typedLit(qvec)).as("d2"))
        .orderBy(col("d2"), col("vec_id")).limit(10).select(col("vec_id"))
      ann.join(bf, "vec_id").agg(count(lit(1)).as("n_hits"))
        .select(lit(10).as("k"), col("n_hits"),
          round(col("n_hits") / 10.0, 4).as("recall"))
    }),

    // Quantified ANN quality: recall@10 of each approximate path against the
    // brute-force exact top-10, joined in-Spark — deterministic values.
    "sim_ann_lsh_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
        .select(col("vec_id"))
      val ann = Similarity.lshTopK(emb, "vec_id", "embedding", 0L, 10,
        planes = 4, dim = 64).select(col("vec_id"))
      ann.join(bf, "vec_id").agg(count(lit(1)).as("n_hits"))
        .select(lit(10).as("k"), col("n_hits"),
          round(col("n_hits") / 10.0, 4).as("recall"))
    }),

    "sim_ann_ivf_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
        .select(col("vec_id"))
      val ann = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
        nCells = 8, nprobe = 3).select(col("vec_id"))
      ann.join(bf, "vec_id").agg(count(lit(1)).as("n_hits"))
        .select(lit(10).as("k"), col("n_hits"),
          round(col("n_hits") / 10.0, 4).as("recall"))
    }),

    // Recall-vs-nprobe TUNING CURVE: the same persisted index probed at
    // nprobe = 1, 2, 3 against one brute-force ground truth — the curve
    // that picks the latency/recall operating point. Each probe is the
    // partition-prunable cell scan; the ground-truth top-10 is
    // checkpointed once.
    "sim_ann_nprobe_curve" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val index = cachedIvfIndex(s, d, emb)
      val qvec = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
      val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
        .select(col("vec_id")).localCheckpoint()
      Dedup.rotateCheckpoints("sim_nprobe_curve_bf", bf)
      Seq(1, 2, 3).map { np =>
        Similarity.ivfProbe(index.assigned, index.centroids, "vec_id",
            "embedding", qvec, k = 10, nprobe = np, excludeId = Some(0L))
          .select(col("vec_id")).join(bf, "vec_id")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(np).as("nprobe"), col("n_hits"),
            round(col("n_hits") / 10.0, 4).as("recall"))
      }.reduce(_ unionAll _).orderBy(col("nprobe"))
    }),

    // Label-centroid similarity matrix: per-label mean embedding via ONE
    // (label, dim) melt-aggregate, then the pairwise cosine over the tiny
    // centroid set (labels², not vectors² — the all-pairs stays on the
    // handful of centroids). The class-confusability readout used to
    // decide which labels to merge or re-annotate.
    "sim_label_centroid_matrix" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      val comp = e.groupBy(col("label"), col("dim"))
        .agg(avg(col("x").cast("double")).as("c"))
      val cents = comp.groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          p => p.getField("c")).as("v"))
      val sizes = Tables.embeddings(s, d).groupBy(col("label"))
        .agg(count(lit(1)).as("n"))
      val withN = cents.join(sizes, "label")
      val a = withN.select(col("label").as("l1"), col("v").as("v1"), col("n").as("n1"))
      val b = withN.select(col("label").as("l2"), col("v").as("v2"), col("n").as("n2"))
      a.join(b, col("l1") < col("l2"))
        .select(col("l1"), col("l2"), col("n1"), col("n2"),
          round(graft.ext.Similarity.cosine(col("v1"), col("v2")), 6).as("cos"))
        .orderBy(col("l1"), col("l2"))
    }),

    // Reciprocal-rank fusion of two retrieval lists — BM25 top-20 (lexical)
    // and a length-prior top-20 (the quality-signal stand-in every hybrid
    // search stack fuses with) — rrf = sum 1/(60+rank). Each ranking's
    // row_number window runs over its own 20-row TakeOrdered result, never
    // the corpus; each 1/(60+r) term is a single division, so the fused
    // scores are bit-identical cross-engine.
    "rank_rrf_fusion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val bm = Ranking.bm25TopK(docs, "text", "doc_id",
          Seq("spark", "window", "join"), k = 20)
        .select(col("id").as("doc_id"), col("score"))
        .withColumn("r", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("r"))
      val lp = docs.select(col("doc_id"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id")).limit(20)
        .withColumn("r", row_number().over(
          Window.orderBy(col("n_chars").desc, col("doc_id"))))
        .select(col("doc_id"), col("r"))
      bm.unionAll(lp)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lists"),
          sum(lit(1.0) / (lit(60) + col("r"))).as("rrf0"))
        .orderBy(col("rrf0").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), col("n_lists"), round(col("rrf0"), 6).as("rrf"))
    }),

    // Retrieval precision/recall@k + reciprocal rank for the BM25 ranking:
    // relevant = the doc contains ALL three query terms. The k axis is a
    // 3-element explode over the 20-row top list; rr is max(1/rank) over
    // the relevant retrieved rows (= 1/first-relevant-rank). The
    // set-metric complement to rank_ndcg_eval's graded DCG.
    "rank_pr_at_k" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("spark", "window", "join")
      val docs = Tables.documents(s, d)
      // rel feeds the total, the join, and (via top) both metric passes;
      // top feeds the RR aggregate and the k-explode — checkpoint both so
      // the corpus tokenize/score/TakeOrdered runs ONCE
      val rel = docs
        .select(col("doc_id"), explode(TA.tokens(col("text"))).as("t"))
        .filter(col("t").isin(terms: _*))
        .groupBy(col("doc_id")).agg(count_distinct(col("t")).as("nt"))
        .filter(col("nt") === terms.length)
        .select(col("doc_id"), lit(1L).as("rel"))
        .localCheckpoint()
      Dedup.rotateCheckpoints("rank_pr_at_k_rel", rel)
      val nrel = rel.agg(count(lit(1)).as("n_rel_total"))
      val top = Ranking.bm25TopK(docs, "text", "doc_id", terms, k = 20)
        .select(col("id").as("doc_id"), col("score"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .join(rel, Seq("doc_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
        .localCheckpoint()
      Dedup.rotateCheckpoints("rank_pr_at_k_top", top)
      val rr = top.agg(coalesce(max(when(col("rel") === 1,
        lit(1.0) / col("rank"))), lit(0.0)).as("rr"))
      top.withColumn("k", explode(array(lit(5), lit(10), lit(20))))
        .filter(col("rank") <= col("k"))
        .groupBy(col("k")).agg(sum(col("rel")).as("n_rel_ret"))
        .crossJoin(broadcast(nrel)).crossJoin(broadcast(rr))
        .select(col("k"), col("n_rel_ret"), col("n_rel_total"),
          round(col("n_rel_ret").cast("double") / col("k"), 6).as("precision"),
          round(col("n_rel_ret").cast("double") / col("n_rel_total"), 6).as("recall"),
          round(col("rr"), 6).as("rr"))
        .orderBy(col("k"))
    }),

    // Maximal-marginal-relevance diversity re-rank of the cosine top-20
    // (lambda=0.7, 5 selections): greedy argmax of 0.7*rel - 0.3*max-sim-
    // to-selected. The top-20 retrieval and the 20x20 pairwise-sim matrix
    // are distributed; the greedy itself runs on the driver over the
    // k-BOUNDED candidate set (k=20 rows + k^2 rounded sims — the same
    // bounded-collect class as the IVF centroid loops). All scores are
    // arithmetic on 6-decimal-rounded cosines, so selection is
    // bit-deterministic cross-engine.
    "sim_mmr_diversify" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // cand feeds the rel collect AND both sides of the pairwise self-
      // join — checkpoint so the scan + global top-k runs ONCE
      val cand = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queryId = 0L, k = 20).localCheckpoint()
      Dedup.rotateCheckpoints("sim_mmr_diversify", cand)
      val cv = emb.join(cand.select(col("vec_id")), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"))
      val sims = cv.as("a").join(cv.as("b"),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
          round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 6)
            .as("sim"))
      val relMap = cand.collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val simMap = sims.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      var selected = Vector.empty[(Int, Long, Double, Double)]
      var remaining = relMap.keySet
      // a shorter candidate list yields a shorter selection, not a throw
      for (step <- 1 to math.min(5, relMap.size)) {
        val scored = remaining.toSeq.map { id =>
          val rel = relMap(id)
          val score = if (step == 1) rel
            else 0.7 * rel - 0.3 * selected.map(p => simMap((id, p._2))).max
          (id, rel, score)
        }
        val best = scored.minBy { case (id, _, sc) => (-sc, id) }
        selected :+= ((step, best._1, best._2, best._3))
        remaining -= best._1
      }
      import s.implicits._
      selected.toDF("sel_rank", "vec_id", "rel0", "score0")
        .select(col("sel_rank"), col("vec_id"),
          round(col("rel0"), 6).as("rel"), round(col("score0"), 6).as("mmr_score"))
        .orderBy(col("sel_rank"))
    }),
  )

  def oracles: Map[String, String] = Map(

    // BM25 replay: identical formula with identical association order
    // (k1=1.2, b=0.75 folded to the same literals), the same fixed-order
    // per-term sum, and Spark-parity rounding absorbing the 1-ulp ln()
    // difference between libm and the JVM. The indexed lane replays the
    // SAME chain: the index is lossless, so the oracle recomputes straight
    // from the raw documents table.
    "rank_bm25_indexed" ->
      s"""$bm25ScoredCtes
         |SELECT doc_id, score FROM scored
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // build+append must compose to the full-corpus ranking — same replay
    "rank_bm25_incremental" ->
      s"""$bm25ScoredCtes
         |SELECT doc_id, score FROM scored
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // the as-of-gen-0 probe must equal BM25 recomputed over the v1
    // corpus predicate (doc_id % 17 <> 5 — the IncrementalPipeline rule)
    "rank_bm25_asof" ->
      s"""WITH ${bm25ScoredCtesBody(
             "(SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 5)")}
         |SELECT doc_id, score FROM scored
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "rank_bm25_topk" ->
      s"""$bm25ScoredCtes
         |SELECT doc_id, score FROM scored
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // NDCG replay: relevance = #distinct query terms per doc (from the
    // same tf CTE), DCG over the rounded-score top-10 ranking, IDCG over
    // the global ideal ordering (row_number + filter — the window is fine
    // HERE, DuckDB is the single-node oracle; the Spark side uses
    // TakeOrdered + a 10-row window instead)
    "rank_ndcg_eval" ->
      s"""$bm25ScoredCtes,
         |rel AS (SELECT id AS doc_id, count(*) AS rel FROM tf GROUP BY id),
         |top AS (SELECT doc_id, score FROM scored
         |        ORDER BY score DESC, doc_id LIMIT 10),
         |tr AS (SELECT t.doc_id, coalesce(r.rel, 0) AS rel,
         |         row_number() OVER (ORDER BY t.score DESC, t.doc_id) AS rnk
         |       FROM top t LEFT JOIN rel r USING (doc_id)),
         |dcg AS (SELECT sum((pow(2.0, rel) - 1) / log2(rnk + 1)) AS dcg_10 FROM tr),
         |ideal AS (SELECT rel, rnk FROM (
         |            SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rnk
         |            FROM rel) WHERE rnk <= 10),
         |idcg AS (SELECT sum((pow(2.0, rel) - 1) / log2(rnk + 1)) AS idcg_10 FROM ideal),
         |rc AS (SELECT count(*) AS n_relevant FROM rel)
         |SELECT CAST(n_relevant AS BIGINT) AS n_relevant,
         |  ${sparkRound("dcg_10", 6)} AS dcg_10,
         |  ${sparkRound("idcg_10", 6)} AS idcg_10,
         |  ${sparkRound("dcg_10 / idcg_10", 6)} AS ndcg_10
         |FROM dcg, idcg, rc""".stripMargin,

    "sim_threshold_calibration" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nn AS (SELECT count(*) AS n FROM e),
         |hv AS (SELECT vec_id, v,
         |         ${signed64(fnvSql("'cal:' || CAST(vec_id AS VARCHAR)"))} AS h
         |       FROM e),
         |pr AS (SELECT vec_id, v,
         |         (vec_id + 1 + ((h % (n - 1)) + (n - 1)) % (n - 1)) % n AS pid
         |       FROM hv, nn),
         |cs AS (SELECT ${sparkRound("list_cosine_similarity(pr.v, e2.v)", 6)} AS cos
         |       FROM pr JOIN e e2 ON e2.vec_id = pr.pid),
         |b AS (SELECT CAST(least(9, floor((cos + 1.0) / 0.2)) AS BIGINT) AS bin,
         |        count(*) AS n_pairs
         |      FROM cs GROUP BY 1),
         |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS tt FROM b)
         |SELECT bin, n_pairs,
         |  ${sparkRound("CAST(n_pairs AS DOUBLE) / tt", 6)} AS share
         |FROM b, t ORDER BY bin""".stripMargin,

    // JL projection replayed from the plane literals: list_inner_product
    // accumulates sequentially in double exactly like the codegen'd dot
    // expression (the lshCtes parity), /sqrt(8) as the exact
    // Double.toString literal, squared norm in the same left-assoc order.
    "sim_random_projection" -> {
      val ps = Similarity.hyperplanes(64, 8, seed = 11L)
      val scale = math.sqrt(8.0)
      val ys = ps.zipWithIndex.map { case (p, j) =>
        s"list_inner_product(v, ${planeLit(p)}) / $scale AS y$j"
      }.mkString(",\n|    ")
      val ny2 = (0 until 8).map(j => s"y$j*y$j").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |p AS (SELECT vec_id,
         |    $ys
         |  FROM e)
         |SELECT vec_id, ${sparkRound("y0", 6)} AS y0, ${sparkRound("y1", 6)} AS y1,
         |  ${sparkRound(ny2, 6)} AS ny2
         |FROM p ORDER BY vec_id""".stripMargin
    },

    "sim_quantize_int8" ->
      // the parquet column is FLOAT[]; widen to DOUBLE[] first or DuckDB
      // keeps the whole pipeline in float32 while Spark's aggregate promotes
      // per-element (float bits → double) — emb below matches Spark exactly
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         |    list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
         |  FROM embeddings)
         |SELECT vec_id,
         |  ${sparkRound("127.0 / mx", 6)} AS scale,
         |  ${sparkRound(
              """list_aggregate(list_transform(emb,
                |      x -> (x - floor(x * (127.0 / mx) + 0.5) / (127.0 / mx))
                |         * (x - floor(x * (127.0 / mx) + 0.5) / (127.0 / mx))), 'sum')
                |    / len(emb)""".stripMargin, 10)} AS mse,
         |  CAST(len(list_filter(emb,
         |    x -> abs(floor(x * (127.0 / mx) + 0.5)) >= 127)) AS BIGINT) AS n_sat
         |FROM q WHERE mx > 0.0
         |ORDER BY vec_id""".stripMargin,

    "sim_cosine_topk" ->
      s"""SELECT vec_id, ${sparkRound(
            """list_cosine_similarity(CAST(embedding AS DOUBLE[]),
              |  (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))""".stripMargin,
            6)} AS cos
         |FROM embeddings WHERE vec_id != 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "sim_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 100)
         |SELECT a.vec_id AS id1, b.vec_id AS id2,
         |  ${sparkRound("list_cosine_similarity(a.v, b.v)", 6)} AS cos
         |FROM e a, e b WHERE a.vec_id < b.vec_id
         |  AND ${sparkRound("list_cosine_similarity(a.v, b.v)", 6)} >= 0.3
         |ORDER BY id1, id2""".stripMargin,

    "sim_ann_lsh_topk" ->
      s"""$lshCtes
         |SELECT vec_id, ${sparkRound("list_cosine_similarity(v, qv)", 6)} AS cos
         |FROM b, q WHERE bucket = qb AND vec_id != 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "sim_ann_ivf_topk" ->
      s"""$ivfCtes
         |SELECT a.vec_id, ${sparkRound("list_cosine_similarity(a.v, q.qv)", 6)} AS cos
         |FROM assign a, q
         |WHERE a.cell IN (SELECT cid FROM probe) AND a.vec_id != 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // filtered-ANN replay: same ivfCtes chain, label joined from the raw
    // table, predicate before the top-k
    "sim_ann_filtered_topk" ->
      s"""$ivfCtes
         |SELECT a.vec_id, em.label,
         |  ${sparkRound("list_cosine_similarity(a.v, q.qv)", 6)} AS cos
         |FROM assign a JOIN embeddings em ON em.vec_id = a.vec_id, q
         |WHERE a.cell IN (SELECT cid FROM probe) AND a.vec_id != 0
         |  AND em.label = 1
         |ORDER BY cos DESC, a.vec_id LIMIT 10""".stripMargin,

    // cell-health replay: same ivfCtes chain, per-cell aggregate of the
    // member→centroid cosines (mean fenced at round-6: sums of ≤N/k values
    // in [−1,1] sit ~1e-12 from each other across engines)
    // Parallel unnest zips value and 0-based position (Spark posexplode).
    "sim_embedding_dim_profile" ->
      s"""WITH x AS (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
         |    CAST(unnest(range(len(embedding))) AS INT) AS dim
         |  FROM embeddings)
         |SELECT dim, count(*) AS n,
         |  ${sparkRound("avg(x)", 4)} AS mean,
         |  ${sparkRound("stddev_samp(x)", 4)} AS std,
         |  ${sparkRound("min(x)", 4)} AS lo,
         |  ${sparkRound("max(x)", 4)} AS hi
         |FROM x GROUP BY dim ORDER BY dim""".stripMargin,

    "sim_cell_health" ->
      s"""$ivfCtes
         |SELECT a.cell AS ivf_cell, count(*) AS n_vectors,
         |  ${sparkRound("avg(list_cosine_similarity(a.v, c.cv))", 6)} AS mean_cos,
         |  ${sparkRound("min(list_cosine_similarity(a.v, c.cv))", 6)} AS min_cos
         |FROM assign a JOIN c2 c ON c.cid = a.cell
         |GROUP BY a.cell ORDER BY ivf_cell""".stripMargin,

    // kNN-join replay: the same ivfCtes chain, then per-probe cell choice
    // (row_number over centroid cosine, ties on cid), cell equi-join
    // candidates, per-probe rank on the rounded cosine with neighbor-id
    // ties — the window mirror of the Spark lane
    "sim_knn_join" ->
      s"""$ivfCtes,
         |pr AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
         |qc AS (SELECT query_id, qv, cid FROM (
         |         SELECT p.query_id, p.qv, c.cid,
         |           row_number() OVER (PARTITION BY p.query_id
         |             ORDER BY list_cosine_similarity(c.cv, p.qv) DESC, c.cid) AS crk
         |         FROM pr p, c2 c) WHERE crk <= 3),
         |cand AS (SELECT qc.query_id, a.vec_id AS neighbor_id,
         |           ${sparkRound("list_cosine_similarity(qc.qv, a.v)", 6)} AS cos
         |         FROM qc JOIN assign a ON a.cell = qc.cid
         |         WHERE a.vec_id != qc.query_id),
         |rk AS (SELECT query_id, neighbor_id, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos DESC, neighbor_id) AS INT) AS rk
         |       FROM cand)
         |SELECT query_id, neighbor_id, cos, rk FROM rk WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin,

    // IVF-PQ: the ivf chain's probe-cell membership restricts the pq
    // chain's ADC estimates — both replays verbatim, one WHERE clause
    "sim_ivfpq_topk" ->
      s"""$ivfCtes,
         |$pqChainCtes
         |SELECT vec_id, est_d2 FROM est
         |WHERE vec_id != 0 AND vec_id IN
         |  (SELECT vec_id FROM assign WHERE cell IN (SELECT cid FROM probe))
         |ORDER BY est_d2, vec_id LIMIT 10""".stripMargin,

    // rerank replay: the ivfpq chain's ADC estimates pick the C=100
    // candidate set, the final distance is the exact 64-dim order-pinned
    // fold over the raw vectors — same two stages, one extra CTE
    "sim_ivfpq_rerank" ->
      s"""$ivfCtes,
         |$pqChainCtes,
         |cand AS (SELECT vec_id FROM est
         |      WHERE vec_id != 0 AND vec_id IN
         |        (SELECT vec_id FROM assign WHERE cell IN (SELECT cid FROM probe))
         |      ORDER BY est_d2, vec_id LIMIT 100)
         |SELECT e.vec_id, ${sparkRound(l2FoldSql("e.v", "qq.qv", 64), 6)} AS d2
         |FROM e JOIN cand USING (vec_id), qq
         |ORDER BY d2, vec_id LIMIT 10""".stripMargin,

    "sim_pq_adc_topk" ->
      s"""$pqCtes
         |SELECT vec_id, est_d2 FROM est WHERE vec_id != 0
         |ORDER BY est_d2, vec_id LIMIT 10""".stripMargin,

    "sim_pq_recall" ->
      s"""$pqCtes,
         |ann AS (SELECT vec_id FROM est WHERE vec_id != 0
         |        ORDER BY est_d2, vec_id LIMIT 10),
         |bf AS (SELECT e.vec_id, ${l2FoldSql("e.v", "qq.qv", 64)} AS d2
         |       FROM e, qq WHERE vec_id != 0 ORDER BY d2, vec_id LIMIT 10)
         |SELECT 10 AS k, count(*) AS n_hits, round(count(*) / 10.0, 4) AS recall
         |FROM ann JOIN bf USING (vec_id)""".stripMargin,

    "sim_ann_ivf_incremental" ->
      s"""$ivfIncCtes
         |SELECT a.vec_id, ${sparkRound("list_cosine_similarity(a.v, q.qv)", 6)} AS cos
         |FROM assign a, q
         |WHERE a.cell IN (SELECT cid FROM probe) AND a.vec_id != 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "sim_ann_lsh_recall" ->
      s"""$lshCtes,
         |ann AS (SELECT vec_id FROM b, q WHERE bucket = qb AND vec_id != 0
         |        ORDER BY ${sparkRound("list_cosine_similarity(v, qv)", 6)} DESC, vec_id LIMIT 10),
         |bf AS (SELECT vec_id FROM e, q WHERE vec_id != 0
         |       ORDER BY ${sparkRound("list_cosine_similarity(v, qv)", 6)} DESC, vec_id LIMIT 10)
         |SELECT 10 AS k, count(*) AS n_hits, round(count(*) / 10.0, 4) AS recall
         |FROM ann JOIN bf USING (vec_id)""".stripMargin,

    "sim_ann_ivf_recall" ->
      s"""$ivfCtes,
         |ann AS (SELECT a.vec_id FROM assign a, q
         |        WHERE a.cell IN (SELECT cid FROM probe) AND a.vec_id != 0
         |        ORDER BY ${sparkRound("list_cosine_similarity(a.v, q.qv)", 6)} DESC, a.vec_id LIMIT 10),
         |bf AS (SELECT vec_id FROM e, q WHERE vec_id != 0
         |       ORDER BY ${sparkRound("list_cosine_similarity(v, qv)", 6)} DESC, vec_id LIMIT 10)
         |SELECT 10 AS k, count(*) AS n_hits, round(count(*) / 10.0, 4) AS recall
         |FROM ann JOIN bf USING (vec_id)""".stripMargin,

    // nprobe-curve replay: the same ivfCtes chain with three probe depths
    // against one brute-force truth
    "sim_ann_nprobe_curve" ->
      s"""$ivfCtes,
         |bf AS (SELECT vec_id FROM e, q WHERE vec_id != 0
         |       ORDER BY ${sparkRound("list_cosine_similarity(v, qv)", 6)} DESC, vec_id LIMIT 10),
         |p1 AS (SELECT cid FROM c2, q
         |       ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT 1),
         |p2 AS (SELECT cid FROM c2, q
         |       ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT 2),
         |n1 AS (SELECT a.vec_id FROM assign a, q
         |       WHERE a.cell IN (SELECT cid FROM p1) AND a.vec_id != 0
         |       ORDER BY ${sparkRound("list_cosine_similarity(a.v, q.qv)", 6)} DESC, a.vec_id LIMIT 10),
         |n2 AS (SELECT a.vec_id FROM assign a, q
         |       WHERE a.cell IN (SELECT cid FROM p2) AND a.vec_id != 0
         |       ORDER BY ${sparkRound("list_cosine_similarity(a.v, q.qv)", 6)} DESC, a.vec_id LIMIT 10),
         |n3 AS (SELECT a.vec_id FROM assign a, q
         |       WHERE a.cell IN (SELECT cid FROM probe) AND a.vec_id != 0
         |       ORDER BY ${sparkRound("list_cosine_similarity(a.v, q.qv)", 6)} DESC, a.vec_id LIMIT 10)
         |SELECT 1 AS nprobe, count(*) AS n_hits, round(count(*) / 10.0, 4) AS recall
         |FROM n1 JOIN bf USING (vec_id)
         |UNION ALL
         |SELECT 2, count(*), round(count(*) / 10.0, 4) FROM n2 JOIN bf USING (vec_id)
         |UNION ALL
         |SELECT 3, count(*), round(count(*) / 10.0, 4) FROM n3 JOIN bf USING (vec_id)
         |ORDER BY nprobe""".stripMargin,

    // parallel unnest zips value with its 0-based dim, mirroring posexplode
    "sim_label_centroid_matrix" ->
      s"""WITH x AS (SELECT label, unnest(range(len(embedding))) AS dim,
         |             CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
         |comp AS (SELECT label, dim, avg(x) AS c FROM x GROUP BY label, dim),
         |cents AS (SELECT label, list(c ORDER BY dim) AS v FROM comp GROUP BY label),
         |sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS n
         |          FROM embeddings GROUP BY label)
         |SELECT a.label AS l1, b.label AS l2, sa.n AS n1, sb.n AS n2,
         |  ${sparkRound("list_cosine_similarity(a.v, b.v)", 6)} AS cos
         |FROM cents a JOIN cents b ON a.label < b.label
         |JOIN sizes sa ON sa.label = a.label
         |JOIN sizes sb ON sb.label = b.label
         |ORDER BY l1, l2""".stripMargin,

    // RRF replay over the shared BM25 CTEs + the length-prior list; each
    // 1/(60+r) term is one division, bit-identical both engines.
    "rank_rrf_fusion" ->
      s"""$bm25ScoredCtes,
         |t20 AS (SELECT doc_id, score FROM scored
         |        ORDER BY score DESC, doc_id LIMIT 20),
         |b1 AS (SELECT doc_id,
         |         row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM t20),
         |l20 AS (SELECT doc_id, n_chars FROM documents
         |        ORDER BY n_chars DESC, doc_id LIMIT 20),
         |b2 AS (SELECT doc_id,
         |         row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r FROM l20),
         |u AS (SELECT doc_id, r FROM b1 UNION ALL SELECT doc_id, r FROM b2),
         |f AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
         |        sum(CAST(1 AS DOUBLE) / (60 + r)) AS rrf0
         |      FROM u GROUP BY doc_id)
         |SELECT doc_id, n_lists, ${sparkRound("rrf0", 6)} AS rrf
         |FROM f ORDER BY rrf0 DESC, doc_id LIMIT 10""".stripMargin,

    // Precision/recall@k + RR replay: relevant = all 3 query terms present
    // (from the same tf CTE).
    "rank_pr_at_k" ->
      s"""$bm25ScoredCtes,
         |rel AS (SELECT id AS doc_id, 1 AS rel FROM tf
         |        GROUP BY id HAVING count(DISTINCT t) = 3),
         |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_rel_total FROM rel),
         |top AS (SELECT doc_id,
         |          row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
         |        FROM (SELECT doc_id, score FROM scored
         |              ORDER BY score DESC, doc_id LIMIT 20)),
         |tr AS (SELECT t.doc_id, t.rnk, coalesce(r.rel, 0) AS rel
         |       FROM top t LEFT JOIN rel r USING (doc_id)),
         |rr AS (SELECT coalesce(max(CASE WHEN rel = 1
         |                 THEN CAST(1 AS DOUBLE) / rnk END), 0.0) AS rr FROM tr),
         |pr AS (SELECT k, CAST(sum(rel) AS BIGINT) AS n_rel_ret
         |       FROM (SELECT unnest([5, 10, 20]) AS k) ks, tr
         |       WHERE rnk <= k GROUP BY k)
         |SELECT k, n_rel_ret, n_rel_total,
         |  ${sparkRound("CAST(n_rel_ret AS DOUBLE) / k", 6)} AS "precision",
         |  ${sparkRound("CAST(n_rel_ret AS DOUBLE) / n_rel_total", 6)} AS recall,
         |  ${sparkRound("rr", 6)} AS rr
         |FROM pr, nr, rr ORDER BY k""".stripMargin,

    // MMR replay: same rounded top-20 + pairwise sims, greedy unrolled as
    // 4 literal argmax stages after the pure-relevance seed.
    "sim_mmr_diversify" -> {
      val stages = (2 to 5).map { k =>
        val prev = (1 until k).map(i => s"SELECT vec_id FROM s$i")
          .mkString(" UNION ALL ")
        s"""p${k - 1} AS ($prev),
           |s$k AS (SELECT $k AS step, vec_id, rel,
           |          CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE) * mx AS score
           |        FROM (SELECT c.vec_id, c.rel, max(ps.sim) AS mx
           |              FROM cand c JOIN ps ON ps.i = c.vec_id
           |                AND ps.j IN (SELECT vec_id FROM p${k - 1})
           |              WHERE c.vec_id NOT IN (SELECT vec_id FROM p${k - 1})
           |              GROUP BY c.vec_id, c.rel)
           |        ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |cand AS (SELECT e.vec_id,
         |           ${sparkRound("list_cosine_similarity(e.v, qv)", 6)} AS rel, e.v
         |         FROM e, q WHERE vec_id != 0
         |         ORDER BY rel DESC, vec_id LIMIT 20),
         |ps AS (SELECT a.vec_id AS i, b.vec_id AS j,
         |         ${sparkRound("list_cosine_similarity(a.v, b.v)", 6)} AS sim
         |       FROM cand a, cand b WHERE a.vec_id != b.vec_id),
         |s1 AS (SELECT 1 AS step, vec_id, rel, rel AS score FROM cand
         |       ORDER BY rel DESC, vec_id LIMIT 1),
         |$stages
         |SELECT step AS sel_rank, vec_id, ${sparkRound("rel", 6)} AS rel,
         |  ${sparkRound("score", 6)} AS mmr_score
         |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
         |      UNION ALL SELECT * FROM s5)
         |ORDER BY sel_rank""".stripMargin
    },
  )
}
