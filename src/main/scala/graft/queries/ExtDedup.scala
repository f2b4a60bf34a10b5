package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Snapshot, Tables}
import graft.ext.{Dedup, Hll, Multimodal, Ranking, Similarity, StoreCompaction, TextAnalysis => TA}
import ExtShared._

/** Deduplication lanes (exact, MinHash/LSH, SimHash, PPJoin, components, semantic).
  *
  * Split from the former monolithic Extensions.scala (registry unchanged:
  * [[Extensions.queries]] / [[Extensions.oracles]] concatenate the domain
  * objects). Oracle policy and citations live on [[Extensions]].
  */
private[graft] object ExtDedup {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact-dedup groups on the md5 content fingerprint
    "dedup_exact_groups" -> ((s, d) => {
      Dedup.exactGroups(Tables.documents(s, d), "text", "doc_id")
        .transform(sortedOnce(_, col("survivor_id")))
        .select(col("fp"), col("survivor_id"), col("n_dups"))
    }),

    // Chunk-level duplication over the CDC chunks — the dedup payoff:
    // shared boilerplate lands in identical chunks at ANY document offset.
    // Top-50 repeated chunk hashes by occurrence (TakeOrdered, no global
    // sort); n_docs distinguishes cross-doc boilerplate from within-doc
    // repetition.
    "dedup_cdc_shared" -> ((s, d) => {
      TA.cdcChunks(Tables.documents(s, d), "text", "doc_id", meanTokens = 16)
        .groupBy(col("chunk_md5"))
        .agg(count(lit(1)).as("n_occ"), count_distinct(col("id")).as("n_docs"))
        .filter(col("n_occ") > 1)
        .orderBy(col("n_occ").desc, col("chunk_md5")).limit(50)
    }),

    // The WHOLE near-dup dedup pipeline in one query — what a production
    // corpus-dedup job actually runs: signatures -> banded LSH pairs ->
    // connected components -> min-id survivor per cluster; docs outside
    // any cluster keep themselves. The components chain runs ONCE per
    // corpus into the content-keyed component store (the production
    // artifact — dedup decisions must be auditable) and this query and the
    // leakage-safe split both read it. Oracle replays every stage (FNV
    // shingle hashes through a recursive-CTE closure).
    "dedup_neardup_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val comps = Dedup.componentStore(docs, "text", "doc_id", compStorePath(d))
      docs.select(col("doc_id"))
        .join(comps.select(col("id").as("doc_id"), col("label")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("component"),
          (coalesce(col("label"), col("doc_id")) === col("doc_id")).as("kept"))
        .transform(sortedOnce(_, col("doc_id")))
    }),

    // QUALITY-based survivor election: same component store, but the kept
    // doc per near-dup cluster is the one with the MOST tokens (tiebreak:
    // min doc_id) instead of min-id — the production policy when clusters
    // mix a full document with its truncated mirror copies. One window
    // partitioned by component (key-partitioned, no global sort).
    "dedup_quality_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val comps = Dedup.componentStore(docs, "text", "doc_id", compStorePath(d))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component"))
        .orderBy(col("nt").desc, col("doc_id"))
      docs.select(col("doc_id"), TA.tokenCount(col("text")).cast("long").as("nt"))
        .join(comps.select(col("id").as("doc_id"), col("label")), Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("label"), col("doc_id")))
        .withColumn("survivor_id", first(col("doc_id")).over(w))
        .select(col("doc_id"), col("component"), col("nt").as("n_tokens"),
          col("survivor_id"), (col("survivor_id") === col("doc_id")).as("kept"))
        .transform(sortedOnce(_, col("doc_id")))
    }),

    // INCREMENTAL near-dup dedup — the production shape: the corpus (even
    // doc_ids) is signed once into a persisted signature store partitioned
    // by (band, sig_bucket); the delta (odd doc_ids) signs itself once and
    // probes the store via partition-pruned banded equi-join, emitting
    // keep/drop + cluster assignment per new doc. The store is cached
    // content-keyed like the IVF index — repeat runs never re-sign the
    // corpus. Oracle replays both generations end-to-end.
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // v2: adaptive (band, sig_bucket) layout + meta sidecar — a v1
      // store (fixed 512 partitions, no sidecar) still probes correctly
      // but pays small-file overhead, so key a fresh generation. The
      // sidecar is written inside the Snapshot, so a store is never
      // served without it
      val path = Snapshot.cached(
          Snapshot.path("graft_sigstore_", d, "even_v2", "documents.parquet")) { tmp =>
        Dedup.signatureStoreWrite(docs.filter(col("doc_id") % 2 === 0),
          "text", "doc_id", tmp)
      }
      Dedup.incrementalNearDups(docs.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", path)
        .select(col("id").as("doc_id"), col("kept"), col("cluster"),
          col("matched_id"), col("est_jaccard"))
        .transform(sortedOnce(_, col("doc_id")))
    }),

    // Lee et al.'s ExactSubstr signal, span-granular: per-doc fraction of
    // token positions covered by a 5-token span occurring >= 2 times in the
    // corpus. One global span-hash agg + a semi-join back + per-doc
    // interval union as distinct positions — no suffix array, nothing
    // quadratic, every doc reported (untouched docs at 0.0).
    "dedup_substring_coverage" -> ((s, d) => {
      Dedup.substringCoverage(Tables.documents(s, d), "text", "doc_id", n = 5)
        .withColumnRenamed("id", "doc_id")
        .transform(sortedOnce(_, col("doc_id")))
    }),

    // exact pairwise n-gram Jaccard on a bounded slice (quadratic by nature)
    "dedup_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(
        Tables.documents(s, d).filter(col("doc_id") < 60), "text", "doc_id",
        minJaccard = 0.5)
        .transform(sortedOnce(_, col("id1"), col("id2")))
    }),

    // Exact EDIT-DISTANCE verification over the LSH candidate pairs: the
    // banded-minhash candidates (never all-pairs) re-scored with true
    // Levenshtein - the character-level confirmation pass a dedup pipeline
    // runs when token-level similarity is not precise enough. Both engines
    // implement classic Levenshtein, so the score replays exactly.
    "dedup_edit_distance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", k = 32)
        .localCheckpoint()
      Dedup.rotateCheckpoints("dedup_edit_distance_sigs", sigs)
      val cand = Dedup.minhashNearDupsFromSigs(sigs,
        bands = 8, rows = 4, threshold = 0.5).select(col("id1"), col("id2"))
      cand
        .join(docs.select(col("doc_id").as("id1"), col("text").as("t1")), "id1")
        .join(docs.select(col("doc_id").as("id2"), col("text").as("t2")), "id2")
        // length prefilter (|len diff| > 64 ⇒ distance > 64, zero DP cost)
        // + the THRESHOLD levenshtein: banded early-abandon DP, O(len·64)
        // per pair instead of O(len²) — at 10× the near-dup pair count
        // grows with true duplicate density, so per-pair cost is what
        // keeps the re-score linear in candidates (165 s → banded at sf1x)
        .filter(abs(length(col("t1")) - length(col("t2"))) <= 64)
        .select(col("id1"), col("id2"),
          levenshtein(col("t1"), col("t2"), 64).as("edit_dist"))
        .filter(col("edit_dist") =!= -1)
        .transform(sortedOnce(_, col("id1"), col("id2")))
    }),

    // EXACT Jaccard pairs over the FULL corpus — the scale path for the
    // bounded slice above: prefix filtering (AllPairs/PPJoin) generates
    // candidates from a join on each shingle-set's df-rarest prefix, then
    // verifies exactly. No id bound, no crossJoin. The oracle recomputes
    // the same exact answer by the simpler share-a-shingle candidate route.
    "dedup_jaccard_prefix" -> ((s, d) => {
      Dedup.jaccardPrefixPairs(Tables.documents(s, d), "text", "doc_id",
        n = 5, minJaccard = 0.5)
        .transform(sortedOnce(_, col("id1"), col("id2")))
    }),

    // SemDeDup-style SEMANTIC dedup: IVF-cluster the embeddings, then drop
    // vectors whose rounded cosine to a smaller-id vector IN THE SAME CELL
    // is >= 0.4 (min-id survivor election). Pairing is per-cell only —
    // at 100 TB nCells grows with the corpus so cells stay bounded and
    // total work is ~n·cellSize, never global all-pairs. The oracle
    // replays the full chain: stride seeds, two exact Lloyd rounds,
    // argmax-cosine assignment, per-cell pairs, election.
    "dedup_semantic" -> ((s, d) => {
      // the cached per-snapshot IVF index IS the clustering (same nCells=8
      // lloyd2 training the oracle replays) — the election runs over the
      // persisted assignment, never re-training per query
      val emb = Tables.embeddings(s, d)
      Similarity.semanticDedupFromAssigned(
          cachedIvfIndex(s, d, emb).assigned, "vec_id", "embedding",
          threshold = 0.4)
        .select(col("id").as("vec_id"), col("ivf_cell"), col("kept"),
          col("survivor_id"))
        .transform(sortedOnce(_, col("vec_id")))
    }),

    // Near-dup CLUSTERING: pairwise matches → connected components → one
    // canonical survivor (min id) per group. Edges here are the exact
    // cosine pairs on the bounded slice so DuckDB can replay them; the
    // operator itself takes any edge list (MinHash/SimHash pairs at scale).
    "dedup_cluster_components" -> ((s, d) => {
      val edges = Similarity.cosineNearDupPairs(
        Tables.embeddings(s, d).filter(col("vec_id") < 100), "vec_id", "embedding",
        threshold = 0.3)
      val comps = Dedup.connectedComponents(edges.select(col("id1"), col("id2")))
      Dedup.rotateCheckpoints("dedup_cluster_components", comps)
      comps
        .select(col("id").as("vec_id"), col("label").as("component"))
        .orderBy(col("vec_id"))
    }),

    "dedup_minhash_sig" -> ((s, d) => {
      Dedup.minhashSignatures(Tables.documents(s, d), "text", "doc_id", k = 8)
        .select(col("id").as("doc_id"), col("sig").getItem(0).as("h0"),
          col("sig").getItem(1).as("h1"), col("sig").getItem(7).as("h7"))
        .transform(sortedOnce(_, col("doc_id")))
    }),

    "dedup_simhash" -> ((s, d) => {
      val withSh = Tables.documents(s, d)
        .select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      val sh0 = withSh.filter(col("doc_id") === 0).select(col("sh").as("sh0"))
      withSh.join(broadcast(sh0))
        .select(col("doc_id"), conv(col("sh").cast("string"), 10, 16).as("simhash_hex"),
          graft.ext.SimHash.hamming(col("sh"), col("sh0")).as("hamming_to_0"))
        .transform(sortedOnce(_, col("doc_id")))
    }),

    // MinHash ACCURACY, exact-checked: on a bounded slice, the k=32
    // signature-agreement estimate must land within 0.35 (≈4σ) of the true
    // 3-gram shingle-set Jaccard. The oracle recomputes the exact Jaccard
    // independently; the estimator is deterministic, so the verdict is too.
    "dedup_minhash_accuracy" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 60)
      val sh = docs.select(col("doc_id").as("id"),
        array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
      val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", k = 32)
      val pairs = sh.select(col("id").as("id1"), col("sh").as("sh1"))
        .crossJoin(sh.select(col("id").as("id2"), col("sh").as("sh2")))
        .filter(col("id1") < col("id2"))
        .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
        .withColumn("j",
          col("inter") / (size(col("sh1")) + size(col("sh2")) - col("inter")))
        .filter(col("j") >= 0.01)  // fixture has no high-J pairs in the
        // slice (max true J ~0.03): the check asserts the estimator stays
        // within tolerance on real low-similarity pairs instead of passing
        // vacuously on an empty set; DedupSpec covers high-J accuracy on
        // constructed near-dups
      pairs
        .join(sigs.select(col("id").as("id1"), col("sig").as("sig1")), "id1")
        .join(sigs.select(col("id").as("id2"), col("sig").as("sig2")), "id2")
        .select(col("id1"), col("id2"), round(col("j"), 6).as("jaccard"),
          (abs(Dedup.sigAgreement(col("sig1"), col("sig2")) - col("j")) <= 0.35)
            .as("within_tol"))
        .transform(sortedOnce(_, col("id1"), col("id2")))
    }),

    // SimHash normalization invariance, exact-checked per document: the
    // fingerprint is a pure function of the canonical tokens, so case and
    // surrounding whitespace must not move a single bit.
    "dedup_simhash_invariance" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          (Dedup.simhash(col("text")) ===
            Dedup.simhash(upper(concat(lit("  "), col("text"), lit("  ")))))
            .as("normalization_invariant"))
        .transform(sortedOnce(_, col("doc_id")))
    }),

    "dedup_minhash_pairs" -> ((s, d) => {
      // signatures materialized once (localCheckpoint); banding, bucket
      // sizing, pairing, and verification all reuse them
      val sigs = Dedup.minhashSignatures(Tables.documents(s, d), "text", "doc_id",
        k = 32).localCheckpoint()
      Dedup.rotateCheckpoints("dedup_minhash_pairs", sigs)
      // union the LSH candidates with a marker row so the result is
      // non-empty even when the corpus has no near-dups; the oracle
      // replays the marker too
      val pairs = Dedup.minhashNearDupsFromSigs(sigs,
        bands = 8, rows = 4, threshold = 0.5)
        .select(col("id1"), col("id2"), col("est_jaccard"))
      val marker = Tables.documents(s, d).groupBy()
        .agg(count(lit(1)).as("n_docs"))
        .select(lit(-1L).as("id1"), col("n_docs").cast("long").as("id2"),
          lit(0.0).as("est_jaccard"))
      marker.unionAll(pairs).orderBy(col("id1"), col("id2"))
    }),
  )

  def oracles: Map[String, String] = Map(

    "dedup_exact_groups" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS survivor_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY survivor_id""".stripMargin,

    // exact 3-gram shingle-set Jaccard, recomputed independently (the Spark
    // side's estimate must land within the ±0.35 band -> verdict column)
    "dedup_minhash_accuracy" ->
      s"""WITH s AS (
         |  SELECT doc_id AS id,
         |    CASE WHEN len($toks) >= 3
         |         THEN list_distinct(list_transform(range(1, len($toks) - 1),
         |                i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2]))
         |         ELSE [array_to_string($toks, ' ')] END AS sh
         |  FROM documents WHERE doc_id < 60)
         |SELECT a.id AS id1, b.id AS id2,
         |  ${sparkRound(
              "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))",
              6)} AS jaccard,
         |  true AS within_tol
         |FROM s a, s b WHERE a.id < b.id
         |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.01
         |ORDER BY id1, id2""".stripMargin,

    "dedup_simhash_invariance" ->
      """SELECT doc_id, true AS normalization_invariant
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Substring-duplication coverage replayed end-to-end: positioned
    // 5-token spans (whole-string shingle for short docs, like
    // Dedup.shingleFramePos), FNV span hashes mod P, the >= 2 occurrence
    // set, per-doc interval union as DISTINCT (doc, pos + offset), and the
    // coverage fraction with Spark-parity rounding.
    "dedup_substring_coverage" ->
      s"""WITH docs AS (SELECT doc_id, $toks AS tk FROM documents),
         |starts AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
         |           FROM docs WHERE len(tk) >= 5),
         |shg AS (
         |  SELECT doc_id, i - 1 AS pos, 5 AS width,
         |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] AS s
         |  FROM starts
         |  UNION ALL
         |  SELECT doc_id, 0, len(tk), array_to_string(tk, ' ')
         |  FROM docs WHERE len(tk) BETWEEN 1 AND 4),
         |hh AS (SELECT doc_id, pos, width, ${pmodPrime(signed64(fnvSql("s")))} AS h FROM shg),
         |dup AS (SELECT h FROM hh GROUP BY h HAVING count(*) >= 2),
         |cov AS (SELECT DISTINCT doc_id, cp FROM (
         |        SELECT doc_id, pos + unnest(range(0, width)) AS cp
         |        FROM hh JOIN dup USING (h))),
         |percov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_tokens
         |           FROM cov GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.tk) AS BIGINT) AS n_tokens,
         |  coalesce(p.n_dup_tokens, 0) AS n_dup_tokens,
         |  CASE WHEN len(d.tk) = 0 THEN 0.0
         |       ELSE ${sparkRound("coalesce(p.n_dup_tokens, 0)::DOUBLE / len(d.tk)", 6)}
         |  END AS dup_frac
         |FROM docs d LEFT JOIN percov p USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // MinHash k=8 signature lanes replayed exactly: FNV-1a shingle hashes +
    // the same affine permutation constants (interpolated from the fixed
    // seed, so the two sides can never drift).
    "dedup_minhash_sig" -> {
      val lanes = Dedup.minhashParams(8).zipWithIndex.map { case ((a, b), i) =>
        s"min((h * $a + $b) % 2147483647) AS m$i" }.mkString(", ")
      s"""$minhashHashCtes,
         |sigs AS (SELECT doc_id, $lanes FROM hh GROUP BY doc_id)
         |SELECT doc_id, m0 AS h0, m1 AS h1, m7 AS h7 FROM sigs ORDER BY doc_id""".stripMargin
    },

    // Full LSH pair-finding replay: k=32 signatures, 8 bands of 4 rows
    // (bucket key = the raw signature slice — Spark buckets on a hash of
    // it, which only merges buckets on a 64-bit collision), bucket-size
    // guard 2..100, signature-agreement estimate >= 0.5 after Spark-parity
    // rounding, plus the non-empty marker row (-1, n_docs, 0.0).
    "dedup_minhash_pairs" ->
      s"""$minhashPairsCtes,
         |marker AS (SELECT CAST(-1 AS BIGINT) AS id1, CAST(count(*) AS BIGINT) AS id2,
         |                  CAST(0.0 AS DOUBLE) AS est_jaccard FROM documents)
         |SELECT * FROM (SELECT * FROM marker UNION ALL SELECT * FROM pairs)
         |ORDER BY id1, id2""".stripMargin,

    // Incremental dedup replayed end-to-end: signatures for BOTH
    // generations, store = even doc_ids / delta = odd, store-side bucket
    // guard, banded delta->store join, agreement >= 0.5 verification, and
    // min-store-id assignment (arg_min mirrors Spark's min_by tiebreak on
    // the unique s_id).
    "dedup_incremental" -> {
      val sigList = Dedup.minhashParams(32)
        .map { case (a, b) => s"min((h * $a + $b) % 2147483647)" }
        .mkString("[", ", ", "]")
      s"""$minhashHashCtes,
         |sigs AS (SELECT doc_id, $sigList AS sig FROM hh GROUP BY doc_id),
         |sb AS (SELECT doc_id, sig, b, sig[4*b + 1 : 4*b + 4] AS key
         |       FROM sigs, range(8) r(b) WHERE doc_id % 2 = 0),
         |db AS (SELECT doc_id, sig, b, sig[4*b + 1 : 4*b + 4] AS key
         |       FROM sigs, range(8) r(b) WHERE doc_id % 2 = 1),
         |ok AS (SELECT b, key FROM sb GROUP BY b, key HAVING count(*) <= 100),
         |cand AS (SELECT DISTINCT d.doc_id AS d_id, s.doc_id AS s_id
         |         FROM db d JOIN ok z ON d.b = z.b AND d.key = z.key
         |         JOIN sb s ON s.b = z.b AND s.key = z.key),
         |est AS (SELECT c.d_id, c.s_id,
         |          ${sparkRound("CAST(len(list_filter(range(1, 33), i -> s1.sig[i] = s2.sig[i])) AS DOUBLE) / 32.0", 6)} AS e
         |        FROM cand c JOIN sigs s1 ON s1.doc_id = c.d_id
         |        JOIN sigs s2 ON s2.doc_id = c.s_id),
         |best AS (SELECT d_id, min(s_id) AS matched_id,
         |           arg_min(e, s_id) AS est_jaccard
         |         FROM est WHERE e >= 0.5 GROUP BY d_id)
         |SELECT dd.doc_id, best.matched_id IS NULL AS kept,
         |  coalesce(best.matched_id, dd.doc_id) AS cluster,
         |  best.matched_id, best.est_jaccard
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) dd
         |LEFT JOIN best ON best.d_id = dd.doc_id
         |ORDER BY dd.doc_id""".stripMargin
    },

    // The whole near-dup pipeline replayed in one oracle: LSH pairs (the
    // CTE block above), a recursive-CTE transitive closure for connected
    // components, min-id survivor election, and every untouched doc kept.
    "dedup_neardup_survivors" ->
      s"""${minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sym AS (SELECT id1 AS a, id2 AS b FROM pairs
         |        UNION SELECT id2, id1 FROM pairs),
         |reach(a, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
         |  UNION
         |  SELECT sym.a, reach.r FROM sym JOIN reach ON sym.b = reach.a),
         |comp AS (SELECT a, min(r) AS label FROM reach GROUP BY a)
         |SELECT d.doc_id, CAST(coalesce(comp.label, d.doc_id) AS BIGINT) AS component,
         |  coalesce(comp.label, d.doc_id) = d.doc_id AS kept
         |FROM documents d LEFT JOIN comp ON comp.a = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // Quality-election replay: the same closure, survivor = row_number 1
    // under (n_tokens DESC, doc_id) per component.
    "dedup_quality_survivors" ->
      s"""${minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sym AS (SELECT id1 AS a, id2 AS b FROM pairs
         |        UNION SELECT id2, id1 FROM pairs),
         |reach(a, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
         |  UNION
         |  SELECT sym.a, reach.r FROM sym JOIN reach ON sym.b = reach.a),
         |comp AS (SELECT a, min(r) AS label FROM reach GROUP BY a),
         |base AS (SELECT d.doc_id,
         |           CAST(coalesce(comp.label, d.doc_id) AS BIGINT) AS component,
         |           CAST(len($toks) AS BIGINT) AS n_tokens
         |         FROM documents d LEFT JOIN comp ON comp.a = d.doc_id),
         |sv AS (SELECT component, doc_id AS survivor_id,
         |         row_number() OVER (PARTITION BY component
         |                            ORDER BY n_tokens DESC, doc_id) AS rn
         |       FROM base)
         |SELECT b.doc_id, b.component, b.n_tokens, s.survivor_id,
         |  s.survivor_id = b.doc_id AS kept
         |FROM base b JOIN (SELECT component, survivor_id FROM sv WHERE rn = 1) s
         |  USING (component)
         |ORDER BY b.doc_id""".stripMargin,

    // SimHash replayed exactly: FNV-1a token hashes, 64 +1/-1 bit votes,
    // sign -> bit, then Spark's conv(...,10,16) = DuckDB hex() on the signed
    // value (both print two's-complement uppercase without leading zeros).
    // Docs with no tokens have no vote rows -> coalesce to simhash 0, like
    // SimHash.compute on an empty array.
    "dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         |h AS (SELECT doc_id, ${fnvSql("tok")} AS h FROM t),
         |bits AS (SELECT doc_id, b,
         |           sum(CASE WHEN (h // (1::HUGEINT << b)) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |         FROM h, range(64) r(b) GROUP BY 1, 2),
         |u AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS uv
         |      FROM bits GROUP BY 1),
         |s AS (SELECT d.doc_id, ${signed64("coalesce(u.uv, 0::HUGEINT)")} AS sh
         |      FROM documents d LEFT JOIN u USING (doc_id)),
         |s0 AS (SELECT sh AS sh0 FROM s WHERE doc_id = 0)
         |SELECT s.doc_id, hex(s.sh) AS simhash_hex,
         |  CAST(bit_count(xor(s.sh, s0.sh0)) AS INT) AS hamming_to_0
         |FROM s, s0 ORDER BY s.doc_id""".stripMargin,

    "dedup_cluster_components" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 100),
         |nd AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2
         |  FROM e a, e b WHERE a.vec_id < b.vec_id
         |    AND ${sparkRound("list_cosine_similarity(a.v, b.v)", 6)} >= 0.3),
         |sym AS (SELECT id1 AS a, id2 AS b FROM nd
         |        UNION SELECT id2, id1 FROM nd),
         |reach(a, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
         |  UNION
         |  SELECT sym.a, reach.r FROM sym JOIN reach ON sym.b = reach.a)
         |SELECT a AS vec_id, CAST(min(r) AS BIGINT) AS component
         |FROM reach GROUP BY a ORDER BY vec_id""".stripMargin,

    // Chunk-duplication payoff replayed over the same CTEs: repeated chunk
    // hashes, occurrences + distinct docs, deterministic top-50.
    "dedup_cdc_shared" ->
      s"""$cdcChunkCtes
         |SELECT chunk_md5, count(*) AS n_occ,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM ch GROUP BY chunk_md5 HAVING count(*) > 1
         |ORDER BY n_occ DESC, chunk_md5 LIMIT 50""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH w AS (SELECT doc_id, list_distinct($toks) AS words FROM documents WHERE doc_id < 60)
         |SELECT a.doc_id AS id1, b.doc_id AS id2,
         |  ${sparkRound(
              "CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) / len(list_distinct(list_concat(a.words, b.words)))",
              6)} AS jaccard
         |FROM w a, w b WHERE a.doc_id < b.doc_id
         |  AND CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.words, b.words))) >= 0.5
         |ORDER BY id1, id2""".stripMargin,

    // edit-distance replay: same banded candidates, DuckDB's classic
    // levenshtein (verified identical semantics incl. empty-string edges)
    "dedup_edit_distance" ->
      s"""$minhashPairsCtes
         |SELECT p.id1, p.id2, CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist
         |FROM pairs p JOIN documents da ON da.doc_id = p.id1
         |JOIN documents db ON db.doc_id = p.id2
         |WHERE levenshtein(da.text, db.text) <= 64
         |ORDER BY id1, id2""".stripMargin,

    // Exact-Jaccard replay for the prefix-filter lane, by an INDEPENDENT
    // candidate route: any pair with J > 0 shares a shingle, so a plain
    // shingle equi-join bounds the candidates (5-gram shingles are rare —
    // median df 1), then the same exact intersection/union verification.
    // Prefix filtering only prunes candidates; both routes are exact, so
    // the answers must agree row-for-row.
    "dedup_jaccard_prefix" ->
      s"""WITH d0 AS (SELECT doc_id, $toks AS tk FROM documents),
         |w AS (SELECT doc_id, list_distinct(${shingleSqlN(5)}) AS sh FROM d0),
         |tok AS (SELECT doc_id, unnest(sh) AS t FROM w),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |         FROM tok a JOIN tok b USING (t) WHERE a.doc_id < b.doc_id)
         |SELECT id1, id2,
         |  ${sparkRound(
              "CAST(len(list_intersect(wa.sh, wb.sh)) AS DOUBLE) / (len(wa.sh) + len(wb.sh) - len(list_intersect(wa.sh, wb.sh)))",
              6)} AS jaccard
         |FROM cand JOIN w wa ON wa.doc_id = id1 JOIN w wb ON wb.doc_id = id2
         |WHERE CAST(len(list_intersect(wa.sh, wb.sh)) AS DOUBLE)
         |      / (len(wa.sh) + len(wb.sh) - len(list_intersect(wa.sh, wb.sh))) >= 0.5
         |ORDER BY id1, id2""".stripMargin,

    // semantic dedup replay: same ivfCtes chain (seeds, 2 Lloyd rounds,
    // argmax assignment), then per-cell smaller-id pairs over the rounded
    // cosine and the min-id election
    "dedup_semantic" ->
      s"""$ivfCtes,
         |p AS (SELECT a2.vec_id AS id2, min(a1.vec_id) AS survivor
         |      FROM assign a1 JOIN assign a2
         |        ON a1.cell = a2.cell AND a1.vec_id < a2.vec_id
         |      WHERE ${sparkRound("list_cosine_similarity(a1.v, a2.v)", 6)} >= 0.4
         |      GROUP BY a2.vec_id)
         |SELECT a.vec_id, CAST(a.cell AS INT) AS ivf_cell,
         |  p.survivor IS NULL AS kept,
         |  coalesce(p.survivor, a.vec_id) AS survivor_id
         |FROM assign a LEFT JOIN p ON p.id2 = a.vec_id
         |ORDER BY a.vec_id""".stripMargin,
  )
}
